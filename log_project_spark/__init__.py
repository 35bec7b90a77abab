"""PySpark-native analytics engine with the capabilities of
felipearche/log-project (reference at /root/reference, read-only).

A from-scratch parse -> enrich -> score -> calibrate -> route -> aggregate
pipeline over tables of multi-turn conversation transcripts
(conv_id, turn_idx, role, text, tool, ts), built Spark-first:
DataFrame/Catalyst for everything expressible declaratively,
Arrow-vectorized UDFs for the model/stateful kernels, and one
calibration state machine (operators/calibrate.CalibrationState) per
conv_id ordered by turn_idx: batch drives it from the one grouped-kernel
transport (calibrate.walk_groups, a mapInArrow walk over group-sorted
partitions, on which transformer mode also feeds it hash-embedding
scores), and streaming restores it from applyInPandasWithState group
state.

Reference semantics reproduced (citations are file:line into
/root/reference): tokenizer mask chain (src/log_tokenize.py:12-17),
sliding conformal calibration (src/calibration.py:13-53), fixed-
threshold warmup ablation (src/stream.py:351-359), ADWIN-style drift
with calibrator reset (src/stream.py:26-45,365-368), TF-IDF+iForest
scoring (src/stream.py:166-191, reimplemented in NumPy since sklearn
is not a dependency here), hash-embedding context scorer
(src/transformer.py:16-137), exact lower-index percentiles
(src/stream.py:138-143), TPR@FPR (src/stream.py:146-158), and the
24-column summary ledger (src/stream.py:79-104).
"""

__version__ = "0.1.0"
