"""Reference-format sources and sinks (SURVEY.md S1, S2, S5, S6).

A user of the reference can point this engine at the reference's own
artifacts:

- tokens JSON  list[list[str]]      (S1, src/stream.py:132-135)
- labels JSON  list[int]            (S2, src/stream.py:317-323)
- summary CSV append-with-header    (S5, src/stream.py:194-254)
- scores CSV trace                  (S6, experiments/scores_*.csv:1)

The JSON artifacts are single small files (model corpus scale), so
they load driver-side then parallelize.
"""

from __future__ import annotations

import json
import os
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import SUMMARY_COLUMNS


def read_tokens_json(spark: SparkSession, path: str) -> DataFrame:
    """(event_idx, tokens, text) from a list[list[str]] artifact; text
    is the space-rejoined scoring string (src/stream.py:135)."""
    with open(path, encoding="utf-8") as f:
        seqs = json.load(f)
    rows = [(i, seq, " ".join(seq)) for i, seq in enumerate(seqs)]
    return spark.createDataFrame(rows, "event_idx long, tokens array<string>, text string")


def read_labels_json(spark: SparkSession, path: str) -> DataFrame | None:
    """(event_idx, label); None on any failure, like the reference's
    tolerant loader (src/stream.py:318-323)."""
    try:
        with open(path, encoding="utf-8") as f:
            labels = json.load(f)
        return spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(labels)], "event_idx long, label int"
        )
    except Exception:
        return None


def append_summary_csv(row_df: DataFrame, out_path: str) -> None:
    """Single-file summary ledger with create-header-if-absent append
    semantics (src/stream.py:249-254). The one-row frame collects to
    the driver (it is a run-level ledger, not data)."""
    rows = row_df.collect()
    path = pathlib.Path(out_path)
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(",".join(SUMMARY_COLUMNS) + "\n", encoding="utf-8")
    with open(path, "a", encoding="utf-8", newline="") as f:
        for r in rows:
            f.write(",".join("" if r[c] is None else str(r[c]) for c in SUMMARY_COLUMNS) + "\n")


def write_scores_csv(scored: DataFrame, out_path: str) -> None:
    """Per-event score trace (S6 schema from the committed artifact
    experiments/scores_synth_baseline.csv:1): idx,score,label,flag,
    thr_stream,lat_ms. lat_ms is per-event scorer latency, which a
    vectorized engine does not have -> written as empty."""
    cols = [
        F.col("event_idx").alias("idx"),
        F.col("score"),
        (F.col("label") if "label" in scored.columns else F.lit(None)).alias("label"),
        F.col("is_anom").cast("int").alias("flag"),
        F.col("thr").alias("thr_stream"),
        F.lit("").alias("lat_ms"),
    ]
    rows = scored.select(*cols).orderBy("idx").collect()
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w", encoding="utf-8", newline="") as f:
        f.write("idx,score,label,flag,thr_stream,lat_ms\n")
        for r in rows:
            label = "" if r["label"] is None else r["label"]
            f.write(f"{r['idx']},{r['score']},{label},{r['flag']},{r['thr_stream']},{r['lat_ms']}\n")
