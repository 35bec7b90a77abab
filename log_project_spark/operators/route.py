"""Routed fan-out to anomalous / drifting / nominal sinks.

North-rule contract (BASELINE.json): one scored DataFrame routed to
three partitioned sinks, disjoint and union-complete:

    anomalous = is_anom
    drifting  = is_drift AND NOT is_anom
    nominal   = everything else

Per-sink aggregate counts must equal the single-path flag sums, and
per-turn `text` must round-trip unchanged under (conv_id, turn_idx)
ordering (FIXTURES.md §5). The fan-out is ONE write with `sink` as the
leading partition column (then event date `dt`): a single pass over
the scored frame, no persist, no triple scan (VERDICT r1 #6 — caching
a 100 TB frame to write it three times is not a plan). Per-sink paths
stay addressable as <out_dir>/sink=<name>/ and downstream reads prune
on both sink and dt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SINKS = ("anomalous", "drifting", "nominal")


def with_sink(df: DataFrame, out_col: str = "sink") -> DataFrame:
    """Routing rule as one Catalyst expression."""
    return df.withColumn(
        out_col,
        F.when(F.col("is_anom"), F.lit("anomalous"))
        .when(F.col("is_drift"), F.lit("drifting"))
        .otherwise(F.lit("nominal")),
    )


def write_fanout(
    scored: DataFrame,
    out_dir: str,
    partition_by: tuple[str, ...] = ("dt",),
    mode: str = "overwrite",
) -> dict[str, str]:
    """Single-pass parquet fan-out: one write partitioned by (sink,
    *partition_by). Returns sink -> path for the sinks that actually
    received rows — a sink with no rows produces no directory, and
    handing a consumer a nonexistent path would fail its read with
    PATH_NOT_FOUND. Each task fans its rows into its local sink/dt
    files directly — no cache, no per-sink rescan; the existence check
    is one driver-side FileSystem.exists per sink (3 RPCs)."""
    routed = with_sink(scored)
    if "dt" not in routed.columns and "ts" in routed.columns:
        routed = routed.withColumn("dt", F.to_date("ts"))
    part_cols = ["sink", *[c for c in partition_by if c in routed.columns]]
    routed.write.parquet(out_dir, mode=mode, partitionBy=part_cols)
    sc = scored.sparkSession.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(out_dir).getFileSystem(sc._jsc.hadoopConfiguration())
    out = {}
    for sink in SINKS:
        path = f"{out_dir}/sink={sink}"
        if fs.exists(hadoop_path(path)):
            out[sink] = path
    return out


def sink_counts(scored: DataFrame) -> DataFrame:
    """Per-sink row counts from the routing rule (no write needed) —
    the equality target for the fan-out invariant."""
    return with_sink(scored).groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


def read_fanout(spark: SparkSession, out_dir: str, sink_paths: dict[str, str]) -> DataFrame | None:
    """The rows write_fanout wrote, read back from the sink
    paths it returned (with a `sink` column); None when no sink received
    rows — an empty out_dir has no schema to infer."""
    if not sink_paths:
        return None
    return spark.read.option("basePath", out_dir).parquet(*sink_paths.values())


def flag_aggs() -> list[Column]:
    """The flag sums as aggregate expressions, for `agg` or for a
    `df.observe` that rides a write."""
    return [
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("is_anom").cast("long")).alias("n_anom"),
        F.sum(F.col("is_drift").cast("long")).alias("n_drift"),
        F.sum((F.col("is_drift") & ~F.col("is_anom")).cast("long")).alias("n_drift_not_anom"),
    ]


def flag_counts(scored: DataFrame) -> DataFrame:
    """Single-path flag sums (SURVEY.md C8/C9): must reconcile with
    sink_counts: anomalous == n_anom, drifting == n_drift_not_anom,
    nominal == total - anomalous - drifting."""
    return scored.agg(*flag_aggs())
