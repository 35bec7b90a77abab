"""Event-time sessionization and tumbling-window aggregates.

Classic log-pipeline shapes the reference's single-stream design never
needed (its events are one dense stream; reference src/stream.py
processes a list in order) but any transcript/telemetry table at scale
does: split each user's event stream into sessions at inactivity gaps,
and roll events into fixed time buckets.

Both are pure Catalyst window/groupBy plans — ONE shuffle on the
partition key, no UDFs, no state — so they scale exactly like any
keyed aggregate: AQE/salting applies if a user is hot, and the windows
run inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_session_id(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    out_col: str = "session_seq",
) -> DataFrame:
    """Assign a per-key session sequence number (0-based): a new
    session starts when the gap since the key's previous event exceeds
    `gap_seconds` (strictly >). Ties on ts are ordered by the key's
    natural secondary ordering to keep the assignment deterministic —
    callers with an id column should pass a deterministically ordered
    frame; here ties share a session by construction (gap 0 <= gap).

    Plan: one hash shuffle on `key`, then lag + running sum inside a
    single Window stage. Gap arithmetic is in MICROSECONDS
    (unix_micros) — casting timestamps to whole seconds truncates and
    silently merges sessions split by a sub-second overshoot."""
    w = Window.partitionBy(key).orderBy(ts_col)
    # cast handles TIMESTAMP_NTZ columns (unix_micros wants LTZ; the
    # session timezone is pinned to UTC in session.py, so the cast is
    # a reinterpretation, not a shift)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(
        gap.isNull() | (gap <= F.lit(int(gap_seconds) * 1_000_000)), F.lit(0)
    ).otherwise(F.lit(1))
    return df.withColumn(
        out_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )


def session_stats(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session rollup: event count, span seconds, first/last ts.
    Composition: with_session_id -> groupBy(key, session) — two
    shuffles total on the same key columns."""
    s = with_session_id(df, key, ts_col, gap_seconds)
    return s.groupBy(key, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("t_first"),
        F.max(ts_col).alias("t_last"),
        (
            (
                F.unix_micros(F.max(ts_col).cast("timestamp"))
                - F.unix_micros(F.min(ts_col).cast("timestamp"))
            )
            / F.lit(1_000_000)
        ).cast("double").alias("span_seconds"),
    )


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width_seconds: int = 3600,
    keys: list[str] | None = None,
) -> DataFrame:
    """Fixed (tumbling) time-bucket aggregate: events per
    `width_seconds` bucket, optionally per key. Uses F.window — the
    same expression Structured Streaming uses for watermarked windowed
    aggs, so the batch query IS the streaming query. Emits the bucket
    start as `w_start` (timestamp)."""
    wcol = F.window(F.col(ts_col), f"{width_seconds} seconds")
    group = [wcol, *(F.col(k) for k in (keys or []))]
    out = df.groupBy(*group).agg(F.count(F.lit(1)).alias("n"))
    return out.select(
        F.col("window.start").alias("w_start"), *(keys or []), "n"
    )
