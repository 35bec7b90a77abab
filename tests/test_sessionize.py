"""Sessionization + tumbling windows: gap-boundary semantics,
partition invariance, bucket alignment."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from log_project_spark.operators import sessionize


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def test_session_gap_boundary_inclusive(spark):
    """gap == gap_seconds stays in the SAME session (strictly-greater
    splits); one microsecond over starts a new one."""
    t0 = datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + timedelta(seconds=600)),                      # == gap -> same
        (1, t0 + timedelta(seconds=1200, microseconds=1)),     # 600.000001s -> new
    ]
    out = sessionize.with_session_id(_ev(spark, rows), gap_seconds=600)
    seqs = [r["session_seq"] for r in out.orderBy("ts").collect()]
    assert seqs == [0, 0, 1]


def test_session_stats_and_partition_invariance(spark):
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for u in (1, 2, 3):
        # two sessions per user: 3 events a minute apart, a 2h hole,
        # then 2 more events
        for i in range(3):
            rows.append((u, t0 + timedelta(minutes=i)))
        for i in range(2):
            rows.append((u, t0 + timedelta(hours=2, minutes=i)))
    df = _ev(spark, rows)
    for parts in (1, 7):
        stats = sessionize.session_stats(
            df.repartition(parts), gap_seconds=1800
        ).orderBy("user_id", "session_seq")
        got = [
            (r["user_id"], r["session_seq"], r["n_events"], r["span_seconds"])
            for r in stats.collect()
        ]
        assert got == [
            (u, s, n, span)
            for u in (1, 2, 3)
            for s, n, span in [(0, 3, 120.0), (1, 2, 60.0)]
        ]


def test_tumbling_counts_alignment(spark):
    """Buckets are epoch-aligned: events at xx:59:59 and xx+1:00:00
    land in different hourly buckets; per-key split works."""
    rows = [
        ("a", datetime(2026, 1, 1, 10, 59, 59)),
        ("a", datetime(2026, 1, 1, 11, 0, 0)),
        ("b", datetime(2026, 1, 1, 11, 30, 0)),
        ("a", datetime(2026, 1, 1, 11, 59, 59, 999999)),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = sessionize.tumbling_counts(df, "ts", 3600, keys=["event_type"])
    got = {
        (r["w_start"].hour, r["event_type"]): r["n"]
        for r in out.collect()
    }
    assert got == {(10, "a"): 1, (11, "a"): 2, (11, "b"): 1}


def test_session_plan_single_shuffle(spark):
    """with_session_id: exactly one Exchange (hash on the key) feeds
    the Window — the shape that scales to a keyed 100 TB table."""
    df = _ev(spark, [(1, datetime(2026, 1, 1))])
    plan = (
        sessionize.with_session_id(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
