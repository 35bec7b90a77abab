"""Calibration kernel vs the per-event oracle.

The oracle (log_project_spark.oracle.run_stream) restates the
reference event loop (/root/reference/src/stream.py:335-374) one
event at a time; the kernel is `calibrate`'s mapInArrow walk over
group-sorted partitions, running one CalibrationState per group.
A single group under scope='global' must match the oracle exactly —
including drift-reset interplay and both quantile index formulas.
"""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_project_spark.adwin import Adwin
from log_project_spark.config import PipelineConfig
from log_project_spark.operators.calibrate import calibrate
from log_project_spark import oracle


def _mk_scores(n=600, seed=7, shift_at=None, shift=5.0):
    rng = random.Random(seed)
    xs = [rng.gauss(0.0, 1.0) for _ in range(n)]
    if shift_at is not None:
        xs = [x + (shift if i >= shift_at else 0.0) for i, x in enumerate(xs)]
    return xs


def _df_single_conv(spark, scores):
    rows = [("c0", i, float(s)) for i, s in enumerate(scores)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, score double")


def _run_kernel(spark, scores, **cfg_kw):
    cfg = PipelineConfig(scope="global", **cfg_kw)
    out = (
        calibrate(_df_single_conv(spark, scores), cfg, order_cols=("turn_idx",))
        .orderBy("turn_idx")
        .collect()
    )
    return out


@pytest.mark.parametrize("window,warmup", [(50, 20), (500, 200), (5, 1)])
def test_conformal_matches_oracle_no_drift(spark, window, warmup):
    scores = _mk_scores(400)
    got = _run_kernel(
        spark, scores, window=window, warmup=warmup, drift_detector="none"
    )
    want = oracle.run_stream(scores, alpha=0.01, window=window, warmup=warmup)
    for i, row in enumerate(got):
        assert row["thr"] == pytest.approx(want.thresholds[i], abs=0.0), i
        assert row["is_anom"] == want.is_anom[i], i


def test_conformal_with_drift_resets_matches_oracle(spark):
    scores = _mk_scores(800, shift_at=400, shift=8.0)
    got = _run_kernel(
        spark, scores, window=100, warmup=30, drift_detector="adwin", adwin_delta=0.002
    )
    want = oracle.run_stream(
        scores, alpha=0.01, window=100, warmup=30, detector=Adwin(delta=0.002)
    )
    assert want.n_drift > 0, "fixture must actually drift"
    for i, row in enumerate(got):
        assert row["is_drift"] == want.is_drift[i], i
        assert row["thr"] == pytest.approx(want.thresholds[i]), i
        assert row["is_anom"] == want.is_anom[i], i


def test_no_calib_matches_oracle(spark):
    scores = _mk_scores(500)
    got = _run_kernel(
        spark, scores, calibration="no_calib", warmup=200, drift_detector="none"
    )
    want = oracle.run_stream(scores, alpha=0.01, warmup=200, no_calib=True)
    for i, row in enumerate(got):
        w = want.thresholds[i]
        if math.isinf(w):
            assert math.isinf(row["thr"]), i
        else:
            assert row["thr"] == pytest.approx(w, abs=0.0), i
        assert row["is_anom"] == want.is_anom[i], i


def test_quantile_formulas_diverge(spark):
    """C2 (max(1, round((1-a)n)) and C6 (int((1-a)(n-1))) are
    different index formulas and must both be preserved (SURVEY.md §7
    hard part c)."""
    n = 50
    scores = [float(i) for i in range(n)]
    conf = oracle.conformal_threshold(scores, alpha=0.01)
    fixed = oracle.fixed_threshold(scores, alpha=0.01)
    # C2: round_half_even(49.5) = 50 -> arr[49] = 49; C6: int(48.51) -> arr[48] = 48
    assert conf == 49.0 and fixed == 48.0


def test_per_conv_scope_isolates_state(spark):
    """Two conversations with very different score levels: per-conv
    thresholds must match per-conv oracles independently."""
    s_a = _mk_scores(300, seed=1)
    s_b = [x + 100.0 for x in _mk_scores(300, seed=2)]
    rows = [("a", i, float(v)) for i, v in enumerate(s_a)]
    rows += [("b", i, float(v)) for i, v in enumerate(s_b)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, score double")
    cfg = PipelineConfig(scope="conv_id", window=50, warmup=10, drift_detector="none")
    out = calibrate(df, cfg).orderBy("conv_id", "turn_idx").collect()
    want_a = oracle.run_stream(s_a, window=50, warmup=10)
    want_b = oracle.run_stream(s_b, window=50, warmup=10)
    got_a = [r for r in out if r["conv_id"] == "a"]
    got_b = [r for r in out if r["conv_id"] == "b"]
    assert [r["thr"] for r in got_a] == pytest.approx(want_a.thresholds)
    assert [r["thr"] for r in got_b] == pytest.approx(want_b.thresholds)


def test_row_own_score_in_window(spark):
    """C1 invariant: update happens BEFORE threshold read
    (src/stream.py:361-362) — first row's threshold equals its score."""
    got = _run_kernel(spark, [42.0, 1.0], window=10, warmup=1, drift_detector="none")
    assert got[0]["thr"] == 42.0
    assert not got[0]["is_anom"]  # strict > fails on own score


def test_warmup_gate_strict(spark):
    """is_anom requires 1-based event count >= warmup AND score > thr."""
    # k = max(1, round(0.99n)) == n while n <= 50, so the threshold is
    # the window max (incl. own score) and nothing can flag; at n = 61
    # the quantile drops below the spike.
    scores = [0.0] * 60 + [100.0]
    got = _run_kernel(spark, scores, window=100, warmup=70, drift_detector="none")
    assert not any(r["is_anom"] for r in got)  # warmup never reached
    got2 = _run_kernel(spark, scores, window=100, warmup=5, drift_detector="none")
    assert got2[-1]["is_anom"]


def test_calibration_coverage(spark):
    """Post-warmup empirical flag rate on stationary nominal data ≈
    alpha (calibration coverage, BASELINE.json north_star)."""
    scores = _mk_scores(5000, seed=11)
    got = _run_kernel(
        spark, scores, alpha=0.05, window=500, warmup=200, drift_detector="none"
    )
    flags = [r["is_anom"] for r in got[200:]]
    rate = float(np.mean(flags))
    assert 0.0 < rate < 0.10  # around alpha=0.05 with slack


def test_clustered_layout_matches_shuffle_path(spark, tmp_path):
    """layout='clustered' over a conv_id-clustered, turn-sorted table
    must produce exactly the shuffle path's outputs."""
    from log_project_spark import synth

    t = synth.transcripts(spark, 3000, n_convs=60, anom_ratio=0.05, seed=3)
    path = str(tmp_path / "clustered")
    (
        t.withColumn("score", F.length("text").cast("double"))
        .repartition(8, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(path)
    )
    clustered = spark.read.parquet(path)
    cfg = PipelineConfig(scope="conv_id", window=100, warmup=10, drift_detector="adwin")
    a = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(clustered, cfg, layout="clustered").collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(clustered, cfg).collect()
    }
    assert a == b
    # and the clustered plan is exchange-free
    plan = calibrate(clustered, cfg, layout="clustered")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_arrow_walk_batch_carry_matches_oracle(spark):
    """Arrow batches of 7 rows split almost every conversation across
    batches, so the walk's carry of a batch's trailing group (and of
    batches holding one group only) decides every result. Each
    conversation must still equal the oracle on its own scores."""
    rng = random.Random(21)
    convs = {}
    for c in range(40):
        n = 40 + (c * 13) % 70
        convs[f"c{c:02d}"] = [
            rng.gauss(0.0, 1.0) + (8.0 if i >= n // 2 else 0.0) for i in range(n)
        ]
    rows = [(k, i, float(s)) for k, xs in convs.items() for i, s in enumerate(xs)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, score double")
    cfg = PipelineConfig(
        scope="conv_id", window=30, warmup=5, drift_detector="adwin", adwin_delta=0.002
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = calibrate(df, cfg, num_partitions=3).orderBy("conv_id", "turn_idx").collect()
    finally:
        spark.conf.set(key, old)
    n_drift = 0
    for conv, xs in convs.items():
        got = [r for r in out if r["conv_id"] == conv]
        want = oracle.run_stream(
            xs, alpha=cfg.alpha, window=30, warmup=5, detector=Adwin(delta=0.002)
        )
        assert [r["thr"] for r in got] == want.thresholds, conv
        assert [r["is_anom"] for r in got] == want.is_anom, conv
        assert [r["is_drift"] for r in got] == want.is_drift, conv
        n_drift += want.n_drift
    assert n_drift > 0, "fixture must actually drift"


def test_needed_cols_projection_matches_full_width(spark):
    """needed_cols prunes dead passthrough columns at the UDF boundary
    (Catalyst can't see through mapInArrow) without changing kernel
    outputs: per-(conv_id, turn_idx) results are bit-identical to the
    full-width run, the schema is exactly the declared projection, and
    fused scoring still works on the pruned input."""
    from log_project_spark import synth
    from log_project_spark.operators import parse as parse_ops

    t = synth.transcripts(spark, 2000, n_convs=40, anom_ratio=0.05, seed=11)
    t = t.withColumn("norm_text", parse_ops.norm_text_col(F.col("text")))
    cfg = PipelineConfig(scope="conv_id", window=80, warmup=10, drift_detector="adwin")

    def fake_scorer(texts):
        return np.asarray([float(len(s)) for s in texts])

    full = calibrate(
        t, cfg, batch_score_fn=fake_scorer, batch_score_input="norm_text"
    )
    narrow = calibrate(
        t, cfg, batch_score_fn=fake_scorer, batch_score_input="norm_text",
        needed_cols=(),
    )
    assert narrow.columns == ["conv_id", "turn_idx", "score", "thr",
                              "is_anom", "is_drift"]
    key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
    val = lambda r: (r["score"], r["thr"], r["is_anom"], r["is_drift"])  # noqa: E731
    a = {key(r): val(r) for r in full.collect()}
    b = {key(r): val(r) for r in narrow.collect()}
    assert a == b
    # declared extra columns survive; unknown columns raise
    kept = calibrate(
        t, cfg, batch_score_fn=fake_scorer, batch_score_input="norm_text",
        needed_cols=("role",),
    )
    assert "role" in kept.columns and "text" not in kept.columns
    with pytest.raises(ValueError, match="needed_cols not in input"):
        calibrate(
            t, cfg, batch_score_fn=fake_scorer, batch_score_input="norm_text",
            needed_cols=("no_such_col",),
        )


def test_sleep_ms_paces_kernel():
    """--sleep_ms parity knob (src/stream.py:268-270,373-374): the
    calibration state sleeps per event when configured."""
    import time

    from log_project_spark.operators.calibrate import CalibrationState

    scores = [float(i) for i in range(30)]
    t0 = time.perf_counter()
    CalibrationState(0.05, 10, 5, False, "none", 0.002, sleep_ms=5.0).run(scores, 30)
    wall = time.perf_counter() - t0
    assert wall >= 30 * 0.005
    t0 = time.perf_counter()
    CalibrationState(0.05, 10, 5, False, "none", 0.002).run(scores, 30)
    assert time.perf_counter() - t0 < 0.05
