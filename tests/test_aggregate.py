"""Aggregates: exact percentile formulas, TPR@FPR, salted group-bys,
keep-last dedup, categorical sort (SURVEY.md A1-A8, O2, O8)."""

import math
import random

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from log_project_spark import oracle
from log_project_spark.operators import aggregate as agg


@pytest.fixture(scope="module")
def samples():
    rng = random.Random(99)
    return [rng.uniform(0, 100) for _ in range(1234)]


def test_exact_percentile_col_matches_oracle(spark, samples):
    df = spark.createDataFrame([(s,) for s in samples], "v double")
    row = df.agg(
        agg.exact_percentile_col(F.col("v"), 95.0).alias("p95"),
        agg.exact_percentile_col(F.col("v"), 99.0).alias("p99"),
        agg.exact_percentile_col(F.col("v"), 0.0).alias("p0"),
        agg.exact_percentile_col(F.col("v"), 100.0).alias("p100"),
    ).first()
    assert row["p95"] == oracle.exact_percentile(samples, 95)
    assert row["p99"] == oracle.exact_percentile(samples, 99)
    assert row["p0"] == min(samples)
    assert row["p100"] == max(samples)


def test_exact_percentile_distributed_matches_oracle(spark, samples):
    df = spark.createDataFrame([(s,) for s in samples], "v double").repartition(8)
    got = agg.exact_percentile_distributed(df, "v", [50.0, 95.0, 99.0])
    for p in (50.0, 95.0, 99.0):
        assert got[p] == oracle.exact_percentile(samples, p)


def test_exact_percentile_distributed_nulls_and_empty(spark, samples):
    import math

    df = spark.createDataFrame(
        [(s,) for s in samples] + [(None,)] * 17, "v double"
    ).repartition(8)
    got = agg.exact_percentile_distributed(df, "v", [95.0])
    assert got[95.0] == oracle.exact_percentile(samples, 95)
    empty = spark.createDataFrame([], "v double")
    assert math.isnan(agg.exact_percentile_distributed(empty, "v", [50.0])[50.0])


def test_exact_percentile_distributed_plan_is_jvm_only(spark, samples):
    """VERDICT r1 #1: no RDD zipWithIndex / per-row Python anywhere in
    the percentile path — the plan must contain no Python evaluation."""
    df = spark.createDataFrame([(s,) for s in samples], "v double")
    captured = {}
    orig = type(df).collect

    def spy(self):
        captured["plan"] = self._jdf.queryExecution().executedPlan().toString()
        return orig(self)

    type(df).collect = spy
    try:
        agg.exact_percentile_distributed(df, "v", [95.0])
    finally:
        type(df).collect = orig
    plan = captured["plan"]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "mapPartitions"):
        assert marker not in plan


def test_exact_percentile_distributed_reuses_range_exchange(spark, samples):
    """ADVICE r2: the offset aggregate and the main join must read the
    SAME nondeterministic range exchange — the executed (AQE-final)
    plan must show a ReusedExchange, else the two branches could sample
    different range boundaries. The runtime pick() validity check is
    the belt; this is the suspenders."""
    df = spark.createDataFrame([(s,) for s in samples], "v double").repartition(8)
    captured = {}
    orig = type(df).collect

    def spy(self):
        rows = orig(self)
        captured["plan"] = self._jdf.queryExecution().executedPlan().toString()
        return rows

    type(df).collect = spy
    try:
        agg.exact_percentile_distributed(df, "v", [95.0])
    finally:
        type(df).collect = orig
    assert "ReusedExchange" in captured["plan"], captured["plan"]


def test_exact_percentile_distributed_randomized(spark):
    """Seeded sweep: duplicates, negatives, ties, tiny inputs, and
    partition counts exceeding the row count — always the oracle's
    lower-index pick."""
    rng = random.Random(7)
    cases = [
        [rng.choice([-5.0, 0.0, 1.5, 1.5, 2.0]) for _ in range(n)]
        for n in (1, 2, 7, 40)
    ] + [
        [rng.gauss(0, 100) for _ in range(n)] for n in (13, 257)
    ]
    for idx, vals in enumerate(cases):
        df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(
            rng.choice([1, 3, 16])
        )
        got = agg.exact_percentile_distributed(
            df, "v", [0.0, 37.0, 95.0, 100.0], num_partitions=rng.choice([2, 8, 64])
        )
        for p in (0.0, 37.0, 95.0, 100.0):
            assert got[p] == oracle.exact_percentile(vals, p), (idx, p)


def test_percentile_differs_from_interpolating(spark, samples):
    """Guard: Spark's built-in percentile interpolates and would NOT
    match the reference formula on this data."""
    df = spark.createDataFrame([(s,) for s in samples], "v double")
    builtin = df.agg(F.expr("percentile(v, 0.95)").alias("p")).first()["p"]
    exact = oracle.exact_percentile(samples, 95)
    assert builtin != exact


def test_tpr_at_fpr_matches_oracle(spark):
    rng = random.Random(5)
    scores = [rng.gauss(0, 1) for _ in range(900)] + [rng.gauss(3, 1) for _ in range(100)]
    labels = [0] * 900 + [1] * 100
    df = spark.createDataFrame(
        list(zip(scores, labels)), "score double, label int"
    ).repartition(4)
    want_tpr, want_thr = oracle.tpr_at_fpr(scores, labels, 0.01)
    got_tpr, got_thr = agg.tpr_at_fpr(df, "score", "label", 0.01)
    assert got_thr == pytest.approx(want_thr)
    assert got_tpr == pytest.approx(want_tpr)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_tpr_query_returns_shipped_tpr_at_fpr(spark, sf):
    """The declared tpr_at_fpr query, which the DuckDB gate checks, is
    the job's tpr_at_fpr on the same (score, label) pairs, and both
    equal the oracle exactly."""
    import __spark_entry__ as entry

    sf_dir = f"/root/testdata/{sf}"
    scored = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).cast("int").alias("label"),
    )
    shipped = agg.tpr_at_fpr(scored, "score", "label", 0.01)
    assert [tuple(r) for r in entry.q_tpr_at_fpr(spark, sf_dir).collect()] == [shipped]
    pairs = [(r["score"], r["label"]) for r in scored.collect()]
    assert len(set(pairs)) <= agg.TPR_HISTOGRAM_CAP  # the histogram walk ran
    assert shipped == oracle.tpr_at_fpr([s for s, _ in pairs], [y for _, y in pairs], 0.01)


NAN = float("nan")


def _same(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or a == b


def _distributed_tpr(df, target_fpr):
    """The rank-selection path the histogram replaces, composed from its
    parts: exact_percentile_distributed over the negatives, then the
    `>=` average over the positives."""
    p = (1.0 - target_fpr) * 100.0
    thr = agg.exact_percentile_distributed(df.where(F.col("label") == 0), "score", [p])[p]
    if math.isnan(thr):
        return NAN, NAN
    row = df.where(F.col("label") == 1).agg(
        F.avg((F.col("score") >= F.lit(thr)).cast("double")).alias("tpr")
    ).first()
    return (NAN if row["tpr"] is None else float(row["tpr"])), thr


def _check_tpr(spark, rows, target_fpr, want=None):
    """tpr_at_fpr (histogram) == the distributed path, and == `want`
    and the oracle where they apply; returns the histogram's answer."""
    df = spark.createDataFrame(rows, "score double, label int").repartition(3)
    got = agg.tpr_at_fpr(df, "score", "label", target_fpr)
    ref = _distributed_tpr(df, target_fpr)
    assert _same(got[0], ref[0]) and _same(got[1], ref[1]), (got, ref)
    if want is not None:
        assert _same(got[0], want[0]) and _same(got[1], want[1]), (got, want)
    scores = [s for s, _ in rows]
    labels = [y for _, y in rows]
    defined = (
        None not in scores and None not in labels
        and not any(math.isnan(s) for s in scores)
        and 0 in labels and 1 in labels
    )
    if defined:
        assert got == oracle.tpr_at_fpr(scores, labels, target_fpr)
    return got


# target_fpr 0.3 over 10 negatives: k = int(70.0/100 * 9) = 6, the 7th smallest
TPR_EDGE_CASES = {
    "nan_among_negatives_below_k": (
        [(float(i), 0) for i in range(9)] + [(NAN, 0), (8.0, 1), (NAN, 1), (5.0, 1)],
        0.01, (2 / 3, 8.0)),
    "nan_at_k_gives_nan_nan": (
        [(float(i), 0) for i in range(5)] + [(NAN, 0)] * 5 + [(NAN, 1)], 0.3, (NAN, NAN)),
    "nan_positive_is_at_or_above_every_thr": (
        [(float(i), 0) for i in range(10)] + [(NAN, 1), (0.0, 1)], 0.3, (0.5, 6.0)),
    "negative_zero_equals_zero": (
        [(-0.0, 0)] * 4 + [(0.0, 0)] * 4 + [(-1.0, 0)] * 2 + [(-0.0, 1), (0.0, 1), (-0.5, 1)],
        0.3, (2 / 3, 0.0)),
    "ties_at_k": (
        [(1.0, 0)] * 3 + [(2.0, 0)] * 5 + [(3.0, 0)] * 2 + [(2.0, 1), (1.5, 1), (3.0, 1)],
        0.3, (2 / 3, 2.0)),
    "null_scores_are_skipped": (
        [(float(i), 0) for i in range(10)] + [(None, 0)] * 7 + [(6.0, 1), (None, 1), (1.0, 1)],
        0.3, (0.5, 6.0)),
    "labels_outside_0_1_and_null": (
        [(float(i), 0) for i in range(10)] + [(100.0, 2), (100.0, None), (-5.0, -1), (7.0, 1)],
        0.3, (1.0, 6.0)),
    "no_negatives": ([(1.0, 1), (2.0, 1), (3.0, 2)], 0.01, (NAN, NAN)),
    "no_scored_positives": ([(float(i), 0) for i in range(10)] + [(None, 1)], 0.3, (NAN, 6.0)),
    "no_positives": ([(float(i), 0) for i in range(10)], 0.3, (NAN, 6.0)),
    "empty": ([], 0.01, (NAN, NAN)),
}


@pytest.mark.parametrize("case", sorted(TPR_EDGE_CASES))
def test_tpr_histogram_edge_semantics(spark, case):
    rows, target_fpr, want = TPR_EDGE_CASES[case]
    _check_tpr(spark, rows, target_fpr, want)


def _canon_pairs(items) -> list:
    """((score, is_pos), count) items with each NaN spelled "nan" and
    -0.0 as 0.0, sorted: a repeated key stays repeated."""
    def key(v):
        return None if v is None else "nan" if math.isnan(v) else v + 0.0

    return sorted(((key(v), pos, c) for (v, pos), c in items), key=repr)


def _tallied(spark, rows, batch_rows: int = 10_000):
    """(frame, TprTally) after one write that runs the tally on the
    executors over `rows` in 3 partitions, in Arrow batches of at most
    `batch_rows` rows."""
    df = spark.createDataFrame(rows, "score double, label int").repartition(3)
    tally = agg.TprTally(spark)

    def counted(batches):
        for batch in batches:
            tally(batch)
            yield batch

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(batch_rows))
    try:
        df.mapInArrow(counted, df.schema).write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set(conf, prev)
    return df, tally


@pytest.mark.parametrize("case", sorted(TPR_EDGE_CASES))
def test_tpr_tally_equals_collected_histogram(spark, case):
    """TprTally run on the executors over 3-row Arrow batches of 3
    partitions counts every row, holds the histogram tpr_at_fpr collects
    (one NaN key, -0.0 as 0.0), and gives tpr_at_fpr's (tpr, thr)."""
    rows, target_fpr, want = TPR_EDGE_CASES[case]
    df, tally = _tallied(spark, rows, batch_rows=3)
    seen, hist = tally.pairs.value
    assert seen == len(rows)
    collected = agg._collect_histogram(df, "score", "label")
    assert _canon_pairs(hist.items()) == _canon_pairs(
        ((r["v"], r["pos"]), r["count"]) for r in collected
    )
    got = tally.tpr(len(rows), target_fpr)
    assert _same(got[0], want[0]) and _same(got[1], want[1]), (got, want)
    assert tally.tpr(len(rows) + 1, target_fpr) is None


def test_tpr_tally_stops_merging_above_cap(spark, monkeypatch):
    """A tally built with the cap below its distinct pairs ends without
    a histogram, still counting rows, and asks for the fallback."""
    monkeypatch.setattr(agg, "TPR_HISTOGRAM_CAP", 4)
    _, tally = _tallied(spark, [(float(i % 6), i % 2) for i in range(30)])
    assert tally.pairs.value == (30, None)
    assert tally.tpr(30) is None


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([NAN, -0.0, 0.0, 1.0, 2.5, -3.0, None]),
            st.sampled_from([0, 0, 1, 2, None]),
        ),
        max_size=60,
    ),
    target_fpr=st.sampled_from([0.01, 0.2, 0.5]),
)
def test_tpr_histogram_equals_distributed_path(spark, rows, target_fpr):
    _check_tpr(spark, rows, target_fpr)


def test_tpr_above_cap_falls_back_to_distributed_path(spark, monkeypatch):
    """More distinct (score, label) pairs than the cap: the answer comes
    from exact_percentile_distributed, and equals the histogram's."""
    rng = random.Random(11)
    rows = [(rng.gauss(0, 1), 0) for _ in range(300)] + [(rng.gauss(2, 1), 1) for _ in range(30)]
    rows += [(NAN, 1), (None, 1), (1.0, 2)]
    hist = _check_tpr(spark, rows, 0.01)
    calls = []
    real = agg.exact_percentile_distributed

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(agg, "exact_percentile_distributed", spy)
    monkeypatch.setattr(agg, "TPR_HISTOGRAM_CAP", 50)
    df = spark.createDataFrame(rows, "score double, label int").repartition(3)
    assert agg.tpr_at_fpr(df, "score", "label", 0.01) == hist
    assert len(calls) == 1


def test_no_positives_reports_na(spark, tmp_path):
    """A run without positives has a threshold but no TPR: the metric
    and the ledger read NA."""
    from log_project_spark import synth
    from log_project_spark.config import PipelineConfig
    from log_project_spark.pipeline import run_pipeline

    t = synth.transcripts(spark, 300, n_convs=3, anom_ratio=0.03, seed=3)
    t = t.withColumn("label", F.lit(0))
    cfg = PipelineConfig(mode="len", window=50, warmup=10, scope="conv_id")
    res = run_pipeline(spark, t, cfg, out_dir=str(tmp_path / "sinks"))
    assert res.metrics["tpr_at_1pct_fpr"] == "NA"


def test_salted_counts_equal_plain(spark):
    rows = [("hot" if i % 10 else f"k{i}", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    plain = {r["conv_id"]: r["n"] for r in df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["conv_id"]: r["n"] for r in agg.salted_agg(df, ["conv_id"], [], "turn_idx", 16).collect()}
    assert salted == plain


def test_salted_agg_equal_plain(spark):
    rows = [("hot" if i % 3 else f"k{i}", i, float(i % 7)) for i in range(3000)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double")
    plain = {
        r["conv_id"]: (r["n"], r["s"])
        for r in df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    got = {
        r["conv_id"]: (r["n"], r["sum_v"])
        for r in agg.salted_agg(df, ["conv_id"], ["v"], "turn_idx", 8).collect()
    }
    assert set(got) == set(plain)
    for k in plain:
        assert got[k][0] == plain[k][0]
        assert got[k][1] == pytest.approx(plain[k][1])


def test_keep_last(spark):
    rows = [("a", 1, "x"), ("a", 3, "z"), ("a", 2, "y"), ("b", 1, "only")]
    df = spark.createDataFrame(rows, "k string, ord int, v string")
    got = {r["k"]: r["v"] for r in agg.keep_last(df, ["k"], ["ord"]).collect()}
    assert got == {"a": "z", "b": "only"}


def test_categorical_rank_sort(spark):
    """O2 canonical report sort: listed categories first in order,
    unknowns after (make_readme_table.py:92-101)."""
    rows = [("mini",), ("zeta",), ("synth",), ("alpha",)]
    df = spark.createDataFrame(rows, "dataset string")
    out = df.orderBy(
        agg.categorical_rank(F.col("dataset"), ["synth", "mini"]), F.col("dataset")
    ).collect()
    assert [r["dataset"] for r in out] == ["synth", "mini", "alpha", "zeta"]


def test_approx_percentiles_rank_bound_and_plan(spark):
    """approx_percentiles: (a) guaranteed rank error <= n/accuracy vs
    the exact sorted column, (b) returned values are elements of the
    column, (c) the plan is sketch-shaped — partial/final aggregation
    with NO range shuffle of data rows (the exact operator's cost)."""
    import bisect

    import numpy as np

    rng = np.random.default_rng(7)
    vals = np.concatenate([rng.normal(0, 1, 6000), rng.exponential(2, 4000)])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double").repartition(8)
    n = len(vals)
    s = np.sort(vals)
    ps = [1.0, 50.0, 95.0, 99.0]
    for accuracy in (100, 10_000):
        row = agg.approx_percentiles(df, "v", ps, accuracy=accuracy).first()
        for p in ps:
            got = row[f"p{str(p).replace('.', '_')}"]
            assert float(got) in set(s.tolist())  # element, not interpolation
            # rank of the returned element vs the target rank
            lo = bisect.bisect_left(s, got)
            hi = bisect.bisect_right(s, got) - 1
            target = int((p / 100.0) * n)
            err = min(abs(lo - target), abs(hi - target))
            assert err <= n / accuracy + 1, (p, accuracy, err)
    plan = agg.approx_percentiles(df, "v", ps)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "partial_percentile_approx" in plan.lower()


# ---------------------------------------------------------------------------
# percentile_rank_filter (CCNet-style per-group percentile curation gate)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def scored_groups(spark):
    rng = random.Random(4242)
    sizes = {"en": 100, "de": 37, "fr": 2}
    rows = [(g, i, round(rng.uniform(0, 1), 6)) for g in ("en", "de", "fr") for i in range(sizes[g])]
    return spark.createDataFrame(rows, "lang string, doc_id long, score double")


def test_percentile_rank_filter_exact_survivor_count(spark, scored_groups):
    """Exactly n - k rows survive per group, k = int(0.8 * (n-1)) —
    the reference's lower-index formula, so the percentile row itself
    is always kept (>= 1 survivor even for n=2)."""
    out = agg.percentile_rank_filter(scored_groups, "score", 80.0, ["lang"], "doc_id")
    got = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    for lang, n in {"en": 100, "de": 37, "fr": 2}.items():
        assert got[lang] == n - int(0.8 * (n - 1))


def test_percentile_rank_filter_keeps_top_scores(spark, scored_groups):
    """Every kept row's score >= every dropped row's score within its
    group (ranking by score asc keeps the suffix)."""
    kept = agg.percentile_rank_filter(scored_groups, "score", 80.0, ["lang"], "doc_id")
    kept_ids = {(r["lang"], r["doc_id"]) for r in kept.collect()}
    rows = scored_groups.collect()
    for lang in ("en", "de", "fr"):
        ks = [r["score"] for r in rows if r["lang"] == lang and (lang, r["doc_id"]) in kept_ids]
        ds = [r["score"] for r in rows if r["lang"] == lang and (lang, r["doc_id"]) not in kept_ids]
        if ds:
            assert min(ks) >= max(ds)


def test_percentile_rank_filter_keep_low_partitions_frame(spark, scored_groups):
    """keep_low=True returns exactly the complement of the default."""
    hi = agg.percentile_rank_filter(scored_groups, "score", 80.0, ["lang"], "doc_id")
    lo = agg.percentile_rank_filter(
        scored_groups, "score", 80.0, ["lang"], "doc_id", keep_low=True
    )
    key = lambda df: {(r["lang"], r["doc_id"]) for r in df.collect()}
    all_keys = key(scored_groups)
    assert key(hi) | key(lo) == all_keys
    assert key(hi) & key(lo) == set()


def test_percentile_rank_filter_tie_determinism(spark):
    """All-tied scores: the tiebreak column makes the cut a pure
    function of the frame — highest doc_ids survive, any partitioning."""
    rows = [("en", i, 0.5) for i in range(10)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, score double")
    a = {r["doc_id"] for r in agg.percentile_rank_filter(df, "score", 80.0, ["lang"], "doc_id").collect()}
    b = {r["doc_id"] for r in agg.percentile_rank_filter(df.repartition(7), "score", 80.0, ["lang"], "doc_id").collect()}
    # n=10, k=int(0.8*9)=7 -> ranks 8..10 survive = doc_ids 7,8,9
    assert a == b == {7, 8, 9}


def test_percentile_rank_filter_schema_and_q_validation(spark, scored_groups):
    out = agg.percentile_rank_filter(scored_groups, "score", 80.0, ["lang"], "doc_id")
    assert out.columns == scored_groups.columns  # helper cols dropped
    with pytest.raises(ValueError):
        agg.percentile_rank_filter(scored_groups, "score", 101.0, ["lang"], "doc_id")
