"""Deterministic sampling: partition invariance, monotone fractions,
exact stratified counts, split disjointness, shuffle discipline."""

import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import sampling


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_sample_fraction_partition_invariant(spark, docs):
    a = _ids(sampling.sample_fraction(docs, 0.2, "doc_id"))
    b = _ids(sampling.sample_fraction(docs.repartition(7), 0.2, "doc_id"))
    c = _ids(sampling.sample_fraction(docs.coalesce(1), 0.2, "doc_id"))
    assert a == b == c and 0 < len(a) < docs.count()


def test_sample_fraction_monotone_in_p(spark, docs):
    s1 = _ids(sampling.sample_fraction(docs, 0.1, "doc_id"))
    s3 = _ids(sampling.sample_fraction(docs, 0.3, "doc_id"))
    assert s1 <= s3  # growing p only ADDS rows under a fixed seed
    assert len(s3) > len(s1)


def test_sample_fraction_seed_changes_selection(spark, docs):
    a = _ids(sampling.sample_fraction(docs, 0.2, "doc_id", seed=1))
    b = _ids(sampling.sample_fraction(docs, 0.2, "doc_id", seed=2))
    assert a != b


def test_sample_fraction_bounds(spark, docs):
    assert sampling.sample_fraction(docs, 0.0, "doc_id").count() == 0
    assert sampling.sample_fraction(docs, 1.0, "doc_id").count() == docs.count()
    with pytest.raises(ValueError, match="fraction"):
        sampling.sample_fraction(docs, 1.5, "doc_id")


def test_sample_fraction_no_shuffle(spark, docs):
    plan = (
        sampling.sample_fraction(docs, 0.2, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure scan-side filter


def test_hash_split_partitions_rows(spark, docs):
    train, hold = sampling.hash_split(docs, 0.8, "doc_id")
    t, h = _ids(train), _ids(hold)
    assert t.isdisjoint(h)
    assert t | h == _ids(docs)
    # and the train side IS the sample_fraction at the same threshold
    assert t == _ids(sampling.sample_fraction(docs, 0.8, "doc_id"))


def test_stratified_exact_counts_and_determinism(spark, docs):
    got = sampling.stratified_sample_exact(docs, ["lang"], 20, "doc_id")
    sizes = {r["lang"]: r["n"] for r in
             got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {lang: min(20, n) for lang, n in full.items()}
    again = sampling.stratified_sample_exact(docs.repartition(5), ["lang"], 20, "doc_id")
    assert _ids(got) == _ids(again)


def test_stratified_small_stratum_keeps_all(spark):
    rows = [(i, "big") for i in range(50)] + [(100 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = sampling.stratified_sample_exact(df, ["lang"], 10, "doc_id")
    sizes = {r["lang"]: r["n"] for r in
             got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"big": 10, "tiny": 3}


def test_stratified_shuffles_on_strata_only(spark, docs):
    got = sampling.stratified_sample_exact(docs, ["lang"], 20, "doc_id")
    plan = got._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert part_lines
    for ln in part_lines:
        inner = ln.split("hashpartitioning(", 1)[1]
        assert "lang" in inner and "text#" not in inner


def test_sample_by_stratum_rebalances(spark, docs):
    fr = {"en": 0.1, "zh": 1.0, "es": 0.5}
    got = sampling.sample_by_stratum(docs, fr, "lang", "doc_id")
    # zh kept whole; absent strata (de, fr) dropped by default
    full = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes.get("zh") == full["zh"]
    assert set(sizes) == {"en", "zh", "es"}
    assert 0 < sizes["en"] < full["en"]
    # per-stratum selection == sample_fraction restricted to the stratum
    en_direct = _ids(sampling.sample_fraction(docs.where("lang='en'"), 0.1, "doc_id"))
    assert {r["doc_id"] for r in got.where("lang='en'").select("doc_id").collect()} == en_direct
    # default passthrough
    all_through = sampling.sample_by_stratum(
        docs, {}, "lang", "doc_id", default_fraction=1.0
    )
    assert all_through.count() == docs.count()
    # zero shuffle
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_token_budget_cap_is_greedy_prefix(spark, docs):
    """The selection equals a Python brute-force greedy prefix per
    stratum under the same hash order, and per-stratum sums respect
    the budget."""
    budget = 5000
    got = sampling.token_budget_cap(docs, budget, ["lang"], "n_chars", "doc_id", seed=42)
    sums = {r["lang"]: r["s"] for r in
            got.groupBy("lang").agg(F.sum("n_chars").alias("s")).collect()}
    assert sums and all(s <= budget for s in sums.values())

    rows = docs.select(
        "lang", "doc_id", "n_chars", sampling.hash60(F.col("doc_id"), 42).alias("h")
    ).collect()
    want = set()
    running: dict = {}  # lang -> cumulative weight; None = closed
    for r in sorted(rows, key=lambda r: (r["h"], r["doc_id"])):
        cum = running.get(r["lang"], 0)
        if cum is None:
            continue  # prefix semantics: first overflow closed the stratum
        cum += r["n_chars"]
        if cum <= budget:
            running[r["lang"]] = cum
            want.add(r["doc_id"])
        else:
            running[r["lang"]] = None
    assert _ids(got) == want


def test_token_budget_cap_ranked_filling(spark, docs):
    """order_col: best-first (longest-first here) greedy prefix — the
    selected set matches a Python brute force over the same ordering."""
    budget = 5000
    got = sampling.token_budget_cap(
        docs, budget, ["lang"], "n_chars", "doc_id", seed=42, order_col="n_chars"
    )
    rows = docs.select(
        "lang", "doc_id", "n_chars", sampling.hash60(F.col("doc_id"), 42).alias("h")
    ).collect()
    want = set()
    running: dict = {}
    for r in sorted(rows, key=lambda r: (-r["n_chars"], r["h"], r["doc_id"])):
        cum = running.get(r["lang"], 0)
        if cum is None:
            continue
        cum += r["n_chars"]
        if cum <= budget:
            running[r["lang"]] = cum
            want.add(r["doc_id"])
        else:
            running[r["lang"]] = None
    assert _ids(got) == want


def test_token_budget_cap_partition_invariant(spark, docs):
    a = _ids(sampling.token_budget_cap(docs, 5000, ["lang"], "n_chars", "doc_id"))
    b = _ids(sampling.token_budget_cap(docs.repartition(9), 5000, ["lang"], "n_chars", "doc_id"))
    assert a == b and a


def test_sample_by_stratum_join_path_matches_case_path(spark, docs):
    """Above 64 strata the operator switches to a broadcast-join; the
    selection must be identical to the CASE path on the same map."""
    fr = {"en": 0.1, "zh": 1.0, "es": 0.5}
    big = dict(fr)
    big.update({f"pad{i}": 0.25 for i in range(70)})  # force the join path
    case_ids = _ids(sampling.sample_by_stratum(docs, fr, "lang", "doc_id"))
    join_ids = _ids(sampling.sample_by_stratum(docs, big, "lang", "doc_id"))
    assert case_ids == join_ids  # pad strata don't exist in the data
    plan = (
        sampling.sample_by_stratum(docs, big, "lang", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "Exchange hashpartitioning" not in plan


def test_hash60_matches_duckdb(spark, docs):
    """The portable hash really is portable: same longs in DuckDB."""
    import duckdb

    got = {
        r["doc_id"]: r["h"]
        for r in docs.limit(50)
        .select("doc_id", sampling.hash60(F.col("doc_id"), 42).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            "SELECT doc_id, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15)) AS BIGINT) "
            "FROM '/root/testdata/sf0.01/documents.parquet' ORDER BY doc_id LIMIT 50"
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# mixing_weights (temperature-scaled data mixing)
# ---------------------------------------------------------------------------


def test_mixing_weights_alpha1_is_natural(spark, docs):
    """alpha=1 keeps natural proportions: weight == share, epochs == 1."""
    out = sampling.mixing_weights(docs, ["lang"], weight_col="n_chars", alpha=1.0).collect()
    assert len(out) > 1
    for r in out:
        assert r["weight"] == r["share"]
        assert abs(r["epochs"] - 1.0) <= 1e-6


def test_mixing_weights_alpha0_is_uniform(spark, docs):
    """alpha=0 is uniform over strata regardless of mass."""
    out = sampling.mixing_weights(docs, ["lang"], weight_col="n_chars", alpha=0.0).collect()
    k = len(out)
    for r in out:
        assert abs(r["weight"] - 1.0 / k) <= 1e-6


def test_mixing_weights_upsamples_low_resource(spark, docs):
    """alpha in (0,1) moves weight from big to small strata: every
    below-average-share stratum gets weight > share (epochs > 1), every
    above-average one gets weight < share; weights sum to 1; tokens are
    the exact per-stratum char mass."""
    out = sampling.mixing_weights(docs, ["lang"], weight_col="n_chars", alpha=0.3).collect()
    assert abs(sum(r["weight"] for r in out) - 1.0) <= 1e-5
    assert abs(sum(r["share"] for r in out) - 1.0) <= 1e-5
    mean_share = 1.0 / len(out)
    for r in out:
        if r["share"] < mean_share - 1e-9:
            assert r["epochs"] > 1.0
        elif r["share"] > mean_share + 1e-9:
            assert r["epochs"] < 1.0
    want = {
        (r["lang"],): r["m"]
        for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("m")).collect()
    }
    got = {(r["lang"],): r["tokens"] for r in out}
    assert got == want


def test_mixing_weights_rowcount_mass(spark, docs):
    """weight_col=None weights by row count."""
    out = sampling.mixing_weights(docs, ["lang"], weight_col=None, alpha=1.0).collect()
    want = {r["lang"]: r["c"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "c").collect()}
    assert {r["lang"]: r["tokens"] for r in out} == want
