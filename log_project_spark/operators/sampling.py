"""Deterministic sampling for corpus curation.

Training-data pipelines sample constantly — downsampling over-represented
sources, carving holdout sets, capping per-language document counts.
`DataFrame.sample` is wrong for that job at 100 TB: its row selection
depends on partitioning and Spark version, so a re-run (or a re-read
after compaction) silently yields a different corpus. These operators
derive selection from a portable content hash instead, so the sampled
set is a pure function of (key, seed) — identical at any parallelism,
across reruns, across engines (DuckDB-oracle-checkable), and stable
under repartition/compaction. The reference has no sampling (it streams
its whole corpus); these are engine-level additions like dedup/ANN.

Portable hash: first 15 hex chars of md5(key || '|' || seed) as a
60-bit long (the simhash trick, dedup.token_hash60) — identical in
Spark (`conv(hex,16,10)`) and DuckDB (`CAST('0x'||hex AS BIGINT)`).
Selection compares that long against an INTEGER threshold
floor(p * 2^60), never a float ratio, so engine float semantics cannot
flip a boundary row.

Scale notes: `sample_fraction` and `hash_split` are pure scan-side
filters — zero shuffle, no driver state; they compose with partition
pruning and stay in whole-stage codegen (md5 is a JVM intrinsic
expression). `stratified_sample_exact` and `token_budget_cap` are one
shuffle on the strata columns (payload rides as value) and a spillable
window sort per stratum; the stratified window's row_number() <= k
filter is pruned map-side by Spark's `WindowGroupLimit`, so only k rows
per stratum per input partition reach the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60


def hash60(key: Column, seed: int) -> Column:
    """Portable 60-bit uniform hash of (key, seed); see module doc.

    NULL keys hash to NULL (F.concat null-propagates, matching the
    oracle expression `CAST(key AS VARCHAR) || '|seed'`), so a NULL key
    is never selected by any `hash60 < threshold` predicate — in either
    engine. concat_ws would instead SKIP the null arg and give every
    NULL key the same md5('<seed>') hash (ADVICE r4)."""
    payload = F.concat(key.cast("string"), F.lit("|"), F.lit(str(int(seed))))
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def fraction_threshold(p: float) -> int:
    """Integer selection threshold floor(p * 2^60), clamped to [0, 2^60].

    Exact rational floor of the double p's value times 2^60 (Fraction
    arithmetic — a double product could round up past the true floor
    for some p; ADVICE r4)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {p}")
    from fractions import Fraction

    return min(1 << HASH_BITS, int(Fraction(p) * (1 << HASH_BITS)))


def sample_fraction(
    df: DataFrame, p: float, key_col: str, seed: int = 20250819
) -> DataFrame:
    """~p of rows, selected by hash60(key) < floor(p * 2^60).

    Deterministic in the key alone: stable under repartition, rerun,
    engine; monotone in p (sample at p1 is a subset of the sample at
    p2 >= p1 under the same seed — lets a pipeline grow a sample
    without resampling the old rows). Zero shuffle."""
    return df.where(hash60(F.col(key_col), seed) < F.lit(fraction_threshold(p)))


def hash_split(
    df: DataFrame, frac: float, key_col: str, seed: int = 20250819
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, holdout) split: hash60(key) below/at-or-
    above the frac threshold. Exactly partitions the rows (same
    threshold, complementary predicates); a given key lands on the
    same side in every run and every engine, which is what keeps a
    holdout set leak-free across pipeline re-executions."""
    t = F.lit(fraction_threshold(frac))
    h = hash60(F.col(key_col), seed)
    return df.where(h < t), df.where(~(h < t))


def sample_by_stratum(
    df: DataFrame,
    fractions: dict,
    strata_col: str,
    key_col: str,
    seed: int = 20250819,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum fraction sampling (`DataFrame.sampleBy` made
    deterministic): keep ~fractions[stratum] of each stratum's rows by
    the portable hash — the source/language REBALANCING primitive
    ("keep 5% of CommonCrawl-en, all of the low-resource languages").
    Strata absent from `fractions` get `default_fraction` (0.0 = drop,
    the curation default; pass 1.0 to pass unknown strata through).

    Selection per row is hash60(key) < threshold(stratum) — a pure
    function of (key, seed), so reruns/engines agree, and the kept set
    for a stratum at fraction p1 is a SUBSET of its set at p2 >= p1.
    Small maps unroll into one CASE expression (zero shuffle, zero
    join, scan-side filter); maps above 64 strata switch to a
    broadcast left join against a thresholds frame instead — a CASE
    with thousands of branches is evaluated linearly per row and
    bloats the codegen — still no shuffle of the input."""
    h = hash60(F.col(key_col), seed)
    default_thr = fraction_threshold(default_fraction)
    if len(fractions) <= 64:
        thr = F.lit(default_thr)
        for stratum, p in sorted(fractions.items()):
            thr = F.when(
                F.col(strata_col) == F.lit(stratum), F.lit(fraction_threshold(p))
            ).otherwise(thr)
        return df.where(h < thr)
    spark = df.sparkSession
    # schema inferred from the map keys, so non-string strata (int
    # shard ids, dates) join correctly too
    thr_df = spark.createDataFrame(
        [(s, fraction_threshold(p)) for s, p in sorted(fractions.items())],
        [strata_col, "__thr__"],
    )
    joined = df.join(F.broadcast(thr_df), strata_col, "left")
    return joined.where(h < F.coalesce(F.col("__thr__"), F.lit(default_thr))).drop("__thr__")


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str,
    seed: int = 20250819,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen as the k
    smallest hash60(key) values within each stratum (ties broken by
    the key) — the deterministic analogue of per-stratum uniform
    sampling, identical at any parallelism and restatable as a SQL
    ROW_NUMBER window (the DuckDB oracle).

    One exchange, keyed on the strata columns only, but not the whole
    sort: the row_number() <= k filter triggers Spark's rank-limit
    pushdown (`WindowGroupLimit`, plan-verified in PLANS.md), which
    prunes to k rows per stratum PER MAP PARTITION before the
    exchange, so the shuffle and the reduce-side sort see at most
    k * n_input_partitions rows per stratum, not |stratum|."""
    from pyspark.sql import Window

    h = hash60(F.col(key_col), seed)
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__srn__", F.row_number().over(w))
        .where(F.col("__srn__") <= k)
        .drop("__srn__")
    )


def token_budget_cap(
    df: DataFrame,
    budget: float,
    strata_cols: list[str],
    weight_col: str,
    key_col: str,
    seed: int = 20250819,
    order_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Per-stratum weight budgeting: keep the deterministic greedy
    PREFIX of each stratum whose running weight sum stays <= budget.

    The data-mixing primitive of a pretraining pipeline ("N tokens per
    source/language"): rows are ordered by the portable hash (a
    deterministic uniform shuffle — ties broken by the key) and
    admitted while the cumulative `weight_col` (token/char count) is
    within budget. Prefix semantics, not knapsack: the first row that
    would overflow CLOSES the stratum even if a later, smaller row
    would still fit — that is what keeps the selection a pure function
    of (key, seed) and restatable as a SQL running-sum window (the
    DuckDB oracle); best-fit packing would need sequential state and
    is not reproducible as a one-pass window. Expected over-reserve is
    half a mean weight per stratum; at corpus scale that is noise.

    Weights must be non-negative: the filter relies on the running sum
    being monotone (once over budget, always over), which is what makes
    `cum <= budget` exactly the greedy prefix.

    `order_col` switches from uniform (hash-ordered) filling to RANKED
    filling: rows are admitted best-first — (order_col DESC|ASC, then
    hash, then key as deterministic tie-breaks) — i.e. "keep the
    highest-quality / longest documents within the budget", the usual
    shape of production data mixing over a quality-scored corpus.

    One exchange, keyed on the strata columns only; the running sum is
    a spillable window over each stratum."""
    from pyspark.sql import Window

    order = [hash60(F.col(key_col), seed).asc(), F.col(key_col).asc()]
    if order_col is not None:
        lead = F.col(order_col).desc() if descending else F.col(order_col).asc()
        order = [lead, *order]
    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(weight_col)).over(w)
    return df.withColumn("__cum__", cum).where(F.col("__cum__") <= budget).drop("__cum__")


def mixing_weights(
    df: DataFrame,
    strata_cols: list[str],
    weight_col: str | None = None,
    alpha: float = 0.3,
    dp: int = 6,
) -> DataFrame:
    """Temperature-scaled data-mixing weights per stratum — the weight-
    COMPUTATION step that feeds `token_budget_cap`/`sample_by_stratum`.

    The standard multilingual/multi-source recipe (Conneau & Lample
    2019 §3.1; used for XLM-R, mT5, and most pretraining mixes since):
    with p_s the stratum's share of total mass (sum of `weight_col`,
    row count when None), sample from q_s = p_s^alpha / sum_t p_t^alpha.
    alpha=1 keeps natural proportions, alpha=0 is uniform over strata,
    alpha~0.3 is the published low-resource-upsampling sweet spot.

    Returns one row per stratum:
      strata_cols..., tokens (bigint), share = p_s, weight = q_s,
      epochs = q_s / p_s (the implied number of passes over the stratum
      when the mixed corpus is sampled to the original total size; > 1
      means upsampling/repetition, the quantity capped in practice by
      repetition-aware scaling laws).
    share/weight/epochs are rounded (dp) for cross-engine comparison.

    Scale: one partial-aggregated exchange keyed on the strata columns
    reduces the corpus to |strata| rows; both normalizations are
    whole-frame windows over that tiny aggregated frame (single
    reducer by construction — the frame IS driver-sized). Nothing else
    touches the 100 TB side."""
    from pyspark.sql import Window

    if weight_col is None:
        mass = F.count(F.lit(1))
    else:
        mass = F.sum(F.col(weight_col))
    per = df.groupBy(*strata_cols).agg(mass.cast("long").alias("tokens"))
    w_all = Window.partitionBy()
    share = F.col("tokens").cast("double") / F.sum("tokens").over(w_all)
    raw = F.pow(share, F.lit(float(alpha)))
    staged = per.select(*strata_cols, "tokens", share.alias("__p__"), raw.alias("__r__"))
    weight = F.col("__r__") / F.sum("__r__").over(w_all)
    return staged.select(
        *strata_cols,
        "tokens",
        F.round(F.col("__p__"), dp).alias("share"),
        F.round(weight, dp).alias("weight"),
        F.round(weight / F.col("__p__"), dp).alias("epochs"),
    )
