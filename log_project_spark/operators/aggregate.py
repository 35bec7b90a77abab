"""Run-level aggregates, exact percentiles, salted group-bys, and the
24-column summary ledger (SURVEY.md A1-A8, S5, O2/O8).

The reference's percentile/TPR formulas are EXACT lower-index picks
over sorted samples — Spark's interpolating `percentile` and sketchy
`percentile_approx` do NOT match; both reference formulas are
reproduced index-for-index here. Three distinct quantile index
formulas coexist by contract (SURVEY.md §7 hard part c):

    conformal (C2):  k = max(1, int(round_half_even((1-a)*n))), pick k-th smallest
    fixed/no-calib (C6) and percentile/TPR (A1/A3):
                     k = int(q*(n-1)), pick (k+1)-th smallest

TPR@FPR (A3) takes the same pick from a distinct-value histogram: one
aggregate counts the (score, label) pairs, and the driver walks their
cumulative counts. Its cost follows the distinct values, not the rows;
above TPR_HISTOGRAM_CAP pairs it runs the distributed rank selection.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# ---------------------------------------------------------------------------
# exact lower-index percentile (A1, /root/reference/src/stream.py:138-143)
# ---------------------------------------------------------------------------

def exact_percentile_col(values: Column, p: float) -> Column:
    """Aggregate expression: k = int((p/100)*(n-1)) over the sorted
    collected values. collect_list bounds memory by group size — fine
    for run-level metric samples; use exact_percentile_distributed for
    billion-row columns."""
    arr = F.sort_array(F.collect_list(values))
    n = F.size(arr)
    k = F.floor((F.lit(p) / F.lit(100.0)) * (n - F.lit(1)).cast("double")).cast("int")
    k = F.greatest(F.lit(0), F.least(k, n - F.lit(1)))
    return F.element_at(arr, k + F.lit(1))


def _lower_index(p: float, n: int) -> int:
    """0-based index of the p-th lower-index percentile of n sorted values."""
    return min(max(int((p / 100.0) * (n - 1)), 0), n - 1)


def exact_percentile_distributed(
    df: DataFrame, col: str, ps: list[float], num_partitions: int | None = None
) -> dict[float, float]:
    """Exact lower-index percentiles without collecting the column,
    entirely JVM-side (no RDD, no per-row Python — VERDICT r1 #1).

    One plan, one action: range-partition the (pruned, single-column)
    projection so partition ids ascend with value, sort within
    partitions, and derive each row's global sorted index from
    monotonically_increasing_id (pid in the upper bits, position within
    partition in the lower 33) plus a broadcast cumulative-offset table
    aggregated from the SAME exchange (Catalyst dedupes it as a
    ReusedExchange, so the column shuffles once). The k = int((p/100)*
    (n-1)) targets are Catalyst expressions of the in-plan total, so no
    driver-side pre-count is needed. Ties spanning a range boundary are
    harmless: any valid sorted concatenation yields the same k-th pick.
    Assumes < 2^33 rows per partition (the id contract)."""
    from pyspark.sql import Window

    if not ps:
        return {}
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vals = df.where(F.col(col).isNotNull()).select(F.col(col).cast("double").alias("__v__"))

    def pick(persist_arranged: bool) -> dict[float, float] | None:
        """Run the range-arrange + offset-join plan and pick the
        targets; None when the picked rows are internally inconsistent
        (every target k must be present and all rows must agree on n).
        persist_arranged=True materializes the narrow (v, pid, lrn)
        projection so both consumers read identical data regardless of
        exchange reuse.

        Residual gap (ADVICE r3): this runtime check detects missing
        ks and disagreeing n, but NOT a split exchange whose two
        branches are each internally consistent yet offset-shifted —
        every k could be found with one n and still carry wrong
        values. Correctness therefore rests on the ReusedExchange plan
        assertion (tests/test_aggregate.py::
        test_exact_percentile_distributed_reuses_range_exchange) plus
        the persisted fallback, which is reuse-independent by
        construction; this check is a cheap tripwire, not the proof."""
        arranged = (
            vals.repartitionByRange(num_partitions, "__v__")
            .sortWithinPartitions("__v__")
            .select("__v__", F.monotonically_increasing_id().alias("__mid__"))
            .select(
                "__v__",
                F.shiftrightunsigned("__mid__", 33).alias("__pid__"),
                F.col("__mid__").bitwiseAND(F.lit((1 << 33) - 1)).alias("__lrn__"),
            )
        )
        if persist_arranged:
            arranged = arranged.persist()
            arranged.count()  # snapshot before either branch reads it
        pc = arranged.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__cnt__"))
        w_cum = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
        w_tot = Window.orderBy("__pid__").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = pc.select(
            "__pid__",
            F.coalesce(F.sum("__cnt__").over(w_cum), F.lit(0)).alias("__off__"),
            F.sum("__cnt__").over(w_tot).alias("__n__"),
        )
        joined = arranged.join(F.broadcast(offsets), "__pid__").withColumn(
            "__gidx__", F.col("__off__") + F.col("__lrn__")
        )
        n_col = F.col("__n__")

        def k_expr(p: float):
            k = F.floor(F.lit(p / 100.0) * (n_col - F.lit(1)).cast("double")).cast("long")
            return F.greatest(F.lit(0).cast("long"), F.least(k, n_col - F.lit(1)))

        cond = F.lit(False)
        for p in ps:
            cond = cond | (F.col("__gidx__") == k_expr(p))
        try:
            rows = joined.where(cond).select("__v__", "__gidx__", "__n__").collect()
        finally:
            if persist_arranged:
                arranged.unpersist()
        if not rows:
            return None
        ns = {int(r["__n__"]) for r in rows}
        if len(ns) != 1:
            return None
        n = ns.pop()
        by_idx = {int(r["__gidx__"]): float(r["__v__"]) for r in rows}
        out = {}
        for p in ps:
            k = _lower_index(p, n)
            if k not in by_idx:
                return None
            out[p] = by_idx[k]
        return out

    # Fast path: `arranged` feeds both the offset aggregate and the
    # main join from ONE range exchange only because Catalyst dedupes
    # the two branches as a ReusedExchange (asserted in PLANS.md §
    # exact_percentiles). monotonically_increasing_id + range sampling
    # are nondeterministic, so if a plan change ever splits the
    # exchange, the branches would sample different boundaries and the
    # picked indexes go missing/inconsistent — `pick` detects that
    # (ADVICE r2) and we re-run with the narrow arranged projection
    # persisted, which is reuse-independent by construction.
    out = pick(persist_arranged=False)
    if out is not None:
        return out
    if vals.isEmpty():
        return {p: float("nan") for p in ps}
    out = pick(persist_arranged=True)
    if out is None:
        raise AssertionError(
            "exact_percentile_distributed: inconsistent index/offset rows "
            "even from a persisted arrangement — plan invariant broken"
        )
    return out


def approx_percentiles(
    df: DataFrame, col: str, ps: list[float], accuracy: int = 10_000
) -> DataFrame:
    """Approximate percentiles via Spark's built-in mergeable GK
    sketch (`percentile_approx`) — the 100 TB path next to
    `exact_percentile_distributed`: the exact operator costs a full
    range shuffle of the column; the sketch is one scan with map-side
    partial aggregation (each task keeps an O(accuracy) summary,
    partials merge associatively), no shuffle of data rows at all.
    Guaranteed rank error <= n/accuracy; the returned value is always
    an ELEMENT of the column (like the reference's lower-index exact
    percentile, never an interpolation). Result column per p:
    `p<p>` (dots stripped), double."""
    exprs = [
        F.percentile_approx(F.col(col).cast("double"), F.lit(p / 100.0), F.lit(accuracy))
        .alias(f"p{str(p).replace('.', '_')}")
        for p in ps
    ]
    return df.agg(*exprs)


def percentile_rank_filter(
    df: DataFrame,
    score_col: str,
    q: float,
    group_cols: list[str],
    tiebreak_col: str,
    keep_low: bool = False,
) -> DataFrame:
    """Per-group percentile cut — the CCNet-style curation gate "keep
    the top (100-q)% of each language by quality score" (Wenzek et al.
    2020 §4.3 bucket their corpus by per-language LM-score quantiles;
    Gopher/RefinedWeb apply the same shape with heuristic scores).

    Rank semantics, not value semantics: rows are ordered within each
    group by (score_col asc, tiebreak_col asc) and a row is kept iff
    its 0-based rank >= k, with k = int((q/100) * (n-1)) — the same
    lower-index formula as the reference's exact percentile (A1,
    /root/reference/src/stream.py:138-143), so the percentile row
    itself is always kept and exactly n-k rows survive per group.
    Ranking (vs `score >= value-at-k`) keeps the output a deterministic
    pure function of the frame under ties, restatable as one SQL
    window — the DuckDB oracle. keep_low=True inverts to "keep the
    bottom q%" (rank < k + 1 on the same ordering) for drop-the-best
    workloads (e.g. decontaminating a held-out slice).

    Cost: ONE exchange keyed on the group columns; rank and group size
    ride the same window sort (spillable). This is the honest price of
    an exact data-dependent cut — k depends on n, so Spark's
    WindowGroupLimit top-k pruning cannot apply. For a fixed COUNT per
    group use stratified_sample_exact (prunes map-side); for a global
    approximate threshold at 10^12 rows compute it once with
    approx_percentiles and filter scan-side."""
    from pyspark.sql import Window

    if not 0.0 <= q <= 100.0:
        raise ValueError(f"q must be in [0, 100], got {q}")
    w = Window.partitionBy(*group_cols)
    # NULLS LAST pinned explicitly (ADVICE r5): Spark's bare .asc() is
    # NULLS FIRST while the DuckDB oracle's ORDER BY defaults to NULLS
    # LAST — a NULL score would rank (and be kept/dropped) differently
    # per engine. No NULLs exist in the gated data, so this pin changes
    # nothing today; it makes the cross-engine contract explicit.
    rn = F.row_number().over(
        w.orderBy(F.col(score_col).asc_nulls_last(), F.col(tiebreak_col).asc())
    )
    n = F.count(F.lit(1)).over(w)
    k = F.floor(F.lit(q / 100.0) * (n - F.lit(1)).cast("double")).cast("long")
    ranked = df.withColumn("__rn__", rn.cast("long")).withColumn("__k__", k)
    keep = (
        (F.col("__rn__") <= F.col("__k__"))
        if keep_low
        else (F.col("__rn__") >= F.col("__k__") + F.lit(1))
    )
    return ranked.where(keep).select(*df.columns)


# ---------------------------------------------------------------------------
# TPR @ target FPR (A3, src/stream.py:146-158)
# ---------------------------------------------------------------------------

# distinct (score, label) pairs up to which tpr_at_fpr answers from the
# collected count histogram; the probe collects at most CAP + 1 rows of
# (double, boolean, long), a few hundred KB
TPR_HISTOGRAM_CAP = 4096


def _spark_double_order(v: float) -> tuple[int, float]:
    """Sort key of Spark's double ordering: NaN after every number and
    equal to itself; -0.0 == 0.0 as in Python."""
    return (1, 0.0) if math.isnan(v) else (0, v)


def _tpr_from_histogram(hist: list, p: float) -> tuple[float, float]:
    """tpr_at_fpr over the collected (score, is_pos, count) rows: the same
    lower-index pick as exact_percentile_distributed, taken by walking the
    cumulative negative counts, then the `>=` positive fraction under
    Spark's NaN rule (NaN >= x for every x). Null scores count nowhere."""
    neg = sorted(
        ((v, c) for v, is_pos, c in hist if not is_pos and v is not None),
        key=lambda vc: _spark_double_order(vc[0]),
    )
    n = sum(c for _, c in neg)
    if n == 0:
        return float("nan"), float("nan")
    k = _lower_index(p, n)
    seen = 0
    for thr, c in neg:
        seen += c
        if seen > k:
            break
    if math.isnan(thr):
        return float("nan"), float("nan")
    pos = [(v, c) for v, is_pos, c in hist if is_pos and v is not None]
    n_pos = sum(c for _, c in pos)
    if n_pos == 0:
        return float("nan"), thr
    hits = sum(c for v, c in pos if math.isnan(v) or v >= thr)
    return hits / n_pos, thr


def tpr_at_fpr(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    target_fpr: float = 0.01,
) -> tuple[float, float]:
    """Threshold = exact (1-fpr) lower-index quantile of NEGATIVE
    scores; TPR = fraction of positives with score >= thr (note >=,
    vs the strict > of the streaming anomaly decision).

    Histogram first: one aggregate counts the distinct (score, label)
    pairs and the driver walks their cumulative counts, so the cost
    follows the distinct values (a dozen on template-shaped logs), not
    the rows. Above TPR_HISTOGRAM_CAP pairs (continuous scores) it falls
    back to exact_percentile_distributed plus one positive aggregate.
    Both give the same (tpr, thr); a NaN pick gives (nan, nan), no
    negatives (nan, nan), no scored positives (nan, thr)."""
    p = (1.0 - target_fpr) * 100.0
    is_pos = F.col(label_col) == 1
    hist = (
        scored.where(F.col(label_col).isin(0, 1))
        .groupBy(F.col(score_col).cast("double").alias("v"), is_pos.alias("pos"))
        .count()
        .limit(TPR_HISTOGRAM_CAP + 1)
        .collect()
    )
    if len(hist) <= TPR_HISTOGRAM_CAP:
        return _tpr_from_histogram(hist, p)

    neg = scored.where(F.col(label_col) == 0)
    pos = scored.where(is_pos)
    thr = exact_percentile_distributed(neg, score_col, [p])[p]
    if math.isnan(thr):
        return float("nan"), float("nan")
    tpr_row = pos.agg(F.avg((F.col(score_col) >= F.lit(thr)).cast("double")).alias("tpr")).first()
    if tpr_row["tpr"] is None:
        return float("nan"), thr
    return float(tpr_row["tpr"]), thr


def tpr_at_fpr_df(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    target_fpr: float = 0.01,
) -> DataFrame:
    """Single-plan DataFrame variant (SQL-expressible, oracle-checkable).
    Collects the label-split score arrays into ONE aggregate row — fine
    at gate/report scale, NOT the 10^12-row path: run_pipeline uses
    tpr_at_fpr, whose result size is bounded by the distinct (score,
    label) pairs or, above TPR_HISTOGRAM_CAP of them, by the JVM
    percentile path."""
    arrays = scored.agg(
        F.sort_array(
            F.collect_list(F.when(F.col(label_col) == 0, F.col(score_col)))
        ).alias("neg"),
        F.collect_list(F.when(F.col(label_col) == 1, F.col(score_col))).alias("pos"),
    )
    n_neg = F.size(F.col("neg"))
    k = F.floor(F.lit(1.0 - target_fpr) * (n_neg - F.lit(1)).cast("double")).cast("int")
    k = F.greatest(F.lit(0), F.least(k, n_neg - F.lit(1)))
    with_thr = arrays.withColumn("thr", F.element_at(F.col("neg"), k + F.lit(1)).cast("double"))
    hits = F.size(F.filter(F.col("pos"), lambda x: x >= F.col("thr")))
    return with_thr.select(
        (hits.cast("double") / F.size(F.col("pos"))).alias("tpr"),
        F.col("thr"),
    )


# ---------------------------------------------------------------------------
# salted two-phase aggregation (north rule skew handling)
# ---------------------------------------------------------------------------

def salted_counts(
    df: DataFrame, keys: list[str], salt_col: str = "turn_idx", buckets: int = 16
) -> DataFrame:
    """groupBy(keys).count() as a two-phase aggregate with an explicit
    salt: phase 1 groups on (keys + salt) so a hot key fans out over
    `buckets` reducers, phase 2 sums the partials. Result provably
    equals the plain groupBy count."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(buckets)).alias("__salt__")
    partial = df.groupBy(*keys, salt).agg(F.count(F.lit(1)).alias("__n__"))
    return partial.groupBy(*keys).agg(F.sum("__n__").alias("n"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    salt_col: str = "turn_idx",
    buckets: int = 16,
) -> DataFrame:
    """Two-phase salted sum/count for arbitrary decomposable aggregates."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(buckets)).alias("__salt__")
    partial = df.groupBy(*keys, salt).agg(
        F.count(F.lit(1)).alias("__n__"),
        *[F.sum(c).alias(f"__sum_{c}__") for c in sum_cols],
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n__").alias("n"),
        *[F.sum(f"__sum_{c}__").alias(f"sum_{c}") for c in sum_cols],
    )


# ---------------------------------------------------------------------------
# report-shaping operators (A6/A7/O2/O8)
# ---------------------------------------------------------------------------

def keep_last(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Latest row per key (reference keep-last dedup,
    scripts/make_readme_table.py:86-90) — window row_number, not
    dropDuplicates, so "last" is well-defined."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def categorical_rank(col: Column, ordered_values: list[str]) -> Column:
    """Expression-based categorical sort key (O2): listed values rank
    first in order, unknowns last (sorted lexicographically via the
    secondary key the caller adds)."""
    expr = F.lit(len(ordered_values))
    for i, v in enumerate(reversed(ordered_values)):
        expr = F.when(col == v, F.lit(len(ordered_values) - 1 - i)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# 24-column summary ledger (S5, src/stream.py:79-104,194-254)
# ---------------------------------------------------------------------------

def resolve_commit() -> str:
    """Commit provenance for the summary ledger, mirroring the
    reference chain (/root/reference/src/stream.py:115-128): COMMIT
    env -> `git rev-parse --short HEAD` -> 'NA'."""
    import os
    import subprocess

    env = os.getenv("COMMIT")
    if env:
        return env.strip()
    try:
        out = (
            subprocess.check_output(
                ["git", "rev-parse", "--short", "HEAD"],
                stderr=subprocess.DEVNULL,
                cwd=os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            )
            .decode("utf-8")
            .strip()
        )
        return out or "NA"
    except Exception:
        return "NA"


SUMMARY_COLUMNS = [
    "date", "commit", "dataset", "mode", "calibration", "drift_detector",
    "seed", "events", "anomalies", "drifts", "TPR_at_1pct_FPR", "p95_ms",
    "p99_ms", "eps", "CPU_pct", "energy_J", "calib_target_fpr",
    "calib_window", "warmup", "adwin_delta", "iso_n_estimators",
    "iso_max_samples", "iso_random_state", "notes",
]


def summary_row(
    spark: SparkSession,
    *,
    dataset: str,
    mode: str,
    calibration: str,
    seed: int,
    events: int,
    anomalies: int,
    drifts: int,
    tpr_str: str,
    p95_ms: float,
    p99_ms: float,
    eps: float,
    cpu_pct: str,
    calib_target_fpr: str,
    calib_window: str,
    warmup: int,
    adwin_delta: float,
    iso_n_estimators: str,
    iso_max_samples: str,
    iso_random_state: str,
    notes: str,
    commit: str = "NA",
    drift_detector: str = "ADWIN",
    energy_j: str = "NA",
) -> DataFrame:
    """One-row summary DataFrame with the exact 24-column header, all
    stringly-typed like the CSV ledger (NaN floats -> empty per
    src/stream.py:107-110)."""
    import math as _math

    def fmt(x) -> str:
        if isinstance(x, float):
            return "" if _math.isnan(x) else f"{x:.6g}"
        return str(x)

    date_s = datetime.now(timezone.utc).strftime("%Y-%m-%d")
    values = [
        date_s, commit, dataset, mode, calibration, drift_detector,
        fmt(seed), fmt(events), fmt(anomalies), fmt(drifts), tpr_str,
        fmt(p95_ms), fmt(p99_ms), fmt(eps), cpu_pct, energy_j,
        calib_target_fpr, calib_window, fmt(warmup), fmt(adwin_delta),
        iso_n_estimators, iso_max_samples, iso_random_state, notes,
    ]
    schema = ", ".join(f"`{c}` string" for c in SUMMARY_COLUMNS)
    return local_frame(spark, [values], schema)
