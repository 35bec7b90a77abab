"""Run-level aggregates, exact percentiles, salted group-bys, and the
24-column summary ledger (SURVEY.md A1-A8, S5, O2/O8).

The reference's percentile/TPR formulas are EXACT lower-index picks
over sorted samples — Spark's interpolating `percentile` and sketchy
`percentile_approx` do NOT match; both reference formulas are
reproduced index-for-index here. Two distinct quantile index
formulas coexist by contract (SURVEY.md §7 hard part c), one helper
each:

    conformal (C2):  k = max(1, int(round_half_even((1-a)*n))), pick k-th
                     smallest; spelled once, in CalibrationState.run
    fixed/no-calib (C6) and percentile/TPR (A1/A3):
                     k = int(q*(n-1)), pick (k+1)-th smallest; spelled
                     once, as lower_index (Python) / lower_index_col
                     (Column), which every pick outside oracle.py calls

TPR@FPR (A3) takes the same pick from a distinct-value histogram: one
aggregate counts the (score, label) pairs, and the driver walks their
cumulative counts. Its cost follows the distinct values, not the rows;
above TPR_HISTOGRAM_CAP pairs it runs the distributed rank selection.
`TprTally` builds the same histogram inside a kernel that already runs
(the job's calibration walk), batch by batch, into an accumulator.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# ---------------------------------------------------------------------------
# exact lower-index percentile (A1, /root/reference/src/stream.py:138-143)
# ---------------------------------------------------------------------------

def lower_index(q: float, n: int) -> int:
    """0-based index of the lower-index q-quantile of n >= 1 sorted
    values: k = int(q*(n-1)), clamped into [0, n-1]."""
    return min(max(int(q * (n - 1)), 0), n - 1)


def lower_index_col(q: float, n: Column) -> Column:
    """lower_index over a count Column `n`, as a long: the same double
    product, floored (int() on these non-negative products), clamped.
    Callers indexing with element_at cast it to int (ANSI mode)."""
    k = F.floor(F.lit(q) * (n - F.lit(1)).cast("double"))
    return F.greatest(F.lit(0), F.least(k, n - F.lit(1)))


def exact_percentile_col(values: Column, p: float) -> Column:
    """Aggregate expression: k = int((p/100)*(n-1)) over the sorted
    collected values. collect_list bounds memory by group size — fine
    for run-level metric samples; use exact_percentile_distributed for
    billion-row columns."""
    arr = F.sort_array(F.collect_list(values))
    return F.element_at(arr, lower_index_col(p / 100.0, F.size(arr)).cast("int") + F.lit(1))


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
        cond = F.lit(False)
        for p in ps:
            cond = cond | (F.col("__gidx__") == lower_index_col(p / 100.0, F.col("__n__")))
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
            k = lower_index(p / 100.0, n)
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
    k = lower_index_col(q / 100.0, F.count(F.lit(1)).over(w))
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
    k = lower_index(p / 100.0, n)
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


def _collect_histogram(scored: DataFrame, score_col: str, label_col: str) -> list:
    """The (v, pos, count) rows of the (score, label = 1) pairs over the
    rows labelled 0 or 1, at most TPR_HISTOGRAM_CAP + 1 of them."""
    return (
        scored.where(F.col(label_col).isin(0, 1))
        .groupBy(F.col(score_col).cast("double").alias("v"), (F.col(label_col) == 1).alias("pos"))
        .count()
        .limit(TPR_HISTOGRAM_CAP + 1)
        .collect()
    )


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
    hist = _collect_histogram(scored, score_col, label_col)
    if len(hist) <= TPR_HISTOGRAM_CAP:
        return _tpr_from_histogram(hist, p)

    neg = scored.where(F.col(label_col) == 0)
    pos = scored.where(F.col(label_col) == 1)
    thr = exact_percentile_distributed(neg, score_col, [p])[p]
    if math.isnan(thr):
        return float("nan"), float("nan")
    tpr_row = pos.agg(F.avg((F.col(score_col) >= F.lit(thr)).cast("double")).alias("tpr")).first()
    if tpr_row["tpr"] is None:
        return float("nan"), thr
    return float(tpr_row["tpr"]), thr


# the one NaN key of a tally histogram: NaN != NaN, so each NaN that
# arrives (every batch, every unpickled update) is filed under this object
_NAN = float("nan")


class _PairCounts(AccumulatorParam):
    """Accumulates (rows seen, {(score, is_pos): count}). The histogram
    becomes None, and stays None, once it holds more than `cap` pairs."""

    def __init__(self, cap: int):
        self.cap = cap

    def zero(self, value):
        return 0, {}

    def addInPlace(self, acc, term):
        rows, hist = acc
        if hist is None or term[1] is None:
            return rows + term[0], None
        for (v, pos), c in term[1].items():
            key = (_NAN if v != v else v, pos)
            hist[key] = hist.get(key, 0) + c
        return rows + term[0], hist if len(hist) <= self.cap else None


class TprTally:
    """tpr_at_fpr's (score, label) histogram, counted batch by batch in a
    kernel that already runs, instead of by a query over its output.

    Called on the executor with each Arrow batch the kernel emits, it
    counts every row, and the (score, label = 1) pairs of the rows
    labelled 0 or 1 with pyarrow's group_by, into a PySpark accumulator:
    -0.0 counts as 0.0 and NaN as one key, as in Spark's grouping. The
    accumulator stops merging pairs above TPR_HISTOGRAM_CAP (as read
    when the tally is built), so its memory stays bounded.

    Spark merges each task's accumulator update exactly once only in a
    result stage, so the kernel must run in the result stage of the one
    action that executes it (a write); `tpr` refuses a tally whose row
    count differs from that action's."""

    def __init__(self, spark: SparkSession, score_col: str = "score", label_col: str = "label"):
        self.score_col, self.label_col = score_col, label_col
        self.pairs = spark.sparkContext.accumulator((0, {}), _PairCounts(TPR_HISTOGRAM_CAP))

    def __call__(self, batch: pa.RecordBatch) -> None:
        label = batch.column(self.label_col)
        keep = pc.is_in(label, value_set=pa.array([0, 1]).cast(label.type))
        # + 0.0 folds -0.0 into 0.0 (IEEE); group_by already keeps NaN as one key
        score = pc.add(batch.column(self.score_col).cast(pa.float64()), 0.0)
        counts = pa.table({
            "v": pc.filter(score, keep), "pos": pc.filter(pc.equal(label, 1), keep),
        }).group_by(["v", "pos"]).aggregate([([], "count_all")])
        pairs = zip(counts["v"].to_pylist(), counts["pos"].to_pylist())
        self.pairs.add((batch.num_rows, dict(zip(pairs, counts["count_all"].to_pylist()))))

    def tpr(self, n_rows: int, target_fpr: float = 0.01) -> tuple[float, float] | None:
        """tpr_at_fpr over the tallied histogram (the same walk); None
        when it overflowed the cap or did not see exactly `n_rows` rows
        (a kernel that ran twice, or not at all), and the caller must
        run tpr_at_fpr over the rows instead."""
        rows, hist = self.pairs.value
        if hist is None or rows != n_rows:
            return None
        return _tpr_from_histogram(
            [(v, pos, c) for (v, pos), c in hist.items()], (1.0 - target_fpr) * 100.0
        )


# ---------------------------------------------------------------------------
# salted two-phase aggregation (north rule skew handling)
# ---------------------------------------------------------------------------

def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    salt_col: str = "turn_idx",
    buckets: int = 16,
) -> DataFrame:
    """groupBy(keys) count `n` plus `sum_<c>` per sum column, as a
    two-phase aggregate with an explicit salt: phase 1 groups on
    (keys + salt) so a hot key fans out over `buckets` reducers, phase
    2 sums the partials. Result provably equals the plain groupBy;
    sum_cols=[] is the salted count."""
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

def keep_last(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Latest row per key (reference keep-last dedup,
    scripts/make_readme_table.py:86-90) — window row_number over
    `order_cols`, each descending (later columns break ties), not
    dropDuplicates, so "last" is well-defined."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
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
