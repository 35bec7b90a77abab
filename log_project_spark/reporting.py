"""Reporting queries over the summary ledger (SURVEY.md §3.3).

Spark restatement of scripts/make_readme_table.py /
make_multi_plots_v2.py: keep-last per (dataset, mode, calibration),
canonical 3-level categorical sort, per-column formatting, Markdown
table rendering, median-collapse variant, calibration filter, and the
zero-latency drop filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .operators.aggregate import categorical_rank, keep_last

REPORT_KEYS = ["dataset", "mode", "calibration"]
DATASET_ORDER = ["synth_tokens", "synth_transcripts", "synth", "mini_tokens", "mini"]
MODE_ORDER = ["baseline", "transformer"]
CALIB_ORDER = ["conformal", "no_calib"]

METRIC_COLS = ["TPR_at_1pct_FPR", "p95_ms", "p99_ms", "eps", "CPU_pct"]


COLUMN_ALIASES = {"model": "mode", "cal": "calibration", "throughput_eps": "eps"}


def normalize_summary_columns(summary: DataFrame) -> DataFrame:
    """Foreign-ledger column tolerance (make_multi_plots_v2.py:37-49,
    215-230): accept model/cal/throughput_eps as aliases for
    mode/calibration/eps; canonical name wins when both exist."""
    out = summary
    for alias, canon in COLUMN_ALIASES.items():
        if alias in out.columns:
            out = out.drop(alias) if canon in out.columns else out.withColumnRenamed(alias, canon)
    return out


def _with_file_order(summary: DataFrame) -> DataFrame:
    if "__order__" in summary.columns:
        return summary
    return summary.withColumn("__order__", F.monotonically_increasing_id())


def latest_per_config(summary: DataFrame) -> DataFrame:
    """Keep-last dedup (make_readme_table.py:86-90: OrderedDict
    overwrite == last occurrence wins)."""
    return keep_last(_with_file_order(summary), REPORT_KEYS, ["__order__"]).drop("__order__")


def median_collapse(summary: DataFrame) -> DataFrame:
    """make_multi_plots_v2.py:67-71: median of p95/p99/eps per key,
    last for everything else."""
    ordered = _with_file_order(summary)
    others = [c for c in summary.columns if c not in REPORT_KEYS + ["p95_ms", "p99_ms", "eps"]]
    w = Window.partitionBy(*REPORT_KEYS).orderBy("__order__")
    lasts = ordered.withColumn("__rn__", F.row_number().over(w.orderBy(F.col("__order__").desc())))
    lasts = lasts.where(F.col("__rn__") == 1).select(*REPORT_KEYS, *others)
    meds = ordered.groupBy(*REPORT_KEYS).agg(
        *[
            F.round(F.expr(f"percentile(CAST({c} AS DOUBLE), 0.5)"), 6).alias(c)
            for c in ("p95_ms", "p99_ms", "eps")
        ]
    )
    return lasts.join(meds, REPORT_KEYS)


def filter_calibrations(summary: DataFrame, wanted: list[str]) -> DataFrame:
    """O6 (make_multi_plots_v2.py:76-89)."""
    return summary.where(F.col("calibration").isin(wanted))


def drop_zero_latency(summary: DataFrame) -> DataFrame:
    """O7 (make_multi_plots_v2.py:92-100)."""
    return summary.where(
        (F.col("p95_ms").cast("double") > 0) & (F.col("p99_ms").cast("double") > 0)
    )


MODE_CAL_ORDER = [
    ("baseline", "conformal"),
    ("baseline", "no_calib"),
    ("transformer", "conformal"),
    ("transformer", "no_calib"),
]


def smart_order(summary: DataFrame) -> DataFrame:
    """make_multi_plots_v2.py:101-120: sort by dataset, then the fixed
    (mode, calibration) pair order, unknown pairs last (idx 99) broken
    by (mode, calibration) lexicographic."""
    idx = F.lit(99)
    for i, (m, c) in reversed(list(enumerate(MODE_CAL_ORDER))):
        idx = F.when(
            (F.col("mode") == m) & (F.col("calibration") == c), F.lit(i)
        ).otherwise(idx)
    return summary.orderBy(
        F.col("dataset"), idx, F.col("mode"), F.col("calibration")
    )


def multi_config_shape(
    summary: DataFrame,
    calibrations: list[str] | None = None,
    collapse: str = "last",
    drop_zero: bool = True,
    expect: int = 0,
) -> DataFrame:
    """The v2 multi-config pipeline (make_multi_plots_v2.py:214-236):
    alias normalization -> optional calibration filter -> optional
    zero-latency drop -> collapse last|median|none -> smart order.
    Shared by the grouped figures and any multi-config report so they
    can never disagree. expect>0 warns when fewer rows survive the
    filters (make_multi_plots_v2.py --expect)."""
    out = normalize_summary_columns(summary)
    if calibrations:
        out = filter_calibrations(out, calibrations)
    if drop_zero:
        out = drop_zero_latency(out)
    if collapse == "last":
        out = latest_per_config(out)
    elif collapse == "median":
        out = median_collapse(out)
    elif collapse != "none":
        raise ValueError(f"unknown collapse mode {collapse!r}")
    if expect > 0:  # opt-in count job, mirroring --expect
        n = out.count()
        if n < expect:
            import logging

            logging.getLogger(__name__).warning(
                "have %d rows after filtering; expected %d", n, expect
            )
    return smart_order(out)


def canonical_sort(summary: DataFrame) -> DataFrame:
    """O2 3-level categorical order, unknowns last lexicographic
    (make_readme_table.py:29-44,92-101)."""
    return summary.orderBy(
        categorical_rank(F.col("dataset"), DATASET_ORDER),
        F.col("dataset"),
        categorical_rank(F.col("mode"), MODE_ORDER),
        F.col("mode"),
        categorical_rank(F.col("calibration"), CALIB_ORDER),
        F.col("calibration"),
    )


def format_row_values(summary: DataFrame) -> DataFrame:
    """Column format policy, faithful to make_readme_table.py:47-73
    (ADVICE r1 — format_number inserts thousands separators the
    reference's f'{x:.1f}' never does):

    - _fmt1 (p95/p99/eps/CPU): ''/NA -> 'NA'; numeric -> '%.1f' (no
      grouping); other non-numeric strings pass through.
    - _fmt_tpr: mini_* datasets -> literal 'NA' regardless of value;
      synth_* '' -> 'NA'; numeric -> '%.4f'; else passthrough."""

    def fmt1(c: str):
        s = F.trim(F.coalesce(F.col(c).cast("string"), F.lit("")))
        d = F.col(c).try_cast("double")
        return (
            F.when((s == "") | (F.upper(s) == "NA"), F.lit("NA"))
            .when(d.isNotNull(), F.format_string("%.1f", d))
            .otherwise(s)
        )

    ds = F.lower(F.trim(F.coalesce(F.col("dataset"), F.lit(""))))
    tpr_s = F.trim(F.coalesce(F.col("TPR_at_1pct_FPR").cast("string"), F.lit("")))
    tpr_d = F.col("TPR_at_1pct_FPR").try_cast("double")
    tpr_fmt = (
        F.when(ds.startswith("mini"), F.lit("NA"))
        .when(
            (tpr_s == "") | (F.upper(tpr_s) == "NA"),
            F.when(ds.startswith("synth"), F.lit("NA")).otherwise(tpr_s),
        )
        .when(tpr_d.isNotNull(), F.format_string("%.4f", tpr_d))
        .otherwise(tpr_s)
    )
    out = summary.withColumn("TPR_at_1pct_FPR", tpr_fmt)
    for c in ("p95_ms", "p99_ms", "eps", "CPU_pct"):
        out = out.withColumn(c, fmt1(c))
    return out


def readme_table(summary: DataFrame, columns: list[str] | None = None) -> str:
    """Markdown report table, reference column subset by default."""
    columns = columns or [
        "dataset", "mode", "calibration", "events", "anomalies", "drifts",
        "TPR_at_1pct_FPR", "p95_ms", "p99_ms", "eps",
    ]
    shaped = canonical_sort(format_row_values(latest_per_config(summary))).select(*columns)
    rows = shaped.collect()
    header = "| " + " | ".join(columns) + " |"
    sep = "|" + "|".join(["---"] * len(columns)) + "|"
    body = ["| " + " | ".join("" if r[c] is None else str(r[c]) for c in columns) + " |" for r in rows]
    return "\n".join([header, sep] + body)


# ---------------------------------------------------------------------------
# summary-ledger constraint gate (scripts/check_summary.py port)
# ---------------------------------------------------------------------------

CHECK_REQUIRED_COLUMNS = [
    "dataset", "mode", "calibration", "TPR_at_1pct_FPR", "p95_ms", "p99_ms", "eps",
]


def summary_violations(summary: DataFrame) -> DataFrame:
    """Constraint violations in a summary ledger, as a DataFrame.

    Port of the reference CI gate
    (/root/reference/scripts/check_summary.py:31-58), restated over the
    ledger DataFrame instead of a csv.reader loop so it runs on a
    distributed ledger of any size:

    - p95_ms must parse and be <= p99_ms — strict, like the reference
      gate (both gates parse identical doubles from identical CSV
      strings, so no float-format slack is needed; ADVICE r4 dropped
      the former 1e-9 leniency). Non-numeric values violate, like the
      reference's except-branch.
    - TPR_at_1pct_FPR: 'NA' is allowed only for mini_tokens datasets;
      otherwise it must parse as a number, and synth_tokens TPRs with a
      decimal point must carry exactly 4 decimals.

    Returns (dataset, mode, calibration, kind, detail) — one row per
    violating (row, rule). try_cast keeps parsing tolerant under
    Spark 4 ANSI mode. Raises ValueError if a required column is
    missing (the reference's header check)."""
    missing = [c for c in CHECK_REQUIRED_COLUMNS if c not in summary.columns]
    if missing:
        raise ValueError(f"summary ledger missing required columns: {missing}")

    p95 = F.col("p95_ms").try_cast("double")
    p99 = F.col("p99_ms").try_cast("double")
    tpr_raw = F.trim(F.col("TPR_at_1pct_FPR"))
    is_na = F.upper(tpr_raw) == "NA"
    is_mini = F.col("dataset").contains("mini_tokens")
    is_synth = F.col("dataset").contains("synth_tokens")
    frac = F.substring_index(tpr_raw, ".", -1)

    p_bad = p95.isNull() | p99.isNull() | (p95 > p99)
    tpr_bad = F.when(is_na, ~is_mini).otherwise(
        tpr_raw.try_cast("double").isNull()
        | (is_synth & tpr_raw.contains(".") & (F.length(frac) != 4))
    )

    flagged = summary.select(
        "dataset",
        "mode",
        "calibration",
        F.col("TPR_at_1pct_FPR").alias("__tpr__"),
        F.col("p95_ms").alias("__p95__"),
        F.col("p99_ms").alias("__p99__"),
        p_bad.alias("__pbad__"),
        tpr_bad.alias("__tbad__"),
    )
    keys = ["dataset", "mode", "calibration"]
    p_rows = flagged.where("__pbad__").select(
        *keys,
        F.lit("p95_gt_p99_or_non_numeric").alias("kind"),
        F.concat(F.lit("p95_ms="), F.col("__p95__"), F.lit(" p99_ms="), F.col("__p99__")).alias("detail"),
    )
    t_rows = flagged.where("__tbad__").select(
        *keys,
        F.lit("tpr_policy").alias("kind"),
        F.concat(F.lit("TPR_at_1pct_FPR="), F.col("__tpr__")).alias("detail"),
    )
    return p_rows.unionAll(t_rows)


def check_summary(summary: DataFrame, max_report: int = 20) -> None:
    """Raise ValueError when the ledger violates the reference's CI
    constraints (check_summary.py's sys.exit, as an exception so jobs
    and tests can catch it); silent on a clean ledger."""
    rows = summary_violations(summary).limit(max_report + 1).collect()
    if rows:
        more = " (truncated)" if len(rows) > max_report else ""
        msgs = "; ".join(
            f"{r['kind']} [{r['dataset']}/{r['mode']}/{r['calibration']}]: {r['detail']}"
            for r in rows[:max_report]
        )
        raise ValueError(f"summary ledger constraint violations: {msgs}{more}")
