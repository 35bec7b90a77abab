"""Reporting queries over the summary ledger (SURVEY.md §3.3).

Spark restatement of scripts/make_readme_table.py's row selection:
keep-last per (dataset, mode, calibration) and the canonical 3-level
categorical sort, which the figures read; and the port of the
reference's summary-ledger CI gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.aggregate import categorical_rank, keep_last

REPORT_KEYS = ["dataset", "mode", "calibration"]
DATASET_ORDER = ["synth_tokens", "synth_transcripts", "synth", "mini_tokens", "mini"]
MODE_ORDER = ["baseline", "transformer"]
CALIB_ORDER = ["conformal", "no_calib"]


def _with_file_order(summary: DataFrame) -> DataFrame:
    if "__order__" in summary.columns:
        return summary
    return summary.withColumn("__order__", F.monotonically_increasing_id())


def latest_per_config(summary: DataFrame) -> DataFrame:
    """Keep-last dedup (make_readme_table.py:86-90: OrderedDict
    overwrite == last occurrence wins)."""
    return keep_last(_with_file_order(summary), REPORT_KEYS, ["__order__"]).drop("__order__")


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
