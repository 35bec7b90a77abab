"""End-to-end parse -> enrich -> score -> calibrate -> route -> aggregate.

Spark-first restatement of the reference's run lifecycle
(/root/reference/src/stream.py:257-415): the per-event loop becomes a
declarative plan (parse/enrich are pure Catalyst; scoring plus
calibration+drift is ONE grouped kernel per mode on
`calibrate.walk_groups` — the len score is a Catalyst column it reads,
the baseline scorer is fused into it, and the stateful transformer
scorer runs inside it), the counters become aggregates, and the summary
row becomes a one-row append to the summary sink. `run_pipeline` is one
linear stage chain, parse -> enrich -> score_calibrate, each stage
checkpointed under `checkpoint_root` or composed directly.

Single-execution contract: like the reference's one pass over the event
stream, a `run_pipeline` call executes the scored plan (scan, parse,
enrich, shuffle, score+calibrate kernel) exactly once, in one write —
the fan-out under `out_dir`, else a `noop` write — and its run-level
figures ride that write. The counters come from `df.observe`, and
TPR@FPR from the (score, label) histogram an `aggregate.TprTally`
counts inside the kernel, on every Arrow batch the kernel emits, as the
reference computes TPR from the scores its one loop produced
(src/stream.py:146-158). The kernel runs in the result stage of the one
write that executes it (that write, or the score_calibrate checkpoint
under `checkpoint_root`), where Spark merges each task's accumulator
update once. Fallback: when the tally overflowed TPR_HISTOGRAM_CAP
pairs, or did not see exactly the observed row count (a resumed
score_calibrate checkpoint ran no kernel), TPR reads the written sinks
back (two columns, pruned at the parquet scan), or `scored` without
sinks, and runs `aggregate.tpr_at_fpr`.

In baseline mode the model is fitted on the parsed frame, before
enrich, as the reference fits on the corpus (src/stream.py:178-187):
the dim joins leave norm_text unchanged, so the fit runs no broadcast.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lineage import CheckpointedRun
from .operators import aggregate as agg
from .operators import enrich as enrich_ops
from .operators import parse as parse_ops
from .operators import route as route_ops
from .operators import scoring
from .operators.calibrate import calibrate
from .session import local_frame
from . import synth


def _tree_cpu_seconds() -> float | None:
    """Total CPU seconds (utime+stime+cutime+cstime) of this process
    and all its descendants: the driver, the local-mode JVM it spawned,
    and the Python worker daemon and workers the JVM forked. Under
    spark-submit (`PYSPARK_GATEWAY_PORT` set, as `session._master`
    tests) the JVM started this driver, so the walk starts at the
    parent, the JVM, and counts it, its workers and this driver. The tree
    is walked by parent pid, not process group, because PySpark's
    worker daemon moves itself into its own group; children reaped
    during the run count through their parent's cutime/cstime.
    psutil-free /proc parse (psutil is not a dependency; the reference
    samples psutil.Process().cpu_percent every 50 events,
    src/stream.py:345-349 — at engine scale we report the tree-wide
    CPU/wall ratio over the run instead). Returns None off-Linux."""
    import os

    if not os.path.isdir("/proc"):
        return None
    try:
        clk = os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError):
        return None
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                data = f.read().decode("ascii", "replace")
            # comm (field 2) may contain spaces/parens: split after ')'
            rest = data[data.rindex(")") + 2:].split()
            # field 4: ppid; fields 14-17: utime, stime, cutime, cstime
            ticks[int(pid)] = sum(int(x) for x in rest[11:15])
            children.setdefault(int(rest[1]), []).append(int(pid))
        except (OSError, ValueError, IndexError):
            continue  # the process exited, or its stat was cut short, mid-read
    root = os.getppid() if "PYSPARK_GATEWAY_PORT" in os.environ else os.getpid()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / clk


def parse_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokens + normalized scoring text (SURVEY.md P1-P6). The
    empty-line drop predicates on the RAW text via has_token_col
    (provably equivalent to norm_text != "" / size(tokens) > 0, see
    parse.has_token_col): filtering on the derived column made
    Catalyst substitute the whole mask-regex chain into the Filter,
    evaluating it twice per surviving row; the raw-text probe pushes
    to the scan and the chain runs once, only where consumed."""
    out = df.withColumn("tokens", parse_ops.tokens_col(F.col(text_col))).withColumn(
        "norm_text", parse_ops.norm_text_col(F.col(text_col))
    )
    return out.where(parse_ops.has_token_col(F.col(text_col)))


@dataclass
class PipelineResult:
    scored: DataFrame
    metrics: dict = field(default_factory=dict)
    sink_paths: dict = field(default_factory=dict)
    stage_manifests: list = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    out_dir: str | None = None,
    checkpoint_root: str | None = None,
    dataset_name: str = "transcripts",
) -> PipelineResult:
    """Full pipeline. With `checkpoint_root` set, each stage
    materializes with a lineage manifest and re-runs resume after the
    last completed stage. With `out_dir` set, routed rows fan out to
    anomalous/drifting/nominal parquet sinks partitioned by dt; without
    it the scored plan runs into a `noop` write. That write is the
    plan's single execution: the event/anomaly/drift counters are
    observed on it (`df.observe`) and TPR@1%FPR comes from the kernel's
    (score, label) tally. Only a tally that overflowed the cap or saw
    other than `n_total` rows (the score_calibrate stage resumed from
    its checkpoint) makes TPR re-read its rows: the written sinks, or
    `scored` without `out_dir`.

    mode="baseline" fits its model on the parsed frame (the parse
    checkpoint under `checkpoint_root`) and scores the enriched rows."""
    cpu_start = _tree_cpu_seconds()
    t_start = time.perf_counter()

    # one linear stage chain: under `checkpoint_root` each stage is
    # materialized with a lineage manifest (or resumed) and the next one
    # builds from its parquet read; without it the stages compose directly
    if checkpoint_root:
        payload = {"cfg": cfg.__dict__, "dataset": dataset_name}
        run = CheckpointedRun(spark, checkpoint_root, config_payload=payload)
        stage, manifests = run.run_stage, run.metrics
    else:
        stage, manifests = (lambda _name, build: build()), list
    parsed = stage("parse", lambda: parse_stage(transcripts))
    enriched = stage(
        "enrich",
        lambda: enrich_ops.enrich_roles_tools(parsed, synth.role_dim(spark), synth.tool_dim(spark)),
    )

    # the kernel tallies the (score, label) histogram TPR reads, in the
    # result stage of the one write that executes it
    has_label = "label" in enriched.columns
    tally = agg.TprTally(spark) if has_label else None

    def score_calibrate() -> DataFrame:
        # one grouped kernel per mode, ordered by turn_idx (SURVEY.md M7 /
        # src/stream.py:299-311; cfg.mode is validated on construction)
        if cfg.mode == "baseline":
            # the scorer is fused into the calibrate walk: tokens drop
            # before the shuffle, norm_text rides it to the scorer and
            # drops. The fit reads the parsed frame: enrich leaves
            # norm_text unchanged.
            model = scoring.fit_baseline_model(parsed, cfg)
            return calibrate(
                enriched.drop("tokens"), cfg,
                batch_score_fn=scoring.make_broadcast_scorer(model), batch_score_input="norm_text",
                tally=tally,
            )
        if cfg.mode == "len":
            return calibrate(
                scoring.with_len_score(enriched).drop("tokens", "norm_text"), cfg, tally=tally
            )
        # the stateful scorer runs inside the calibration walk; the
        # reference's main() never resets the context on drift (C10)
        return scoring.with_transformer_calibrate(
            enriched.drop("norm_text"), cfg, reset_on_drift=False, tally=tally
        )

    scored = stage("score_calibrate", score_calibrate)

    # the write is the plan's only execution: the counters ride it
    # (df.observe) and the kernel's tally is the TPR histogram
    obs = Observation()
    observed = scored.observe(obs, *route_ops.flag_aggs())
    sink_paths: dict = {}
    if out_dir:
        sink_paths = route_ops.write_fanout(observed, out_dir)
    else:
        observed.write.format("noop").mode("overwrite").save()
    flags = obs.get
    n_total = int(flags["n_total"])
    n_anom = int(flags["n_anom"] or 0)
    n_drift = int(flags["n_drift"] or 0)

    tpr = tally.tpr(n_total, target_fpr=0.01) if tally is not None else None
    if tpr is None and has_label:
        # a tally that overflowed the cap or did not see each row once
        # (a resumed score_calibrate checkpoint): TPR over the rows, read
        # back from the sinks (a disjoint, union-complete partition of
        # `scored`; doubles round-trip parquet exactly) or recomputed
        # over `scored`
        src = route_ops.read_fanout(spark, out_dir, sink_paths) if out_dir else scored
        if src is not None:
            tpr = agg.tpr_at_fpr(src, "score", "label", target_fpr=0.01)
    tpr_str = "NA" if tpr is None or math.isnan(tpr[0]) else f"{tpr[0]:.4f}"

    wall = time.perf_counter() - t_start
    eps = n_total / wall if wall > 0 else float("nan")
    per_event_ms = (wall / n_total) * 1000.0 if n_total else float("nan")

    cpu_end = _tree_cpu_seconds()
    cpu_pct_str = "NA"
    if cpu_start is not None and cpu_end is not None and wall > 0:
        # process-tree CPU over wall: >100% means parallel speedup
        cpu_pct_str = f"{100.0 * (cpu_end - cpu_start) / wall:.1f}"

    metrics = {
        "cpu_pct": cpu_pct_str,
        "events": n_total,
        "anomalies": n_anom,
        "drifts": n_drift,
        "tpr_at_1pct_fpr": tpr_str,
        "wall_seconds": wall,
        "eps": eps,
        # Wall-clock-derived per-event latency: the reference reports
        # per-event scorer latency percentiles (src/stream.py:377-378);
        # a vectorized engine has no per-event latency, so both
        # percentiles report the amortized per-event cost.
        "p95_ms": per_event_ms,
        "p99_ms": per_event_ms,
    }

    return PipelineResult(
        scored=scored, metrics=metrics, sink_paths=sink_paths, stage_manifests=manifests()
    )


def summary_from_result(
    spark: SparkSession, res: PipelineResult, cfg: PipelineConfig, dataset: str
) -> DataFrame:
    """The run's one-row summary: the 24 `agg.SUMMARY_COLUMNS`, all
    stringly-typed like the CSV ledger (NaN floats -> empty per
    src/stream.py:107-110; `NA` for the calibration fields under
    no_calib and the isolation-forest fields outside baseline mode)."""
    m = res.metrics

    def fmt(x: float) -> str:
        return "" if math.isnan(x) else f"{x:.6g}"

    no_calib, iso = cfg.calibration == "no_calib", cfg.mode == "baseline"
    cpu_pct = m.get("cpu_pct", "NA")
    values = [
        datetime.now(timezone.utc).strftime("%Y-%m-%d"), agg.resolve_commit(), dataset,
        cfg.mode, cfg.calibration, "ADWIN" if cfg.drift_detector == "adwin" else "none",
        str(cfg.seed), str(m["events"]), str(m["anomalies"]), str(m["drifts"]),
        m["tpr_at_1pct_fpr"], fmt(m["p95_ms"]), fmt(m["p99_ms"]), fmt(m["eps"]), cpu_pct, "NA",
        "NA" if no_calib else f"{cfg.alpha:.6g}", "NA" if no_calib else str(cfg.window),
        str(cfg.warmup), fmt(cfg.adwin_delta),
        str(cfg.iso_n_estimators) if iso else "NA", str(cfg.iso_max_samples) if iso else "NA",
        str(cfg.seed) if iso else "NA",
        f"{cfg.mode} {cfg.calibration};engine=pyspark;"
        f"cpu_sampler={'proc_tree_delta' if cpu_pct != 'NA' else 'na'};energy_na",
    ]
    schema = ", ".join(f"`{c}` string" for c in agg.SUMMARY_COLUMNS)
    return local_frame(spark, [values], schema)
