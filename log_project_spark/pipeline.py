"""End-to-end parse -> enrich -> score -> calibrate -> route -> aggregate.

Spark-first restatement of the reference's run lifecycle
(/root/reference/src/stream.py:257-415): the per-event loop becomes a
declarative plan (parse/enrich are pure Catalyst; scoring is a
broadcast-model Arrow UDF or a grouped kernel; calibration+drift is
the grouped stateful kernel), the counters become aggregates, and the
summary row becomes a one-row append to the summary sink.

Single-execution contract: like the reference's one pass over the event
stream, a `run_pipeline(..., out_dir=...)` call executes the scored plan
(scan, parse, enrich, shuffle, score+calibrate kernel) exactly once —
the fan-out write. The run counters ride that write via `df.observe`,
and TPR@FPR is computed over the rows just written, read back from the
returned sink paths (two columns, pruned at the parquet scan). With
`out_dir=None` there is no write to ride, so the counters and TPR are
recomputed over `scored`.

In baseline mode the model is fitted on the parsed frame, before
enrich, as the reference fits on the corpus (src/stream.py:178-187):
the dim joins leave norm_text unchanged, so the fit runs no broadcast.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

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
from . import synth


def _tree_cpu_seconds() -> float | None:
    """Total CPU seconds (utime+stime+cutime+cstime) of this process
    and all its descendants: the driver, the local-mode JVM it spawned,
    and the Python worker daemon and workers the JVM forked. The tree
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
    total, stack = 0, [os.getpid()]
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
    anomalous/drifting/nominal parquet sinks partitioned by dt, and that
    write is the scored plan's single execution: the event/anomaly/drift
    counters are observed on it (`df.observe`) and TPR@1%FPR is computed
    over the written sinks' (score, label). With `out_dir=None` the
    counters and TPR are aggregates over `scored` (re-executing its plan
    unless `checkpoint_root` made it a parquet read).

    mode="baseline" fits its model on the parsed frame (the parse
    checkpoint under `checkpoint_root`) and scores the enriched rows."""
    cpu_start = _tree_cpu_seconds()
    t_start = time.perf_counter()

    def build_parsed() -> DataFrame:
        return parse_stage(transcripts)

    def build_enriched() -> DataFrame:
        src = run.stages[-1].df if run else build_parsed()
        return enrich_ops.enrich_roles_tools(src, synth.role_dim(spark), synth.tool_dim(spark))

    def build_scored() -> DataFrame:
        src = run.stages[-1].df if run else build_enriched()
        if cfg.mode == "baseline":
            # fused path: score inside the calibrate kernel pass (one
            # Arrow round trip); tokens dropped pre-shuffle, norm_text
            # rides the shuffle to the scorer then drops. The fit reads
            # the parsed frame: enrich leaves norm_text unchanged.
            model = scoring.fit_baseline_model(run.stages[0].df if run else build_parsed(), cfg)
            return calibrate(
                src.drop("tokens"),
                cfg,
                order_cols=("turn_idx",),
                batch_score_fn=scoring.make_broadcast_scorer(model),
                batch_score_input="norm_text",
            )
        # mode dispatch (SURVEY.md M7 / src/stream.py:299-311); cfg.mode
        # is validated on construction
        if cfg.mode == "len":
            scored = scoring.with_len_score(src)
        else:
            scored = scoring.with_hash_embed_score(src, cfg)
        return calibrate(
            scored.drop("tokens", "norm_text"), cfg, score_col="score", order_cols=("turn_idx",)
        )

    run = None
    if checkpoint_root:
        run = CheckpointedRun(
            spark,
            checkpoint_root,
            config_payload={
                "cfg": cfg.__dict__,
                "dataset": dataset_name,
            },
        )
        run.run_stage("parse", build_parsed)
        run.run_stage("enrich", build_enriched)
        scored = run.run_stage("score_calibrate", build_scored)
    else:
        scored = build_scored()

    sink_paths: dict = {}
    tpr_src: DataFrame | None = scored
    if out_dir:
        # the write is the plan's only execution: counters ride it, and
        # TPR reads the sinks back (a disjoint, union-complete partition
        # of `scored`; doubles round-trip parquet exactly)
        obs = Observation()
        sink_paths = route_ops.write_fanout(
            scored.observe(obs, *route_ops.flag_aggs()), out_dir
        )
        flags = obs.get
        tpr_src = route_ops.read_fanout(spark, out_dir, sink_paths)
    else:
        flags = route_ops.flag_counts(scored).first()
    n_total = int(flags["n_total"])
    n_anom = int(flags["n_anom"] or 0)
    n_drift = int(flags["n_drift"] or 0)

    tpr_str = "NA"
    if tpr_src is not None and "label" in scored.columns:
        tpr, _thr = agg.tpr_at_fpr(tpr_src, "score", "label", target_fpr=0.01)
        if not math.isnan(tpr):
            tpr_str = f"{tpr:.4f}"

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

    result = PipelineResult(
        scored=scored,
        metrics=metrics,
        sink_paths=sink_paths,
        stage_manifests=run.metrics() if run else [],
    )
    return result


def summary_from_result(
    spark: SparkSession, res: PipelineResult, cfg: PipelineConfig, dataset: str
) -> DataFrame:
    m = res.metrics
    no_calib = cfg.calibration == "no_calib"
    return agg.summary_row(
        spark,
        dataset=dataset,
        mode=cfg.mode,
        calibration=cfg.calibration,
        seed=cfg.seed,
        events=m["events"],
        anomalies=m["anomalies"],
        drifts=m["drifts"],
        tpr_str=m["tpr_at_1pct_fpr"],
        p95_ms=m["p95_ms"],
        p99_ms=m["p99_ms"],
        eps=m["eps"],
        cpu_pct=m.get("cpu_pct", "NA"),
        commit=agg.resolve_commit(),
        calib_target_fpr="NA" if no_calib else f"{cfg.alpha:.6g}",
        calib_window="NA" if no_calib else str(cfg.window),
        warmup=cfg.warmup,
        adwin_delta=cfg.adwin_delta,
        iso_n_estimators=str(cfg.iso_n_estimators) if cfg.mode == "baseline" else "NA",
        iso_max_samples=str(cfg.iso_max_samples) if cfg.mode == "baseline" else "NA",
        iso_random_state=str(cfg.seed) if cfg.mode == "baseline" else "NA",
        notes=(
            f"{cfg.mode} {cfg.calibration};engine=pyspark;"
            f"cpu_sampler={'proc_tree_delta' if m.get('cpu_pct', 'NA') != 'NA' else 'na'};"
            "energy_na"
        ),
        drift_detector="ADWIN" if cfg.drift_detector == "adwin" else "none",
    )
