"""End-to-end pipeline invariants: routing partition, fan-out counts,
text round-trip equality, summary ledger, checkpoint/resume."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from log_project_spark import synth
from log_project_spark.config import PipelineConfig
from log_project_spark.operators import route
from log_project_spark.pipeline import run_pipeline, summary_from_result


@pytest.fixture(scope="module")
def small_transcripts(spark):
    return synth.transcripts(spark, 2000, n_convs=40, anom_ratio=0.03, seed=20250819)


@pytest.fixture(scope="module")
def result(spark, small_transcripts, tmp_path_factory):
    out = tmp_path_factory.mktemp("sinks")
    cfg = PipelineConfig(mode="len", window=200, warmup=20, scope="conv_id")
    return run_pipeline(spark, small_transcripts, cfg, out_dir=str(out)), cfg, out


def test_anomaly_count_exact(spark, small_transcripts):
    assert small_transcripts.where(F.col("label") == 1).count() == int(2000 * 0.03)


def test_sinks_partition_input(spark, result):
    res, _, _ = result
    counts = {r["sink"]: r["n"] for r in route.sink_counts(res.scored).collect()}
    assert sum(counts.values()) == res.metrics["events"]


def test_sink_counts_equal_flag_counts(spark, result):
    res, _, _ = result
    flags = route.flag_counts(res.scored).first()
    counts = {r["sink"]: r["n"] for r in route.sink_counts(res.scored).collect()}
    assert counts.get("anomalous", 0) == flags["n_anom"]
    assert counts.get("drifting", 0) == flags["n_drift_not_anom"]
    assert counts.get("nominal", 0) == flags["n_total"] - flags["n_anom"] - flags["n_drift_not_anom"]


def test_fanout_returns_only_existing_sink_paths(spark, tmp_path):
    """ADVICE r2 pin: a sink that received no rows must be ABSENT from
    the returned dict (its directory doesn't exist; handing consumers
    the path would fail their read), and every returned path reloads."""
    rows = [(i, False, False) for i in range(10)]  # everything nominal
    df = spark.createDataFrame(rows, "turn_idx long, is_anom boolean, is_drift boolean")
    paths = route.write_fanout(df, str(tmp_path / "sinks"), partition_by=())
    assert set(paths) == {"nominal"}
    assert spark.read.parquet(paths["nominal"]).count() == 10


def test_written_sinks_reload_to_full_partition(spark, result):
    res, _, out = result
    total = 0
    for sink, path in res.sink_paths.items():
        try:
            total += spark.read.parquet(path).count()
        except Exception:
            pass  # empty sink writes no files
    assert total == res.metrics["events"]


def test_per_turn_text_equality(spark, small_transcripts, result):
    """Input vs routed output: text must round-trip exactly under
    (conv_id, turn_idx) (FIXTURES.md §5 / BASELINE.json input_hint)."""
    res, _, _ = result
    joined = small_transcripts.alias("i").join(
        res.scored.alias("o"), on=["conv_id", "turn_idx"], how="inner"
    )
    assert joined.count() == res.metrics["events"]
    mismatches = joined.where(F.col("i.text") != F.col("o.text")).count()
    assert mismatches == 0


def test_summary_row_from_pipeline(spark, result):
    res, cfg, _ = result
    row = summary_from_result(spark, res, cfg, dataset="synth_transcripts")
    assert len(row.columns) == 24
    r = row.first()
    assert r["calibration"] == "conformal"
    assert int(r["events"]) == res.metrics["events"]
    assert float(r["p95_ms"]) <= float(r["p99_ms"]) + 1e-9
    assert r["TPR_at_1pct_FPR"] == res.metrics["tpr_at_1pct_fpr"]


def test_summary_commit_provenance_and_cpu(spark, result, monkeypatch):
    """VERDICT r1 #9: commit resolves COMMIT env -> git rev-parse ->
    NA (src/stream.py:115-128); CPU% comes from the /proc process-tree
    sampler on Linux."""
    import subprocess

    from log_project_spark.operators import aggregate as agg

    res, cfg, _ = result
    monkeypatch.delenv("COMMIT", raising=False)
    row = summary_from_result(spark, res, cfg, dataset="synth_transcripts").first()
    # the repo root this test file sits in: where resolve_commit looks
    sha = subprocess.check_output(
        ["git", "rev-parse", "--short", "HEAD"], cwd=Path(__file__).parents[1]
    ).decode().strip()
    assert row["commit"] == sha
    assert float(row["CPU_pct"]) > 0  # /proc sampler active in this env
    assert "cpu_sampler=proc_tree_delta" in row["notes"]
    monkeypatch.setenv("COMMIT", "deadbeef")
    assert agg.resolve_commit() == "deadbeef"


def test_cpu_sampler_counts_children_in_their_own_process_group():
    """PySpark's worker daemon calls os.setpgid(0, 0), so the Python
    workers sit outside the driver's process group. The CPU% sampler
    walks the process tree instead: a child that leaves the group and
    burns ~0.3 CPU-s is counted while it runs and, through cutime, once
    it has been reaped."""
    import os
    import subprocess
    import sys

    from log_project_spark.pipeline import _tree_cpu_seconds

    burn = (
        "import os, sys, time\n"
        "os.setpgid(0, 0)\n"
        "while time.process_time() < 0.3:\n"
        "    pass\n"
        "print('done', flush=True)\n"
        "sys.stdin.read()\n"
    )
    before = _tree_cpu_seconds()
    child = subprocess.Popen(
        [sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "done"
        assert os.getpgid(child.pid) != os.getpgrp()
        running = _tree_cpu_seconds()
    finally:
        child.communicate()
    reaped = _tree_cpu_seconds()
    assert running - before >= 0.25
    assert reaped - before >= 0.25


def test_cpu_sampler_under_spark_submit_counts_the_parent():
    """spark-submit starts the Python driver as a child of the JVM and
    sets PYSPARK_GATEWAY_PORT: a driver started with that variable walks
    the tree from its parent, so it reports at least the parent's CPU
    time, not only its own."""
    import os
    import subprocess
    import sys
    import time

    while time.process_time() < 2.5:
        pass  # the parent must outweigh the child's own import
    parent = os.times()
    probe = (
        "import time\n"
        "from log_project_spark.pipeline import _tree_cpu_seconds\n"
        "print(_tree_cpu_seconds(), time.process_time())\n"
    )
    out = subprocess.check_output(
        [sys.executable, "-c", probe], text=True,
        env={**os.environ, "PYSPARK_GATEWAY_PORT": "1"}, cwd=Path(__file__).parents[1],
    )
    tree, child_own = map(float, out.split())
    assert child_own < parent.user + parent.system
    assert tree >= parent.user + parent.system


def test_checkpoint_resume(spark, small_transcripts, tmp_path):
    cfg = PipelineConfig(mode="len", window=100, warmup=10, scope="conv_id")
    root = str(tmp_path / "ckpt")
    r1 = run_pipeline(spark, small_transcripts, cfg, checkpoint_root=root)
    assert [m["stage"] for m in r1.stage_manifests] == ["parse", "enrich", "score_calibrate"]
    assert all("partitions" in m and m["rows"] > 0 for m in r1.stage_manifests)
    manifests = sorted(Path(root).glob("*/manifest.json"))
    assert len(manifests) == 3
    mtimes = [p.stat().st_mtime_ns for p in manifests]
    r2 = run_pipeline(spark, small_transcripts, cfg, checkpoint_root=root)
    # second run resumed every stage from its manifest: none rewritten
    assert [p.stat().st_mtime_ns for p in manifests] == mtimes
    assert r2.stage_manifests == r1.stage_manifests
    assert r2.metrics["events"] == r1.metrics["events"]
    assert r2.metrics["anomalies"] == r1.metrics["anomalies"]
    # manifests carry per-partition lineage
    for m in r1.stage_manifests:
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]


def test_checkpoint_manifest_reads_part_footers(spark, small_transcripts, tmp_path):
    """Manifests take per-file row counts from the written part files'
    parquet footers: they equal a read-back groupBy(input_file_name) of
    every stage, and writing one costs no Spark job beyond the stage's
    write and the read-back's schema inference."""
    import os

    from log_project_spark.lineage import CheckpointedRun

    cfg = PipelineConfig(mode="len", window=100, warmup=10, scope="conv_id")
    root = str(tmp_path / "ckpt")
    res = run_pipeline(spark, small_transcripts, cfg, checkpoint_root=root)
    for m in res.stage_manifests:
        read_back = (
            spark.read.parquet(os.path.join(root, m["stage"], "data"))
            .groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .orderBy("file")
            .collect()
        )
        assert m["partitions"] == [{"file": r["file"], "rows": r["rows"]} for r in read_back]
        assert m["rows"] == sum(r["rows"] for r in read_back) > 0

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    frame = small_transcripts.select("conv_id", "turn_idx", "text")
    plain = str(tmp_path / "plain")
    run = CheckpointedRun(spark, str(tmp_path / "stage"), config_payload={})
    n_stage = jobs("lineage_stage", lambda: run.run_stage("s", lambda: frame))
    n_plain = jobs(
        "lineage_plain", lambda: (frame.write.parquet(plain), spark.read.parquet(plain))
    )
    assert n_stage == n_plain > 0


def test_checkpoint_invalidates_on_config_change(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "ckpt2")
    cfg1 = PipelineConfig(mode="len", window=100, warmup=10)
    run_pipeline(spark, small_transcripts, cfg1, checkpoint_root=root)
    import json, os
    with open(os.path.join(root, "parse", "manifest.json")) as f:
        fp1 = json.load(f)["fingerprint"]
    cfg2 = PipelineConfig(mode="len", window=999, warmup=10)
    run_pipeline(spark, small_transcripts, cfg2, checkpoint_root=root)
    with open(os.path.join(root, "parse", "manifest.json")) as f:
        fp2 = json.load(f)["fingerprint"]
    assert fp1 != fp2


def test_empty_input_single_pass_path(spark, small_transcripts, tmp_path):
    """A 0-row input writes no sink: the counters still come from the
    observed write, and TPR skips the read-back (an empty out_dir has
    no parquet schema to infer)."""
    cfg = PipelineConfig(mode="len", window=200, warmup=20, scope="conv_id")
    res = run_pipeline(
        spark, small_transcripts.limit(0), cfg, out_dir=str(tmp_path / "sinks")
    )
    assert res.sink_paths == {}
    m = res.metrics
    assert (m["events"], m["anomalies"], m["drifts"]) == (0, 0, 0)
    assert m["tpr_at_1pct_fpr"] == "NA"


@pytest.mark.parametrize("mode,max_jobs", [("len", 4), ("baseline", 8), ("transformer", 4)])
def test_no_sink_run_executes_plan_once(spark, mode, max_jobs, monkeypatch):
    """Without out_dir the scored plan still runs once, into a noop
    write: the counters are observed on it and TPR comes from the
    kernel's tally, so tpr_at_fpr never runs and the run fits in one
    execution's jobs (10/14/10 jobs when the counters and TPR re-ran
    the plan). The metrics equal the aggregates over res.scored."""
    from log_project_spark.operators import aggregate as agg

    t = synth.transcripts(spark, 2000, n_convs=10, anom_ratio=0.03, seed=7)
    cfg = PipelineConfig(mode=mode, window=200, warmup=20, alpha=0.05, iso_n_estimators=50)
    real_tpr, tpr_calls = agg.tpr_at_fpr, []

    def counting_tpr(*args, **kwargs):
        tpr_calls.append(args)
        return real_tpr(*args, **kwargs)

    monkeypatch.setattr(agg, "tpr_at_fpr", counting_tpr)
    sc, group = spark.sparkContext, f"no_sink_{mode}"
    sc.setJobGroup(group, group)
    try:
        res = run_pipeline(spark, t, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tpr_calls == []
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= max_jobs, n_jobs
    flags = route.flag_counts(res.scored).first()
    tpr, _ = real_tpr(res.scored, "score", "label", 0.01)
    m = res.metrics
    assert m["events"] == flags["n_total"] == 2000
    assert (m["anomalies"], m["drifts"]) == (flags["n_anom"] or 0, flags["n_drift"] or 0)
    assert m["tpr_at_1pct_fpr"] == f"{tpr:.4f}"


def test_summary_from_result_na_fields(spark):
    """no_calib reports NA for the calibration target and window, the
    isolation-forest fields are NA outside baseline mode, NaN floats
    are empty and a missing CPU figure is NA."""
    from log_project_spark.operators.aggregate import SUMMARY_COLUMNS
    from log_project_spark.pipeline import PipelineResult

    metrics = {
        "events": 0, "anomalies": 0, "drifts": 0, "tpr_at_1pct_fpr": "NA",
        "p95_ms": float("nan"), "p99_ms": float("nan"), "eps": 0.0,
    }
    res = PipelineResult(scored=None, metrics=metrics)
    rows = {
        (mode, calibration): summary_from_result(
            spark, res, PipelineConfig(mode=mode, calibration=calibration), dataset="d"
        )
        for mode in ("len", "baseline") for calibration in ("conformal", "no_calib")
    }
    for (mode, calibration), row in rows.items():
        assert row.columns == SUMMARY_COLUMNS
        r = row.first()
        no_calib, baseline = calibration == "no_calib", mode == "baseline"
        assert (r["calib_target_fpr"], r["calib_window"]) == (
            ("NA", "NA") if no_calib else ("0.01", "5000")
        )
        iso = (r["iso_n_estimators"], r["iso_max_samples"], r["iso_random_state"])
        assert iso == (("200", "512", "20250819") if baseline else ("NA", "NA", "NA"))
        assert (r["p95_ms"], r["p99_ms"], r["eps"]) == ("", "", "0")
        assert (r["CPU_pct"], r["energy_J"], r["TPR_at_1pct_FPR"]) == ("NA", "NA", "NA")
        assert r["notes"] == f"{mode} {calibration};engine=pyspark;cpu_sampler=na;energy_na"


def _count_read_backs():
    """route.read_fanout wrapped to record each call: the TPR fallback."""
    real = route.read_fanout

    def read_fanout(*args, **kwargs):
        read_fanout.calls.append(args)
        return real(*args, **kwargs)

    read_fanout.calls = []
    return read_fanout


def _sink_tpr(spark, out_dir, res) -> str:
    """TPR@1%FPR over the written sinks, formatted as the metric."""
    from log_project_spark.operators import aggregate as agg

    tpr, _ = agg.tpr_at_fpr(route.read_fanout(spark, out_dir, res.sink_paths), "score", "label")
    return f"{tpr:.4f}"


@pytest.fixture(scope="module")
def baseline_run(spark, tmp_path_factory):
    """mode="baseline" run_pipeline with out_dir under its own job group,
    its fused scorer wrapped to add len(texts) per call to an
    accumulator, and the fit's input frame, texts and weights recorded."""
    from types import SimpleNamespace

    from log_project_spark.operators import scoring

    real = scoring.make_broadcast_scorer
    acc = spark.sparkContext.accumulator(0)
    models, fits = [], []

    def counting_scorer(model):
        models.append(model)
        score = real(model)

        def score_batch(texts):
            acc.add(len(texts))
            return score(texts)

        return score_batch

    def recording_fit(df, cfg, *args, **kwargs):
        fits.append(SimpleNamespace(df=df))
        return real_fit(df, cfg, *args, **kwargs)

    def recording_model_fit(texts, weights, *args):
        fits[-1].texts, fits[-1].weights = texts, weights
        return real_model_fit(texts, weights, *args)

    real_fit, real_model_fit = scoring.fit_baseline_model, scoring._fit_and_maybe_cache
    read_backs = _count_read_backs()
    t = synth.transcripts(spark, 2000, n_convs=10, anom_ratio=0.03, seed=7)
    cfg = PipelineConfig(
        mode="baseline", window=200, warmup=20, alpha=0.05, iso_n_estimators=50
    )
    sc = spark.sparkContext
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scoring, "make_broadcast_scorer", counting_scorer)
        mp.setattr(scoring, "fit_baseline_model", recording_fit)
        mp.setattr(scoring, "_fit_and_maybe_cache", recording_model_fit)
        mp.setattr(route, "read_fanout", read_backs)
        sc.setJobGroup("baseline_run", "baseline run_pipeline")
        try:
            out_dir = str(tmp_path_factory.mktemp("bsinks"))
            res = run_pipeline(spark, t, cfg, out_dir=out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    (fit,) = fits
    return SimpleNamespace(
        res=res, cfg=cfg, transcripts=t, out_dir=out_dir, model=models[0], fit=fit,
        counting_scorer=counting_scorer, acc=acc, texts_scored=acc.value,
        jobs=sc.statusTracker().getJobIdsForGroup("baseline_run"), read_backs=read_backs.calls,
    )


def test_baseline_run_executes_kernel_once(spark, baseline_run):
    """The fan-out write is the scored plan's only execution: the flag
    counts and TPR must not re-run the score+calibrate kernel, so the
    texts it scored equal one noop write of the same calibrate frame."""
    from log_project_spark.operators import enrich as enrich_ops
    from log_project_spark.operators.calibrate import calibrate
    from log_project_spark.pipeline import parse_stage

    b = baseline_run
    enriched = enrich_ops.enrich_roles_tools(
        parse_stage(b.transcripts), synth.role_dim(spark), synth.tool_dim(spark)
    )
    frame = calibrate(
        enriched.drop("tokens"), b.cfg, order_cols=("turn_idx",),
        batch_score_fn=b.counting_scorer(b.model), batch_score_input="norm_text",
    )
    before = b.acc.value
    frame.write.format("noop").mode("overwrite").save()
    one_pass = b.acc.value - before
    assert one_pass > 0
    assert b.texts_scored == one_pass


def test_baseline_metrics_match_scored_aggregates(spark, baseline_run):
    """Counters observed on the write and TPR over the written sinks
    equal the same aggregates computed directly over res.scored."""
    from log_project_spark.operators import aggregate as agg

    res = baseline_run.res
    flags = route.flag_counts(res.scored).first()
    tpr, _ = agg.tpr_at_fpr(res.scored, "score", "label", 0.01)
    m = res.metrics
    assert m["events"] == flags["n_total"] == 2000
    assert m["anomalies"] == (flags["n_anom"] or 0)
    assert m["drifts"] == (flags["n_drift"] or 0)
    assert m["anomalies"] > 0
    assert m["tpr_at_1pct_fpr"] == f"{tpr:.4f}"


def test_baseline_run_job_count(spark, baseline_run):
    """The whole run (fit, observed fan-out write) fits in 8 Spark jobs
    on this input: the fit skips the enrich broadcasts, and TPR comes
    from the kernel's tally, with no read-back of the sinks (20 jobs
    before the first two, 11 before the tally)."""
    assert 0 < len(baseline_run.jobs) <= 8, len(baseline_run.jobs)


def test_baseline_tpr_rides_the_write(spark, baseline_run):
    """TPR comes from the calibration walk's tally: the sinks are not
    read back, and the figure equals tpr_at_fpr over the sinks."""
    b = baseline_run
    assert b.read_backs == []
    assert b.res.metrics["tpr_at_1pct_fpr"] == _sink_tpr(spark, b.out_dir, b.res) != "NA"


def test_len_tpr_rides_the_write(spark, small_transcripts, result, monkeypatch):
    """len mode: the tally's TPR equals tpr_at_fpr over the sinks, and
    the run reads no sink back."""
    _, cfg, out = result
    read_backs = _count_read_backs()
    monkeypatch.setattr(route, "read_fanout", read_backs)
    res = run_pipeline(spark, small_transcripts, cfg, out_dir=str(out / "again"))
    assert read_backs.calls == []
    assert res.metrics["tpr_at_1pct_fpr"] == _sink_tpr(spark, str(out / "again"), res) != "NA"


def test_transformer_continuous_scores_fall_back(spark, tmp_path, monkeypatch):
    """Transformer mode on text whose every token is new: its context
    scores are continuous, the tally overflows TPR_HISTOGRAM_CAP and the
    run reads the sinks back once; the TPR is tpr_at_fpr's over them."""
    from log_project_spark.operators import aggregate as agg

    letters = F.translate(
        F.sha2(F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string")), 256),
        "0123456789", "ghijklmnop",
    )
    t = synth.transcripts(spark, agg.TPR_HISTOGRAM_CAP + 400, n_convs=4, anom_ratio=0.03, seed=5)
    t = t.withColumn("text", F.concat_ws(" ", F.lit("event"), letters))
    cfg = PipelineConfig(mode="transformer", alpha=0.05, window=50, warmup=10, scope="conv_id")
    read_backs = _count_read_backs()
    monkeypatch.setattr(route, "read_fanout", read_backs)
    out = str(tmp_path / "sinks")
    res = run_pipeline(spark, t, cfg, out_dir=out)
    assert len(read_backs.calls) == 1
    written = route.read_fanout(spark, out, res.sink_paths)
    assert written.select("score", "label").distinct().count() > agg.TPR_HISTOGRAM_CAP
    assert res.metrics["tpr_at_1pct_fpr"] == _sink_tpr(spark, out, res) != "NA"


def test_tally_over_cap_falls_back(spark, small_transcripts, result, monkeypatch):
    """With the cap below the run's distinct (score, label) pairs the
    tally overflows: the run reads the sinks back once, and its metrics
    equal the run that used the tally."""
    from log_project_spark.operators import aggregate as agg

    res0, cfg, out = result
    read_backs = _count_read_backs()
    monkeypatch.setattr(route, "read_fanout", read_backs)
    monkeypatch.setattr(agg, "TPR_HISTOGRAM_CAP", 3)
    res = run_pipeline(spark, small_transcripts, cfg, out_dir=str(out / "capped"))
    assert len(read_backs.calls) == 1
    keys = ("events", "anomalies", "drifts", "tpr_at_1pct_fpr")
    assert {k: res.metrics[k] for k in keys} == {k: res0.metrics[k] for k in keys}


def test_resumed_checkpoint_tpr_falls_back(spark, small_transcripts, result, tmp_path, monkeypatch):
    """A fresh checkpointed run tallies in its score_calibrate stage's
    write; a resumed one runs no kernel, so its empty tally does not
    match the observed row count and TPR reads the sinks back. Both
    equal the run without checkpoints."""
    res0, cfg, _ = result
    root = str(tmp_path / "ckpt")
    runs = []
    for name in ("fresh", "resumed"):
        read_backs = _count_read_backs()
        monkeypatch.setattr(route, "read_fanout", read_backs)
        res = run_pipeline(
            spark, small_transcripts, cfg, out_dir=str(tmp_path / name), checkpoint_root=root
        )
        runs.append((res, len(read_backs.calls)))
    (fresh, fresh_reads), (resumed, resumed_reads) = runs
    assert (fresh_reads, resumed_reads) == (0, 1)
    keys = ("events", "anomalies", "drifts", "tpr_at_1pct_fpr")
    want = {k: res0.metrics[k] for k in keys}
    assert {k: fresh.metrics[k] for k in keys} == want
    assert {k: resumed.metrics[k] for k in keys} == want


def test_fit_reads_parsed_frame(spark, baseline_run):
    """The model is fitted before enrich (the reference fits on the
    corpus): no dim join in the fit's plan, and the same profile, hence
    the same model, as a fit on the enriched frame."""
    import pickle

    from log_project_spark.operators import enrich as enrich_ops
    from log_project_spark.operators import scoring
    from log_project_spark.pipeline import parse_stage

    b = baseline_run
    plan = b.fit.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    enriched = enrich_ops.enrich_roles_tools(
        parse_stage(b.transcripts), synth.role_dim(spark), synth.tool_dim(spark)
    )
    recorded = []
    real = scoring._fit_and_maybe_cache

    def record(texts, weights, *args):
        recorded.append((texts, weights))
        return real(texts, weights, *args)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scoring, "_fit_and_maybe_cache", record)
        model = scoring.fit_baseline_model(enriched, b.cfg)
    ((texts, weights),) = recorded
    assert b.fit.texts == texts
    assert b.fit.weights.tolist() == weights.tolist()
    assert pickle.dumps(b.model) == pickle.dumps(model)


def test_checkpointed_baseline_metrics_equal_direct_run(spark, baseline_run, tmp_path):
    """Under checkpoint_root the fit reads the parse stage's checkpoint;
    counters and TPR equal the run without a checkpoint."""
    b = baseline_run
    res = run_pipeline(spark, b.transcripts, b.cfg, checkpoint_root=str(tmp_path / "ckpt"))
    keys = ("events", "anomalies", "drifts", "tpr_at_1pct_fpr")
    assert {k: res.metrics[k] for k in keys} == {k: b.res.metrics[k] for k in keys}
    assert res.metrics["tpr_at_1pct_fpr"] != "NA"


def test_transformer_mode_end_to_end(spark, tmp_path):
    """The shipped transformer mode with sinks, on conversations that
    drift: the written rows partition the parsed input, each
    conversation's `score` is the hash-embed context oracle over
    parse_stage's tokens with NO reset on drift (the reference's main()
    never wires the C10 hook), and is_anom/is_drift are the calibration
    oracle over the written scores."""
    from log_project_spark import oracle
    from log_project_spark.adwin import Adwin
    from log_project_spark.pipeline import parse_stage

    t = synth.transcripts(
        spark, 1600, n_convs=2, anom_ratio=0.03, seed=5, hot_frac=0.0,
        drift_convs_mod=1, drift_from=200,
    )
    cfg = PipelineConfig(mode="transformer", alpha=0.05, window=50, warmup=10, scope="conv_id")
    out = str(tmp_path / "sinks")
    res = run_pipeline(spark, t, cfg, out_dir=out)
    assert res.metrics["drifts"] > 0, "fixture must drift"
    cols = ["conv_id", "turn_idx", "score", "is_anom", "is_drift"]
    written = route.read_fanout(spark, out, res.sink_paths).select(*cols).collect()
    tokens = {
        (r["conv_id"], r["turn_idx"]): r["tokens"]
        for r in parse_stage(t).select("conv_id", "turn_idx", "tokens").collect()
    }
    keys = [(r["conv_id"], r["turn_idx"]) for r in written]
    assert len(keys) == len(set(keys)) == len(tokens) == res.metrics["events"]
    assert set(keys) == set(tokens)
    for conv in sorted({k for k, _ in keys}):
        got = sorted((r for r in written if r["conv_id"] == conv), key=lambda r: r["turn_idx"])
        ctx = oracle.HashEmbedContext()
        want = [ctx.score_and_update(tokens[(conv, r["turn_idx"])]) for r in got]
        assert [r["score"] for r in got] == pytest.approx(want, abs=1e-6), conv
        stream = oracle.run_stream(
            [r["score"] for r in got], alpha=cfg.alpha, window=cfg.window,
            warmup=cfg.warmup, detector=Adwin(delta=cfg.adwin_delta),
        )
        assert [r["is_anom"] for r in got] == stream.is_anom, conv
        assert [r["is_drift"] for r in got] == stream.is_drift, conv


def test_job_cli_scores_csv_from_sinks(spark, tmp_path, monkeypatch):
    """jobs/run_pipeline.py --out-dir --scores-out builds the per-event
    CSV from the written sinks; it must be byte-identical to the CSV
    written from res.scored."""
    import json
    import os

    from log_project_spark import pipeline
    from log_project_spark.sources import formats

    monkeypatch.syspath_prepend(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.run_pipeline import main

    seqs = [["tok"] * (40 if i % 37 == 0 else 1 + i % 5) for i in range(300)]
    tokens, labels = tmp_path / "tokens.json", tmp_path / "labels.json"
    tokens.write_text(json.dumps(seqs))
    labels.write_text(json.dumps([int(i % 37 == 0) for i in range(300)]))
    results = []
    real = pipeline.run_pipeline

    def recording_run(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(pipeline, "run_pipeline", recording_run)
    from_sinks = tmp_path / "scores.csv"
    main([
        "--tokens-json", str(tokens), "--labels-json", str(labels),
        "--mode", "len", "--alpha", "0.05", "--warmup", "10", "--window", "100",
        "--out-dir", str(tmp_path / "sinks"), "--scores-out", str(from_sinks),
    ])
    (res,) = results
    assert len(res.sink_paths) >= 2  # the CSV unions more than one sink
    from_scored = tmp_path / "scores_scored.csv"
    formats.write_scores_csv(
        res.scored.withColumn("event_idx", F.col("turn_idx").cast("long")), str(from_scored)
    )
    assert len(from_sinks.read_text().splitlines()) == 301
    assert from_sinks.read_bytes() == from_scored.read_bytes()
