"""Reference-format sources/sinks round trips + catalog shim +
reporting queries + the spark-submit job CLI."""

import json
import os

import pytest
from pyspark.sql import functions as F

from log_project_spark.sources import catalog as cat
from log_project_spark.sources import formats


def test_tokens_json_round_trip(spark, tmp_path):
    seqs = [["a", "<num>"], ["b"], ["c", "d", "<hex>"]]
    src = tmp_path / "tokens.json"
    src.write_text(json.dumps(seqs), encoding="utf-8")
    df = formats.read_tokens_json(spark, str(src))
    assert df.count() == 3
    row = df.where(F.col("event_idx") == 0).first()
    assert list(row["tokens"]) == ["a", "<num>"] and row["text"] == "a <num>"
    # a reader round trip: the frame's tokens, in event order, dump to
    # the same JSON the reader loaded
    out = tmp_path / "out.json"
    with open(out, "w", encoding="utf-8") as f:
        json.dump([list(r["tokens"]) for r in df.orderBy("event_idx").collect()], f)
    assert json.loads(out.read_bytes()) == seqs


def test_reference_tokens_artifact_loads(spark):
    df = formats.read_tokens_json(spark, "/root/reference/data/mini_tokens.json")
    assert df.count() == 5
    assert "<num>" in df.first()["text"]


def test_labels_json_tolerant(spark, tmp_path):
    good = tmp_path / "labels.json"
    good.write_text("[0, 1, 0]")
    df = formats.read_labels_json(spark, str(good))
    assert [r["label"] for r in df.orderBy("event_idx").collect()] == [0, 1, 0]
    assert formats.read_labels_json(spark, str(tmp_path / "missing.json")) is None


def test_summary_csv_append_semantics(spark, tmp_path):
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.aggregate import SUMMARY_COLUMNS
    from log_project_spark.pipeline import PipelineResult, summary_from_result

    out = tmp_path / "summary.csv"
    metrics = {
        "events": 10, "anomalies": 0, "drifts": 0, "tpr_at_1pct_fpr": "NA",
        "p95_ms": 1.0, "p99_ms": 2.0, "eps": 5.0, "cpu_pct": "NA",
    }
    row = summary_from_result(
        spark, PipelineResult(scored=None, metrics=metrics), PipelineConfig(seed=1), dataset="d"
    )
    formats.append_summary_csv(row, str(out))
    formats.append_summary_csv(row, str(out))
    lines = out.read_text().splitlines()
    assert lines[0] == ",".join(SUMMARY_COLUMNS)  # header once
    assert len(lines) == 3  # header + 2 appended rows


def test_scores_csv_schema(spark, tmp_path):
    rows = [(0, 1.5, 0, True, 1.0), (1, 0.5, 1, False, 2.0)]
    df = spark.createDataFrame(
        rows, "event_idx long, score double, label int, is_anom boolean, thr double"
    )
    out = tmp_path / "scores.csv"
    formats.write_scores_csv(df, str(out))
    lines = out.read_text().splitlines()
    assert lines[0] == "idx,score,label,flag,thr_stream,lat_ms"
    assert lines[1].startswith("0,1.5,0,1,1.0")


def test_table_catalog_parquet_shim(spark, tmp_path):
    c = cat.TableCatalog(spark, str(tmp_path / "wh"))
    assert c.iceberg is None  # no Iceberg jar in this sandbox
    df = spark.range(10).withColumn("dt", F.lit("2025-08-19"))
    c.write(df, "t1", partition_by=("dt",))
    assert c.exists("t1")
    assert c.read("t1").count() == 10
    c.write(df, "t1", mode="append", partition_by=("dt",))
    assert c.read("t1").count() == 20
    snaps = c.snapshots("t1")
    assert [s["mode"] for s in snaps] == ["overwrite", "append"]


def test_job_cli_reference_artifacts(spark, tmp_path):
    """jobs/run_pipeline.py over the reference's own mini artifacts."""
    import sys
    sys.path.insert(0, "/root/repo")
    from jobs.run_pipeline import main

    summary = tmp_path / "summary.csv"
    scores = tmp_path / "scores.csv"
    main([
        "--tokens-json", "/root/reference/data/mini_tokens.json",
        "--mode", "len", "--warmup", "2", "--window", "100",
        "--summary-out", str(summary), "--scores-out", str(scores),
        "--check-summary",  # the appended mini_tokens row must clear the CI gate
    ])
    lines = summary.read_text().splitlines()
    assert len(lines) == 2 and lines[0].startswith("date,commit,dataset")
    assert "mini_tokens" in lines[1]
    assert len(scores.read_text().splitlines()) == 6  # header + 5 events


def test_figures_all_zero_series_renders_flat(tmp_path):
    """ADVICE r2 pin: an all-zero series must render a flat chart (ymax
    floored), not divide by zero."""
    from log_project_spark import figures

    p1 = figures.render_bar_svg(["a", "b"], [0.0, 0.0], "y", "eps", str(tmp_path / "z.svg"))
    assert "<svg" in (tmp_path / "z.svg").read_text()
    assert p1


def test_bench_round_files_sort_numerically(tmp_path, monkeypatch):
    """ADVICE r2 pin: the prev-round lookup must sort BENCH_r*.json on
    the round NUMBER — lexicographically BENCH_r10 < BENCH_r2 and the
    deltas would baseline against the wrong round."""
    import json as _json

    import bench

    (tmp_path / "BENCH_r2.json").write_text(_json.dumps({"queries": {"q": 2.0}}))
    (tmp_path / "BENCH_r10.json").write_text(_json.dumps({"queries": {"q": 10.0}}))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    name, q = bench._prev_bench_queries()
    assert name == "BENCH_r10.json" and q == {"q": 10.0}


def test_bench_compact_line_fits_tail_budget():
    """The driver's stdout capture keeps ~2000 chars; the compact line
    must fit even for a maximal result (many queries, all legs with
    straggle + error-free summaries) or the round record truncates
    again (VERDICT r3 #2)."""
    import json as _json

    import bench

    leg = {
        "eff_best_walls": 0.9999, "eff_median": 0.8888,
        "turns_per_sec_big": 1234567.8, "sink_counts_equal": True,
        "timed_out": False, "all_sinks_nonzero": True,
        "straggle_big": {"ratio": 33.33},
        "walls_big": [1.0] * 50, "pair_efficiencies": [0.9] * 50,  # must NOT leak in
    }
    out = {
        "metric": "headline_queries_total_wall", "value": 123.456, "unit": "sec",
        "queries": {f"some_longish_query_name_{i:02d}": 123.4567 for i in range(20)},
        "sf": 0.1, "pipeline": {"rows": 16000000, "turns_per_sec": 123456.7},
        "scaling": leg, "routed": leg, "skew": leg,
        "deltas_vs_prev": {"queries": {f"q{i}": -1.0 for i in range(50)}},
    }
    line = _json.dumps(bench.compact_summary(out))
    assert len(line) < 1900, len(line)
    parsed = _json.loads(line)
    assert parsed["legs"]["main"]["eff_best_walls"] == 0.9999
    assert "walls_big" not in line and "deltas" not in line
    # a failed leg ships a truncated error, never the full traceback
    bad = dict(out, routed={"error": "X" * 10_000})
    assert len(_json.dumps(bench.compact_summary(bad))) < 1900


def test_bench_scaling_resume_preloads_pairs(tmp_path, monkeypatch):
    """BENCH_RESUME=1 (r5): a killed incarnation's completed pairs are
    preloaded from the flushed progress file — the new incarnation runs
    only the remaining pairs, and the capture reports pairs_resumed.
    A progress file from a DIFFERENT leg shape (rows/levels) must be
    ignored, or a resumed sf0.1 run would claim sf1 pairs."""
    import json as _json

    import bench

    calls = {"passes": 0}

    class FakeServer:
        def __init__(self, cpus, rows, input_path, profile):
            self.cpus = cpus

        def wait_ready(self):
            return {"cpus": self.cpus, "wall_sec": 9.0, "rows": 100,
                    "turns_per_sec": 100.0, "sink_counts": {"nominal": 100}}

        def timed_pass(self):
            calls["passes"] += 1
            tps = 400.0 if self.cpus == 16 else 110.0
            return {"cpus": self.cpus, "wall_sec": 100.0 / tps, "rows": 100,
                    "turns_per_sec": tps, "sink_counts": {"nominal": 100}}

        def close(self):
            pass

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "_Server", FakeServer)
    monkeypatch.setenv("BENCH_RESUME", "1")
    monkeypatch.setenv("BENCH_SCALE_N", "4")
    cache = tmp_path / ".cache" / "bench_transcripts_main_160"
    cache.mkdir(parents=True)
    (cache / "_SUCCESS").touch()
    done_pair = {
        "big": {"cpus": 16, "wall_sec": 0.26, "rows": 100,
                "turns_per_sec": 390.0, "sink_counts": {"nominal": 100}},
        "small": {"cpus": 4, "wall_sec": 0.95, "rows": 100,
                  "turns_per_sec": 105.0, "sink_counts": {"nominal": 100}},
        "eff": 0.929,
    }
    progress = tmp_path / "BENCH" / "scaling_progress_main.json"
    progress.parent.mkdir()
    progress.write_text(_json.dumps({
        "tag": "main", "rows": 160, "n_small": 4, "n_big": 16,
        "pairs_planned": 3, "stage": "pair 2/3 done",
        "pair_results": [done_pair, done_pair],
    }))

    out = bench.run_scaling(160, {"write_sinks": False}, "main", pairs=3)
    assert calls["passes"] == 2  # one new pair = one big + one small pass
    assert out["pairs_resumed"] == 2
    assert len(out["pair_efficiencies"]) == 3
    # best walls span resumed AND fresh pairs (fresh big tps 400 > 390)
    assert out["turns_per_sec_big"] == 400.0
    assert out["sink_counts_equal"] is True

    # shape mismatch: same tag but different rows -> no preload
    calls["passes"] = 0
    cache2 = tmp_path / ".cache" / "bench_transcripts_main_161"
    cache2.mkdir(parents=True)
    (cache2 / "_SUCCESS").touch()
    out2 = bench.run_scaling(161, {"write_sinks": False}, "main", pairs=1)
    assert out2["pairs_resumed"] == 0 and calls["passes"] == 2


def _ledger(spark, rows):
    return spark.createDataFrame(
        rows,
        "dataset string, mode string, calibration string, "
        "TPR_at_1pct_FPR string, p95_ms string, p99_ms string, eps string",
    )


def test_check_summary_gate(spark):
    """Port of /root/reference/scripts/check_summary.py:31-58: p95<=p99
    per row; TPR 'NA' only for mini_tokens, numeric otherwise, and
    synth_tokens TPR decimals must be exactly 4."""
    import pytest

    from log_project_spark import reporting

    clean = _ledger(spark, [
        ("synth_tokens", "baseline", "conformal", "0.9123", "3.5", "3.8", "314.3"),
        ("mini_tokens", "baseline", "no_calib", "NA", "1.0", "2.0", "100.0"),
        ("synth_transcripts", "baseline", "conformal", "1", "0.1", "0.2", "99.0"),
    ])
    reporting.check_summary(clean)  # silent on a clean ledger

    bad = _ledger(spark, [
        ("synth_tokens", "baseline", "conformal", "0.9123", "4.0", "3.8", "314.3"),   # p95>p99
        ("synth_tokens", "baseline", "no_calib", "NA", "1.0", "2.0", "100.0"),        # NA outside mini
        ("synth_tokens", "transformer", "conformal", "0.91", "1.0", "2.0", "50.0"),   # 2 decimals, needs 4
        ("mini_tokens", "baseline", "conformal", "NA", "oops", "2.0", "10.0"),        # non-numeric p95
    ])
    v = {(r["kind"], r["mode"]) for r in reporting.summary_violations(bad).collect()}
    assert v == {
        ("p95_gt_p99_or_non_numeric", "baseline"),
        ("tpr_policy", "baseline"),
        ("tpr_policy", "transformer"),
    }
    with pytest.raises(ValueError, match="constraint violations"):
        reporting.check_summary(bad)

    # strict gate, like the reference: ANY p95 > p99 violates (even by
    # one ulp — ADVICE r4 dropped the former 1e-9 slack); equality does
    # not
    for p95, n_bad in (("3.81", 1), ("3.8000000000001", 1), ("3.8", 0)):
        led = _ledger(spark, [
            ("synth_tokens", "baseline", "conformal", "0.9123", p95, "3.8", "1.0"),
        ])
        assert reporting.summary_violations(led).where("kind like 'p95%'").count() == n_bad

    with pytest.raises(ValueError, match="missing required columns"):
        reporting.check_summary(clean.drop("eps"))


def test_figures_render_reference_parity(spark, tmp_path):
    """Figure rendering (make_plots.py parity): keep-last + canonical
    order + NA skip, three SVGs with one bar per surviving config."""
    import xml.etree.ElementTree as ET

    from log_project_spark import figures

    rows = [
        ("synth_tokens", "baseline", "conformal", "3.5", "3.8", "314.3"),
        ("synth_tokens", "baseline", "conformal", "3.6", "3.9", "300.0"),  # last wins
        ("mini_tokens", "baseline", "no_calib", "NA", "2.0", "100.0"),     # p95 NA -> skipped
        ("synth_tokens", "transformer", "conformal", "0.1", "0.2", "4652140.0"),
    ]
    df = spark.createDataFrame(
        rows,
        "dataset string, mode string, calibration string, p95_ms string, "
        "p99_ms string, eps string",
    )
    out = figures.make_plots(df, str(tmp_path))
    assert set(out) == {"p95_ms", "p99_ms", "eps"}
    ns = {"svg": "http://www.w3.org/2000/svg"}
    root = ET.parse(out["p95_ms"]).getroot()
    bars = [r for r in root.findall("svg:rect", ns) if r.get("fill") == figures.BAR_COLOR]
    assert len(bars) == 2  # NA row skipped, keep-last collapsed the dup
    texts = [t.text for t in root.findall("svg:text", ns)]
    assert "3.6" in texts  # last occurrence won
    root99 = ET.parse(out["p99_ms"]).getroot()
    bars99 = [r for r in root99.findall("svg:rect", ns) if r.get("fill") == figures.BAR_COLOR]
    assert len(bars99) == 3  # mini row has numeric p99
    # heights proportional to values: baseline (3.9) taller than transformer (0.2)
    by_h = sorted(float(b.get("height")) for b in bars99)
    assert by_h[-1] > 10 * by_h[0]


def test_catalog_incremental_read_and_compaction(spark, tmp_path):
    """Snapshot file-deltas power incremental consumption; compaction
    rewrites small files preserving data + partition layout; an
    overwrite/compact between snapshots correctly breaks incremental
    reads (re-baseline semantics, as Iceberg's)."""
    c = cat.TableCatalog(spark, str(tmp_path / "wh"))
    base = spark.range(0, 100).withColumn("dt", F.lit("2026-01-01"))
    c.write(base.repartition(6), "t", partition_by=("dt",))
    snap1 = c.snapshots("t")[-1]["snapshot_id"]
    c.write(
        spark.range(100, 130).withColumn("dt", F.lit("2026-01-02")).repartition(4),
        "t", mode="append", partition_by=("dt",),
    )
    c.write(
        spark.range(130, 140).withColumn("dt", F.lit("2026-01-02")).repartition(2),
        "t", mode="append", partition_by=("dt",),
    )
    # incremental after snap1 = exactly the two appended batches,
    # partition column intact
    inc = c.read_incremental("t", snap1)
    assert sorted(r["id"] for r in inc.collect()) == list(range(100, 140))
    # (partition-dir values are type-inferred on read — dt comes back
    # as a DATE; stringify for the comparison)
    assert set(str(r["dt"]) for r in inc.collect()) == {"2026-01-02"}
    # empty delta
    last = c.snapshots("t")[-1]["snapshot_id"]
    assert c.read_incremental("t", last).count() == 0
    # compaction: fewer files, identical data, partitioning preserved
    n_before = len(c._data_files("t"))
    n_after = c.compact("t", target_mb=128)
    assert n_after < n_before
    assert sorted(r["id"] for r in c.read("t").collect()) == list(range(140))
    assert any("dt=2026-01-02" in f for f in c._data_files("t"))
    # incremental across the compact snapshot must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-append"):
        c.read_incremental("t", snap1)


def test_catalog_compact_preserves_noninferable_partition_values(spark, tmp_path):
    """ADVICE r3: compact() must not round-trip partition values
    through type inference — 'shard=01' would otherwise re-infer to
    int 1 and be rewritten as 'shard=1', silently changing the value."""
    c = cat.TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 20).withColumn(
        "shard", F.when(F.col("id") < 10, F.lit("01")).otherwise(F.lit("02"))
    )
    c.write(df.repartition(4), "t", partition_by=("shard",))
    dirs_before = {f.split("/")[0] for f in c._data_files("t")}
    assert dirs_before == {"shard=01", "shard=02"}
    c.compact("t", target_mb=128)
    dirs_after = {f.split("/")[0] for f in c._data_files("t")}
    assert dirs_after == {"shard=01", "shard=02"}
    assert sorted(r["id"] for r in c.read("t").collect()) == list(range(20))
    # and the session conf was restored
    assert spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled"
    ) == "true"
