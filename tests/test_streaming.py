"""Structured Streaming pipeline: micro-batch outputs must equal the
batch kernel's outputs on the same input (streaming/batch parity),
including state carried across micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from log_project_spark import synth
from log_project_spark.config import PipelineConfig
from log_project_spark.operators.calibrate import calibrate
from log_project_spark.pipeline import parse_stage
from log_project_spark.operators.scoring import with_len_score
from log_project_spark.streaming.stream_pipeline import scored_stream


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    """Transcripts split into 4 parquet files, each a contiguous
    turn_idx range per conv (so file-by-file arrival preserves
    per-conv turn order, the streaming contract)."""
    root = tmp_path_factory.mktemp("stream_src")
    t = synth.transcripts(spark, 1200, n_convs=12, anom_ratio=0.05, seed=7)
    scored = with_len_score(parse_stage(t), text_col="norm_text")
    base = scored.select("conv_id", "turn_idx", "score")
    n_chunks = 4
    chunk = F.floor(F.col("turn_idx") / 30)  # ~30 turns per conv per chunk
    for c in range(n_chunks):
        (
            base.where(chunk == c)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(root / f"chunk_{c}"))
        )
    return root, base


def test_streaming_matches_batch_kernel(spark, fixture_dir, tmp_path):
    root, base = fixture_dir
    cfg = PipelineConfig(window=50, warmup=10, scope="conv_id", drift_detector="adwin")

    # batch reference result
    batch = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(base, cfg).collect()
    }

    # streaming: feed chunks in order with maxFilesPerTrigger=1
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    import shutil

    stamp = 1_700_000_000
    for c in range(4):
        chunk_dir = str(root / f"chunk_{c}")
        for f_ in sorted(os.listdir(chunk_dir)):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(os.path.join(chunk_dir, f_), dst)
                # explicit increasing mtimes: the file source orders
                # micro-batches by modification time, and same-ms copies
                # race under load
                stamp += 60
                os.utime(dst, (stamp, stamp))

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = scored_stream(stream, cfg)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    assert len(got) == len(batch)
    mismatches = [
        (k, got[k], batch[k]) for k in batch if got[k] != batch[k]
    ]
    assert not mismatches, mismatches[:5]


def test_streaming_fanout_sinks(spark, fixture_dir, tmp_path):
    """foreachBatch routing writes the three sinks incrementally and
    the union reloads to the full input (streaming fan-out parity)."""
    import shutil

    from log_project_spark.streaming.stream_pipeline import route_foreach_batch

    root, base = fixture_dir
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    stamp = 1_700_000_000
    for c in range(4):
        chunk_dir = str(root / f"chunk_{c}")
        for f_ in sorted(os.listdir(chunk_dir)):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(os.path.join(chunk_dir, f_), dst)
                # explicit increasing mtimes: the file source orders
                # micro-batches by modification time, and same-ms copies
                # race under load
                stamp += 60
                os.utime(dst, (stamp, stamp))

    cfg = PipelineConfig(window=50, warmup=10, scope="conv_id", drift_detector="adwin")
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    out_dir = str(tmp_path / "sinks")
    q = (
        scored_stream(stream, cfg)
        .writeStream.foreachBatch(route_foreach_batch(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    total_in = base.count()
    total_out = 0
    for sink in ("anomalous", "drifting", "nominal"):
        try:
            total_out += spark.read.parquet(f"{out_dir}/sink={sink}").count()
        except Exception:
            pass
    assert total_out == total_in
    # routed rows are disjoint by construction: (conv_id, turn_idx) unique
    union = None
    for sink in ("anomalous", "drifting", "nominal"):
        try:
            part = spark.read.parquet(f"{out_dir}/sink={sink}").select("conv_id", "turn_idx")
            union = part if union is None else union.unionAll(part)
        except Exception:
            pass
    assert union.distinct().count() == total_in


@pytest.mark.parametrize(
    "calibration,warmup", [("conformal", 20), ("no_calib", 1500)],
    ids=["conformal", "no_calib"],
)
def test_streaming_drift_parity_across_microbatches(spark, tmp_path, calibration, warmup):
    """ADWIN fires mid-stream (score mean shifts at turn 2048) and the
    detection + calibrator reset must land on the SAME rows whether
    the stream arrives as one batch or as 4 micro-batches — i.e. the
    pickled detector state survives micro-batch boundaries. Under
    no_calib the threshold freezes at turn 1500, inside the 2nd
    micro-batch, so the warm scores and then the frozen threshold
    ride the group state."""
    import os

    import numpy as np

    from log_project_spark.streaming.stream_pipeline import scored_stream

    rng = np.random.default_rng(3)
    n = 4096
    scores = np.concatenate(
        [rng.normal(0.5, 0.002, n // 2), rng.normal(0.52, 0.002, n // 2)]
    )
    rows = [("c0", i, float(s)) for i, s in enumerate(scores)]
    base = spark.createDataFrame(rows, "conv_id string, turn_idx int, score double")
    cfg = PipelineConfig(
        window=200, warmup=warmup, calibration=calibration, scope="conv_id",
        drift_detector="adwin",
    )

    batch = {
        r["turn_idx"]: (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(base, cfg).collect()
    }
    n_drift = sum(1 for v in batch.values() if v[2])
    assert n_drift >= 1  # the fixture actually drifts

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    stamp = 1_700_000_000
    for c in range(4):
        lo, hi = c * (n // 4), (c + 1) * (n // 4)
        (
            base.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"chunk_{c}"))
        )
        import shutil

        for f_ in sorted(os.listdir(str(tmp_path / f"chunk_{c}"))):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(str(tmp_path / f"chunk_{c}" / f_), dst)
                stamp += 60
                os.utime(dst, (stamp, stamp))

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        scored_stream(stream, cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(f"drift_stream_out_{calibration}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["turn_idx"]: (r["thr"], r["is_anom"], r["is_drift"])
        for r in spark.sql(f"SELECT * FROM drift_stream_out_{calibration}").collect()
    }
    assert got == batch
