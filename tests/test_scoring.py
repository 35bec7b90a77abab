"""Scorers: hash-embedding kernel vs per-event oracle; isolation
forest determinism, partition-invariance, and detection power."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_project_spark import oracle, synth
from log_project_spark.config import PipelineConfig
from log_project_spark.iforest import fit_text_anomaly_model
from log_project_spark.operators import scoring
from log_project_spark.operators.calibrate import calibrate
from log_project_spark.pipeline import parse_stage

# transformer mode with calibration and drift switched off: the kernel's
# hash-embed context scores alone, as the hash_embed_scores query reads them
SCORES_ONLY = dict(mode="transformer", calibration="no_calib", drift_detector="none")


@pytest.fixture(scope="module")
def corpus():
    tokens, labels = synth.reference_corpus(400, anom_ratio=0.05, seed=20250819)
    return tokens, labels


def test_hash_embed_kernel_matches_oracle(spark, corpus):
    """Single conversation under scope='global' == the reference's one
    context stream (src/transformer.py:65-119), bit-for-bit."""
    tokens, _ = corpus
    rows = [("c0", i, toks) for i, toks in enumerate(tokens[:200])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, tokens array<string>")
    cfg = PipelineConfig(scope="global", **SCORES_ONLY)
    got = (
        scoring.with_transformer_calibrate(df, cfg, reset_on_drift=False)
        .orderBy("turn_idx")
        .select("score")
        .collect()
    )
    ctx = oracle.HashEmbedContext()
    want = [ctx.score_and_update(t) for t in tokens[:200]]
    # 1e-6 abs: the kernel batches the per-token float32 dots as one
    # sgemv; BLAS accumulation order differs from the reference's
    # per-token sdot at ~1e-7 in float32. Everything else is bit-equal.
    assert [r["score"] for r in got] == pytest.approx(want, abs=1e-6)


def test_hash_embed_per_conv_isolation(spark, corpus):
    tokens, _ = corpus
    rows = [(f"c{i % 3}", i // 3, toks) for i, toks in enumerate(tokens[:90])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, tokens array<string>")
    cfg = PipelineConfig(scope="conv_id", **SCORES_ONLY)
    got = (
        scoring.with_transformer_calibrate(df, cfg, reset_on_drift=False)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    for conv in ("c0", "c1", "c2"):
        seq = [tokens[i] for i in range(90) if f"c{i % 3}" == conv]
        ctx = oracle.HashEmbedContext()
        want = [ctx.score_and_update(t) for t in seq]
        have = [r["score"] for r in got if r["conv_id"] == conv]
        assert have == pytest.approx(want, abs=1e-6)


def test_embed_determinism_matches_reference_math():
    """sha256 -> default_rng -> unit float32 pipeline reproduces the
    reference's per-token embedding exactly (transformer.py:121-130)."""
    ctx = oracle.HashEmbedContext()
    e1 = ctx.embed("<num>")
    e2 = oracle.HashEmbedContext().embed("<num>")
    assert np.array_equal(e1, e2)
    assert e1.dtype == np.float32
    assert np.linalg.norm(e1) == pytest.approx(1.0, abs=1e-6)


def test_iforest_detects_template_anomalies(corpus):
    """Anomaly templates must score above normal templates under the
    weighted distinct-text fit (AUC near 1 on template data)."""
    tokens, labels = corpus
    texts = [" ".join(t) for t in tokens]
    uniq, counts = np.unique(texts, return_counts=True)
    model = fit_text_anomaly_model(list(uniq), weights=counts.astype(float), seed=20250819)
    scores = model.score_texts(texts)
    pos = scores[np.array(labels) == 1]
    neg = scores[np.array(labels) == 0]
    assert pos.mean() > neg.mean()
    # AUC via rank comparison
    auc = (pos[:, None] > neg[None, :]).mean()
    assert auc > 0.95


def test_iforest_deterministic_across_runs(corpus):
    tokens, _ = corpus
    texts = sorted({" ".join(t) for t in tokens})
    m1 = fit_text_anomaly_model(texts, seed=1)
    m2 = fit_text_anomaly_model(texts, seed=1)
    assert np.array_equal(m1.score_texts(texts), m2.score_texts(texts))


def test_iforest_udf_partition_invariance(spark, corpus):
    """Scores must not depend on partitioning (broadcast model, pure
    per-row function)."""
    tokens, _ = corpus
    rows = [("c0", i, " ".join(t)) for i, t in enumerate(tokens[:300])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, norm_text string")
    cfg = PipelineConfig(mode="baseline", iso_n_estimators=50)
    model = scoring.fit_baseline_model(df, cfg)
    s1 = (
        scoring.with_iforest_score(df.repartition(1), model)
        .orderBy("turn_idx").select("score").collect()
    )
    s8 = (
        scoring.with_iforest_score(df.repartition(8), model)
        .orderBy("turn_idx").select("score").collect()
    )
    assert [r["score"] for r in s1] == [r["score"] for r in s8]


def test_len_score(spark):
    df = spark.createDataFrame([(0, "abc"), (1, "")], "id int, norm_text string")
    got = scoring.with_len_score(df).orderBy("id").collect()
    assert [r["score"] for r in got] == [3.0, 0.0]


def test_scored_templates_pipeline_end_to_end(spark):
    """Parse raw-style lines -> iforest -> anomaly templates rank high
    (TPR at 1% FPR near 1, like the reference's synth run)."""
    t = synth.transcripts(spark, 600, n_convs=20, anom_ratio=0.05)
    parsed = parse_stage(t)
    cfg = PipelineConfig(mode="baseline", iso_n_estimators=200)
    model = scoring.fit_baseline_model(parsed, cfg)
    scored = scoring.with_iforest_score(parsed, model)
    from log_project_spark.operators.aggregate import tpr_at_fpr

    tpr, _ = tpr_at_fpr(scored, "score", "label", 0.01)
    assert tpr > 0.9


def _drifting_convs(seed: int, lengths: dict) -> dict:
    """conv_id -> token sequences that switch halfway from one repeated
    token (context matches, score ~ 0) to fresh tokens from a wide
    vocabulary (score ~ 1): a sustained mean shift that fires ADWIN."""
    rng = random.Random(seed)
    vocab_b = [f"other{i}" for i in range(500)]
    return {
        conv: [["stable"] * 6 for _ in range(n // 2)]
        + [[rng.choice(vocab_b) for _ in range(6)] for _ in range(n - n // 2)]
        for conv, n in lengths.items()
    }


def _token_rows(spark, convs: dict):
    rows = [(k, i, toks) for k, seqs in convs.items() for i, toks in enumerate(seqs)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, tokens array<string>")


def test_integrated_transformer_calibrate_matches_oracle(spark):
    """Integrated transformer kernel (score + conformal + drift with
    C10 context reset) vs the per-event oracle, on a stream with a
    vocabulary shift that actually fires ADWIN."""
    from log_project_spark.adwin import Adwin

    convs = _drifting_convs(13, {"c0": 800})
    seqs = convs["c0"]

    scores_o, want = oracle.run_transformer_stream(
        seqs, alpha=0.05, window=100, warmup=10, detector=Adwin(delta=0.002)
    )
    assert want.n_drift > 0, "fixture must drift"

    df = _token_rows(spark, convs)
    cfg = PipelineConfig(
        scope="global", mode="transformer", alpha=0.05, window=100, warmup=10,
        drift_detector="adwin", adwin_delta=0.002,
    )
    got = (
        scoring.with_transformer_calibrate(df, cfg)
        .orderBy("turn_idx")
        .collect()
    )
    for i, r in enumerate(got):
        assert r["score"] == pytest.approx(scores_o[i], abs=1e-6), i
        assert r["is_drift"] == want.is_drift[i], i
        assert r["is_anom"] == want.is_anom[i], i
        assert r["thr"] == pytest.approx(want.thresholds[i], abs=1e-6), i


def test_transformer_kernels_batch_carry_match_oracle(spark):
    """Arrow batches of 7 rows split every conversation across batches,
    so the walk's carry of a group's rows — a `list<string>` tokens
    column included — decides the transformer kernel's results under
    both drift policies. Each of 5 drifting conversations must equal
    the per-event oracles: without the context reset (the shipped job),
    the scores are `oracle.HashEmbedContext` over the whole conversation
    and the flags `oracle.run_stream` over them; with it,
    `oracle.run_transformer_stream` (C10 resets included)."""
    from log_project_spark.adwin import Adwin

    convs = _drifting_convs(17, {f"c{c}": 100 + 7 * c for c in range(5)})
    df = _token_rows(spark, convs)
    cfg = PipelineConfig(
        scope="conv_id", mode="transformer", alpha=0.05, window=100, warmup=10,
        drift_detector="adwin", adwin_delta=0.002,
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        shipped = (
            scoring.with_transformer_calibrate(df, cfg, reset_on_drift=False)
            .orderBy("conv_id", "turn_idx")
            .collect()
        )
        calibrated = (
            scoring.with_transformer_calibrate(df, cfg).orderBy("conv_id", "turn_idx").collect()
        )
    finally:
        spark.conf.set(key, old)
    n_drift = 0
    for conv, seqs in convs.items():
        ctx = oracle.HashEmbedContext()
        want = [ctx.score_and_update(t) for t in seqs]
        got = [r for r in shipped if r["conv_id"] == conv]
        assert [r["score"] for r in got] == pytest.approx(want, abs=1e-6), conv
        stream = oracle.run_stream(
            [r["score"] for r in got], alpha=0.05, window=100, warmup=10,
            detector=Adwin(delta=0.002),
        )
        assert [r["is_anom"] for r in got] == stream.is_anom, conv
        assert [r["is_drift"] for r in got] == stream.is_drift, conv
        scores_o, stream = oracle.run_transformer_stream(
            seqs, alpha=0.05, window=100, warmup=10, detector=Adwin(delta=0.002)
        )
        got = [r for r in calibrated if r["conv_id"] == conv]
        assert [r["score"] for r in got] == pytest.approx(scores_o, abs=1e-6), conv
        assert [r["is_anom"] for r in got] == stream.is_anom, conv
        assert [r["is_drift"] for r in got] == stream.is_drift, conv
        n_drift += stream.n_drift
    assert n_drift > 0, "fixture must drift"


@pytest.mark.parametrize("calibration", ["conformal", "no_calib"])
def test_transformer_calibrate_equals_score_then_calibrate(spark, corpus, calibration):
    """Without the C10 context reset the transformer kernel is
    hash-embed scoring followed by calibrate, drift or not: on a
    drifting input its rows equal `calibrate` over the per-conversation
    oracle scores, for both calibration modes. Without drift the reset
    never fires, so both `reset_on_drift` values give the same rows."""

    def collect(frame):
        return {
            (r["conv_id"], r["turn_idx"]): (r["score"], r["thr"], r["is_anom"], r["is_drift"])
            for r in frame.collect()
        }

    convs = _drifting_convs(29, {f"c{c}": 240 + 20 * c for c in range(3)})
    cfg = PipelineConfig(
        scope="conv_id", mode="transformer", alpha=0.05, window=40, warmup=30,
        calibration=calibration, drift_detector="adwin",
    )
    got = collect(
        scoring.with_transformer_calibrate(_token_rows(spark, convs), cfg, reset_on_drift=False)
    )
    oracle_scores = []
    for conv, seqs in convs.items():
        ctx = oracle.HashEmbedContext()
        oracle_scores += [(conv, i, ctx.score_and_update(t)) for i, t in enumerate(seqs)]
    scores_df = spark.createDataFrame(oracle_scores, "conv_id string, turn_idx int, score double")
    want = collect(calibrate(scores_df, cfg))
    assert sum(drift for *_, drift in want.values()) > 0, "fixture must drift"
    assert got.keys() == want.keys()
    for k, (score, thr, anom, drift) in want.items():
        assert got[k][0] == pytest.approx(score, abs=1e-6), k
        assert got[k][1] == pytest.approx(thr, abs=1e-6), k
        assert got[k][2:] == (anom, drift), k

    tokens, _ = corpus
    rows = [(f"c{i % 3}", i // 3, toks) for i, toks in enumerate(tokens)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, tokens array<string>")
    reset = collect(scoring.with_transformer_calibrate(df, cfg))
    assert len(reset) == len(rows) and not any(drift for *_, drift in reset.values())
    assert reset == collect(scoring.with_transformer_calibrate(df, cfg, reset_on_drift=False))


def test_tfidf_counts_factorize_matches_unique_path():
    """r6 optimization: _counts dedupes tokens with pd.factorize
    instead of np.unique (object argsort dominated the driver fit).
    Must stay bit-identical to the reference accumulation."""
    import numpy as np

    from log_project_spark.iforest import HashedTfidf

    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(400)] + ["<num>", "<hex>", "<ip>", ""]
    texts = [
        " ".join(rng.choice(vocab, size=int(rng.integers(0, 30))))
        for _ in range(800)
    ] + ["", "   ", "solo"]
    h_new = HashedTfidf(256, 7)
    got = h_new._counts(texts)

    # reference accumulation: per-token scatter in sequence order
    h_ref = HashedTfidf(256, 7)
    want = np.zeros((len(texts), 256), dtype=np.float32)
    for r, t in enumerate(texts):
        for tok in t.split():
            want[r, h_ref._bucket(tok)] += 1.0
    assert np.array_equal(got, want)


def test_fit_df_exact_across_formulations():
    """Exactness pin for the guarded integer-weight branch of
    _fit_from_counts: under the guard (non-negative integer weights,
    sum < 2^24) the float32 presence-sgemv document frequencies are
    EXACT integers, so idf_ must match bincount-over-nonzero-pairs and
    the float64 mask matmul bit-for-bit. (r6 note: the bincount
    formulation was prototyped as a replacement and measured 3.4x
    SLOWER at fit density — np.nonzero + fancy indexing on the dense
    matrix costs more than one memory-bound sgemv — so the sgemv stays;
    this test keeps all three formulations provably interchangeable.)"""
    import numpy as np

    from log_project_spark.iforest import HashedTfidf

    rng = np.random.default_rng(23)
    n, b = 500, 256
    X = np.zeros((n, b), dtype=np.float32)
    nz = rng.random((n, b)) < 0.05
    X[nz] = rng.integers(1, 9, size=int(nz.sum())).astype(np.float32)
    X[17] = 0.0  # empty doc
    w = rng.integers(0, 50_000, size=n).astype(np.float64)
    assert w.sum() < float(1 << 24)  # inside the guarded float32 branch

    got = HashedTfidf(b, 7)._fit_from_counts(X.copy(), n, w).idf_

    nz_d, nz_b = np.nonzero(X)
    df_bc = np.bincount(nz_b, weights=w[nz_d], minlength=b)
    n_docs = float(w.sum())
    idf_bc = (np.log((1.0 + n_docs) / (1.0 + df_bc)) + 1.0).astype(np.float32)
    assert np.array_equal(got, idf_bc)

    df_f64 = (X > 0).astype(np.float64).T @ w
    assert np.array_equal(df_bc, df_f64)


def test_row_norms_bit_identical_to_linalg():
    import numpy as np

    from log_project_spark.iforest import _row_norms

    rng = np.random.default_rng(5)
    for dtype in (np.float32, np.float64):
        X = rng.standard_normal((257, 129)).astype(dtype)
        X[3] = 0.0
        assert np.array_equal(_row_norms(X), np.linalg.norm(X, axis=1, keepdims=True))


def test_spread_preserves_rows(spark):
    """__spark_entry__._spread must be row-preserving and a no-op
    decision that never changes query results."""
    import __spark_entry__ as entry

    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    out = entry._spread(df)
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))
