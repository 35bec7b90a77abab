"""Anomaly scorers (SURVEY.md P7, M1-M7).

Three scorers, same orientation (higher = more anomalous), selectable
like the reference's mode dispatch (/root/reference/src/stream.py:299-311):

- len: float(len(text)) — the reference's fallback/"transformer
  placeholder" scorer (src/stream.py:161-163). Pure Catalyst.
- baseline: TF-IDF + isolation forest (src/stream.py:166-191),
  reimplemented in NumPy (iforest.py), fit driver-side on a
  deterministic weighted sample of DISTINCT normalized texts, broadcast
  to executors, scored in an Arrow iterator pandas UDF that dedupes
  each batch before the matrix work (log corpora are template-heavy:
  scoring cost ~ O(unique texts), not O(rows)).
- transformer: hash-embedding decayed-context cosine scorer
  (src/transformer.py:65-137), one context per conv_id ordered by
  turn_idx (the reference keeps ONE context deque; a single group
  reproduces that exactly). The scorer is stateful, so it runs inside
  the calibration walk: `with_transformer_calibrate` scores and
  calibrates each group in one `calibrate.walk_groups` kernel, the
  same sorted-partition Arrow walk calibrate uses — one exchange, one
  Arrow round trip.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..iforest import TextAnomalyModel, fit_text_anomaly_model
from .calibrate import CALIBRATED_FIELDS, CalibrationState, walk_groups


def with_len_score(df: DataFrame, text_col: str = "norm_text", out_col: str = "score") -> DataFrame:
    """P7 length scorer: float(len(text)) (src/stream.py:161-163)."""
    return df.withColumn(out_col, F.length(F.col(text_col)).cast("double"))


# ---------------------------------------------------------------------------
# baseline scorer: hashed TF-IDF + isolation forest
# ---------------------------------------------------------------------------

def make_broadcast_scorer(model: TextAnomalyModel):
    """Picklable list[str] -> np.ndarray batch scorer backed by a
    broadcast of the model (for the fused calibrate kernel)."""
    spark = SparkSession.getActiveSession()
    assert spark is not None
    bc = spark.sparkContext.broadcast(model)

    def score_batch(texts: list[str]) -> np.ndarray:
        return bc.value.score_texts(texts)

    return score_batch


def fit_baseline_model(
    df: DataFrame, cfg: PipelineConfig, text_col: str = "norm_text",
    cache_path: str | None = None,
) -> TextAnomalyModel:
    """Driver-side fit on the distinct-text frequency profile.

    The reference fits on the whole corpus offline before streaming
    (src/stream.py:178-187). At 100 TB that is a second full pass; we
    instead aggregate DISTINCT normalized texts with their counts (a
    single distributed groupBy, tiny result for template-shaped logs),
    cap at cfg.fit_sample_rows most frequent (deterministic tie-break
    on text), and fit the weighted model driver-side.

    `cache_path`: persist/reuse the fitted model (offline-fit +
    broadcast is the deployment pattern at scale; the reference refits
    per run, src/stream.py:178-187, which a 100 TB job would not)."""
    import os
    import pickle

    if cache_path and os.path.exists(cache_path):
        with open(cache_path, "rb") as f:
            return pickle.load(f)
    profile = (
        df.groupBy(text_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(text_col))
        .limit(cfg.fit_sample_rows)
        .toPandas()
    )
    texts = profile[text_col].astype(str).tolist()
    weights = profile["n"].to_numpy(dtype=np.float64)
    model = _fit_and_maybe_cache(texts, weights, cfg, cache_path)
    return model


def _fit_and_maybe_cache(texts, weights, cfg, cache_path):
    import pickle

    model = fit_text_anomaly_model(
        texts,
        weights=weights,
        n_estimators=cfg.iso_n_estimators,
        max_samples=cfg.iso_max_samples,
        seed=cfg.seed,
    )
    if cache_path:
        # atomic publish: concurrent fitters (e.g. two bench servers
        # warming up in parallel) must never expose a half-written
        # pickle to a reader's os.path.exists -> load window
        import os

        tmp = f"{cache_path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(model, f)
        os.replace(tmp, cache_path)
    return model


def with_iforest_score(
    df: DataFrame,
    model: TextAnomalyModel,
    text_col: str = "norm_text",
    out_col: str = "score",
) -> DataFrame:
    """Score every row with the broadcast model via an iterator pandas
    UDF (one model deserialize per task, Arrow batches, per-batch
    dedupe of identical texts)."""
    spark = SparkSession.getActiveSession()
    assert spark is not None
    bc = spark.sparkContext.broadcast(model)

    @F.pandas_udf(T.DoubleType())
    def score_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        mdl: TextAnomalyModel = bc.value
        for s in batches:
            texts = s.fillna("").astype(str)
            uniq, inverse = np.unique(texts.to_numpy(), return_inverse=True)
            scores = mdl.score_texts(list(uniq))
            yield pd.Series(scores[inverse], index=s.index)

    return df.withColumn(out_col, score_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# transformer scorer: hash-embedding decayed context (M4-M6)
# ---------------------------------------------------------------------------

# the reference scorer's embedding width, context window and decay
# (src/transformer.py:40-57)
EMBED_DIM, EMBED_WINDOW, EMBED_DECAY = 32, 32, 0.90


def _token_embedding(token: str, seed: int, dim: int, cache: dict) -> np.ndarray:
    vec = cache.get(token)
    if vec is None:
        digest = hashlib.sha256(f"{token}::{seed}".encode()).digest()
        rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
        raw = rng.standard_normal(dim, dtype=np.float32)
        norm = float(np.linalg.norm(raw))
        vec = (raw / norm).astype(np.float32) if norm > 0 and math.isfinite(norm) else np.zeros(dim, np.float32)
        cache[token] = vec
    return vec


class HashEmbedRing:
    """Vectorized-within-row port of TransformerScorer.score_and_update
    (src/transformer.py:65-119): context = decay-weighted unit mean of
    the last `window` token embeddings from PRIOR rows; score = mean
    of 1 - clamp(ctx . e) over the row's tokens, clamped to [0, 1];
    context updates AFTER scoring. The context is a fixed (window, dim)
    ring, not a deque of rows (measured faster)."""

    def __init__(self, seed: int, dim: int, window: int, decay: float):
        self.seed, self.dim, self.window, self.decay = seed, dim, window, decay
        self.cache: dict[str, np.ndarray] = {}
        self.buf = np.zeros((window, dim), dtype=np.float32)
        self.len = 0  # number of valid rows in the ring (<= window)
        self.pos = 0  # next write slot

    def reset(self) -> None:
        """Drop the context (the C10 drift hook, src/transformer.py:61-63)."""
        self.len = self.pos = 0

    def score_and_update(self, toks) -> float:
        toks = list(toks) if toks is not None else []
        seed, dim, window = self.seed, self.dim, self.window
        score = 0.0
        if len(toks) and self.len:
            # assemble buffer in arrival order (oldest first)
            if self.len < window:
                ordered = self.buf[: self.len]
            else:
                ordered = np.vstack((self.buf[self.pos:], self.buf[: self.pos]))
            n = self.len
            # decay powers computed in float64 then cast, matching the
            # reference's [decay ** (n-i)] list -> float32 array
            # (transformer.py:111)
            w = np.power(self.decay, np.arange(n, 0, -1, dtype=np.float64)).astype(np.float32)
            total = float(w.sum())
            if total > 0 and math.isfinite(total):
                w = w / np.float32(total)
            else:
                w = np.full(n, 1.0 / n, dtype=np.float32)
            ctx = (w[:, None] * ordered).sum(axis=0)
            nrm = float(np.linalg.norm(ctx))
            ctx = (ctx / nrm).astype(np.float32) if nrm > 0 and math.isfinite(nrm) else np.zeros(dim, np.float32)
            E = np.stack([_token_embedding(t, seed, dim, self.cache) for t in toks])
            # per-token float32 dot, then clamp/subtract in float64 like
            # the reference's float(np.dot(...)) (transformer.py:89-94)
            sims = np.clip((E @ ctx).astype(np.float64), -1.0, 1.0)
            val = float(np.mean(1.0 - sims))
            if not math.isfinite(val):
                val = 0.0
            score = min(1.0, max(0.0, val))
        # update context ring with this row's tokens
        for t in toks:
            self.buf[self.pos] = _token_embedding(t, seed, dim, self.cache)
            self.pos = (self.pos + 1) % window
            if self.len < window:
                self.len += 1
        return score


# ---------------------------------------------------------------------------
# transformer mode: score + conformal + drift (+ C10) in one kernel
# ---------------------------------------------------------------------------

def with_transformer_calibrate(
    df: DataFrame,
    cfg: PipelineConfig,
    tokens_col: str = "tokens",
    order_cols: tuple[str, ...] = ("turn_idx",),
    reset_on_drift: bool = True,
) -> DataFrame:
    """Transformer mode in one pass per conv_id (scope='global'
    collapses to the reference's single stream) on
    `calibrate.walk_groups`: a fresh `HashEmbedRing` per group feeds its
    context scores into the shared calibration state. Each row is scored
    only when the state pulls it, i.e. after the previous row's drift
    reset. With `reset_on_drift` a drift also drops the context — the
    C10 hook the reference documents (src/transformer.py:61-63) but
    never wires into main(); the shipped job passes False to keep the
    reference's behaviour. `tokens_col` is consumed and dropped, and
    (score, thr, is_anom, is_drift) are the last output columns."""

    def run_group(group, _):
        # to_pandas shares one str object per distinct token: ~3x faster
        # than to_numpy, ~30x than to_pylist, and cache hits on identity
        toks = group.column(tokens_col).to_pandas()
        ring = HashEmbedRing(cfg.seed, EMBED_DIM, EMBED_WINDOW, EMBED_DECAY)
        score = np.zeros(len(toks))

        def feed():
            for i, x in enumerate(toks):
                score[i] = s = ring.score_and_update(x)
                yield s

        thr, anom, drift = CalibrationState.from_config(cfg).run(
            feed(), len(toks), on_drift=ring.reset if reset_on_drift else None
        )
        return score, thr, anom, drift

    return walk_groups(
        df, cfg.scope_keys(), order_cols, CALIBRATED_FIELDS, run_group,
        drop=[tokens_col, *(f.name for f in CALIBRATED_FIELDS)],
    )
