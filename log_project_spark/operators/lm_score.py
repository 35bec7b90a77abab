"""Corpus-fit bigram language model + per-document cross-entropy — the
LM-quality signal of CCNet (Wenzek et al. 2020 §4.2-4.3: a KenLM model
scores each document and the corpus is bucketed by per-language
perplexity quantiles; Gopher/LLaMA inherit the recipe). Re-expressed
Spark-first as an add-k-smoothed bigram model over word tokens: no
external model artifacts, deterministic, every stage a DataFrame op.

Model definition (documented contract, mirrored by the DuckDB oracle):

- tokens: lowercase whitespace words (parse.word_tokens_col); no
  BOS/EOS markers, so a doc contributes max(0, n_tok - 1) bigrams and
  sub-2-token docs get no score.
- vocab: the top `vocab_size` tokens by (corpus count desc, token asc)
  — the tie-break makes the boundary deterministic; everything else
  maps to UNK ("<unk>"; a corpus containing that literal token merges
  with the bucket — documented, not detected).
- counts: C2(v1,v2) = corpus bigram count after UNK mapping;
  C1(v1) = sum_v2 C2(v1,v2) (context count derived FROM the bigram
  frame, so add-k probabilities sum to 1 over the smoothing vocab).
- score: p(v2|v1) = (C2 + k) / (C1 + k*V) with V = |vocab| + 1;
  per-doc cross-entropy xent = -avg(log2 p) bits/token; unseen bigram
  or context coalesces to 0 (score corpus need not equal fit corpus).

Scale design (100 TB fit corpus):

- raw unigram/bigram counting: one exchange each, keyed on the word
  (resp. word-pair) columns — SHORT strings (words, not documents/
  shingle arrays) with map-side partial aggregation, so the shuffle
  carries at most the per-partition-distinct grams. The UNK re-map +
  re-aggregation runs on the ALREADY-AGGREGATED bigram frame (distinct
  raw bigrams), never on the corpus.
- vocab selection: orderBy().limit(V) => TakeOrderedAndProject (per-
  partition top-V + driver merge, no global sort shuffle).
- bigrams are the 2-token windows of the one gram builder,
  parse.ngram_windows (pure codegen, total).
- scoring: vocab/context joins are always broadcast (<= V+1 rows);
  the bigram-count join broadcasts by default (`broadcast_model=True`,
  fine up to ~10M distinct bigrams) or shuffles keyed on the word pair
  (`False`) when the model itself is huge; final per-doc aggregation
  is one exchange on the id.

Reference parity note: the reference has no LM scorer (verified by
reading every module under /root/reference/src/ -- only
calibration/log_tokenize/stream/transformer exist); this repo's own
heuristic quality signals live in text_analysis.py. This operator is part of the
LLM-training-data extension surface, same as dedup/decontam.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_project_spark.operators.parse import ngram_windows, word_tokens_col

UNK = "<unk>"


class BigramLM(NamedTuple):
    """A fitted model: three small-to-medium DataFrames + the smoothing
    vocab size. `vocab` has <= vocab_size rows; `contexts` <= |vocab|+1;
    `bigrams` is the only potentially large piece (distinct UNK-mapped
    bigrams of the fit corpus)."""

    vocab: DataFrame  # (tok)
    contexts: DataFrame  # (v1, c1)
    bigrams: DataFrame  # (v1, v2, c2)
    v_smooth: int  # |vocab| + 1


def bigram_pairs(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(id?, w1, w2) consecutive-token pairs, multiplicity preserved;
    docs with < 2 tokens contribute no rows (parse.ngram_windows)."""
    ids = [id_col] if id_col else []
    base = df.select(*ids, word_tokens_col(F.col(text_col)).alias("__toks__"))
    out = base.select(*ids, F.explode(ngram_windows(F.col("__toks__"), 2)).alias("__p__"))
    return out.select(
        *ids,
        F.col("__p__").getField("0").alias("w1"),
        F.col("__p__").getField("1").alias("w2"),
    )


def _unk_map(df: DataFrame, vocab: DataFrame, col: str, out: str) -> DataFrame:
    """Map one word column through the (broadcast) vocab: in-vocab
    words pass, everything else becomes UNK."""
    marked = vocab.select(F.col("tok").alias(col), F.lit(True).alias("__in__"))
    return (
        df.join(F.broadcast(marked), col, "left")
        .withColumn(out, F.when(F.col("__in__"), F.col(col)).otherwise(F.lit(UNK)))
        .drop("__in__")
    )


def fit_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    id_col: str = "doc_id",
) -> BigramLM:
    """Fit the model on a corpus. Two corpus-wide aggregations (unigram
    counts for the vocab, raw bigram counts), then UNK re-mapping and
    re-aggregation on the aggregated bigram frame only."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = word_tokens_col(F.col(text_col))
    uni = df.select(F.explode(toks).alias("tok"))
    raw_uni = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        raw_uni.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok")
    )
    raw_big = (
        bigram_pairs(df, text_col, None)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mapped = _unk_map(_unk_map(raw_big, vocab, "w1", "v1"), vocab, "w2", "v2")
    bigrams = mapped.groupBy("v1", "v2").agg(F.sum("c").alias("c2"))
    contexts = bigrams.groupBy("v1").agg(F.sum("c2").alias("c1"))
    # the one driver action: counting a <= vocab_size-row frame
    v_smooth = vocab.count() + 1
    return BigramLM(vocab=vocab, contexts=contexts, bigrams=bigrams, v_smooth=v_smooth)


def score_bigram_lm(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    broadcast_model: bool = True,
    dp: int = 6,
) -> DataFrame:
    """Per-document cross-entropy under the fitted model.

    Returns (id_col, n_bigrams bigint, xent double) — xent in bits per
    bigram, rounded to `dp` for cross-engine comparison; lower is
    more-probable-under-the-model (CCNet keeps the low-perplexity
    bucket). Compose with aggregate.percentile_rank_filter(...,
    keep_low=True) for the per-language percentile gate."""
    if k <= 0.0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    pairs = bigram_pairs(df, text_col, id_col)
    mapped = _unk_map(_unk_map(pairs, lm.vocab, "w1", "v1"), lm.vocab, "w2", "v2")
    big = lm.bigrams
    if broadcast_model:
        big = F.broadcast(big)
    joined = (
        mapped.join(big, ["v1", "v2"], "left")
        .join(F.broadcast(lm.contexts), ["v1"], "left")
    )
    logp = F.log2(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(k)))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(k) * lm.v_smooth))
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg(logp), dp).alias("xent"),
    )
