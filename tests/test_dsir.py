"""DSIR importance resampling: pure-Python reference parity,
target-enrichment behavior, partition invariance, a lazy build,
validation, and plan hygiene."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import dsir

BUCKETS = 512
SEED = 7
GSEED = 99


def _h60(s: str, seed: int) -> int:
    return int(hashlib.md5(f"{s}|{seed}".encode()).hexdigest()[:15], 16)


def _py_feats(text: str, ns=(1, 2)):
    toks = text.lower().split()
    out = []
    for n in sorted(set(ns)):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        out += [_h60(g, SEED) % BUCKETS for g in grams]
    return out


def _py_select(corpus, target_ids, k, dp=6):
    """corpus: list of (doc_id, text). Reference for the full contract."""
    feats = {i: _py_feats(t) for i, t in corpus}
    raw_counts, tgt_counts = {}, {}
    for i, fs in feats.items():
        for f in fs:
            raw_counts[f] = raw_counts.get(f, 0) + 1
            if i in target_ids:
                tgt_counts[f] = tgt_counts.get(f, 0) + 1
    rd = sum(raw_counts.values()) + BUCKETS
    td = sum(tgt_counts.values()) + BUCKETS
    rows = {}
    for i, fs in feats.items():
        if not fs:
            continue
        logw = round(
            sum(
                math.log((tgt_counts.get(f, 0) + 1.0) / td)
                - math.log((raw_counts.get(f, 0) + 1.0) / rd)
                for f in fs
            ),
            dp,
        )
        u = (_h60(str(i), GSEED) + 1.0) / float((1 << 60) + 2)
        gkey = round(logw + -math.log(-math.log(u)), dp)
        rows[i] = [len(fs), logw, gkey]
    order = sorted(rows.items(), key=lambda kv: (-kv[1][2], kv[0]))
    selected = {i for i, _ in order[:k]}
    return {i: (nf, lw, gk, 1 if i in selected else 0) for i, (nf, lw, gk) in rows.items()}


CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "el gato y el perro"),
    (4, "der hund und die katze"),
    (5, "the cat and the dog sat"),
    (6, "le chat et le chien"),
    (7, ""),  # zero tokens -> no row
    (8, "the mat and the log"),
]
TARGET_IDS = {1, 2, 5}  # "english"


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def _result(df):
    return {
        r["doc_id"]: (r["n_feats"], r["logw"], r["gkey"], r["selected"])
        for r in df.collect()
    }


def test_reference_parity(spark, corpus_df):
    target = corpus_df.where(F.col("doc_id").isin(list(TARGET_IDS)))
    got = _result(
        dsir.dsir_select(corpus_df, target, k=3, buckets=BUCKETS, seed=SEED, gumbel_seed=GSEED)
    )
    want = _py_select(CORPUS, TARGET_IDS, 3)
    assert got == want
    assert 7 not in got  # empty doc: no features, no row
    assert sum(v[3] for v in got.values()) == 3


def test_target_enrichment_on_documents(spark):
    """Behavioral: selecting with an English target raises the English
    fraction among winners above the corpus base rate."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    out = dsir.dsir_select(docs, target, k=50, buckets=4096).collect()
    langs = {r["doc_id"]: None for r in out}
    en = {r["doc_id"] for r in docs.where(F.col("lang") == "en").collect()}
    sel = [r["doc_id"] for r in out if r["selected"]]
    assert len(sel) == 50
    base = len(en) / len(langs)
    got = sum(1 for i in sel if i in en) / len(sel)
    assert got > base + 0.1


def test_partition_invariance(spark, corpus_df):
    target = corpus_df.where(F.col("doc_id").isin(list(TARGET_IDS)))
    a = _result(dsir.dsir_select(corpus_df, target, k=3, buckets=BUCKETS))
    b = _result(dsir.dsir_select(corpus_df.repartition(5), target.coalesce(1), k=3, buckets=BUCKETS))
    assert a == b


def test_build_runs_no_job(spark, corpus_df):
    """dsir_select is one lazy plan: both model totals are computed in
    the plan, so building the DataFrame runs no Spark job."""
    target = corpus_df.where(F.col("doc_id").isin(list(TARGET_IDS)))
    sc = spark.sparkContext
    sc.setJobGroup("dsir_build", "dsir_build")
    try:
        dsir.dsir_select(corpus_df, target, k=3, buckets=BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("dsir_build") == []


def test_validation(spark, corpus_df):
    with pytest.raises(ValueError, match="k must be"):
        dsir.dsir_select(corpus_df, corpus_df, k=0)
    with pytest.raises(ValueError, match="ns"):
        dsir.hashed_ngram_features(corpus_df, ns=())
    with pytest.raises(ValueError, match="buckets"):
        dsir.hashed_ngram_features(corpus_df, buckets=1)


def test_plan_hygiene(spark, corpus_df):
    """Model joins broadcast; feature extraction stays codegen (no
    interpreted higher-order lambdas)."""
    target = corpus_df.where(F.col("doc_id").isin(list(TARGET_IDS)))
    plan = (
        dsir.dsir_select(corpus_df, target, k=3, buckets=BUCKETS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "lambdafunction" not in plan.lower()
