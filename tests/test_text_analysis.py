"""Text analysis: lang-id heuristic, quality features, BPE-ish token
count, fingerprint stability."""

import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import text_analysis as ta

SAMPLES = [
    (0, "the cat sat on the mat and it is a good day for the dog", "en"),
    (1, "el perro y el gato en la casa de los abuelos es un lugar", "es"),
    (2, "le chat et le chien dans la maison des voisins en France", "fr"),
    (3, "der hund und die katze in den garten mit der familie ist da", "de"),
    (4, "zzz qqq xxx www", "und"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([(i, t) for i, t, _ in SAMPLES], "doc_id long, text string")


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in ta.with_lang_id(docs).collect()}
    for i, _, want in SAMPLES:
        assert got[i] == want, (i, got[i], want)


def test_quality_features_values(spark, docs):
    row = ta.with_quality_features(docs).where(F.col("doc_id") == 0).first()
    text = SAMPLES[0][1]
    toks = text.lower().split()
    assert row["n_tokens"] == len(toks)
    assert row["n_chars_text"] == len(text)
    assert row["avg_token_len"] == pytest.approx(sum(len(t) for t in toks) / len(toks), abs=1e-6)
    n_stop = sum(1 for t in toks if t in ta.STOPWORDS["en"])
    assert row["stop_ratio"] == pytest.approx(n_stop / len(toks), abs=1e-6)
    assert row["punct_ratio"] == 0.0


def test_quality_score_orders_noise_last(spark):
    rows = [
        (0, "a well formed english sentence with the usual words in it"),
        (1, "!!!! ???? ;;;; 0000 1111 2222 !!!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["quality"] for r in ta.with_quality_score(df).collect()}
    assert got[0] > got[1]
    assert 0.0 <= got[1] <= got[0] <= 1.0


def test_bpe_token_count(spark):
    df = spark.createDataFrame([(0, "Hello, world! It's 42.")], "doc_id long, text string")
    row = ta.with_bpe_token_count(df).first()
    # Hello , world ! It ' s 42 .  -> 9
    assert row["n_bpe"] == 9


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "the quick  brown\tfox"), (1, "THE QUICK BROWN FOX"), (2, "other text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in ta.with_fingerprint(df).collect()}
    assert got[0] == got[1]  # case + whitespace normalized
    assert got[0] != got[2]
    assert len(got[0]) == 16


def _brute_repetition(text, n=2):
    toks = [t for t in text.lower().split() if t]
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return None
    from collections import Counter

    c = Counter(grams)
    total, distinct, top = len(grams), len(c), max(c.values())
    return (total, distinct, round(top / total, 6), round(1.0 - distinct / total, 6))


def test_repetition_stats_brute_force(spark):
    rows = [
        (0, "spam spam spam spam spam spam"),            # one gram repeated
        (1, "the cat sat on the mat the cat sat again"),
        (2, "all words here are completely distinct tokens"),
        (3, "solo"),                                      # < n tokens: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_grams"], r["n_distinct_grams"],
            r["top_gram_frac"], r["dup_gram_frac"],
        )
        for r in ta.repetition_stats(df, n=2).collect()
    }
    want = {i: _brute_repetition(t) for i, t in rows if _brute_repetition(t)}
    assert got == want
    assert 3 not in got
    assert got[0][2] == 1.0  # "spam spam" is every 2-gram
    assert got[2][3] == 0.0  # no repeats


def test_repetition_stats_hash_parity_and_plan(spark):
    """Hashed-gram scale path == raw-string path, no shuffle key
    carries the gram text (16-byte (id, hash) composite only), and the
    grams are built in codegen (no interpreted higher-order lambda)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = ta.repetition_stats(docs, n=2, hash_grams=True)
    b = ta.repetition_stats(docs, n=2, hash_grams=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower()
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            inner = ln.split("hashpartitioning(", 1)[1]
            assert "text#" not in inner
