"""Text analysis: en/other lang flag, quality features, BPE-ish token
count, fingerprint stability."""

import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import text_analysis as ta

_FILLER = " ".join(f"w{i}" for i in range(23))

# (doc_id, text, with_lang_id's flag)
SAMPLES = [
    (0, "the cat sat on the mat and it is a good day for the dog", "en"),
    (1, "el perro y el gato en la casa de los abuelos es un lugar", "other"),
    (2, "le chat et le chien dans la maison des voisins en France", "other"),
    # one English stopword ('in') of 13 tokens: 0.077 <= 0.08
    (3, "der hund und die katze in den garten mit der familie ist da", "other"),
    (4, "zzz qqq xxx www", "other"),
    (5, "the a " + _FILLER, "other"),  # 2 of 25 == 0.08: the rule is strict >
    (6, "the a of " + _FILLER, "en"),  # 3 of 26
    (7, "   ", "other"),  # no token: ratio 0.0
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
    n_stop = sum(1 for t in toks if t in ta.STOPWORDS)
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


def test_text_gate_pairs_on_empty_documents(spark, tmp_path):
    """Empty and whitespace-only documents have no token to divide by:
    the lang-id and quality queries must return their DuckDB oracle's
    rows (ratio 0.0, avg_token_len 0.0), not raise DIVIDE_BY_ZERO
    under ANSI."""
    from collections import Counter

    import duckdb
    import __spark_entry__ as entry

    rows = [(0, "the cat is here", "en"), (1, "", "en"), (2, "   ", "es"), (3, "\t\n", "es")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    qs, sql = entry.queries(), entry.oracle_sql()
    for name in ("lang_id_heuristic", "quality_score", "quality_percentile_filter"):
        got = Counter(tuple(r) for r in qs[name](spark, sf_dir).collect())
        want = Counter(con.sql(sql[name]).fetchall())
        assert got == want, name
    scores = {r["doc_id"]: r for r in qs["quality_score"](spark, sf_dir).collect()}
    assert scores[1]["stop_ratio"] == 0.0 and scores[1]["avg_token_len"] == 0.0
    assert scores[0]["stop_ratio"] == 0.5  # 'the', 'is' of 4 tokens
    langs = Counter(tuple(r) for r in qs["lang_id_heuristic"](spark, sf_dir).collect())
    assert langs == Counter({("en", "en", 1): 1, ("en", "other", 1): 1, ("es", "other", 2): 1})
