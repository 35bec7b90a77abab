"""Parse stage (P1-P6): native Catalyst vs pandas-UDF vs oracle, plus
byte parity with the reference's committed mini_tokens.json artifact."""

import json

import pytest
from pyspark.sql import functions as F

from log_project_spark import oracle
from log_project_spark.operators import parse

TRICKY = [
    "2025-08-19 10:01:22 serviceA INFO user 42 connected from 0xDEAD",
    "auth ALERT brute force attempt from 10.0.0.5",
    "  MiXeD Case  0xAbC123 then 1.2.3.4 and 999  ",
    "no masks here at all",
    "0x 0xZ 10.0.0 300.300.300.300 1.2.3.4.5",
    "tabs\tand\nnewlines 7",
    "",
    "   ",
    "ip-ish 1.2.3.4: colon after",
    "hex inside abc0xFF12 numbers42",
]


@pytest.fixture(scope="module")
def tricky_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], "id int, text string")


def _collected(df):
    rows = df.orderBy("id").collect()
    return [(r["id"], list(r["tokens"])) for r in rows]


def test_native_matches_oracle(spark, tricky_df):
    got = _collected(parse.with_tokens(tricky_df, drop_empty=False))
    want = [(i, oracle.tokenize_line(t)) for i, t in enumerate(TRICKY)]
    assert got == want


def test_pandas_udf_matches_native(spark, tricky_df):
    native = _collected(parse.with_tokens(tricky_df, drop_empty=False))
    udf = _collected(parse.with_tokens_pandas(tricky_df, drop_empty=False))
    assert native == udf


def test_empty_lines_dropped(spark, tricky_df):
    kept = parse.with_tokens(tricky_df, drop_empty=True).count()
    expected = sum(1 for t in TRICKY if oracle.tokenize_line(t))
    assert kept == expected


def test_mask_order_invariant(spark):
    """hex before num, ip before num (log_tokenize.py:14-16)."""
    df = spark.createDataFrame([(0, "0xAB 10.0.0.5 77")], "id int, text string")
    toks = parse.with_tokens(df).first()["tokens"]
    assert list(toks) == ["<hex>", "<ip>", "<num>"]


def test_reference_mini_log_parity(spark):
    """Masked tokens of the reference's raw mini.log must equal its
    committed mini_tokens.json (byte-exact artifact)."""
    with open("/root/reference/data/raw/mini.log", encoding="utf-8") as f:
        lines = [ln for ln in f.read().splitlines()]
    with open("/root/reference/data/mini_tokens.json", encoding="utf-8") as f:
        expected = json.load(f)
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "id int, text string"
    )
    got = [toks for _, toks in sorted(
        (r["id"], list(r["tokens"])) for r in parse.with_tokens(df).collect()
    )]
    assert got == expected


def test_norm_text_rejoin(spark, tricky_df):
    out = (
        tricky_df.withColumn("norm_text", parse.norm_text_col(F.col("text")))
        .orderBy("id")
        .collect()
    )
    for r, raw in zip(out, TRICKY):
        assert r["norm_text"] == " ".join(oracle.tokenize_line(raw))


def test_plan_is_native(spark, tricky_df):
    """The default parse path must contain no Python UDF (stays in
    whole-stage codegen)."""
    plan = parse.with_tokens(tricky_df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


ADVERSARIAL = TRICKY + [
    None,
    "0xFF",
    " ",             # unicode NBSP: not Java whitespace on either side
    "a b",
    "\t\n\r \x0b\x0c",    # every Java \s char
    "x",
    " x ",
    "1.2.3.4",
    "0x",
    ".",
    "a b",
    "a  b   c",
    "  leading",
    "trailing  ",
]


def test_drop_empty_predicate_equivalence(spark):
    """r6 optimization: with_tokens(drop_empty=True) filters on the
    cheap raw-text predicate has_token_col instead of size(tokens)>0
    (which made Catalyst inline the whole mask-regex chain into the
    Filter). The two must keep exactly the same rows on adversarial
    inputs, including NULLs and unicode whitespace."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string"
    )
    cheap = sorted(
        r["id"] for r in parse.with_tokens(df, drop_empty=True).select("id").collect()
    )
    strict = sorted(
        r["id"]
        for r in parse.with_tokens(df, drop_empty=False)
        .where(F.size("tokens") > 0)
        .select("id")
        .collect()
    )
    assert cheap == strict


def test_min_words_predicate_equivalence(spark):
    """The minhash >=3-words prefilter as a raw-text regex probe must
    keep exactly the rows where size(word_tokens) >= 3."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string"
    )
    toked = df.withColumn("toks", parse.word_tokens_col(F.col("text")))
    cheap = sorted(
        r["id"]
        for r in toked.where(F.col("text").rlike(r"\S+\s+\S+\s+\S")).select("id").collect()
    )
    strict = sorted(
        r["id"] for r in toked.where(F.size("toks") >= 3).select("id").collect()
    )
    assert cheap == strict


# token arrays for the gram builder: empty, 1..5 distinct tokens (so
# every n in 1..5 meets a shorter, an exactly-n and a longer array),
# longer arrays with repeated tokens, and a null array
NGRAM_TOKENS = [
    [],
    ["a"],
    ["a", "b"],
    ["a", "b", "c"],
    ["a", "b", "c", "d"],
    ["a", "b", "c", "d", "e"],
    ["x", "y", "x", "y", "x", "y", "z"],
    ["spam"] * 6,
    ["the", "cat", "sat", "on", "the", "cat", "sat", "again"],
    None,
]


def _brute_grams(toks, n):
    toks = toks or []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@pytest.fixture(scope="module")
def ngram_df(spark):
    return spark.createDataFrame(
        list(enumerate(NGRAM_TOKENS)), "doc_id long, tokens array<string>"
    )


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("path", ["windows", "shingles", "pushed_filter"])
def test_ngram_builder_matches_bruteforce(spark, ngram_df, path, n):
    """Every path to grams equals Python's sliding join, in order:
    - windows: posexplode(ngram_windows) + ngram_text, the form
      repetition_stats, bigram_pairs and dsir explode;
    - shingles: dedup.with_shingles' per-row array (rows with fewer
      than n tokens are dropped);
    - pushed_filter: explode() over with_shingles pushes
      `size(shingles) > 0` into the same Filter as the size >= n guard;
      the CASE-guarded windows must stay total on empty and short rows
      (an unguarded slice of negative length throws at runtime)."""
    from log_project_spark.operators import dedup

    want = {i: _brute_grams(t, n) for i, t in enumerate(NGRAM_TOKENS)}
    if path == "windows":
        rows = ngram_df.select(
            "doc_id",
            F.posexplode(parse.ngram_windows(F.col("tokens"), n)).alias("pos", "w"),
        ).select("doc_id", "pos", parse.ngram_text(F.col("w"), n).alias("g"))
        got = {i: [] for i in want}
        for r in sorted(rows.collect(), key=lambda r: (r["doc_id"], r["pos"])):
            got[r["doc_id"]].append(r["g"])
        assert got == want
    elif path == "shingles":
        rows = dedup.with_shingles(ngram_df, n=n).collect()
        assert {r["doc_id"]: list(r["shingles"]) for r in rows} == {
            i: g for i, g in want.items() if g
        }
    else:
        grams = dedup.with_shingles(ngram_df, n=n).select(
            "doc_id", F.explode("shingles").alias("g")
        )
        assert sorted(map(tuple, grams.collect())) == sorted(
            (i, g) for i, gs in want.items() for g in gs
        )


@pytest.mark.parametrize(
    "op", ["ngram_windows", "with_shingles", "contamination_hits", "repetition_stats"]
)
@pytest.mark.parametrize("n", [0, -1])
def test_ngram_n_below_one_raises(spark, op, n):
    """No gram of fewer than one token exists. Without the check,
    with_shingles(n=0) emitted size+1 empty-string shingles per row,
    contamination_hits(n=0) flagged a document sharing no token with
    the benchmark, and repetition_stats(n=0) silently returned no rows."""
    from log_project_spark.operators import decontam, dedup, text_analysis

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon")], "doc_id long, text string"
    ).withColumn("tokens", parse.word_tokens_col(F.col("text")))
    calls = {
        "ngram_windows": lambda: parse.ngram_windows(F.col("tokens"), n),
        "with_shingles": lambda: dedup.with_shingles(df, n=n),
        "contamination_hits": lambda: decontam.contamination_hits(
            df.where("doc_id = 1"), df.where("doc_id = 0"), n=n
        ),
        "repetition_stats": lambda: text_analysis.repetition_stats(df, n=n),
    }
    with pytest.raises(ValueError, match="n must be >= 1"):
        calls[op]()
