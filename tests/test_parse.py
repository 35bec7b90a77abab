"""Parse stage (P1-P6): native Catalyst vs pandas-UDF vs oracle, plus
byte parity with the reference's committed mini_tokens.json artifact."""

import json
import random
import re

import pytest
from pyspark.sql import functions as F

from log_project_spark import oracle
from log_project_spark.operators import parse
from log_project_spark.pipeline import parse_stage

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


def _tokenized(df):
    """Every row with its masked tokens, token-less rows kept."""
    return df.withColumn("tokens", parse.tokens_col(F.col("text")))


def test_native_matches_oracle(spark, tricky_df):
    got = _collected(_tokenized(tricky_df))
    want = [(i, oracle.tokenize_line(t)) for i, t in enumerate(TRICKY)]
    assert got == want


def test_pandas_udf_matches_native(spark, tricky_df):
    native = _collected(_tokenized(tricky_df))
    udf = _collected(tricky_df.withColumn("tokens", parse.tokenize_pandas(F.col("text"))))
    assert native == udf


def test_empty_lines_dropped(spark, tricky_df):
    kept = parse_stage(tricky_df).count()
    expected = sum(1 for t in TRICKY if oracle.tokenize_line(t))
    assert kept == expected


def test_mask_order_invariant(spark):
    """hex before num, ip before num (log_tokenize.py:14-16)."""
    df = spark.createDataFrame([(0, "0xAB 10.0.0.5 77")], "id int, text string")
    toks = parse_stage(df).first()["tokens"]
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
        (r["id"], list(r["tokens"])) for r in parse_stage(df).collect()
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
    plan = parse_stage(tricky_df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tokens_projection_runs_mask_chain_once(spark, tricky_df):
    """A projection that keeps `tokens` without `norm_text` (transformer
    mode's walk input, the word-token operators) holds one copy of the
    mask chain: as many regexp_replace as one norm_text_col expression
    (a guarded pass names its input in both CASE branches, so that is
    more than the 4 passes; 2 copies of the chain while tokens_col
    named norm_text in both a CASE condition and its ELSE branch). No
    CASE condition runs a pass: the guards probe the raw text, so
    whichever branch runs evaluates the pass's input once. Its rows
    equal tokenize_pandas."""
    tokens = parse_stage(tricky_df).select("id", "tokens")
    plan = tokens._jdf.queryExecution().executedPlan().toString()
    one_chain = str(parse.norm_text_col(F.col("text"))).count("regexp_replace(")
    assert one_chain >= 4 and plan.count("regexp_replace(") == one_chain, plan
    conditions = re.findall(r"WHEN (.*?) THEN", plan, re.S)
    assert conditions, plan
    # a condition holding a CASE would hide that CASE's own condition
    assert not any("regexp_replace" in c or "CASE" in c for c in conditions), plan
    udf = tricky_df.withColumn("tokens", parse.tokenize_pandas(F.col("text")))
    assert _collected(tokens) == [(i, t) for i, t in _collected(udf) if t]


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
    # a guard's literal present with nothing for its pass to replace
    "0X",
    "0xg",
    "a.b",
    "1.2.3",
    "1.2.3.4.5",
    "\x0b",
]


# every literal a pass's guard probes for, with and without a match
# behind it, both cases of the hex digits, NBSP (not Java whitespace),
# every Java `\s` char, and three letters whose lowercase is unusual:
# U+0130 (two chars, i + combining dot), the Kelvin sign (ASCII k) and
# capital sigma (final or medial form by its neighbours, so collapsing
# whitespace before lowercasing must not change its context)
GUARD_ALPHABET = [
    "0", "x", "X", ".", "1", "9", "a", "f", "A", "F",
    " ", "\t", "\n", "\x0b", "\f", "\r", "\u00a0", "\u0130", "\u212a", "\u03a3",
]
# digits, dots and spaces drawn often enough that dotted quads, hex
# runs and space runs all occur
GUARD_WEIGHTS = [4, 2, 1, 3, 4, 2, 1, 1, 1, 1, 4, 1, 1, 1, 1, 1, 1, 1, 1, 1]


def _guard_texts(n=5000, seed=7):
    rng = random.Random(seed)
    texts = [
        "".join(rng.choices(GUARD_ALPHABET, GUARD_WEIGHTS, k=rng.randint(0, 24)))
        for _ in range(n)
    ]
    return texts + ADVERSARIAL


def _unguarded_collapse(c):
    return F.btrim(F.regexp_replace(c, r"\s+", " "), F.lit(" "))


def _unguarded_norm_text(text):
    """The mask chain with every pass run on every row."""
    c = F.lower(text)
    c = F.regexp_replace(c, parse.HEX_PATTERN, "<hex>")
    c = F.regexp_replace(c, parse.IP_PATTERN, "<ip>")
    c = F.regexp_replace(c, parse.NUM_PATTERN, "<num>")
    return _unguarded_collapse(c)


def _split(c):
    return F.array_remove(F.split(c, " "), "")


def test_guarded_chain_equals_unguarded(spark):
    """Every pass's guard is a necessary condition for the pass to
    change its input, so the guarded columns equal the unguarded chain
    byte for byte, on NULL, empty and whitespace-only rows too; on the
    ASCII rows they equal the reference tokenizer."""
    texts = _guard_texts()
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    t = F.col("text")
    cols = {
        "norm_text": (parse.norm_text_col(t), _unguarded_norm_text(t)),
        "tokens": (parse.tokens_col(t), _split(_unguarded_norm_text(t))),
        "ws": (parse.ws_collapsed_col(t), _unguarded_collapse(F.lower(t))),
        "word_tokens": (parse.word_tokens_col(t), _split(_unguarded_collapse(F.lower(t)))),
    }
    rows = df.select(
        "id", *[c.alias(f"g_{k}") for k, (c, _) in cols.items()],
        *[c.alias(f"u_{k}") for k, (_, c) in cols.items()],
    ).orderBy("id").collect()
    assert len(rows) == len(texts)
    for k in cols:
        diff = [(texts[r["id"]], r[f"g_{k}"], r[f"u_{k}"])
                for r in rows if r[f"g_{k}"] != r[f"u_{k}"]]
        assert not diff, (k, diff[:5])
    norm = [r["u_norm_text"] or "" for r in rows]
    # the input reaches every pass with and without a match
    assert all(any(m in s for s in norm) for m in ("<hex>", "<ip>", "<num>"))
    lowered = [(t or "").lower() for t in texts]
    assert any("." in t and "<ip>" not in s for t, s in zip(lowered, norm))
    assert any("0x" in t and "<hex>" not in s for t, s in zip(lowered, norm))
    for r in rows:
        raw = texts[r["id"]]
        if raw is None or not raw.isascii():
            continue
        want = oracle.tokenize_line(raw)
        assert list(r["g_tokens"]) == want, raw
        assert r["g_norm_text"] == " ".join(want), raw
        assert r["g_ws"] == " ".join(raw.lower().split()), raw


def test_drop_empty_predicate_equivalence(spark):
    """r6 optimization: parse_stage filters on the cheap raw-text
    predicate has_token_col instead of size(tokens)>0 (which made
    Catalyst inline the whole mask-regex chain into the Filter). The
    two must keep exactly the same rows on adversarial inputs,
    including NULLs and unicode whitespace."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string"
    )
    cheap = sorted(r["id"] for r in parse_stage(df).select("id").collect())
    strict = sorted(
        r["id"]
        for r in _tokenized(df)
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
