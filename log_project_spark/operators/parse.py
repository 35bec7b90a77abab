"""Parse stage: normalize -> mask -> tokenize (SURVEY.md P1-P6).

Reference semantics (/root/reference/src/log_tokenize.py:7-17):
    line.rstrip("\\n").strip().lower()
    0x[0-9A-Fa-f]+  -> <hex>     (FIRST)
    \\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b -> <ip>  (SECOND)
    \\d+             -> <num>     (LAST)
then whitespace split, dropping empty tokens; lines with zero tokens
are dropped (/root/reference/src/log_tokenize.py:26-29).

Mask order is a correctness invariant: hex before num so `0xDEAD`
never half-matches, ip before num so `10.0.0.5` stays one `<ip>`
token instead of `<num>.<num>.<num>.<num>`.

Two implementations with identical output:
- `with_tokens` — native Catalyst expressions (regexp_replace/split/
  filter): whole-stage codegen, no Python in the hot path. DEFAULT.
- `with_tokens_pandas` — Arrow-vectorized pandas UDF doing the same
  chain with pandas .str ops, kept for the "grok/regex parse via
  Arrow UDFs" contract surface and as a perf comparison point.

Known divergence: Java/RE2 `\\s` is ASCII-only while Python's is
Unicode-aware, so exotic Unicode whitespace (U+00A0 etc.) tokenizes
differently between the native path and the reference/pandas path.
Log lines are ASCII in practice; use the pandas variant when Unicode
whitespace fidelity matters.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HEX_PATTERN = r"0x[0-9A-Fa-f]+"
IP_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
NUM_PATTERN = r"\d+"


def _masked_unstripped(text: Column) -> Column:
    """Mask chain WITHOUT the strip pass (whitespace handled later by
    collapse+btrim — masking never matches whitespace and lowercasing
    never creates/destroys it, so the passes commute)."""
    c = F.lower(text)
    c = F.regexp_replace(c, HEX_PATTERN, "<hex>")
    c = F.regexp_replace(c, IP_PATTERN, "<ip>")
    c = F.regexp_replace(c, NUM_PATTERN, "<num>")
    return c


def tokens_col(text: Column) -> Column:
    """Masked token array (no empty tokens, like str.split()).

    Derived from the collapsed norm_text: after `\\s+` -> ' ' collapse
    and btrim the delimiter is exactly one space, so the split is a
    single-char split and the empty string maps to []. No higher-order
    filter() lambda anywhere (Catalyst interprets HOF lambdas per
    element — measured 6x slowdown)."""
    norm = norm_text_col(text)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def has_token_col(text: Column) -> Column:
    """Cheap predicate equivalent to `size(tokens_col(text)) > 0`.

    Proof of equivalence: tokens are the single-space split of
    btrim(collapse(mask(lower(text)))). Lowercasing maps no character
    into or out of whitespace; each mask replaces non-whitespace spans
    with non-empty non-whitespace literals ('<hex>', '<ip>', '<num>');
    so the masked text contains a non-whitespace char iff the raw text
    does. The collapse/btrim/split then yields >= 1 token iff a
    non-whitespace char survives. Hence: any Java-`\\S` match on the
    RAW text <=> non-empty token array. NULL propagates to NULL on
    both forms (row dropped either way).

    Why it matters (guide §2.3/§4.4): filtering on size(tokens) makes
    Catalyst substitute the full 4-pass regex chain into the Filter —
    the chain then runs TWICE per surviving row (filter copy +
    projection copy) and the filter copy is pushed below any
    repartition, pinning the expensive work at raw-scan parallelism.
    This predicate costs one trivial regex probe, pushes to the scan,
    and leaves the mask chain evaluated exactly once, above any
    spread exchange."""
    return text.rlike(r"\S")


def with_tokens(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "tokens",
    drop_empty: bool = True,
) -> DataFrame:
    """Add masked-token array column; optionally drop token-less rows
    (the reference skips them: src/log_tokenize.py:28-29)."""
    out = df.withColumn(out_col, tokens_col(F.col(text_col)))
    if drop_empty:
        out = out.where(has_token_col(F.col(text_col)))
    return out


def norm_text_col(text: Column) -> Column:
    """Masked, space-rejoined scoring text (reference joins token
    sequences back with " ": src/stream.py:135) ==
    " ".join(mask(line).split()). Collapsing `\\s+` to ' ' then
    btrimming spaces is equivalent to strip-then-collapse and saves a
    regex pass (btrim is a plain char scan)."""
    return F.btrim(F.regexp_replace(_masked_unstripped(text), r"\s+", " "), F.lit(" "))


def ws_collapsed_col(text: Column) -> Column:
    """Lowercased text with runs of whitespace collapsed to single
    spaces and ends trimmed (NO masking) — the 'norm' form the
    text-analysis/dedup operators tokenize from."""
    return F.btrim(F.regexp_replace(F.lower(text), r"\s+", " "), F.lit(" "))


def word_tokens_col(text: Column) -> Column:
    """Plain lowercase whitespace tokens (no masking), empty-safe.
    Same collapse-then-single-char-split trick as tokens_col: no
    higher-order filter() lambda in the plan."""
    norm = ws_collapsed_col(text)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(F.split(norm, " "))


# ---------------------------------------------------------------------------
# n-grams: the one builder every gram-reading operator uses
# ---------------------------------------------------------------------------

def ngram_windows(tokens: Column, n: int) -> Column:
    """array<struct<0, ..., n-1>>: one struct per n-token window of
    `tokens`, in token order; [] when there are fewer than n tokens.

    Pure codegen: arrays_zip over n slices, where slice j (length
    size-n+1) contributes token i+j to window i — no higher-order
    lambda, which Catalyst would interpret per element (~45 us/gram
    measured: 125 s for 2.75M grams at sf1 vs 2.3 s for this form).

    The expression is TOTAL (CASE-guarded), not merely protected by a
    caller's row filter: a downstream explode() pushes its
    `size(...) > 0` predicate into the same Filter as any size >= n
    guard, Spark may evaluate the conjuncts in either order, and an
    unguarded slice of negative length throws at runtime on a short
    row."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    size = F.size(tokens)
    zipped = F.arrays_zip(*[F.slice(tokens, j + 1, size - (n - 1)) for j in range(n)])
    return F.when(size >= n, zipped).otherwise(F.array())


def ngram_text(window: Column, n: int) -> Column:
    """One `ngram_windows` element as gram text: its n tokens joined
    by single spaces — the package's only spelling of a gram."""
    return F.concat_ws(" ", *[window.getField(str(j)) for j in range(n)])


# ---------------------------------------------------------------------------
# Arrow/pandas-UDF variant (same output, Python vectorized path)
# ---------------------------------------------------------------------------

def _normalize_series(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.strip().str.lower()
    out = out.str.replace(HEX_PATTERN, "<hex>", regex=True)
    out = out.str.replace(IP_PATTERN, "<ip>", regex=True)
    out = out.str.replace(NUM_PATTERN, "<num>", regex=True)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_pandas(s: pd.Series) -> pd.Series:
    return _normalize_series(s).str.split()


def with_tokens_pandas(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "tokens",
    drop_empty: bool = True,
) -> DataFrame:
    out = df.withColumn(out_col, tokenize_pandas(F.col(text_col)))
    if drop_empty:
        out = out.where(F.size(F.col(out_col)) > 0)
    return out
