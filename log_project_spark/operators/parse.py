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

Literal guards: two passes run only on the rows whose RAW text holds
a literal every match needs, and leave the others unchanged (CASE WHEN
probe THEN pass(c) ELSE c END), so the output is byte-identical to
running every pass on every row. The probes are byte-level `contains`
on the raw text. Lowercasing maps no code point into or out of '.' or
a Java `\\s` char (checked on the JVM over all of Unicode), and no
mask's span or literal holds whitespace or a '.' outside an ip span:
- the `\\s+` -> ' ' collapse runs FIRST, on the raw text, and changes
  it only where it holds two spaces in a row or one of \\t \\n \\x0B
  \\f \\r (Java's `\\s` is exactly those and the space); otherwise
  every whitespace run is one space already. Collapsing before the
  masks and lowercasing gives what collapsing after them gives: no
  mask matches or makes whitespace, every `\\s` char is a non-word
  char to the ip pattern's `\\b`, and whitespace is neither cased nor
  case-ignorable, so no lowercase context changes. The collapse's
  input is the raw column, so the CASE copies no other pass;
- ip needs a '.', which lowercasing and the hex mask neither create
  nor remove.
hex and num run on every row. A "0x"/"0X" probe for hex was measured
and left out: the hex pass is the cheapest of the four, and skipping
it on the 3 rows in 4 of the skew input without a hex value saved
less than the measurement's spread. Almost every log line holds a
digit, so num has no literal to skip on.

Two implementations with identical output:
- `tokens_col` / `norm_text_col` / `has_token_col` — native Catalyst
  expressions (regexp_replace/split): whole-stage codegen, no Python in
  the hot path. DEFAULT: `pipeline.parse_stage` composes them into the
  job's parse, and the declared queries parse through it.
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


# Java's `\s` minus the space, as one-byte binary literals: a string
# literal would print them raw and break the plan's lines
_CONTROL_WS = [bytes([b]) for b in b"\t\n\x0b\f\r"]


def _collapsed(text: Column) -> Column:
    """text with every run of Java-`\\s` replaced by one space: the
    collapse runs only on rows whose raw text holds two spaces in a
    row or a whitespace char other than the space."""
    raw = text.cast("binary")
    probe = text.contains("  ")
    for b in _CONTROL_WS:
        probe = probe | F.contains(raw, F.lit(b))
    return F.when(probe, F.regexp_replace(text, r"\s+", " ")).otherwise(text)


def _masked(text: Column) -> Column:
    """Collapsed, lowercased and masked, not yet trimmed (masking never
    matches whitespace, so one trim at the end strips what a strip
    first would). The ip pass runs only where the raw text holds a '.';
    its probe reads the raw text, never the pass's input, so whichever
    branch runs evaluates that input once, with or without Catalyst's
    subexpression elimination (a Filter does none)."""
    c = F.regexp_replace(F.lower(_collapsed(text)), HEX_PATTERN, "<hex>")
    c = F.when(text.contains("."), F.regexp_replace(c, IP_PATTERN, "<ip>")).otherwise(c)
    return F.regexp_replace(c, NUM_PATTERN, "<num>")


def tokens_col(text: Column) -> Column:
    """Masked token array (no empty tokens, like str.split()).

    Derived from the collapsed norm_text: after `\\s+` -> ' ' collapse
    and trim the delimiter is exactly one space, so the split is a
    single-char split whose only possible empty token is the one the
    empty string splits into, which array_remove drops. No higher-order
    filter() lambda anywhere (Catalyst interprets HOF lambdas per
    element — measured 6x slowdown), and norm_text is named once: a
    CASE that names it in its condition and its ELSE branch runs the
    mask chain twice per row wherever norm_text is not also projected
    (Catalyst shares no work with a conditional branch)."""
    return F.array_remove(F.split(norm_text_col(text), " "), "")


def has_token_col(text: Column) -> Column:
    """Cheap predicate equivalent to `size(tokens_col(text)) > 0`.

    Proof of equivalence: tokens are the single-space split of
    trim(collapse(mask(lower(text)))). Lowercasing maps no character
    into or out of whitespace; each mask replaces non-whitespace spans
    with non-empty non-whitespace literals ('<hex>', '<ip>', '<num>');
    so the masked text contains a non-whitespace char iff the raw text
    does. The collapse/trim/split then yields >= 1 token iff a
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


def norm_text_col(text: Column) -> Column:
    """Masked, space-rejoined scoring text (reference joins token
    sequences back with " ": src/stream.py:135) ==
    " ".join(mask(line).split()). Collapsing `\\s+` to ' ' then
    trimming spaces is equivalent to strip-then-collapse and saves a
    regex pass (trim is a plain char scan)."""
    # trim strips only spaces, like btrim(_, ' '), but returns its
    # input uncopied when there is none to strip
    return F.trim(_masked(text))


def ws_collapsed_col(text: Column) -> Column:
    """Lowercased text with runs of whitespace collapsed to single
    spaces and ends trimmed (NO masking) — the 'norm' form the
    text-analysis/dedup operators tokenize from."""
    return F.trim(F.lower(_collapsed(text)))


def word_tokens_col(text: Column) -> Column:
    """Plain lowercase whitespace tokens (no masking), empty-safe.
    Same collapse-then-single-char-split trick as tokens_col, which
    also names the collapsed text once: no higher-order filter() lambda
    in the plan."""
    return F.array_remove(F.split(ws_collapsed_col(text), " "), "")


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


def with_tokens_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """`tokens` from `tokenize_pandas`; rows with no token are dropped."""
    out = df.withColumn("tokens", tokenize_pandas(F.col(text_col)))
    return out.where(F.size("tokens") > 0)
