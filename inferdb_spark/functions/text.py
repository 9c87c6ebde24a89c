"""Text primitives for the data-prep operators (dedup, quality, lang-id).

All pure JVM-side regex/array expressions, so they vectorize and have
exact DuckDB-SQL oracles.  Tokenization = lowercase, strip
non-alphanumerics, split on whitespace — deliberately simple and portable.
The word tokenizer (`normalize_sql`, `tokens_sql`) and the n-gram
shingles (`*_ngrams_sql`) exist only as SQL text, wrapped in F.expr by
callers; `duckdb_normalize`/`duckdb_tokens` are its DuckDB-dialect
oracle form.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small english stopword list (public, standard); kept short so the
# oracle SQL can inline it
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "was", "for", "on", "are", "as", "with", "be", "by",
]

WORD_SPLIT_RE = r"\s+"


def bind_once(col: Column, build) -> Column:
    """Evaluate `col` once and feed it to `build` as a higher-order-function
    lambda variable.

    Catalyst inlines projection aliases into consumers, so an expensive
    subtree (normalize = 2 regex passes) referenced inside a per-element
    lambda would otherwise re-execute for EVERY array element.  Wrapping it
    as the single element of an array and `transform`ing binds the computed
    value to a lambda variable — lambda-var reads are free.  (Measured 40×
    on minhash shingling.)
    """
    return F.element_at(F.transform(F.array(col), build), 1)


# --- SQL-text expressions ----------------------------------------------
# The word tokenizer, the n-gram shingles and the fingerprints built on
# them in operators/dedup.py are written once, as SQL text: callers wrap
# them in F.expr, so a hot call site pays ONE JVM-side parse instead of
# hundreds of py4j round trips per construction.  `expr` is a SQL
# expression, usually a backquoted column name.

_EMPTY_STR_ARR = "CAST(array() AS ARRAY<STRING>)"


def normalize_sql(expr: str) -> str:
    """lowercase + keep [a-z0-9 ] + collapse space runs + trim."""
    return (
        "trim(regexp_replace(regexp_replace(lower("
        + expr
        + "), '[^a-z0-9 ]', ' '), ' +', ' '))"
    )


def _split_sql(n: str) -> str:
    """The already-normalized text `n` split on single spaces, an empty
    array for blank text."""
    return (
        f"CASE WHEN length({n}) = 0 THEN {_EMPTY_STR_ARR} "
        f"ELSE split({n}, ' ') END"
    )


def tokens_sql(expr: str) -> str:
    """array<string> of normalized word tokens (empty array for blank
    text)."""
    return _split_sql(normalize_sql(expr))


def char_ngrams_sql(expr: str, n: int) -> str:
    """array<string> of character n-grams over the normalized text
    (shingling for minhash / jaccard): substring over a position range.

    The normalized text is bound once as the lambda variable `nv` (the
    :func:`bind_once` shape), so its two regex passes run once per row
    rather than once per gram.  Text shorter than n yields an empty array
    — `sequence(1, 0)` would step DOWN instead of going empty."""
    inner = (
        f"CASE WHEN length(nv) >= {n} "
        f"THEN transform(sequence(1, length(nv) - {n - 1}), "
        f"i -> substring(nv, i, {n})) "
        f"ELSE {_EMPTY_STR_ARR} END"
    )
    return (
        f"element_at(transform(array({normalize_sql(expr)}), "
        f"nv -> {inner}), 1)"
    )


def word_ngrams_sql(expr: str, n: int) -> str:
    """array<string> of space-joined word n-grams over :func:`tokens_sql`
    (n-gram Jaccard, boilerplate and overlap postings).  The token array
    is bound once as the lambda variable `tv` (the :func:`bind_once`
    shape); documents with fewer than n tokens yield an empty array."""
    inner = (
        f"CASE WHEN size(tv) >= {n} "
        f"THEN transform(sequence(1, size(tv) - {n - 1}), "
        f"i -> concat_ws(' ', slice(tv, i, {n}))) "
        f"ELSE {_EMPTY_STR_ARR} END"
    )
    return (
        f"element_at(transform(array({tokens_sql(expr)}), "
        f"tv -> {inner}), 1)"
    )


def stopword_ratio(expr: str) -> Column:
    t = F.expr(tokens_sql(expr))
    sw = F.size(F.filter(t, lambda w: w.isin(STOPWORDS)))
    return F.when(F.size(t) > 0, sw / F.size(t)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = F.length(F.regexp_replace(col, "[^.,;:!?]", ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def alpha_ratio(col: Column) -> Column:
    total = F.length(col)
    alpha = F.length(F.regexp_replace(F.lower(col), "[^a-z]", ""))
    return F.when(total > 0, alpha / total).otherwise(F.lit(0.0))


def mean_word_length(expr: str) -> Column:
    t = F.expr(tokens_sql(expr))
    return F.when(
        F.size(t) > 0,
        F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.size(t),
    ).otherwise(F.lit(0.0))


def text_stats(expr: str) -> Column:
    """Fused text statistics in ONE normalize + ONE token pass:
    struct(n_tokens, stopword_hits, char_sum).

    The individual metric functions above each re-run normalize (2 regex
    passes) — fine standalone, 4× wasteful when computing a metric panel.
    The normalized text is bound once as `nv` and its token array as `t`
    (the :func:`bind_once` shape).  Ratios derive from the struct fields
    afterwards.
    """
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    stats = (
        "named_struct('n_tokens', size(t), "
        f"'stopword_hits', size(filter(t, w -> w IN ({sw}))), "
        "'char_sum', aggregate(t, 0, (acc, w) -> acc + length(w)))"
    )
    toks = f"element_at(transform(array({_split_sql('nv')}), t -> {stats}), 1)"
    return F.expr(
        f"element_at(transform(array({normalize_sql(expr)}), nv -> {toks}), 1)"
    )


# --- DuckDB oracle form of the word tokenizer ----------------------------


def duckdb_normalize(expr: str) -> str:
    """DuckDB SQL of :func:`normalize_sql`."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), '[^a-z0-9 ]', ' ', 'g'),"
        " ' +', ' ', 'g'))"
    )


def duckdb_tokens(expr: str) -> str:
    """DuckDB SQL of :func:`tokens_sql`."""
    n = duckdb_normalize(expr)
    return (
        f"(CASE WHEN length({n}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({n}, ' ') END)"
    )


# GPT-2-style pre-tokenizer pattern, restricted to a lookahead-free subset
# so the SAME pattern runs on Java regex (Spark) and RE2 (DuckDB): English
# contractions, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs.  Both engines use leftmost-first alternation.
BPE_SPLIT_RE = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9'\\s]+|\\s+"


def bpe_tokens(col: Column) -> Column:
    """array<string> of BPE-style pre-tokens over the lowercased text —
    the subword-tokenizer-shaped counting basis (a real BPE merges these
    further; pre-token count is the standard cheap proxy)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-style pre-tokens, excluding pure-whitespace matches."""
    toks = bpe_tokens(col)
    return F.size(F.filter(toks, lambda t: F.trim(t) != ""))
