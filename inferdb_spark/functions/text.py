"""Text primitives for the data-prep operators (dedup, quality, lang-id).

All pure JVM-side regex/array expressions, so they vectorize and have
exact DuckDB-SQL oracles.  Tokenization = lowercase, strip
non-alphanumerics, split on whitespace — deliberately simple and portable.
The n-gram shingles exist only as SQL text (`*_ngrams_sql`, wrapped in
F.expr by callers); `normalize` and `tokens` still have a Column form
next to their SQL text because Column code composes them.
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


def normalize(col: Column) -> Column:
    """lowercase + keep [a-z0-9 ] + collapse whitespace + trim."""
    c = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """array<string> of normalized word tokens (empty array for blank text)."""
    n = normalize(col)
    return F.when(F.length(n) == 0, F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# --- SQL-text expressions ----------------------------------------------
# The n-gram shingles (and the fingerprints built on them in
# operators/dedup.py) are written once, as SQL text: callers wrap them in
# F.expr, so a hot call site pays ONE JVM-side parse instead of hundreds
# of py4j round trips per construction.

_EMPTY_STR_ARR = "CAST(array() AS ARRAY<STRING>)"


def normalize_sql(expr: str) -> str:
    """SQL text of :func:`normalize` (same regex passes, same order)."""
    return (
        "trim(regexp_replace(regexp_replace(lower("
        + expr
        + "), '[^a-z0-9 ]', ' '), ' +', ' '))"
    )


def tokens_sql(expr: str) -> str:
    """SQL text of :func:`tokens`: the normalized text split on single
    spaces, an empty array for blank text."""
    n = normalize_sql(expr)
    return (
        f"CASE WHEN length({n}) = 0 THEN {_EMPTY_STR_ARR} "
        f"ELSE split({n}, ' ') END"
    )


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


def stopword_ratio(col: Column) -> Column:
    t = tokens(col)
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


def mean_word_length(col: Column) -> Column:
    t = tokens(col)
    return F.when(
        F.size(t) > 0,
        F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.size(t),
    ).otherwise(F.lit(0.0))


def text_stats(col: Column) -> Column:
    """Fused text statistics in ONE normalize + ONE token pass:
    struct(n_tokens, stopword_hits, char_sum).

    The individual metric functions above each re-run normalize (2 regex
    passes) — fine standalone, 4× wasteful when computing a metric panel.
    Ratios derive from the struct fields afterwards.
    """

    def with_tokens(t: Column) -> Column:
        return F.struct(
            F.size(t).alias("n_tokens"),
            F.size(F.filter(t, lambda w: w.isin(STOPWORDS))).alias("stopword_hits"),
            F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w)).alias(
                "char_sum"
            ),
        )

    def with_norm(norm: Column) -> Column:
        toks = F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
            F.split(norm, " ")
        )
        return F.element_at(F.transform(F.array(toks), with_tokens), 1)

    return bind_once(normalize(col), with_norm)


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
