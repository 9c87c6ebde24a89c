"""Distributed WordPiece tokenizer TRAINING (Schuster & Nakajima 2012;
the BERT tokenizer) — in-engine, with genuine ``##`` continuation
semantics.

Third mainstream tokenizer family next to BPE (operators/bpe_train.py)
and unigram-LM (operators/unigram_lm.py); the reference repo has no
tokenizer trainer at all (its text surface is functions/text.py's
pre-tokenizer).  Spark-first, same architecture as the BPE trainer:

- **Heavy state is the DISTINCT-WORD relation** (word, cnt, wrapped
  symbol sequence) — corpus-size-independent after one aggregation, so
  a 100 TB corpus trains at vocabulary cost.
- **WordPiece differs from BPE only in the merge objective**: each round
  picks the adjacent pair maximizing the likelihood ratio
  ``score = count(ab) / (count(a) * count(b))`` instead of the raw pair
  count (the published WordPiece criterion — merge the pair whose merge
  most increases corpus unigram-LM likelihood).  Cross-engine the score
  is the repo's quantized-transcendental form:
  ``score_q = floor((ln c_ab - ln c_a - ln c_b) * 1e6 + 0.5)`` (BIGINT
  micro-nats) with (score_q DESC, a ASC, b ASC) tie-breaks.
- **Continuation marking is real**: word-initial symbols are plain
  (``a``), word-internal symbols carry ``##`` (``##b``) — '#' cannot
  occur in a normalized token ([a-z0-9]), so the marker is collision
  free.  A merge of (a, ##b) spells ``a<b>`` with b's marker stripped,
  preserving a's initial/continuation status, exactly the BERT vocab
  convention.  Pair statistics therefore distinguish initial from
  continuation occurrences, as in the reference implementations.
- **Two aggregations per merge round** over the vocab relation (pair
  counts + symbol counts), one broadcast join, ONE argmax row to the
  driver — the gbt_train histogram-collect driver/cluster split.
- **The whole fit replays in SQL** (`fit_wordpiece_sql`): chained CTE
  rounds of pair-count -> symbol-count -> quantized-ln argmax -> literal
  replace, so the TRAINER is value-hash-checked cross-engine like
  fit_bpe_sql / fit_unigram_sql / the GBT training replay.

`wordpiece_apply` is canonical greedy longest-match-first inference
(HuggingFace WordPiece): one aggregate-HOF fold per word, map-only at
any scale; words with an uncovered character yield '[UNK]'.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.text import duckdb_tokens, tokens_sql
from inferdb_spark.operators.bpe_train import _pair_counts

MICRO = 1_000_000
UNK = "[UNK]"


def _wp_word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, seq): distinct words with counts and the initial
    WordPiece symbol sequence '|c1||##c2||##c3|...' — first char plain,
    the rest ##-marked; every symbol '|'-wrapped so a literal replace of
    '|a||b|' is the exact non-overlapping merge pass (see
    bpe_train._word_vocab for the wrapping argument)."""
    words = df.select(F.explode(F.expr(tokens_sql(f"`{text_col}`"))).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    syms = F.expr(
        "transform(sequence(1, length(word)), i -> "
        "case when i = 1 then substring(word, i, 1) "
        "else '##' || substring(word, i, 1) end)"
    )
    return vocab.withColumn(
        "seq", F.concat(F.lit("|"), F.array_join(syms, "||"), F.lit("|"))
    )


def _sym_counts(vocab: DataFrame) -> DataFrame:
    """(sym, n): current symbol occurrence counts weighted by word count
    — the unigram denominators of the WordPiece score."""
    syms = F.expr("split(trim(BOTH '|' FROM seq), '\\\\|\\\\|')")
    return (
        vocab.select(F.explode(syms).alias("sym"), F.col("cnt"))
        .groupBy("sym")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )


def _merged_spelling(a: str, b: str) -> str:
    """a + b with b's continuation marker stripped: ('ab','##c')->'abc',
    ('##a','##b')->'##ab' — a's initial/continuation status survives."""
    return a + (b[2:] if b.startswith("##") else b)


def fit_wordpiece_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    checkpoint_every: int = 4,
) -> tuple[list[tuple[str, str, int, int]], DataFrame]:
    """Learn `n_merges` WordPiece merges.  Returns (merges, final vocab
    relation); merges[i] = (a, b, pair_count, score_q) in learned order,
    score_q the quantized ln-likelihood-ratio the pair won with.

    Plan per round: one pair-count aggregation + one symbol-count
    aggregation over the vocab relation, numerator/denominator joined
    with the symbol relation broadcast (vocabulary-sized), then ONE
    argmax row to the driver.  Merge application is a literal replace —
    the corpus is never touched after the first aggregation."""
    from inferdb_spark.scale import rotate_local_checkpoint

    vocab = _wp_word_vocab(df, text_col).localCheckpoint()
    last_ckpt = vocab
    merges: list[tuple[str, str, int, int]] = []
    for r in range(int(n_merges)):
        syms = _sym_counts(vocab)
        scored = (
            _pair_counts(vocab)
            .join(F.broadcast(syms.select(F.col("sym").alias("a"),
                                          F.col("n").alias("_na"))), "a")
            .join(F.broadcast(syms.select(F.col("sym").alias("b"),
                                          F.col("n").alias("_nb"))), "b")
            .select(
                "a", "b", "c",
                F.floor(
                    (F.ln(F.col("c").cast("double"))
                     - F.ln(F.col("_na").cast("double"))
                     - F.ln(F.col("_nb").cast("double")))
                    * F.lit(float(MICRO))
                    + F.lit(0.5)
                ).cast("long").alias("score_q"),
            )
        )
        top = (
            scored.orderBy(F.desc("score_q"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b, int(top[0]["c"]), int(top[0]["score_q"])))
        vocab = vocab.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f"|{a}||{b}|"),
                F.lit(f"|{_merged_spelling(a, b)}|"),
            ),
        )
        if (r + 1) % checkpoint_every == 0:
            vocab = rotate_local_checkpoint(vocab, last_ckpt)
            last_ckpt = vocab
    return merges, vocab


def wordpiece_vocab(
    merges: list[tuple[str, str, int, int]], chars: list[str]
) -> list[str]:
    """The inference vocabulary: plain + ##-marked single chars, plus
    every merged spelling, in merge order."""
    base = list(chars) + [f"##{c}" for c in chars]
    return base + [_merged_spelling(a, b) for a, b, _, _ in merges]


def wordpiece_apply(
    word_col: Column, vocab: list[str], max_piece_len: int
) -> Column:
    """array<string> of WordPiece tokens for one normalized WORD column:
    canonical greedy longest-match-first — at each position take the
    LONGEST vocab piece (##-marked lookup when not word-initial), advance
    by its character length; any uncovered position makes the whole word
    ['[UNK]'] (the BERT rule).  One aggregate-HOF fold per word: a pure
    projection, map-only at any scale (the bpe_apply analog).  Ties/
    determinism: lookup is exact set membership, no scores."""
    L = int(max_piece_len)
    kv: list[Column] = []
    for p in sorted(set(vocab)):
        kv += [F.lit(p), F.lit(1)]
    m = F.create_map(*kv)
    w = word_col
    n = F.length(w)
    init = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit("").alias("seg"),
        F.lit(True).alias("ok"),
    )

    def step(acc: Column, i: Column) -> Column:
        # only the fold step where i == current position consumes a piece
        from inferdb_spark.functions.text import bind_once

        cands = []
        for l in range(L, 0, -1):
            raw = w.substr(i, F.lit(l))
            piece = F.when(i == 1, raw).otherwise(F.concat(F.lit("##"), raw))
            hit = (
                (i + F.lit(l) - 1 <= n)
                & F.element_at(m, piece).isNotNull()
            )
            cands.append(F.when(hit, piece))

        def with_best(best: Column) -> Column:
            advanced = F.struct(
                (
                    acc["pos"]
                    + F.length(best)
                    - F.when(i == 1, F.lit(0)).otherwise(F.lit(2))
                ).alias("pos"),
                F.concat(acc["seg"], F.lit("/"), best).alias("seg"),
                F.lit(True).alias("ok"),
            )
            dead = F.struct(
                acc["pos"].alias("pos"), acc["seg"].alias("seg"),
                F.lit(False).alias("ok"),
            )
            return (
                F.when(~acc["ok"] | (acc["pos"] != i), acc)
                .when(best.isNotNull(), advanced)
                .otherwise(dead)
            )

        # bind the L-lookup coalesce once — referenced 3x below
        return bind_once(
            F.coalesce(*cands, F.lit(None).cast("string")), with_best
        )

    def finish(acc: Column) -> Column:
        return F.when(
            acc["ok"] & (acc["pos"] == n + 1),
            F.split(F.substring(acc["seg"], 2, 1_000_000_000), "/"),
        ).otherwise(F.array(F.lit(UNK)))

    return F.aggregate(F.sequence(F.lit(1), n), init, step, finish)


# ---------------------------------------------------------------------------
# DuckDB training replay


def fit_wordpiece_sql(
    n_merges: int,
    table: str = "documents",
) -> str:
    """DuckDB oracle replaying the ENTIRE WordPiece fit: chained CTE
    rounds of pair-count -> symbol-count -> quantized-ln-ratio argmax ->
    literal replace, emitting the learned merge table
    (round, a, b, c, score_q).  Words come from :func:`duckdb_tokens`
    over `table`.text.  The coalesce('') exhaustion guard is the
    fit_bpe_sql one: an exhausted round degenerates the search pattern to
    '||||', which cannot occur in a wrapped-symbol seq, so later rounds
    pass through — matching the Spark early break."""
    sy = "string_split(trim(seq, '|'), '||')"
    pair_tpl = (
        "SELECT p.a, p.b, CAST(sum(cnt) AS BIGINT) AS c FROM ("
        "  SELECT cnt, unnest(list_transform("
        f"    generate_series(1, length({sy}) - 1),"
        f"    i -> struct_pack(a := {sy}[i],"
        f"                     b := {sy}[i+1]))) AS p"
        f"  FROM {{v}} WHERE length({sy}) >= 2"
        ") GROUP BY p.a, p.b"
    )
    sym_tpl = (
        "SELECT sym, CAST(sum(cnt) AS BIGINT) AS n FROM ("
        f"  SELECT cnt, unnest({sy}) AS sym FROM {{v}}"
        ") GROUP BY sym"
    )
    ctes = [
        f"w AS MATERIALIZED (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM (SELECT unnest({duckdb_tokens('text')}) AS t FROM {table}) GROUP BY t)",
        "v0 AS MATERIALIZED (SELECT word, cnt, '|' || array_to_string("
        "list_transform(generate_series(1, length(word)), i -> "
        "CASE WHEN i = 1 THEN substring(word, i, 1) "
        "ELSE '##' || substring(word, i, 1) END), '||') || '|' AS seq "
        "FROM w)",
    ]
    for r in range(int(n_merges)):
        ctes.append(f"p{r} AS MATERIALIZED ({pair_tpl.format(v=f'v{r}')})")
        ctes.append(f"s{r} AS MATERIALIZED ({sym_tpl.format(v=f'v{r}')})")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT a, b, c, score_q FROM ("
            f"SELECT p.a, p.b, p.c, "
            "CAST(floor((ln(CAST(p.c AS DOUBLE)) - ln(CAST(sa.n AS DOUBLE)) "
            "- ln(CAST(sb.n AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) "
            f"AS score_q FROM p{r} p "
            f"JOIN s{r} sa ON sa.sym = p.a JOIN s{r} sb ON sb.sym = p.b) "
            "ORDER BY score_q DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(
            f"v{r + 1} AS MATERIALIZED (SELECT word, cnt, "
            f"replace(seq, '|' || coalesce((SELECT a FROM b{r}), '') || '||' "
            f"|| coalesce((SELECT b FROM b{r}), '') || '|', "
            f"'|' || coalesce((SELECT a FROM b{r}), '') || "
            f"coalesce((SELECT regexp_replace(b, '^##', '') FROM b{r}), '') "
            f"|| '|') AS seq FROM v{r})"
        )
    union = " UNION ALL ".join(
        f"SELECT {r} AS round, a, b, c, score_q FROM b{r}"
        for r in range(int(n_merges))
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS INT) AS round, a, b, c, score_q "
        f"FROM ({union}) ORDER BY round"
    )


def wordpiece_segment_sql(
    vocab_cte: str,
    max_word_len: int,
    max_piece_len: int,
    words_cte: str = "w",
    fin_name: str = "fin",
) -> str:
    """DuckDB CTE chain replaying `wordpiece_apply` exactly: one CTE per
    character position carrying (word, pos, seg, ok) greedy state — at
    position i a live row with pos = i takes the LONGEST piece from
    `vocab_cte`(piece) (##-marked lookup when i > 1) and advances by its
    character length; no match kills the row (the '[UNK]' rule).  Ends in
    `fin_name`(word, cnt, pieces) with pieces = '[UNK]' for dead words.
    Expects `words_cte`(word, cnt) with words of length <=
    max_word_len."""
    L = int(max_piece_len)
    W = int(max_word_len)
    ctes = [
        f"g0 AS MATERIALIZED (SELECT word, cnt, CAST(1 AS BIGINT) AS pos, "
        f"'' AS seg, true AS ok FROM {words_cte})"
    ]
    for i in range(1, W + 1):
        picks = " ".join(
            f"WHEN {i} + {l} - 1 <= length(word) AND "
            f"(CASE WHEN {i} = 1 THEN substring(word, {i}, {l}) "
            f"ELSE '##' || substring(word, {i}, {l}) END) IN "
            f"(SELECT piece FROM {vocab_cte}) THEN {l}"
            for l in range(L, 0, -1)
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT word, cnt, "
            f"CASE WHEN ok AND pos = {i} AND pick IS NOT NULL "
            f"THEN pos + pick ELSE pos END AS pos, "
            f"CASE WHEN ok AND pos = {i} AND pick IS NOT NULL "
            f"THEN seg || '/' || (CASE WHEN {i} = 1 "
            f"THEN substring(word, {i}, pick) "
            f"ELSE '##' || substring(word, {i}, pick) END) "
            f"ELSE seg END AS seg, "
            # a finished word (pos = length+1) must survive later
            # positions: only a live in-word position with no match dies
            # (Spark's fold stops at length(word), the chain runs to W)
            f"CASE WHEN NOT ok THEN false "
            f"WHEN pos = {i} AND {i} <= length(word) "
            f"THEN pick IS NOT NULL ELSE ok END AS ok "
            f"FROM (SELECT *, CASE WHEN ok AND pos = {i} THEN CASE {picks} "
            f"END END AS pick FROM g{i - 1}))"
        )
    ctes.append(
        f"{fin_name} AS MATERIALIZED (SELECT word, cnt, "
        f"CASE WHEN ok AND pos = length(word) + 1 THEN substring(seg, 2) "
        f"ELSE '{UNK}' END AS pieces FROM g{W})"
    )
    return ",\n".join(ctes)
