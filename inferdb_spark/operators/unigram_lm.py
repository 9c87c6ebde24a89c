"""Unigram-LM (SentencePiece-style) tokenizer TRAINING — in-engine.

Kudo 2018 ("Subword Regularization", arXiv:1804.10959) trains a unigram
language model over subword pieces by EM: E-step Viterbi-segments the
corpus with the current piece scores, M-step re-estimates piece
log-probabilities from the segmentation counts, and low-value pieces are
pruned until the target vocabulary remains.  The reference repo has no
tokenizer trainer (this closes the second mainstream tokenizer family
next to operators/bpe_train.py), Spark-first:

- **Heavy state is the DISTINCT-WORD relation** (word, cnt) — exactly the
  bpe_train.py property: corpus-size-independent after one aggregation,
  so a 100 TB corpus trains at vocabulary cost.
- **The E-step is a pure projection**: Viterbi over a word is max-plus
  dynamic programming along at most |word| positions with pieces bounded
  by `max_piece_len` — expressed as ONE `aggregate` HOF over
  sequence(1, length(word)) carrying the DP table as the accumulator
  array.  No Python, no shuffle; segmentation of a fitted vocab is
  map-only at any scale (the bpe_apply analog).
- **The M-step is one groupBy** over exploded best-path pieces.
- **Driver traffic per round = the piece table** (vocab-sized — the
  gbt_train histogram-collect shape, not per-row traffic).
- **Bit-deterministic**: piece scores are BIGINT micro-nats
  (floor(ln(p)*1e6+0.5)); the DP is integer max-plus with the explicit
  tie-break (total score DESC, last-piece length DESC), so the best path
  replays identically in DuckDB (viterbi_sql unrolls the DP as one CTE
  per position — the gbt_train/fit_bpe_sql training-replay pattern).

At real vocab sizes (32k) the literal score map in the segmentation
expression should be swapped for the equi-join candidate generation
(match relation JOIN pieces ON substring), keeping the identical DP; the
gate exercises the literal-map form.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _score_map(pieces: dict[str, int]) -> Column:
    kv: list[Column] = []
    for p, s in sorted(pieces.items()):
        kv += [F.lit(p), F.lit(int(s)).cast("long")]
    return F.create_map(*kv)


def unigram_viterbi(
    word_col: Column, pieces: dict[str, int], max_piece_len: int
) -> Column:
    """struct(score_q, seg): the max-plus Viterbi segmentation of a word
    under literal integer piece scores.  seg is the '/'-joined best path;
    ties break (score DESC, last-piece length DESC) — positionally
    greedy-longest among equal-score paths, matching viterbi_sql's
    `ORDER BY q DESC, l DESC` exactly.  NULL when the word has a
    character outside the piece inventory (keep all single chars in
    `pieces` for guaranteed coverage)."""
    L = int(max_piece_len)
    m = _score_map(pieces)
    w = word_col
    n = F.length(w)
    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("q"),
            F.lit(0).cast("long").alias("l"),
            F.lit("").alias("seg"),
        )
    )

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for l in range(1, L + 1):
            prev = F.element_at(acc, F.greatest(i - F.lit(l) + 1, F.lit(1)))
            piece = w.substr(i - F.lit(l) + 1, F.lit(l))
            s = F.element_at(m, piece)
            cands.append(
                F.when(
                    (i >= F.lit(l)) & prev.isNotNull() & s.isNotNull(),
                    F.struct(
                        (prev["q"] + s).alias("q"),
                        F.lit(l).cast("long").alias("l"),
                        F.concat(prev["seg"], F.lit("/"), piece).alias("seg"),
                    ),
                )
            )
        best = F.array_max(F.filter(F.array(*cands), lambda c: c.isNotNull()))
        return F.concat(acc, F.array(best))

    def finish(acc: Column) -> Column:
        last = F.element_at(acc, n + 1)
        return F.when(
            last.isNotNull(),
            F.struct(
                last["q"].alias("score_q"),
                F.substring(last["seg"], 2, 1_000_000).alias("seg"),
            ),
        )

    return F.aggregate(F.sequence(F.lit(1), n), init, step, finish)


def unigram_em_round(
    words: DataFrame,
    pieces: dict[str, int],
    max_piece_len: int,
    word_col: str = "word",
    cnt_col: str = "cnt",
) -> DataFrame:
    """One EM round over the (word, cnt) relation: Viterbi E-step
    (projection), piece-count M-step (one groupBy).  Returns
    (piece, n, score_q) with score_q = floor((ln n − ln Σn)·1e6 + 0.5)
    — the quantized unigram log-probability.  Pieces never used by any
    best path drop out (n = 0); `fit_unigram_lm` re-adds mandatory
    single chars."""
    vit = unigram_viterbi(F.col(word_col), pieces, max_piece_len)
    # materialize the vocab-sized segmentation relation: (a) the Viterbi
    # aggregate-HOF subtree would otherwise be INLINED into every
    # downstream consumer (the null filter, the split, the explode) and
    # re-evaluated interpreted per reference — the bind_once trap; (b) the
    # two consumers below (piece counts and the total) would each re-run
    # the corpus tokenization scan.  One scan, one DP pass, 10x faster.
    seg = words.select(
        F.col(cnt_col).alias("_cnt"), vit.alias("_v")
    ).localCheckpoint()
    # reduce to the vocab-sized count relation eagerly, then release the
    # corpus-sized segmentation checkpoint — otherwise each EM round
    # leaks one corpus-scale block set until py4j GC (the trainer
    # repeat-execution degradation; see scale.free_local_checkpoint)
    from inferdb_spark.scale import rotate_local_checkpoint

    counts = rotate_local_checkpoint(
        seg.where(F.col("_v").isNotNull())
        .select("_cnt", F.explode(F.split(F.col("_v.seg"), "/")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("_cnt").cast("long").alias("n")),
        seg,
    )
    tot = counts.agg(F.sum("n").cast("long").alias("tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "n",
        F.floor(
            (F.ln(F.col("n").cast("double")) - F.ln(F.col("tot").cast("double")))
            * F.lit(float(MICRO))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("score_q"),
    )


def _quantize_ln_ratio(n: int, tot: int) -> int:
    return int(math.floor((math.log(n) - math.log(tot)) * MICRO + 0.5))


def fit_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    n_rounds: int = 3,
    max_piece_len: int = 4,
    seed_multi: int = 24,
    target_multi: int = 12,
    max_word_len: int | None = None,
) -> list[tuple[str, int, int]]:
    """Full unigram-LM fit: seed (all single chars + the `seed_multi`
    highest-weighted substrings of length 2..max_piece_len), then
    `n_rounds` of EM with pruning — after each round the multi-char
    inventory keeps the top max(target_multi, ceil(3/4·current)) pieces
    by (n DESC, piece ASC); single chars are never pruned (coverage).
    `max_word_len` drops longer words from the (word, cnt) relation —
    the bound `fit_unigram_sql` unrolls its per-position DP to (and, at
    real scale, the SentencePiece `max_sentencepiece_length` analog).

    Returns the final piece table [(piece, n, score_q)] ordered
    (n DESC, piece ASC).  Driver traffic: one vocab-sized piece table
    per round (pytest checks exact equality against a pure-Python twin).
    """
    from inferdb_spark.functions.text import tokens_sql

    L = int(max_piece_len)
    words = df.select(F.explode(F.expr(tokens_sql(f"`{text_col}`"))).alias("word"))
    if max_word_len is not None:
        words = words.where(F.length("word") <= int(max_word_len))
    words = (
        words.groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    subs = (
        words.select(
            "cnt",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(2, {L}), l -> "
                    f"case when i + l - 1 <= length(word) "
                    f"then substring(word, i, l) end)))"
                )
            ).alias("piece"),
        )
        .where(F.col("piece").isNotNull())
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("w"))
        .orderBy(F.desc("w"), F.asc("piece"))
        .limit(int(seed_multi))
        .collect()
    )
    chars = (
        words.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)), "
                    "i -> substring(word, i, 1))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("w"))
        .collect()
    )
    char_set = {r["piece"] for r in chars}
    weights = {r["piece"]: int(r["w"]) for r in chars}
    weights.update({r["piece"]: int(r["w"]) for r in subs})
    tot0 = sum(weights.values())
    pieces = {p: _quantize_ln_ratio(w, tot0) for p, w in weights.items()}

    table: list[tuple[str, int, int]] = []
    from inferdb_spark.scale import free_plan_checkpoints

    for _ in range(n_rounds):
        rnd = unigram_em_round(words, pieces, L)
        rows = rnd.collect()
        # the round result's only leaf is its internal counts checkpoint
        # (seg was already rotated away); collected -> release it
        free_plan_checkpoints(rnd)
        got = {r["piece"]: (int(r["n"]), int(r["score_q"])) for r in rows}
        multis = sorted(
            ((p, n, s) for p, (n, s) in got.items() if p not in char_set),
            key=lambda t: (-t[1], t[0]),
        )
        cur = len([p for p in pieces if p not in char_set])
        keep_n = max(int(target_multi), -(-3 * cur // 4))
        kept = multis[:keep_n]
        tot = sum(n for _, (n, _) in got.items())
        pieces = {p: s for p, _, s in kept}
        table = sorted(
            [(p, n, s) for p, n, s in kept]
            + [
                (
                    c,
                    got.get(c, (0, 0))[0],
                    got[c][1]
                    if c in got
                    # unused char: Laplace floor at count 1 of the same total
                    else _quantize_ln_ratio(1, max(tot, 1)),
                )
                for c in sorted(char_set)
            ],
            key=lambda t: (-t[1], t[0]),
        )
        pieces.update({p: s for p, _, s in table if p in char_set})
    from inferdb_spark.scale import free_local_checkpoint

    free_local_checkpoint(words)
    return table


def viterbi_sql(
    max_word_len: int,
    max_piece_len: int,
    words_cte: str = "w",
    pieces_cte: str = "ps",
    prefix: str = "b",
    fin_name: str = "fin",
) -> str:
    """DuckDB CTE chain replaying `unigram_viterbi` exactly: one CTE per
    position (max-plus DP; candidates join `pieces_cte`(piece, score_q)
    on the literal substring; best by ORDER BY q DESC, l DESC), ending in
    `fin_name`(word, cnt, q, seg).  Expects `words_cte`(word, cnt) with
    words of length <= max_word_len.  `prefix`/`fin_name` namespace the
    CTEs so fit_unigram_sql can chain one full DP per EM round.  The
    fit_bpe_sql / gbt training-replay pattern applied to segmentation."""
    L = int(max_piece_len)
    W = int(max_word_len)
    # every {prefix}{i} is referenced by up to max_piece_len later
    # positions — MATERIALIZED is load-bearing (an inlined chain
    # re-expands the whole DP prefix per reference: exponential; the
    # fit_bpe_sql rule)
    ctes = [
        f"{prefix}0 AS MATERIALIZED (SELECT word, cnt, CAST(0 AS BIGINT) AS q, "
        f"'' AS seg FROM {words_cte})"
    ]
    for i in range(1, W + 1):
        cands = " UNION ALL ".join(
            f"SELECT b.word, b.cnt, b.q + ps.score_q AS q, {l} AS l, "
            f"b.seg || '/' || substring(b.word, {i - l + 1}, {l}) AS seg "
            f"FROM {prefix}{i - l} b JOIN {pieces_cte} ps "
            f"ON ps.piece = substring(b.word, {i - l + 1}, {l}) "
            f"WHERE length(b.word) >= {i}"
            for l in range(1, min(L, i) + 1)
        )
        ctes.append(
            f"{prefix}{i} AS MATERIALIZED (SELECT word, cnt, q, seg FROM ("
            f"SELECT word, cnt, q, seg, row_number() OVER ("
            f"PARTITION BY word ORDER BY q DESC, l DESC) AS rn "
            f"FROM ({cands})) WHERE rn = 1)"
        )
    fin = " UNION ALL ".join(
        f"SELECT word, cnt, q, seg FROM {prefix}{i} WHERE length(word) = {i}"
        for i in range(1, W + 1)
    )
    ctes.append(f"{fin_name} AS MATERIALIZED ({fin})")
    return ",\n".join(ctes)


def fit_unigram_sql(
    n_rounds: int,
    max_word_len: int,
    max_piece_len: int,
    seed_multi: int,
    target_multi: int,
    words_cte: str = "w",
) -> str:
    """DuckDB CTE chain replaying the ENTIRE `fit_unigram_lm` loop —
    seeding (char weights + top-`seed_multi` substrings), then one full
    Viterbi DP + count + prune round per EM iteration — ending in
    `tb{n_rounds}`(piece, n, score_q), the trainer's final piece table.
    The gbt_train / fit_bpe_sql pattern: the TRAINER itself is
    hash-checked cross-engine, not just one step.  Expects
    `words_cte`(word, cnt).  All pruning decisions are integer
    (n DESC, piece ASC) ranks; scores quantize ln differences to
    micro-nats before any comparison."""
    L = int(max_piece_len)
    W = int(max_word_len)
    R = int(n_rounds)
    ctes: list[str] = []
    # seeding: per-char weights (chw doubles as the never-pruned char set)
    ctes.append(
        "chw AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS wt "
        "FROM (SELECT cnt, unnest(list_transform(generate_series(1, "
        f"length(word)), i -> substring(word, i, 1))) AS piece FROM {words_cte}) "
        "GROUP BY piece)"
    )
    ctes.append(
        "sbw AS MATERIALIZED (SELECT piece, wt FROM ("
        "SELECT piece, CAST(sum(cnt) AS BIGINT) AS wt, "
        "row_number() OVER (ORDER BY sum(cnt) DESC, piece) AS rn "
        "FROM (SELECT cnt, unnest(flatten(list_transform("
        "generate_series(1, length(word)), i -> list_transform("
        f"generate_series(2, {L}), l -> CASE WHEN i + l - 1 <= length(word) "
        f"THEN substring(word, i, l) END)))) AS piece FROM {words_cte}) "
        "WHERE piece IS NOT NULL GROUP BY piece) "
        f"WHERE rn <= {int(seed_multi)})"
    )
    ctes.append(
        "t0 AS (SELECT (SELECT sum(wt) FROM chw) + (SELECT sum(wt) FROM sbw)"
        " AS tot)"
    )
    ctes.append(
        "ps0 AS MATERIALIZED (SELECT piece, CAST(floor((ln(CAST(wt AS DOUBLE))"
        " - ln(CAST(tot AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS score_q "
        "FROM (SELECT piece, wt FROM chw UNION ALL SELECT piece, wt FROM sbw) "
        "u, t0)"
    )
    qln = (
        "CAST(floor((ln(CAST({num} AS DOUBLE)) - ln(CAST({den} AS DOUBLE)))"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )
    for r in range(1, R + 1):
        ctes.append(
            viterbi_sql(
                W, L, words_cte=words_cte, pieces_cte=f"ps{r - 1}",
                prefix=f"r{r}b", fin_name=f"r{r}fin",
            )
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) "
            "AS n FROM (SELECT cnt, unnest(string_split(substring(seg, 2), "
            f"'/')) AS piece FROM r{r}fin) GROUP BY piece)"
        )
        ctes.append(f"t{r} AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c{r})")
        # keep_n = max(target_multi, ceil(3/4 * |multi pieces in ps_{r-1}|))
        ctes.append(
            f"k{r} AS (SELECT greatest({int(target_multi)}, "
            f"(3 * (SELECT count(*) FROM ps{r - 1} WHERE length(piece) >= 2)"
            " + 3) // 4) AS kn)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT piece, n, "
            + qln.format(num="n", den="tot")
            + " AS score_q FROM (SELECT piece, n, row_number() OVER ("
            f"ORDER BY n DESC, piece) AS rn FROM c{r} WHERE "
            f"length(piece) >= 2), t{r}, k{r} WHERE rn <= kn)"
        )
        ctes.append(
            f"ch{r} AS MATERIALIZED (SELECT cs.piece, "
            f"CAST(COALESCE(c.n, 0) AS BIGINT) AS n, "
            "CASE WHEN c.piece IS NOT NULL THEN "
            + qln.format(num="c.n", den="t.tot")
            + " ELSE "
            + qln.format(num="1", den="greatest(t.tot, 1)")
            + f" END AS score_q FROM chw cs LEFT JOIN c{r} c "
            f"ON c.piece = cs.piece CROSS JOIN t{r} t)"
        )
        ctes.append(
            f"tb{r} AS MATERIALIZED (SELECT * FROM m{r} "
            f"UNION ALL SELECT * FROM ch{r})"
        )
        ctes.append(
            f"ps{r} AS MATERIALIZED (SELECT piece, score_q FROM tb{r})"
        )
    return ",\n".join(ctes)
