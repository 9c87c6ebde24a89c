"""Round-4 LLM-training-data gates: exact substring dedup (Lee et al.
2022) and unigram-LM (SentencePiece-style) tokenizer training.

Same cross-engine discipline as gate_llm3: shared literals in both
dialects, integer/lexicographic decisions only (substring dedup is
float-free end to end), transcendental outputs quantized before any
ordering decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.text import duckdb_tokens
from inferdb_spark.gate import gate

SSD_K = 8  # token window width for exact-substring dedup


@gate(
    "substring_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, {duckdb_tokens('text')} AS a FROM documents),
    grams AS (
      SELECT doc_id, s.pos, s.gh FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, length(a) - {SSD_K} + 1),
                   i -> struct_pack(pos := i - 1,
                       gh := md5(array_to_string(a[i:i+{SSD_K - 1}], ' '))))) AS s
        FROM d WHERE length(a) >= {SSD_K})
    ),
    dup AS (
      SELECT doc_id, pos AS s, pos + {SSD_K - 1} AS e FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
        FROM grams) WHERE rn > 1
    ),
    isl AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_e
        FROM dup)
    ),
    spans AS (
      SELECT doc_id, island, min(s) AS s, max(e) AS e
      FROM isl GROUP BY doc_id, island
    ),
    covered AS (
      SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans
    ),
    toks AS (
      SELECT doc_id, s.pos, s.tok FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, length(a)),
                   i -> struct_pack(pos := i - 1, tok := a[i]))) AS s
        FROM d)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5(coalesce(r.text_clean, '')) AS clean_md5,
           CAST(length(d.a) AS BIGINT) AS n_tokens,
           CAST(length(d.a) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring removal (operators/textprep.
    substring_dedup; Lee et al. 2022 ExactSubstr at token 8-gram
    granularity): every k-token window whose content occurs earlier in
    global (doc_id, pos) order is excised; first occurrences survive.
    Corpus-linear plan — gram projection is map-only, first-occurrence is
    one groupBy on md5(gram) (128-bit key: no collisions at 100 TB gram
    counts), span merge is the gaps-and-islands window per doc.
    Float-free, so the rebuilt text hashes bit-identically."""
    from inferdb_spark.operators.textprep import substring_dedup

    d = load_table(spark, sf_dir, "documents")
    out = substring_dedup(d, "doc_id", "text", k=SSD_K)
    return out.select(
        "doc_id",
        F.md5(F.col("text_clean")).alias("clean_md5"),
        "n_tokens",
        "n_removed",
    )


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece) tokenizer: Viterbi segmentation + one EM round
# (operators/unigram_lm.py; Kudo 2018).  Fixed literal piece inventory in
# BOTH dialects; all DP decisions are integer max-plus with (q DESC,
# l DESC) tie-breaks, so the best path replays bit-identically.

UNI_L = 4  # max piece length
UNI_W = 12  # max word length the oracle DP unrolls to (corpus max is 8)
UNI_PIECES: dict[str, int] = {
    c: -3_000_000 - 997 * i
    for i, c in enumerate("abcdefghijklmnopqrstuvwxyz0123456789")
}
UNI_PIECES.update(
    {
        "th": -3_500_000, "he": -3_600_000, "the": -4_200_000,
        "er": -3_400_000, "or": -3_450_000, "ta": -3_470_000,
        "ab": -3_480_000, "le": -3_490_000, "tab": -5_000_000,
        "able": -6_000_000, "row": -4_900_000, "ord": -5_100_000,
        "der": -5_050_000, "ch": -3_430_000, "at": -3_460_000,
        "an": -3_440_000, "sc": -3_420_000, "ba": -3_410_000,
        "st": -3_405_000, "re": -3_415_000, "am": -3_425_000,
        "cust": -6_500_000, "om": -3_435_000, "mer": -5_200_000,
        "que": -5_300_000, "ry": -3_455_000, "in": -3_445_000,
        "dow": -5_150_000, "win": -5_250_000,
    }
)

_UNI_PS_SQL = ", ".join(
    f"('{p}', {s})" for p, s in sorted(UNI_PIECES.items())
)


def _uni_oracle(body: str) -> str:
    from inferdb_spark.operators.unigram_lm import viterbi_sql

    return (
        "WITH w AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest({duckdb_tokens('text')}) AS t FROM documents) "
        f"WHERE length(t) <= {UNI_W} GROUP BY t),\n"
        f"ps AS (SELECT * FROM (VALUES {_UNI_PS_SQL}) AS t(piece, score_q)),\n"
        + viterbi_sql(UNI_W, UNI_L)
        + "\n"
        + body
    )


@gate(
    "unigram_segment_apply",
    oracle=_uni_oracle(
        """
    SELECT word, substring(seg, 2) AS pieces,
           CAST(length(string_split(substring(seg, 2), '/')) AS BIGINT)
               AS n_pieces,
           q AS score_q
    FROM fin
    """
    ),
)
def q_unigram_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation with a FIXED literal piece
    inventory (operators/unigram_lm.unigram_viterbi): max-plus DP over
    integer micro-nat scores as ONE aggregate-HOF projection per word —
    map-only at any scale (the tokenize-the-corpus step of a fitted
    SentencePiece model).  The oracle unrolls the identical DP as one
    CTE per position with ORDER BY q DESC, l DESC argmax."""
    from inferdb_spark.operators.unigram_lm import unigram_viterbi

    d = load_table(spark, sf_dir, "documents")
    from inferdb_spark.functions.text import tokens_sql

    words = (
        d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("word"))
        .where(F.length("word") <= UNI_W)
        .distinct()
    )
    v = unigram_viterbi(F.col("word"), UNI_PIECES, UNI_L)
    return words.select("word", v.alias("_v")).select(
        "word",
        F.col("_v.seg").alias("pieces"),
        F.size(F.split(F.col("_v.seg"), "/")).cast("long").alias("n_pieces"),
        F.col("_v.score_q").cast("long").alias("score_q"),
    )


@gate(
    "unigram_em_round",
    oracle=_uni_oracle(
        """
    , cnts AS (
      SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
        SELECT cnt, unnest(string_split(substring(seg, 2), '/')) AS piece
        FROM fin)
      GROUP BY piece
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cnts)
    SELECT piece, n,
           CAST(floor((ln(CAST(n AS DOUBLE)) - ln(CAST(tot AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS score_q
    FROM cnts, tot
    """
    ),
)
def q_unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unigram-LM EM round over the corpus word relation
    (operators/unigram_lm.unigram_em_round): Viterbi E-step projection +
    one piece-count groupBy + quantized ln-ratio M-step — the
    training-replay gate for the SentencePiece trainer (the full
    multi-round fit with seeding/pruning is pytest-parity-checked against
    a pure-Python twin).  Per-round cluster cost is vocabulary-sized;
    driver sees one piece table per round."""
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.unigram_lm import unigram_em_round

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("word"))
        .where(F.length("word") <= UNI_W)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return unigram_em_round(words, UNI_PIECES, UNI_L).select(
        "piece",
        "n",
        F.col("score_q").cast("long").alias("score_q"),
    )


UFR_ROUNDS = 3  # EM rounds the full-fit replay unrolls


def _unigram_fit_oracle() -> str:
    from inferdb_spark.operators.unigram_lm import fit_unigram_sql

    return (
        "WITH w AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest({duckdb_tokens('text')}) AS t FROM documents) "
        f"WHERE length(t) <= {UNI_W} GROUP BY t),\n"
        + fit_unigram_sql(
            n_rounds=UFR_ROUNDS,
            max_word_len=UNI_W,
            max_piece_len=UNI_L,
            seed_multi=24,
            target_multi=12,
        )
        + f"\nSELECT piece, CAST(n AS BIGINT) AS n, "
        f"CAST(score_q AS BIGINT) AS score_q FROM tb{UFR_ROUNDS}"
    )


@gate("unigram_fit_replay", oracle=_unigram_fit_oracle())
def q_unigram_fit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) tokenizer training, FULL-fit
    hash-checked (operators/unigram_lm.fit_unigram_lm): seeding (char
    weights + top-24 substrings), then 3 EM rounds of Viterbi E-step /
    count M-step / (n DESC, piece ASC) pruning to max(12, ceil(3/4*cur))
    multis.  The oracle (fit_unigram_sql) replays the ENTIRE trainer —
    one chained DP + count + prune CTE block per round — so the trainer
    is cross-engine-verified end to end, like gbt_train_predict and
    bpe_fit_merges.  Cluster state per round is the vocab-sized piece
    table; the corpus is touched once per E-step."""
    from inferdb_spark.operators.unigram_lm import fit_unigram_lm

    d = load_table(spark, sf_dir, "documents")
    table = fit_unigram_lm(
        d,
        "text",
        n_rounds=UFR_ROUNDS,
        max_piece_len=UNI_L,
        seed_multi=24,
        target_multi=12,
        max_word_len=UNI_W,
    )
    return spark.createDataFrame(
        [(p, int(n), int(s)) for p, n, s in table],
        "piece: string, n: long, score_q: long",
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer):
# likelihood-ratio merge training with real ## continuation semantics, and
# greedy longest-match-first segmentation (operators/wordpiece_train.py).

WP_N_MERGES = 8


def _wordpiece_fit_oracle() -> str:
    from inferdb_spark.operators.wordpiece_train import fit_wordpiece_sql

    return fit_wordpiece_sql(WP_N_MERGES)


@gate("wordpiece_fit_merges", oracle=_wordpiece_fit_oracle())
def q_wordpiece_fit_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer TRAINING in-engine (operators/wordpiece_train.
    fit_wordpiece_merges): 8 merge rounds over the distinct-word relation,
    each picking the pair maximizing the quantized ln-likelihood ratio
    ln c_ab - ln c_a - ln c_b (micro-nats; (score DESC, a, b) tie-break)
    — the published WordPiece criterion, with genuine ## continuation
    symbols so initial and internal occurrences are distinct statistics.
    Two vocab-sized aggregations + one broadcast join per round; ONE
    argmax row to the driver.  The oracle replays the ENTIRE fit as
    chained CTEs, so the trainer is hash-checked like bpe_fit_merges /
    unigram_fit_replay."""
    from inferdb_spark.operators.wordpiece_train import fit_wordpiece_merges

    d = load_table(spark, sf_dir, "documents")
    merges, _ = fit_wordpiece_merges(d, "text", n_merges=WP_N_MERGES)
    return spark.createDataFrame(
        [(i, a, b, c, s) for i, (a, b, c, s) in enumerate(merges)],
        "round: int, a: string, b: string, c: long, score_q: long",
    )


# fixed literal inference vocab: all plain chars, all ## chars EXCEPT
# '##w' and '##z' (so words with an internal w die to '[UNK]' — the BERT
# uncovered-character rule fires on real corpus words like 'window'),
# plus multi-char pieces exercising greedy longest-match at both initial
# and continuation positions.
WP_L = 4
WP_VOCAB: list[str] = (
    [c for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + [f"##{c}" for c in "abcdefghijklmnopqrstuvxy0123456789"]
    + ["th", "##he", "the", "lin", "##ine", "win", "##ind", "qu",
       "##ue", "##ry", "or", "##rder", "##ble", "sc", "##hema"]
)

_WP_VOCAB_SQL = ", ".join(f"('{p}')" for p in sorted(set(WP_VOCAB)))


def _wordpiece_segment_oracle() -> str:
    from inferdb_spark.operators.wordpiece_train import wordpiece_segment_sql

    return (
        "WITH w AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest({duckdb_tokens('text')}) AS t FROM documents) "
        f"WHERE length(t) <= {UNI_W} GROUP BY t),\n"
        f"wpv AS (SELECT * FROM (VALUES {_WP_VOCAB_SQL}) AS t(piece)),\n"
        + wordpiece_segment_sql("wpv", UNI_W, WP_L)
        + "\nSELECT word, cnt, pieces, "
        "CAST(length(string_split(pieces, '/')) AS BIGINT) AS n_pieces "
        "FROM fin"
    )


@gate("wordpiece_segment_apply", oracle=_wordpiece_segment_oracle())
def q_wordpiece_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match-first segmentation with a FIXED
    literal vocab (operators/wordpiece_train.wordpiece_apply): one
    aggregate-HOF fold per word — at each position take the longest vocab
    piece (##-marked when not word-initial) or kill the word to '[UNK]'
    (the BERT rule; '##w' is deliberately absent from the vocab so it
    fires).  Map-only at any scale.  The oracle replays the greedy state
    machine one CTE per character position."""
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.wordpiece_train import wordpiece_apply

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("word"))
        .where(F.length("word") <= UNI_W)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    from inferdb_spark.functions.text import bind_once

    # bind the fold once — array_join and size would otherwise each
    # re-evaluate the whole greedy DP (projection-collapse inlining)
    out = bind_once(
        wordpiece_apply(F.col("word"), WP_VOCAB, WP_L),
        lambda t: F.struct(
            F.array_join(t, "/").alias("pieces"),
            F.size(t).cast("long").alias("n_pieces"),
        ),
    )
    return words.select("word", "cnt", out.alias("_o")).select(
        "word", "cnt", F.col("_o.pieces"), F.col("_o.n_pieces")
    )


# ---------------------------------------------------------------------------
# stupid-backoff trigram LM (KenLM-lite corpus quality filter; Brants 2007)
# train on doc_id % 10 != 0, score the held-out split so every backoff
# level genuinely fires (same-corpus training would make c123 always > 0)

TRI_QLN04 = -916291  # round(ln(0.4)*1e6) — must equal textprep.QLN_BACKOFF

_TRI_STRUCTS = (
    "list_transform(generate_series(1, len(t) - 2), "
    "i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]})"
)
_BI_STRUCTS = (
    "list_transform(generate_series(1, len(t) - 1), "
    "i -> {'w1': t[i], 'w2': t[i + 1]})"
)


def _tri_doc_scores_cte() -> str:
    """Shared CTE chain ending in docsc(doc_id, n_trigrams, n_l3, n_l2,
    n_l1, score_unats): the per-doc stupid-backoff trigram scores of the
    held-out split (doc_id % 10 = 0) under counts from the training
    split — reused by trigram_backoff_lm and perplexity_bucket_select
    (gate_curate)."""
    return f"""
    tok AS (SELECT doc_id, {duckdb_tokens('text')} AS t FROM documents),
    trw AS (SELECT t FROM tok WHERE doc_id % 10 != 0),
    tew AS (SELECT doc_id, t FROM tok WHERE doc_id % 10 = 0),
    trp AS (
      SELECT g['w1'] AS w1, g['w2'] AS w2, g['w3'] AS w3
      FROM (SELECT unnest({_TRI_STRUCTS}) AS g FROM trw WHERE len(t) >= 3)
    ),
    brp AS (
      SELECT b['w1'] AS w1, b['w2'] AS w2
      FROM (SELECT unnest({_BI_STRUCTS}) AS b FROM trw WHERE len(t) >= 2)
    ),
    uw AS (SELECT unnest(t) AS w FROM trw),
    tri AS (SELECT w1, w2, w3, count(*) AS c123 FROM trp GROUP BY w1, w2, w3),
    big AS (SELECT w1, w2, count(*) AS c12 FROM brp GROUP BY w1, w2),
    uni AS (SELECT w, count(*) AS c1 FROM uw GROUP BY w),
    nv AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM uw),
    tp AS (
      SELECT doc_id, g['w1'] AS w1, g['w2'] AS w2, g['w3'] AS w3
      FROM (SELECT doc_id, unnest({_TRI_STRUCTS}) AS g
            FROM tew WHERE len(t) >= 3)
    ),
    sc AS (
      SELECT tp.doc_id,
             CASE WHEN tri.c123 IS NOT NULL THEN 3
                  WHEN bo.c23 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
             CASE WHEN tri.c123 IS NOT NULL THEN
                    CAST(round(ln(CAST(tri.c123 AS DOUBLE)
                                  / CAST(ctx.c12 AS DOUBLE)) * 1000000) AS BIGINT)
                  WHEN bo.c23 IS NOT NULL THEN
                    {TRI_QLN04} + CAST(round(ln(CAST(bo.c23 AS DOUBLE)
                                  / CAST(u2.c2 AS DOUBLE)) * 1000000) AS BIGINT)
                  ELSE
                    {2 * TRI_QLN04} + CAST(round(ln(CAST(COALESCE(u3.c3, 0) + 1 AS DOUBLE)
                                  / CAST(nv.n + nv.v AS DOUBLE)) * 1000000) AS BIGINT)
             END AS lp
      FROM tp
      LEFT JOIN tri ON tri.w1 = tp.w1 AND tri.w2 = tp.w2 AND tri.w3 = tp.w3
      LEFT JOIN big ctx ON ctx.w1 = tp.w1 AND ctx.w2 = tp.w2
      LEFT JOIN (SELECT w1 AS b2, w2 AS b3, c12 AS c23 FROM big) bo
             ON bo.b2 = tp.w2 AND bo.b3 = tp.w3
      LEFT JOIN (SELECT w AS u2w, c1 AS c2 FROM uni) u2 ON u2.u2w = tp.w2
      LEFT JOIN (SELECT w AS u3w, c1 AS c3 FROM uni) u3 ON u3.u3w = tp.w3
      CROSS JOIN nv
    ),
    docsc AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_trigrams,
             CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
             CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
             CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
             CAST(sum(lp) AS BIGINT) AS score_unats
      FROM sc GROUP BY doc_id
    )"""


@gate(
    "trigram_backoff_lm",
    oracle="WITH " + _tri_doc_scores_cte() + """
    SELECT doc_id, n_trigrams, n_l3, n_l2, n_l1, score_unats FROM docsc
    """,
)
def q_trigram_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (operators/textprep.
    ngram_lm_counts + stupid_backoff_score): train n-gram counts on 90%
    of the corpus, score the held-out 10% so trigram hits, bigram
    backoffs, and add-one unigram floors (incl. OOV words) all fire.
    Scores are integer micro-nats with a pre-quantized ln(0.4) penalty;
    the per-doc level counts pin the backoff routing cross-engine."""
    from inferdb_spark.operators.textprep import (
        ngram_lm_counts,
        stupid_backoff_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    tri, big, uni, n_tok, vocab = ngram_lm_counts(
        docs.filter(F.col("doc_id") % 10 != 0)
    )
    out = stupid_backoff_score(
        docs.filter(F.col("doc_id") % 10 == 0), tri, big, uni, n_tok, vocab
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_trigrams", "n_l3", "n_l2", "n_l1", "score_unats",
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized top-k (operators/similarity.sq8_topk): exact-integer
# compressed vector search — per-dim maxabs scales fit from the corpus on
# BOTH engines, then int8 codes + BIGINT dot products (no transcendentals)

SQ8_K = 25
SQ8_DIM = 64
SQ8_QUERY = [((i * 5) % 11 - 5) / 9.0 for i in range(SQ8_DIM)]
_SQ8_QV_SQL = ", ".join(f"({i}, {x!r})" for i, x in enumerate(SQ8_QUERY))


@gate(
    "sq8_quantized_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    dims AS (
      SELECT i AS dim, max(abs(CAST(embedding[i + 1] AS DOUBLE))) AS s
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, {SQ8_DIM - 1})) AS i) g
      GROUP BY i
    ),
    qv AS (SELECT * FROM (VALUES {_SQ8_QV_SQL}) AS t(dim, qx)),
    qq AS (
      SELECT qv.dim,
             CASE WHEN d.s > 0 THEN CAST(floor(qx / d.s * 127.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS q,
             d.s
      FROM qv JOIN dims d ON d.dim = qv.dim
    ),
    dots AS (
      SELECT e.vec_id,
             sum(CASE WHEN qq.s > 0 THEN
                   CAST(floor(CAST(e.embedding[qq.dim + 1] AS DOUBLE)
                              / qq.s * 127.0 + 0.5) AS BIGINT)
                 ELSE 0 END * qq.q) AS dot_q
      FROM e CROSS JOIN qq
      GROUP BY e.vec_id
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(dot_q AS BIGINT) AS dot_q
    FROM dots ORDER BY dot_q DESC, vec_id LIMIT {SQ8_K}
    """,
)
def q_sq8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 (symmetric int8) quantized vector search (operators/similarity.
    fit_sq8_scales + sq8_topk): per-dim maxabs scales are fit from the
    data (pure max — bit-identical on both engines), codes are
    floor(x/s*127+0.5), and ranking is a BIGINT dot-product fold with
    (dot_q DESC, vec_id ASC) tie-breaks — a fully deterministic
    compressed-search tier with zero transcendentals.  Plan: map-only
    quantize+fold, then TakeOrderedAndProject."""
    from inferdb_spark.operators.similarity import fit_sq8_scales, sq8_topk

    e = load_table(spark, sf_dir, "embeddings")
    scales = fit_sq8_scales(e, "embedding")
    return sq8_topk(e, "embedding", scales, SQ8_QUERY, k=SQ8_K).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("dot_q").cast("long").alias("dot_q"),
    )
