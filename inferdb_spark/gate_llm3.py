"""Round-3 LLM-training-data gates (beyond-reference surface).

Shared-literal rule throughout: centroids/planes/thresholds are Python
constants formatted into BOTH the Column tree and the DuckDB oracle.
Cross-engine float discipline: cluster ranking keys are quantized to
BIGINT micro-units (floor(x*1e6+0.5)) before any ordering decision, so
ULP differences between JVM and libm cannot flip a keep/drop choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# 4 patterned 64-dim centroids at embedding scale (~±0.3)
SD_CENTROIDS = [
    [((i * (j + 2)) % 7 - 3) / 10.0 for i in range(64)] for j in range(4)
]
SD_THRESHOLD = 0.3
SD_DIM = 64

_SD_CENT_SQL = ", ".join(
    "(" + str(j) + ", ["
    + ", ".join(repr(float(x)) for x in c)
    + "]::DOUBLE[])"
    for j, c in enumerate(SD_CENTROIDS)
)


def _d_dot_ee(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {SD_DIM}), "
        f"i -> cast({a}[i] as double) * cast({b}[i] as double)))"
    )


def _d_cos(a: str, b: str) -> str:
    """Guarded cosine — mirrors functions/vector.cosine_similarity's
    zero-norm rule (0.0 when either norm is 0) so degenerate embeddings
    cannot yield NaN on the DuckDB side (NaN sorts above every threshold
    in DuckDB's total order and breaks micro-unit quantization)."""
    na2, nb2 = _d_dot_ee(a, a), _d_dot_ee(b, b)
    return (
        f"(CASE WHEN {na2} > 0 AND {nb2} > 0 "
        f"THEN {_d_dot_ee(a, b)} / (sqrt({na2}) * sqrt({nb2})) "
        f"ELSE 0.0 END)"
    )


@gate(
    "semantic_dedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
    ),
    cl AS (SELECT * FROM (VALUES {_SD_CENT_SQL}) AS t(cid, cv)),
    d AS (
      SELECT e.vec_id, e.embedding, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(e.embedding[i] as double) - cl.cv[i])
                    * (cast(e.embedding[i] as double) - cl.cv[i]))) AS dsq,
             {_d_cos('e.embedding', 'cl.cv')} AS ccos
      FROM e CROSS JOIN cl
    ),
    m AS (SELECT vec_id, min(dsq) AS md FROM d GROUP BY vec_id),
    asg0 AS (
      SELECT d.vec_id, min(d.cid) AS cluster
      FROM d JOIN m ON d.vec_id = m.vec_id AND d.dsq = m.md
      GROUP BY d.vec_id
    ),
    asg AS (
      SELECT a0.vec_id, a0.cluster,
             CAST(floor(d.ccos * 1000000.0 + 0.5) AS BIGINT) AS ccos_q,
             d.embedding
      FROM asg0 a0 JOIN d ON d.vec_id = a0.vec_id AND d.cid = a0.cluster
    ),
    losers AS (
      SELECT DISTINCT x.vec_id
      FROM asg x JOIN asg y
        ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
       AND (y.ccos_q < x.ccos_q
            OR (y.ccos_q = x.ccos_q AND y.vec_id < x.vec_id))
      WHERE {_d_cos('x.embedding', 'y.embedding')} >= {SD_THRESHOLD!r}
    )
    SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster, a.ccos_q
    FROM asg a LEFT JOIN losers l ON a.vec_id = l.vec_id
    WHERE l.vec_id IS NULL
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/similarity.
    semantic_dedup; Abbas et al. 2023): nearest-literal-centroid assign
    (map-only) -> within-cluster cosine pairs (one shuffle on cluster id)
    -> greedy keep-lowest-(ccos_q, id).  The vec_id % 5 stratum keeps the
    oracle's cluster self-join scale-proportionate (fixed modulus =
    corpus-linear slice)."""
    from inferdb_spark.operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    out = semantic_dedup(
        e, "embedding", SD_CENTROIDS, threshold=SD_THRESHOLD
    )
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.col("ccos_q").cast("long").alias("ccos_q"),
    )


from inferdb_spark.functions.hashing import duckdb_h52 as _d_h52
from inferdb_spark.functions.text import duckdb_tokens

TM_ALPHA = 0.5
TM_TARGET = 500  # permille


@gate(
    "temperature_mixing",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_s
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_s,
             CAST(floor(pow(CAST(n_s AS DOUBLE), {TM_ALPHA!r}) * 1000000.0
                        + 0.5) AS BIGINT) AS wq
      FROM s
    ),
    t AS (SELECT CAST(sum(n_s) AS BIGINT) AS t_rows,
                 CAST(sum(wq) AS BIGINT) AS w_total FROM w),
    r AS (
      -- numerator widened through HUGEINT (the operator widens through
      -- DECIMAL(38,0)): target*t_rows*wq reaches ~1e35 at 100 TB counts
      SELECT source, n_s,
             least(1000, CAST((CAST({TM_TARGET} AS HUGEINT) * t_rows * wq)
                              // (CAST(w_total AS HUGEINT) * n_s) AS BIGINT))
                 AS rate_permille
      FROM w, t
    ),
    kept AS (
      SELECT d.source,
             CAST(sum(CASE WHEN {_d_h52("'tmix.' || CAST(doc_id AS VARCHAR)")}
                                % 1000 < r.rate_permille
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN r ON d.source = r.source
      GROUP BY d.source
    )
    SELECT r.source, r.n_s, CAST(r.rate_permille AS BIGINT) AS rate_permille,
           k.n_kept
    FROM r JOIN kept k ON r.source = k.source
    """,
)
def q_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature source mixing (operators/textprep.temperature_mixing:
    p_s ∝ n_s^0.5, the mT5 recipe rule): per-source keep rate from an
    all-integer derivation (micro-unit-quantized n^alpha, BIGINT integral
    division) + deterministic h52 selection — the sampled subset is
    bit-identical on any engine, any retry.  One tiny groupBy + broadcast
    rate join; selection is map-side."""
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.operators.textprep import (
        temperature_mixing_rates,
    )

    d = load_table(spark, sf_dir, "documents")
    rates = temperature_mixing_rates(d, "source", TM_ALPHA, TM_TARGET)
    h = h52(F.concat(F.lit("tmix."), F.col("doc_id").cast("string"))) % 1000
    kept = (
        d.select("source", h.alias("h"))
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("h") < F.col("rate_permille"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
    )
    return rates.join(kept, "source").select(
        "source",
        F.col("n_s").cast("long").alias("n_s"),
        F.col("rate_permille").cast("long").alias("rate_permille"),
        "n_kept",
    )


# patterned literal weights for the hashed linear quality scorer
FTQ_DIM = 64
FTQ_W = [((j * 37) % 21 - 10) / 10.0 for j in range(FTQ_DIM)]
FTQ_BIAS = 0.05
_FTQ_WQ_SQL = "[" + ", ".join(str(int(round(w * 1_000_000))) for w in FTQ_W) + "]"


@gate(
    "fasttext_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({duckdb_tokens('text')}) AS term
      FROM documents WHERE doc_id % 7 = 0
    ),
    h AS (SELECT doc_id, {_d_h52('term')} AS hv FROM tok),
    c AS (
      SELECT doc_id,
             CAST(sum((CASE WHEN (hv // {FTQ_DIM}) % 2 = 0 THEN 1 ELSE -1 END)
                 * ({_FTQ_WQ_SQL}::BIGINT[])[CAST(hv % {FTQ_DIM} AS INT) + 1])
                 AS BIGINT) AS margin_q
      FROM h GROUP BY doc_id
    ),
    base AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
    SELECT b.doc_id,
           CAST(coalesce(c.margin_q, 0) AS BIGINT) AS margin_q,
           CAST(round(1.0 / (1.0 + exp(-(CAST(coalesce(c.margin_q, 0) AS DOUBLE)
                / 1000000.0 + {FTQ_BIAS!r}))), 6) AS DOUBLE) AS score
    FROM base b LEFT JOIN c ON b.doc_id = c.doc_id
    """,
)
def q_fasttext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality-classifier filter (operators/textprep.
    hashed_linear_text_score): linear model over signed hashed
    bag-of-words (hash_features' exact feature space), scored as a PURE
    PROJECTION — integer micro-unit margin fold over the token array
    (order-independent), sigmoid once at the end.  Zero shuffle, zero
    Python, zero vocabulary state: the shape of a classifier quality
    filter over a 100 TB crawl."""
    from inferdb_spark.operators.textprep import hashed_linear_text_score

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return hashed_linear_text_score(
        d, "doc_id", "text", FTQ_W, FTQ_BIAS, FTQ_DIM
    ).select(
        "doc_id",
        F.col("margin_q").cast("long").alias("margin_q"),
        "score",
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed ANN search (operators/similarity.ivf_pq_search)

PQ_NSUB = 4
PQ_SUB = 16  # 64-dim embeddings / 4 subspaces
PQ_NCODE = 4
PQ_BOOKS = [
    [
        [((s + 1) * (c + 2) * (j + 3) % 11 - 5) / 20.0 for j in range(PQ_SUB)]
        for c in range(PQ_NCODE)
    ]
    for s in range(PQ_NSUB)
]
PQ_QUERY = [((i * 7) % 13 - 6) / 15.0 for i in range(64)]
PQ_NPROBE = 2
PQ_K = 25


def _pq_probe_ids() -> list[int]:
    """Driver-side coarse ranking from the SAME literals via the single
    shared helper (shared-literal rule: this list is embedded in both
    dialects and must match the operator's own ranking)."""
    from inferdb_spark.operators.similarity import coarse_probe_ids

    return coarse_probe_ids(SD_CENTROIDS, PQ_QUERY, PQ_NPROBE)


def _pq_luts_q() -> list[list[int]]:
    out = []
    for s, book in enumerate(PQ_BOOKS):
        q_s = PQ_QUERY[s * PQ_SUB : (s + 1) * PQ_SUB]
        out.append(
            [
                int(round(sum((q_s[j] - book[c][j]) ** 2 for j in range(PQ_SUB)) * 1_000_000))
                for c in range(PQ_NCODE)
            ]
        )
    return out


_PQ_BK_SQL = ", ".join(
    f"({s}, {c}, [" + ", ".join(repr(float(x)) for x in PQ_BOOKS[s][c]) + "]::DOUBLE[])"
    for s in range(PQ_NSUB)
    for c in range(PQ_NCODE)
)
_PQ_LUT_SQL = ", ".join(
    f"({s}, {c}, {q})"
    for s, row in enumerate(_pq_luts_q())
    for c, q in enumerate(row)
)
_PQ_PROBE_SQL = ", ".join(str(i) for i in _pq_probe_ids())


@gate(
    "ivf_pq_search",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
    ),
    cl AS (SELECT * FROM (VALUES {_SD_CENT_SQL}) AS t(cid, cv)),
    cell_d AS (
      SELECT e.vec_id, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(e.embedding[i] as double) - cl.cv[i])
                    * (cast(e.embedding[i] as double) - cl.cv[i]))) AS dsq
      FROM e CROSS JOIN cl
    ),
    cell_m AS (SELECT vec_id, min(dsq) AS md FROM cell_d GROUP BY vec_id),
    cell AS (
      SELECT d.vec_id, min(d.cid) AS list_id
      FROM cell_d d JOIN cell_m m ON d.vec_id = m.vec_id AND d.dsq = m.md
      GROUP BY d.vec_id
    ),
    probed AS (
      SELECT e.vec_id, e.embedding
      FROM e JOIN cell c ON e.vec_id = c.vec_id
      WHERE c.list_id IN ({_PQ_PROBE_SQL})
    ),
    bk AS (SELECT * FROM (VALUES {_PQ_BK_SQL}) AS t(s, c, bv)),
    sub_d AS (
      SELECT p.vec_id, bk.s, bk.c,
             list_sum(list_transform(generate_series(1, {PQ_SUB}),
                 j -> (cast(p.embedding[bk.s * {PQ_SUB} + j] as double) - bk.bv[j])
                    * (cast(p.embedding[bk.s * {PQ_SUB} + j] as double) - bk.bv[j]))) AS d
      FROM probed p CROSS JOIN bk
    ),
    sub_m AS (SELECT vec_id, s, min(d) AS md FROM sub_d GROUP BY vec_id, s),
    code AS (
      SELECT d.vec_id, d.s, min(d.c) AS c
      FROM sub_d d JOIN sub_m m
        ON d.vec_id = m.vec_id AND d.s = m.s AND d.d = m.md
      GROUP BY d.vec_id, d.s
    ),
    lut AS (SELECT * FROM (VALUES {_PQ_LUT_SQL}) AS t(s, c, lq)),
    adc AS (
      SELECT code.vec_id, CAST(sum(l.lq) AS BIGINT) AS adc_q
      FROM code JOIN lut l ON code.s = l.s AND code.c = l.c
      GROUP BY code.vec_id
    )
    SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {PQ_K}
    """,
)
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN query (operators/similarity.ivf_pq_search) —
    the FAISS production shape: coarse cell pruning to n_probe inverted
    lists (scan-level partition pruning at 100 TB) + asymmetric-distance
    ranking over PQ codes with a literal micro-unit LUT (exact integer
    ADC; k-boundary ties break on (adc_q, id) identically cross-engine).
    Encode + assign are argmin-over-literal projections: no Python, no
    extra shuffle beyond the top-k."""
    from inferdb_spark.operators.similarity import ivf_build, ivf_pq_search
    from inferdb_spark.scale import spread

    # The one-row-group scan serializes the whole per-row HOF pipeline
    # (centroid argmin + PQ encode + LUT sum) on a single task; spreading
    # the filtered vectors first (<1 MB shuffle here) buys cores-x
    # parallelism for that compute (guide §2.2 via scale.spread — no-op on
    # a multi-split cluster scan).  Output is a TakeOrderedAndProject over
    # exact integers with (adc_q, id) ties, so layout cannot change it.
    e = spread(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    )
    indexed = ivf_build(e, "embedding", SD_CENTROIDS)
    return ivf_pq_search(
        indexed,
        "embedding",
        SD_CENTROIDS,
        PQ_BOOKS,
        PQ_QUERY,
        n_probe=PQ_NPROBE,
        k=PQ_K,
    ).select("vec_id", F.col("adc_q").cast("long").alias("adc_q"))


# ---------------------------------------------------------------------------
# in-engine BPE tokenizer training + application (operators/bpe_train.py)

BPE_N_MERGES = 8
# fixed literal merges for the APPLY gate (multi-char chain checks ordered
# application: 'th' must exist before 'the' can form)
BPE_APPLY_MERGES = [("e", "r"), ("e", "r"), ("t", "h"), ("th", "e"), ("o", "r")]


def _bpe_fit_oracle() -> str:
    from inferdb_spark.operators.bpe_train import fit_bpe_sql

    return fit_bpe_sql(BPE_N_MERGES, "documents")


@gate("bpe_fit_merges", oracle=_bpe_fit_oracle())
def q_bpe_fit_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING in-engine (operators/bpe_train.
    fit_bpe_merges): 8 merge rounds, each one aggregation over the
    distinct-word relation (vocab-sized, corpus-size-independent — the
    property that makes word-level BPE training feasible at 100 TB);
    driver sees one argmax row per round.  The oracle replays the entire
    fit as chained CTEs (pair-count -> argmax -> literal replace), so the
    TRAINER is hash-checked, like gbt_train_predict."""
    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    d = load_table(spark, sf_dir, "documents")
    merges, _ = fit_bpe_merges(d, "text", n_merges=BPE_N_MERGES)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "round: int, a: string, b: string, c: long",
    )


@gate(
    "bpe_segment_apply",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT t AS word FROM (
        SELECT unnest({duckdb_tokens('text')}) AS t FROM documents
      )
    ),
    seg AS (
      SELECT word,
             replace(replace(replace(replace(replace(seq0,
                 '|e||r|', '|er|'), '|e||r|', '|er|'), '|t||h|', '|th|'),
                 '|th||e|', '|the|'), '|o||r|', '|or|') AS seq
      FROM (SELECT word, '|' || array_to_string(regexp_extract_all(word, '.'), '||')
                         || '|' AS seq0 FROM w)
    )
    SELECT word,
           array_to_string(string_split(trim(seq, '|'), '||'), '/') AS pieces,
           CAST(length(string_split(trim(seq, '|'), '||')) AS BIGINT) AS n_pieces
    FROM seg
    """,
)
def q_bpe_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE segmentation with a FIXED literal merge list (operators/
    bpe_train.bpe_apply): chained literal replaces on the delimited
    symbol string — a pure projection over the distinct-word relation;
    the multi-char merge chain ('t h'->'th', 'th e'->'the') pins ordered
    application semantics cross-engine."""
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.bpe_train import bpe_apply

    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("word")).distinct()
    seg = bpe_apply(F.col("word"), BPE_APPLY_MERGES)
    return words.select(
        "word",
        F.array_join(seg, "/").alias("pieces"),
        F.size(seg).cast("long").alias("n_pieces"),
    )


PACK_W = 256


@gate(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length({duckdb_tokens('text')}) AS BIGINT) AS nt
      FROM documents
    ),
    b AS (
      SELECT source AS grp, doc_id AS id, nt,
             CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM t WHERE nt > 0
    ),
    x AS (
      SELECT grp, id, nt, cum - nt AS st, cum,
             unnest(generate_series(CAST((cum - nt) // {PACK_W} AS BIGINT),
                                    CAST((cum - 1) // {PACK_W} AS BIGINT)))
                 AS chunk_id
      FROM b
    )
    SELECT grp, CAST(chunk_id AS BIGINT) AS chunk_id, id,
           CAST(greatest(0, chunk_id * {PACK_W} - st) AS BIGINT) AS tok_offset,
           CAST(least(cum, (chunk_id + 1) * {PACK_W})
                - greatest(st, chunk_id * {PACK_W}) AS BIGINT) AS n_toks
    FROM x
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/textprep.sequence_packing):
    concatenate each source's token stream in doc_id order, cut every 256
    tokens, emit one row per (doc, window) overlap — the training-batch
    layout step.  One per-group window prefix-sum, all-integer output;
    for a single huge source, pre-shard the group key (docstring)."""
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.textprep import sequence_packing

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.expr(tokens_sql("`text`"))).alias("n_toks_in")
    )
    return sequence_packing(
        d, "doc_id", "n_toks_in", "source", PACK_W
    ).select(
        "grp",
        "chunk_id",
        "id",
        "tok_offset",
        "n_toks",
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 (lexical) + brute cosine (embedding) fused by RRF

from inferdb_spark import gate_sketch as _GS  # noqa: F401  (registers bm25 oracle)
from inferdb_spark.gate import _ORACLES as _ORC

RRF_K = 60
RRF_TOPN = 10


def _rrf_oracle() -> str:
    bm = _ORC["bm25_ranked_retrieval"]
    an = _ORC["embedding_cosine_topk"]
    return f"""
    WITH bm AS ({bm}),
    an AS ({an}),
    r1 AS (SELECT doc_id AS id,
                  row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
                      AS rnk FROM bm),
    r2 AS (SELECT vec_id AS id,
                  row_number() OVER (ORDER BY cosine DESC, vec_id ASC)
                      AS rnk FROM an),
    u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
    SELECT id,
           CAST(sum(1000000 // ({RRF_K} + rnk)) AS BIGINT) AS rrf_micro,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM u GROUP BY id
    ORDER BY rrf_micro DESC, id ASC LIMIT {RRF_TOPN}
    """


@gate("rrf_hybrid_retrieval", oracle=_rrf_oracle())
def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/similarity.rrf_fuse): BM25 lexical
    top-20 + brute-cosine embedding top-20, fused by reciprocal-rank
    fusion with integer micro-unit contributions (1e6 div (60+rank)) —
    exact BIGINT fused scores, engine-portable tie-breaks.  The oracle
    nests the two rankers' own oracles, so the whole hybrid stack is
    hash-checked end to end."""
    from pyspark.sql.window import Window

    from inferdb_spark.gate_prep import q_embedding_cosine_topk
    from inferdb_spark.gate_sketch import q_bm25_ranked_retrieval
    from inferdb_spark.operators.similarity import rrf_fuse

    bm = q_bm25_ranked_retrieval(spark, sf_dir)
    an = q_embedding_cosine_topk(spark, sf_dir)
    r1 = bm.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("score_micro"), F.asc("doc_id")))
        .alias("rnk"),
    )
    r2 = an.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("rnk"),
    )
    return rrf_fuse([r1, r2], "id", "rnk", RRF_K, RRF_TOPN).select(
        F.col("id").cast("long").alias("id"), "rrf_micro", "n_lists"
    )


# ---------------------------------------------------------------------------
# corpus statistics: Zipf's-law slope over the term-frequency distribution

ZIPF_TOP = 50


@gate(
    "zipf_law_slope",
    oracle=f"""
    WITH tf AS (
      SELECT t AS term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({duckdb_tokens('text')}) AS t FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk
      FROM tf
    ),
    q AS (
      SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS xq,
             CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS yq
      FROM ranked WHERE rnk <= {ZIPF_TOP}
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(xq * yq) AS BIGINT) AS sxy,
             CAST(sum(xq * xq) AS BIGINT) AS sxx
      FROM q
    )
    SELECT n,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS DOUBLE)
               AS zipf_slope
    FROM s
    """,
)
def q_zipf_law_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS slope of ln(freq) vs
    ln(rank) over the top-50 terms — the corpus-health diagnostic a
    data-curation pipeline tracks per snapshot (natural text ≈ -1;
    boilerplate/spam skews it).  Determinism: ln values are quantized to
    BIGINT micro-units BEFORE summation, so the regression's sufficient
    statistics are exact integers (order-independent) and the one final
    division is identical on both engines.  Term counting is the shared
    vocab-relation job; everything after is vocab-sized."""
    from pyspark.sql.window import Window

    from inferdb_spark.functions.text import tokens_sql

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    ranked = tf.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("term"))),
    ).where(F.col("rnk") <= ZIPF_TOP)
    qq = ranked.select(
        F.floor(F.ln(F.col("rnk").cast("double")) * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("xq"),
        F.floor(F.ln(F.col("freq").cast("double")) * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    s = qq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    return s.select(
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            6,
        )
        .cast("double")
        .alias("zipf_slope"),
    )


HN_K = 5
HN_ANCHOR_MOD = 101  # ~1% anchor stratum


@gate(
    "hard_negative_mining",
    oracle=f"""
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS al
      FROM embeddings
      WHERE vec_id % {HN_ANCHOR_MOD} = 0 AND vec_id < 10000000
    ),
    c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS cl
          FROM embeddings),
    p AS (
      SELECT a.anchor_id, c.cand_id,
             round({_d_cos('a.av', 'c.cv')}, 6) AS cosine_r6
      FROM a JOIN c ON a.al <> c.cl
    ),
    r AS (
      SELECT anchor_id, cand_id, cosine_r6,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cosine_r6 DESC, cand_id ASC) AS rnk
      FROM p
    )
    SELECT anchor_id, cand_id, CAST(rnk AS BIGINT) AS rnk,
           CAST(cosine_r6 AS DOUBLE) AS cosine_r6
    FROM r WHERE rnk <= {HN_K}
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.
    hard_negative_mining): per-anchor top-5 most-similar DIFFERENT-label
    items — the negatives an embedding-model trainer wants.  Broadcast
    anchors x corpus scan + one window per anchor; ranks on 6dp-rounded
    cosine with id tie-break (engine-portable).  Anchor stratum
    vec_id % 101, pinned to the base replica (vec_id < 10M, a no-op at
    sf<=0.1) so the anchors-x-corpus candidate join stays corpus-LINEAR
    on the key-shifted scale ramp."""
    from inferdb_spark.operators.similarity import hard_negative_mining

    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(
        (F.col("vec_id") % HN_ANCHOR_MOD == 0) & (F.col("vec_id") < 10_000_000)
    )
    return hard_negative_mining(anchors, e, "embedding", "label", "vec_id", HN_K)


HN_NPROBE = 2  # of the 4 SD_CENTROIDS lists


@gate(
    "hard_negative_mining_ivf",
    oracle=f"""
    WITH a0 AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS al
      FROM embeddings
      WHERE vec_id % {HN_ANCHOR_MOD} = 0 AND vec_id < 10000000
    ),
    cl AS (SELECT * FROM (VALUES {_SD_CENT_SQL}) AS t(cid, cv)),
    cell_d AS (
      SELECT e.vec_id, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(e.embedding[i] as double) - cl.cv[i])
                    * (cast(e.embedding[i] as double) - cl.cv[i]))) AS dsq
      FROM embeddings e CROSS JOIN cl
    ),
    cell_m AS (SELECT vec_id, min(dsq) AS md FROM cell_d GROUP BY vec_id),
    cell AS (
      SELECT d.vec_id, min(d.cid) AS list_id
      FROM cell_d d JOIN cell_m m ON d.vec_id = m.vec_id AND d.dsq = m.md
      GROUP BY d.vec_id
    ),
    probe_d AS (
      SELECT a.anchor_id, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(a.av[i] as double) - cl.cv[i])
                    * (cast(a.av[i] as double) - cl.cv[i]))) AS dsq
      FROM a0 a CROSS JOIN cl
    ),
    probe AS (
      SELECT anchor_id, cid AS list_id FROM (
        SELECT anchor_id, cid,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY dsq ASC, cid ASC) AS pr
        FROM probe_d
      ) WHERE pr <= {HN_NPROBE}
    ),
    p AS (
      SELECT a.anchor_id, e.vec_id AS cand_id,
             round({_d_cos('a2.av', 'e.embedding')}, 6) AS cosine_r6
      FROM probe a
      JOIN cell c ON a.list_id = c.list_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN a0 a2 ON a2.anchor_id = a.anchor_id
      WHERE a2.al <> e.label
    ),
    r AS (
      SELECT anchor_id, cand_id, cosine_r6,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cosine_r6 DESC, cand_id ASC) AS rnk
      FROM p
    )
    SELECT anchor_id, cand_id, CAST(rnk AS BIGINT) AS rnk,
           CAST(cosine_r6 AS DOUBLE) AS cosine_r6
    FROM r WHERE rnk <= {HN_K}
    """,
)
def q_hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-shortlisted hard-negative mining (operators/similarity.
    hard_negative_mining_ivf): candidate generation is an EQUI-join of
    the anchors' n_probe nearest IVF lists against the list-assigned
    corpus — sum-of-probed-list-sizes candidates instead of
    |anchors| x |corpus| (the round-3 verdict's scale fix); the window
    top-k stage is unchanged.  Probe/assign ties break (distance, id)
    ascending on both engines; parity with the exact variant at
    n_probe = n_lists is pytest-asserted."""
    from inferdb_spark.operators.similarity import hard_negative_mining_ivf

    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(
        (F.col("vec_id") % HN_ANCHOR_MOD == 0) & (F.col("vec_id") < 10_000_000)
    )
    return hard_negative_mining_ivf(
        anchors, e, SD_CENTROIDS, "embedding", "label", "vec_id", HN_K, HN_NPROBE
    )


KANON_K = 8


@gate(
    "k_anonymity_suppress",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
           n, CAST(CASE WHEN n >= {KANON_K} THEN 1 ELSE 0 END AS INT) AS kept
    FROM g
    """,
)
def q_k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression audit (operators/validate.
    k_anonymity_suppress, k=8 over (nation, segment)): the per-group
    relation with the keep decision; the operator itself semi-joins the
    qualifying groups back onto the rows (pytest asserts row-level
    equivalence).  The post-redaction privacy gate of a data release."""
    from inferdb_spark.operators.validate import k_anonymity_suppress

    c = load_table(spark, sf_dir, "customer")
    kept = k_anonymity_suppress(c, ["c_nationkey", "c_mktsegment"], KANON_K)
    g_all = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("n")
    )
    g_kept = kept.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("_nk")
    )
    return (
        g_all.join(g_kept, ["c_nationkey", "c_mktsegment"], "left")
        .select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            F.when(F.col("_nk").isNotNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling data selection (operators/textprep.dsir_select)

DSIR_DIM = 64
DSIR_K = 50


@gate(
    "dsir_selection",
    oracle=f"""
    WITH tgt AS (SELECT * FROM documents WHERE doc_id % 11 = 0),
    raw AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
    t_tok AS (SELECT unnest({duckdb_tokens('text')}) AS term FROM tgt),
    r_tok AS (SELECT doc_id, unnest({duckdb_tokens('text')}) AS term FROM raw),
    t_b AS (SELECT {_d_h52('term')} % {DSIR_DIM} AS bucket,
                   CAST(count(*) AS BIGINT) AS t_n
            FROM t_tok GROUP BY bucket),
    r_b AS (SELECT {_d_h52('term')} % {DSIR_DIM} AS bucket,
                   CAST(count(*) AS BIGINT) AS r_n
            FROM r_tok GROUP BY bucket),
    tot AS (SELECT (SELECT CAST(coalesce(sum(t_n), 0) AS BIGINT) FROM t_b) AS t_tot,
                   (SELECT CAST(coalesce(sum(r_n), 0) AS BIGINT) FROM r_b) AS r_tot),
    wts AS (
      SELECT b.bucket,
             CAST(floor((ln((CAST(coalesce(t.t_n, 0) AS DOUBLE) + 0.5)
                             / (CAST(tot.t_tot AS DOUBLE) + {DSIR_DIM * 0.5!r}))
                         - ln((CAST(coalesce(r.r_n, 0) AS DOUBLE) + 0.5)
                             / (CAST(tot.r_tot AS DOUBLE) + {DSIR_DIM * 0.5!r})))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM (SELECT unnest(generate_series(0, {DSIR_DIM - 1})) AS bucket) b
      LEFT JOIN t_b t ON b.bucket = t.bucket
      LEFT JOIN r_b r ON b.bucket = r.bucket
      CROSS JOIN tot
    ),
    scored AS (
      SELECT rt.doc_id, CAST(sum(w.w_micro) AS BIGINT) AS score_micro
      FROM (SELECT doc_id, {_d_h52('term')} % {DSIR_DIM} AS bucket FROM r_tok) rt
      JOIN wts w ON rt.bucket = w.bucket
      GROUP BY rt.doc_id
    )
    SELECT r.doc_id,
           CAST(coalesce(s.score_micro, 0) AS BIGINT) AS score_micro
    FROM raw r LEFT JOIN scored s ON r.doc_id = s.doc_id
    ORDER BY score_micro DESC, r.doc_id ASC LIMIT {DSIR_K}
    """,
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/textprep.dsir_select; Xie et al.
    2023): hashed-unigram importance weights ln(p_target/p_raw) quantized
    to BIGINT micro-nats, per-doc score = exact integer sum of its
    tokens' bucket weights, top-50 most target-like raw docs.  Two
    corpus-stats aggregations + one broadcast-join pass over raw +
    TakeOrdered — the selection shape for curating a 100 TB crawl
    toward a target domain."""
    from inferdb_spark.operators.textprep import dsir_select

    d = load_table(spark, sf_dir, "documents")
    tgt = d.filter(F.col("doc_id") % 11 == 0)
    raw = d.filter(F.col("doc_id") % 11 != 0)
    return dsir_select(tgt, raw, "doc_id", "text", DSIR_DIM, DSIR_K)
