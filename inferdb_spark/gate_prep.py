"""Gate queries: data-prep operators (dedup, similarity, text analysis).

Oracle construction notes: the DuckDB SQL for minhash/simhash/fingerprint
is GENERATED from the same Python constants as the Spark expressions, so
both sides execute the identical integer algorithm.  The md5-based 52-bit
token hash (functions/hashing.py) is the portability keystone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import MERSENNE_P, duckdb_h52, perm_params
from inferdb_spark.functions.text import duckdb_normalize, duckdb_tokens
from inferdb_spark.gate import gate
from inferdb_spark.operators import dedup as DD
from inferdb_spark.operators import similarity as SIM
from inferdb_spark.operators import textprep as TP

# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

MH_HASHES, MH_BANDS, MH_SHINGLE = 16, 4, 4
MH_PARAMS = perm_params(MH_HASHES, seed=42)
SIMHASH_BITS = 24
FP_BASE, FP_P = 257, 1000000007
EMB_DIM = 64
QUERY_VEC = SIM.make_hyperplanes(1, EMB_DIM, seed=7)[0]
PLANES = SIM.make_hyperplanes(8, EMB_DIM, seed=42)

# DuckDB fragments -----------------------------------------------------------

from inferdb_spark.functions.hashing import duckdb_h52 as _d_md5_52  # shared fragment


def _d_char_shingles(c: str, n: int) -> str:
    norm = duckdb_normalize(c)
    return (
        f"list_distinct(list_transform(generate_series(1, length({norm}) - {n - 1}),"
        f" i -> substr({norm}, i, {n})))"
    )


def _d_shingle_hashes(c: str, n: int) -> str:
    return (
        f"list_transform({_d_char_shingles(c, n)}, s -> {_d_md5_52('s')} % {MERSENNE_P})"
    )


_D_CORPUS = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text || ' xtra near duplicate suffix tail'
      FROM documents WHERE doc_id % 11 = 0
    )
"""


def _spark_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionByName(
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xtra near duplicate suffix tail")).alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------

_rpb = MH_HASHES // MH_BANDS
_sig_exprs = ", ".join(
    f"coalesce(list_min(list_transform(hs, x -> ({a} * x + {b}) % {MERSENNE_P})), {MERSENNE_P}) AS s{i}"
    for i, (a, b) in enumerate(MH_PARAMS)
)
_band_rows = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_id, concat_ws('.', {keys}) AS band_key FROM sig".format(
        b=b, keys=", ".join(f"s{b * _rpb + r}" for r in range(_rpb))
    )
    for b in range(MH_BANDS)
)


@gate(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_D_CORPUS},
    hashed AS (
      SELECT doc_id, {_d_shingle_hashes('text', MH_SHINGLE)} AS hs FROM corpus
    ),
    sig AS (SELECT doc_id, {_sig_exprs} FROM hashed),
    bands AS ({_band_rows})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join.
    Signatures are one projection; the self-join shuffles only (band, key,
    id) triples.  Near-dupes injected deterministically (suffix edit)."""
    corpus = _spark_corpus(spark, sf_dir)
    return DD.minhash_lsh_pairs(
        corpus, "doc_id", "text",
        n_hashes=MH_HASHES, bands=MH_BANDS, shingle_n=MH_SHINGLE, mode="char", seed=42,
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard verification of LSH candidates
# ---------------------------------------------------------------------------


@gate(
    "ngram_jaccard_verify",
    oracle=f"""
    WITH {_D_CORPUS},
    hashed AS (
      SELECT doc_id, {_d_shingle_hashes('text', MH_SHINGLE)} AS hs FROM corpus
    ),
    sig AS (SELECT doc_id, {_sig_exprs} FROM hashed),
    bands AS ({_band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, {_d_char_shingles('text', MH_SHINGLE)} AS sh FROM corpus)
    SELECT c.id_a, c.id_b,
           CAST(round(CASE WHEN length(list_distinct(list_concat(x.sh, y.sh))) > 0
                THEN CAST(length(list_intersect(x.sh, y.sh)) AS DOUBLE)
                     / length(list_distinct(list_concat(x.sh, y.sh)))
                ELSE 0.0 END, 6) AS DOUBLE) AS jaccard
    FROM cand c JOIN sets x ON c.id_a = x.doc_id JOIN sets y ON c.id_b = y.doc_id
    WHERE CASE WHEN length(list_distinct(list_concat(x.sh, y.sh))) > 0
          THEN CAST(length(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / length(list_distinct(list_concat(x.sh, y.sh))) ELSE 0.0 END >= 0.5
    """,
)
def q_ngram_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on the LSH candidates (the verify stage of the
    dedup pipeline); emits confirmed pairs with similarity ≥ 0.5."""
    corpus = _spark_corpus(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(
        corpus, "doc_id", "text",
        n_hashes=MH_HASHES, bands=MH_BANDS, shingle_n=MH_SHINGLE, mode="char", seed=42,
    )
    j = DD.ngram_jaccard(corpus, pairs, "doc_id", "text", ngram_n=MH_SHINGLE, mode="char")
    return j.filter(F.col("jaccard") >= 0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_d_token_hashes = (
    f"list_transform({duckdb_tokens('text')}, t -> {_d_md5_52('t')})"
)
_d_simhash_terms = " + ".join(
    f"(CASE WHEN list_sum(list_transform(th, x -> CASE WHEN (x >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)


@gate(
    "simhash_fingerprint",
    oracle=f"""
    WITH th_t AS (SELECT doc_id, {_d_token_hashes} AS th FROM documents)
    SELECT doc_id, CAST(coalesce({_d_simhash_terms}, 0) AS BIGINT) AS fingerprint
    FROM th_t
    """,
)
def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (24-bit here) as a single projection — near-dup blocking at
    constant per-row cost."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(DD.simhash_sql("`text`", SIMHASH_BITS)).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# rolling fingerprint
# ---------------------------------------------------------------------------


@gate(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform({duckdb_tokens('text')}, t -> {_d_md5_52('t')} % {FP_P})),
                (acc, x) -> (acc * {FP_BASE} + x) % {FP_P}) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (order-sensitive, unlike
    simhash) — exact integer math, engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TP.rolling_fingerprint("`text`", FP_BASE, FP_P).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------

_lang_score_sql = ", ".join(
    "CASE WHEN length(toks) > 0 THEN CAST(length(list_filter(toks, w -> list_contains({words!r}, w))) AS DOUBLE) / length(toks) ELSE 0.0 END AS s_{lang}".format(
        words=TP.LANG_PROFILES[lang], lang=lang
    )
    for lang in sorted(TP.LANG_PROFILES)
)
_lang_rows = " UNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang, s_{lang} AS score, {i} AS idx FROM scores"
    for i, lang in enumerate(sorted(TP.LANG_PROFILES))
)


@gate(
    "lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {duckdb_tokens('text')} AS toks FROM documents),
    scores AS (SELECT doc_id, {_lang_score_sql} FROM tok),
    longf AS ({_lang_rows}),
    m AS (SELECT doc_id, max(score) AS ms FROM longf GROUP BY 1),
    pick AS (
      SELECT l.doc_id, min(l.idx) AS best_idx, max(l.score) AS score
      FROM longf l JOIN m ON l.doc_id = m.doc_id AND l.score = m.ms
      GROUP BY l.doc_id
    )
    SELECT p.doc_id,
           CASE WHEN p.score > 0 THEN (SELECT min(lang) FROM longf x WHERE x.doc_id = p.doc_id AND x.idx = p.best_idx)
                ELSE 'und' END AS lang_pred
    FROM pick p
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax, alphabetic tiebreak, 'und'
    when no profile matches)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TP.detect_language("`text`").alias("lang_pred"))


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

_QV_SQL = "[" + ", ".join(repr(x) for x in QUERY_VEC) + "]"
_D_DOT_Q = (
    f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
    f" i -> cast(embedding[i] as double) * ({_QV_SQL})[i]))"
)
_D_NORM_E = (
    f"sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),"
    f" i -> cast(embedding[i] as double) * cast(embedding[i] as double))))"
)
_QN = "sqrt(list_sum(list_transform(" + _QV_SQL + ", x -> x * x)))"


@gate(
    "embedding_cosine_topk",
    oracle=f"""
    WITH sims AS (
      SELECT vec_id,
             CASE WHEN {_D_NORM_E} > 0 AND {_QN} > 0
                  THEN {_D_DOT_Q} / ({_D_NORM_E} * {_QN}) ELSE 0.0 END AS cosine
      FROM embeddings
    )
    SELECT vec_id, CAST(round(cosine, 6) AS DOUBLE) AS cosine
    FROM sims ORDER BY cosine DESC, vec_id ASC LIMIT 20
    """,
)
def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector — compiles to
    a map-only projection + TakeOrderedAndProject (per-partition k-heaps,
    no global sort)."""
    e = load_table(spark, sf_dir, "embeddings")
    top = SIM.cosine_topk(e, "embedding", QUERY_VEC, k=20, id_col="vec_id")
    return top.select("vec_id", F.round("cosine", 6).cast("double").alias("cosine"))


_PLANES_SQL = [
    "[" + ", ".join(repr(x) for x in p) + "]" for p in PLANES
]
_D_BUCKET = " + ".join(
    f"(CASE WHEN list_sum(list_transform(generate_series(1, {EMB_DIM}),"
    f" i -> cast(embedding[i] as double) * ({ps})[i])) > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
    for i, ps in enumerate(_PLANES_SQL)
)


IVF_CENTROIDS = SIM.make_hyperplanes(4, EMB_DIM, seed=99)
_IVF_PROBE = sorted(
    range(4),
    key=lambda i: sum((a - b) ** 2 for a, b in zip(IVF_CENTROIDS[i], QUERY_VEC)),
)[:2]
_ivf_cent_sql = ["[" + ", ".join(repr(x) for x in c) + "]" for c in IVF_CENTROIDS]
_ivf_d = [
    f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
    f" i -> (cast(embedding[i] as double) - ({cs})[i]) * (cast(embedding[i] as double) - ({cs})[i])))"
    for cs in _ivf_cent_sql
]


@gate(
    "ivf_search",
    oracle=f"""
    WITH dists AS (
      SELECT vec_id, embedding,
             {_ivf_d[0]} AS d0, {_ivf_d[1]} AS d1, {_ivf_d[2]} AS d2, {_ivf_d[3]} AS d3
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, embedding,
             CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                  WHEN d1 <= d2 AND d1 <= d3 THEN 1
                  WHEN d2 <= d3 THEN 2 ELSE 3 END AS list_id
      FROM dists
    ),
    probed AS (
      SELECT vec_id,
             CASE WHEN {_D_NORM_E} > 0 AND {_QN} > 0
                  THEN {_D_DOT_Q} / ({_D_NORM_E} * {_QN}) ELSE 0.0 END AS cosine
      FROM assigned WHERE list_id IN ({", ".join(map(str, _IVF_PROBE))})
    )
    SELECT vec_id, CAST(round(cosine, 6) AS DOUBLE) AS cosine
    FROM probed ORDER BY cosine DESC, vec_id ASC LIMIT 15
    """,
)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search with literal coarse-quantizer centroids: assign lists
    (argmin projection), probe the 2 nearest lists, exact cosine within —
    the partition-pruning ANN scale path (`fit_ivf_centroids` is the
    fitted-centroid variant, pytest-verified)."""
    e = load_table(spark, sf_dir, "embeddings")
    indexed = SIM.ivf_build(e, "embedding", IVF_CENTROIDS)
    top = SIM.ivf_search(
        indexed, "embedding", IVF_CENTROIDS, QUERY_VEC, k=15, n_probe=2
    )
    return top.select("vec_id", F.round("cosine", 6).cast("double").alias("cosine"))


@gate(
    "embedding_lsh_buckets",
    oracle=f"""
    SELECT CAST({_D_BUCKET} AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(vec_id) AS BIGINT) AS min_id
    FROM embeddings GROUP BY 1
    """,
)
def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the ANN scale path): 8 dyadic
    hyperplanes → 256 buckets; bucket assignment is one projection."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.expr(SIM.hyperplane_bucket_sql("`embedding`", PLANES)).alias("bucket"),
            "vec_id",
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.min("vec_id").alias("min_id"))
    )


@gate(
    "vocab_id_assignment",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({duckdb_tokens('text')}) AS term FROM documents
    ),
    counts AS (
      SELECT term, count(*) AS n FROM tok GROUP BY term HAVING count(*) >= 5
    ),
    vocab AS (
      SELECT term,
             CAST(row_number() OVER (ORDER BY n DESC, term ASC) - 1 AS BIGINT) AS term_id
      FROM counts
    )
    SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.term_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(coalesce(sum(v.term_id), 0) AS BIGINT) AS sum_ids
    FROM tok LEFT JOIN vocab v USING (term)
    GROUP BY tok.doc_id
    """,
)
def q_vocab_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vocabulary build + application (StringIndexer
    analog): term_id = dense rank by (count DESC, term ASC) over terms
    with count >= 5; documents re-encoded via broadcast join with OOV
    tokens null.  Output folds each doc's id sequence to checkable
    scalars (token count, OOV count, id sum)."""
    from inferdb_spark.operators.textprep import apply_vocab, build_vocab

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", min_count=5)
    mapped = apply_vocab(docs, vocab, "doc_id", "text")
    return mapped.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count("*").alias("n_tok"),
        F.sum(F.when(F.col("term_id").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        F.coalesce(F.sum("term_id"), F.lit(0)).cast("long").alias("sum_ids"),
    )


@gate(
    "feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({duckdb_tokens('text')}) AS term
      FROM documents WHERE doc_id % 10 = 0
    ),
    h AS (SELECT doc_id, {_d_md5_52('term')} AS hv FROM tok),
    s AS (
      SELECT doc_id, hv % 64 AS bucket,
             CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS sign
      FROM h
    ),
    coo AS (
      SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS val
      FROM s GROUP BY doc_id, bucket HAVING sum(sign) != 0
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nonzero,
           CAST(sum(val) AS BIGINT) AS sumval
    FROM coo GROUP BY bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing trick (textprep.hash_features, dim=64) — stateless
    token→bucket featurization via the portable h52 hash; per-bucket
    rollup of the per-document COO output (bucket occupancy + signed
    sums) pins both the hash routing and the per-doc aggregation."""
    from inferdb_spark.operators.textprep import hash_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    coo = hash_features(docs, "doc_id", "text", dim=64)
    return coo.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_nonzero"),
        F.sum("val").cast("long").alias("sumval"),
    )


@gate(
    "bigram_lm_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {duckdb_tokens('text')} AS t FROM documents),
    dp AS (
      SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM tok WHERE len(t) >= 2
      )
    ),
    big AS (SELECT w1, w2, count(*) AS c12 FROM dp GROUP BY w1, w2),
    uni AS (SELECT w1, count(*) AS c1 FROM dp GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tk) AS vs
      FROM (SELECT unnest(t) AS tk FROM tok)
    ),
    sc AS (
      SELECT dp.doc_id,
             CAST(round(ln(CAST(b.c12 + 1 AS DOUBLE)
                           / CAST(u.c1 + v.vs AS DOUBLE)) * 1000000) AS BIGINT) AS lp
      FROM dp JOIN big b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp) AS BIGINT) AS score_unats
    FROM sc GROUP BY doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram log-likelihood per document
    (textprep.bigram_counts + bigram_logprob_score) — the
    perplexity-proxy fluency filter of web-corpus pipelines, trained and
    scored on the same corpus here.  Scores are integer MICRO-NATS
    (round(ln p · 1e6) per bigram, summed as BIGINT) so the aggregation
    is order-independent and engine-exact."""
    from inferdb_spark.operators.textprep import bigram_counts, bigram_logprob_score

    docs = load_table(spark, sf_dir, "documents")
    bigrams, unigrams, vocab = bigram_counts(docs)
    out = bigram_logprob_score(docs, bigrams, unigrams, vocab)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("score_unats").cast("long").alias("score_unats"),
    )


# ---------------------------------------------------------------------------
# corpus-prep extensions: chunking, mixture sampling, repetition filtering
# ---------------------------------------------------------------------------

_TOK_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


@gate(
    "doc_chunking",
    oracle="""
    WITH st AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(1, length(text)), 150)) AS gs
      FROM documents
    )
    SELECT doc_id,
           CAST((gs - 1) // 150 AS BIGINT) AS chunk_id,
           CAST(gs AS BIGINT) AS start,
           CAST(length(substring(text, gs, 200)) AS BIGINT) AS n_chars,
           md5(substring(text, gs, 200)) AS chunk_md5
    FROM st
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking (200 chars, stride 150): sequence-of-starts →
    posexplode → substring, fused with the scan (no shuffle).  Chunks are
    compared by md5 so the gate payload stays small while pinning exact
    window boundaries and overlap semantics."""
    d = load_table(spark, sf_dir, "documents")
    ch = TP.chunk_documents(d, "doc_id", "text", size=200, stride=150)
    return ch.select(
        "doc_id",
        "chunk_id",
        "start",
        F.length("chunk").cast("long").alias("n_chars"),
        F.md5("chunk").alias("chunk_md5"),
    )


@gate(
    "mixture_sampling",
    oracle=f"""
    WITH rated AS (
      SELECT source,
             CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) * 53 % 1001
                 AS rate_permille,
             {duckdb_h52("'mix.' || CAST(doc_id AS VARCHAR)")} % 1000 AS h
      FROM documents
    )
    SELECT source,
           CAST(min(rate_permille) AS BIGINT) AS rate_permille,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN h < rate_permille THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM rated GROUP BY source
    """,
)
def q_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling across corpus sources (the training-mix
    step: each source gets its own keep rate).  Deterministic hash
    thresholding — no RNG, so re-runs, task retries, and the DuckDB twin
    all select the identical subset.  Per-source rate derived from the
    source id; selection is h52(doc) % 1000 < rate."""
    from inferdb_spark.functions.hashing import h52

    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.regexp_extract("source", "([0-9]+)", 1).cast("long") * 53 % 1001
    ).alias("rate_permille")
    h = h52(F.concat(F.lit("mix."), F.col("doc_id").cast("string"))) % 1000
    rated = d.select("source", rate, h.alias("h"))
    return rated.groupBy("source").agg(
        F.min("rate_permille").cast("long").alias("rate_permille"),
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("h") < F.col("rate_permille"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


@gate(
    "gopher_repetition",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN length({_TOK_SQL}) = 0 THEN []
                  ELSE string_split({_TOK_SQL}, ' ') END AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, t,
             list_transform(range(1, greatest(length(t), 1)),
                            i -> t[i] || ' ' || t[i+1]) AS g2
      FROM tok
    )
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_tokens,
           CAST(round(CASE WHEN length(g2) > 0
                THEN CAST(length(g2) - length(list_distinct(g2)) AS DOUBLE)
                     / length(g2)
                ELSE 0.0 END, 6) AS DOUBLE) AS dup_bigram_frac,
           CAST(round(CASE WHEN length(t) > 0
                THEN CAST(length(list_distinct(t)) AS DOUBLE) / length(t)
                ELSE 0.0 END, 6) AS DOUBLE) AS distinct_ratio
    FROM grams
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher/C4-style filters):
    duplicate word-bigram fraction + distinct-token ratio per document.
    One tokenize pass, array expressions only — fused into the scan."""
    d = load_table(spark, sf_dir, "documents")
    return TP.repetition_features(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# Train/eval decontamination (n-gram overlap)
# ---------------------------------------------------------------------------

DECON_N = 5
DECON_MIN_SHARED = 3


def _d_word_gram_hashes(tok_expr: str, n: int) -> str:
    """DuckDB fragment: list of h52 hashes of word n-grams over a token list."""
    gram = f"array_to_string({tok_expr}[i:i+{n - 1}], ' ')"
    return (
        f"list_transform(range(1, greatest(length({tok_expr}) - {n - 2}, 1)),"
        f" i -> {duckdb_h52(gram)})"
    )


@gate(
    "eval_decontamination",
    oracle=f"""
    WITH ev AS (
      SELECT doc_id AS eval_id, substr(text, 21, 100) AS text
      FROM documents WHERE doc_id % 13 = 0
    ),
    evt AS (SELECT eval_id, {duckdb_tokens('text')} AS t FROM ev),
    evg AS (
      SELECT DISTINCT eval_id, gh FROM (
        SELECT eval_id, unnest({_d_word_gram_hashes('t', DECON_N)}) AS gh FROM evt
      )
    ),
    ct AS (SELECT doc_id, {duckdb_tokens('text')} AS t FROM documents),
    cg AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, unnest({_d_word_gram_hashes('t', DECON_N)}) AS gh FROM ct
      )
    )
    SELECT doc_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM cg JOIN evg USING (gh)
    GROUP BY doc_id, eval_id
    HAVING count(*) >= {DECON_MIN_SHARED}
    """,
)
def q_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination pairs: corpus docs sharing >= 3 word
    5-grams with a (synthetic) eval suite carved out of the corpus.

    The eval suite is substrings of every 13th document, so the oracle has
    guaranteed true positives; the corpus side is the scan that partitions
    the work, the eval postings broadcast (fixed benchmark suites are
    small).  See textprep.ngram_overlap for the 100 TB plan shape.
    """
    d = load_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.substring("text", 21, 100).alias("text"),
    )
    return TP.ngram_overlap(
        d, ev, n=DECON_N, min_shared=DECON_MIN_SHARED
    ).select("doc_id", "eval_id", "n_shared")


# ---------------------------------------------------------------------------
# Deterministic exact-k per-group sample (reservoir analog)
# ---------------------------------------------------------------------------

SAMPLE_K = 8


@gate(
    "reservoir_group_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {duckdb_h52("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT lang, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= {SAMPLE_K}
    """,
)
def q_reservoir_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per group, deterministic: rank by the
    portable h52 of the row key and keep the k smallest — the reservoir-
    sampling twin that is retry-safe and engine-portable (a true
    random reservoir is neither).  Complements gate:stratified_sample
    (hash-threshold Bernoulli, approximate k) with exact cardinality;
    the rank shuffle carries only (group, key, hash).
    """
    from inferdb_spark.functions.hashing import h52
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        h52(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id")
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram detection (document-frequency heavy hitters)
# ---------------------------------------------------------------------------

BOILER_N = 3
BOILER_MIN_DF = 5
BOILER_TOPN = 20


@gate(
    "boilerplate_ngrams",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {duckdb_tokens('text')} AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(length(t) - {BOILER_N - 2}, 1)),
                 i -> array_to_string(t[i:i+{BOILER_N - 1}], ' '))) AS g
        FROM tok
      )
    )
    SELECT g AS gram, CAST(count(*) AS BIGINT) AS df
    FROM grams GROUP BY g HAVING count(*) >= {BOILER_MIN_DF}
    ORDER BY df DESC, gram ASC LIMIT {BOILER_TOPN}
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top repeated word trigrams by document frequency — the boilerplate/
    template detector (licence headers, nav bars) run before dedup in a
    corpus pipeline.  Distinct-per-doc postings then a two-phase count —
    the same partial-aggregate shape as the vocab build, with an integer
    (df desc, gram asc) total order for the top-k.
    """
    from inferdb_spark.functions.text import word_ngrams_sql

    d = load_table(spark, sf_dir, "documents")
    # array_distinct makes (doc_id, gram) unique per row already — no
    # dedup shuffle needed before the df count
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(word_ngrams_sql("`text`", BOILER_N)))
        ).alias("gram"),
    )
    df_counts = (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
    )
    return df_counts.orderBy(F.desc("df"), F.asc("gram")).limit(BOILER_TOPN)


# ---------------------------------------------------------------------------
# Weighted priority sampling (Duffield–Lund–Thorup) — deterministic twin
# ---------------------------------------------------------------------------

PRIO_K = 6


@gate(
    "priority_weighted_sample",
    oracle=f"""
    WITH pr AS (
      SELECT source, doc_id, n_chars,
             CAST(n_chars AS DOUBLE) * {float(1 << 52)}
               / CAST({duckdb_h52("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
               AS priority
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, n_chars, priority,
             row_number() OVER (
               PARTITION BY source ORDER BY priority DESC, doc_id ASC
             ) AS rn
      FROM pr
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           round(priority, 4) AS priority,
           CAST(rn AS BIGINT) AS sample_rank
    FROM ranked WHERE rn <= {PRIO_K}
    """,
)
def q_priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of k docs per source by PRIORITY SAMPLING
    (Duffield–Lund–Thorup): priority = weight / u with u = (h52(key)+1)/2^52,
    keep the k largest per group.  Inclusion probability tracks weight
    (here n_chars — longer docs proportionally likelier), estimates of
    weight sums stay unbiased via the threshold rule, and the whole design
    is DETERMINISTIC: u comes from the portable hash, priority is one IEEE
    multiply + divide (no transcendentals), so resamples are reproducible
    across engines and retries.  Same rank-shuffle shape as
    gate:reservoir_group_sample (the unweighted special case).
    """
    from inferdb_spark.functions.hashing import h52
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    u_inv = (h52(F.col("doc_id").cast("string")) + 1).cast("double")
    pr = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("n_chars").cast("double") * F.lit(float(1 << 52)) / u_inv).alias(
            "priority"
        ),
    )
    w = Window.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        pr.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= PRIO_K)
        .withColumn("priority", F.round("priority", 4))
    )


# ---------------------------------------------------------------------------
# Embedding centroid pooling (per-label mean vector, exact integer units)
# ---------------------------------------------------------------------------


@gate(
    "embedding_label_centroids",
    oracle=f"""
    WITH dims AS (
      SELECT label, i.i AS dim,
             CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS v_micro
      FROM embeddings, (SELECT unnest(range(1, 5)) AS i) i
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_micro) AS BIGINT) AS sum_micro,
           round(CAST(sum(v_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000, 6) AS centroid
    FROM dims
    GROUP BY label, dim
    """,
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) — the prototype/
    class-center computation behind IVF coarse quantizers, prototype
    classifiers, and label-cluster diagnostics.  Each float component is
    rounded to integer micro-units BEFORE the sum, so the per-dimension
    accumulation is exact BIGINT (float vector sums are partition-order-
    dependent; this is the determinism recipe the KMeans/PCA fits in
    operators/cluster + linreg use).  posexplode keys the shuffle on
    (label, dim) — #labels × dim cells regardless of row count.  Output
    restricted to the first 4 dims to keep the gate relation small.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # slice BEFORE posexplode so the generator only emits the kept dims
    dims = e.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.slice(F.col("embedding"), 1, 4)).alias("dim0", "v"),
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * F.lit(1000000.0)).cast("long").alias(
            "v_micro"
        ),
    )
    return dims.groupBy("label", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_micro").cast("long").alias("sum_micro"),
        F.round(
            F.sum("v_micro").cast("double") / F.count("*").cast("double") / 1000000,
            6,
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# BPE-style pre-tokenizer counting (whitespace + regex token bases)
# ---------------------------------------------------------------------------

from inferdb_spark.functions.text import BPE_SPLIT_RE as _BPE_RE


@gate(
    "bpe_token_count",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_extract_all(lower(text), '{_BPE_RE.replace("'", "''")}'),
                         x -> trim(x) <> '') AS bt,
             {duckdb_tokens('text')} AS wt
      FROM documents
    )
    SELECT doc_id,
           CAST(length(wt) AS BIGINT) AS ws_tokens,
           CAST(length(bt) AS BIGINT) AS bpe_tokens,
           CAST(length(list_distinct(bt)) AS BIGINT) AS bpe_distinct
    FROM t
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting on both bases the curation pipelines use: whitespace
    tokens (functions/text.tokens) and BPE-style pre-tokens — the GPT-2
    pre-tokenizer pattern restricted to a lookahead-free subset so the
    IDENTICAL regex executes on Java regex and RE2 (the gate proves the
    match lists agree).  Pre-token count is the standard cheap proxy for
    subword token cost when budgeting a training mixture; pure projection,
    fused into the scan.
    """
    from inferdb_spark.functions.text import bpe_token_count, bpe_tokens, tokens_sql

    d = load_table(spark, sf_dir, "documents")
    bt = F.filter(bpe_tokens(F.col("text")), lambda t: F.trim(t) != "")
    return d.select(
        "doc_id",
        F.size(F.expr(tokens_sql("`text`"))).cast("long").alias("ws_tokens"),
        F.size(bt).cast("long").alias("bpe_tokens"),
        F.size(F.array_distinct(bt)).cast("long").alias("bpe_distinct"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (exact, no-false-negative dedup)
# ---------------------------------------------------------------------------

PF_T = 0.8


@gate(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH {_D_CORPUS},
    pf_corpus AS (SELECT * FROM corpus
                  WHERE doc_id % 2000000 < 600 AND doc_id < 10000000),
    sets_l AS (SELECT doc_id, {_d_char_shingles('text', MH_SHINGLE)} AS sh FROM pf_corpus),
    sets AS (SELECT doc_id, unnest(sh) AS s FROM sets_l),
    dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sets GROUP BY s),
    sized AS (
      SELECT doc_id, s, df, count(*) OVER (PARTITION BY doc_id) AS sz
      FROM sets JOIN dfreq USING (s)
    ),
    prefix AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn,
               sz - CAST(ceil({PF_T} * sz) AS BIGINT) + 1 AS plen
        FROM sized
      ) WHERE rn <= plen
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(round(CAST(length(list_intersect(x.sh, y.sh)) AS DOUBLE)
                / length(list_distinct(list_concat(x.sh, y.sh))), 6) AS DOUBLE)
             AS jaccard
    FROM cand c JOIN sets_l x ON c.id_a = x.doc_id
                JOIN sets_l y ON c.id_b = y.doc_id
    WHERE CAST(length(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / length(list_distinct(list_concat(x.sh, y.sh))) >= {PF_T}
    """,
)
def q_prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at Jaccard ≥ 0.8 via PREFIX FILTERING
    — the guaranteed-complete alternative to MinHash LSH
    (gate:ngram_jaccard_verify): any qualifying pair must share one of the
    rarest ⌈(1−t)·|d|⌉+1 shingles, so candidates are few and recall is
    exactly 1 (pigeonhole, not probability).  Same injected near-dup
    corpus, same exact-Jaccard verify stage (operators/dedup.
    prefix_filter_pairs + ngram_jaccard).
    """
    # bounded slice (same filter in the oracle): the synthetic corpus has
    # a tiny shingle vocabulary, so "rare"-prefix posting lists stop being
    # rare as the corpus grows and the candidate join degenerates — the
    # gate pins algorithm correctness on a fixed-cardinality subset.  On a
    # real web corpus (heavy-tailed shingle df) the full-corpus join is
    # the production path.  `doc_id < 10M` pins the slice to the BASE
    # replica of the key-shifted scale ramp (tools/make_scale_data.py
    # SHIFT=10M): a no-op at sf<=0.1, a fixed 600-doc stratum at sf1 — so
    # the exact-recall oracle stays scale-proportionate and no gate needs
    # excluding from the sf1 run.
    corpus = _spark_corpus(spark, sf_dir).filter(
        (F.col("doc_id") % 2000000 < 600) & (F.col("doc_id") < 10_000_000)
    )
    cand = DD.prefix_filter_pairs(
        corpus, "doc_id", "text", threshold=PF_T, shingle_n=MH_SHINGLE
    )
    j = DD.ngram_jaccard(corpus, cand, "doc_id", "text", ngram_n=MH_SHINGLE, mode="char")
    return j.filter(F.col("jaccard") >= PF_T).select(
        "id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard")
    )
