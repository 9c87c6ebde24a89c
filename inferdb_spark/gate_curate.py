"""Round-4 corpus-curation/release gates: CCNet perplexity bucketing,
deterministic sharded-export manifest, l-diversity suppression, and
cluster-balanced subsampling.

Cross-engine discipline: every ranking/bucket decision is integer or
hash-based (no float ordering anywhere); ntile/row_number run over total
orders (metric, id); money bands shift to nonnegative before integer
division (Spark `div` truncates, DuckDB `//` floors — identical on
nonnegatives)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52
from inferdb_spark.functions.text import duckdb_normalize, duckdb_tokens
from inferdb_spark.gate import gate
from inferdb_spark.gate_llm4 import _tri_doc_scores_cte
from inferdb_spark.gate_llm3 import SD_CENTROIDS, SD_DIM, _SD_CENT_SQL

# ---------------------------------------------------------------------------
# CCNet perplexity head/middle/tail bucketing (Wenzek et al. 2020) over the
# stupid-backoff trigram scores (gate_llm4's shared docsc CTE chain)

PPLB_BUCKETS = 3
PPLB_KEEP = (1,)


@gate(
    "perplexity_bucket_select",
    oracle="WITH " + _tri_doc_scores_cte() + f""",
    base AS (
      SELECT s.doc_id, d.source, s.n_trigrams, s.score_unats,
             CAST((-(s.score_unats) * 1000) // s.n_trigrams AS BIGINT)
                 AS ppl_q
      FROM docsc s JOIN documents d ON d.doc_id = s.doc_id
      WHERE s.n_trigrams >= 1
    ),
    bk AS (
      SELECT doc_id, source, ppl_q,
             CAST(ntile({PPLB_BUCKETS}) OVER (
                 PARTITION BY source ORDER BY ppl_q, doc_id) AS INT)
                 AS bucket
      FROM base
    )
    SELECT doc_id, source, ppl_q, bucket,
           CAST(CASE WHEN bucket IN ({",".join(str(b) for b in PPLB_KEEP)})
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM bk
    """,
)
def q_perplexity_bucket_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (operators/textprep.
    perplexity_bucket_select; Wenzek et al. 2020): score the held-out
    split with the stupid-backoff trigram LM trained on the 90% split,
    then ntile each SOURCE into head/middle/tail by integer
    milli-micro-nats-per-trigram and keep the head.  The ranking key and
    ntile boundaries are exact integers over a total order, so bucket
    membership replays bit-identically; one window per source."""
    from inferdb_spark.operators.textprep import (
        ngram_lm_counts,
        perplexity_bucket_select,
        stupid_backoff_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    tri, big, uni, n_tok, vocab = ngram_lm_counts(
        docs.filter(F.col("doc_id") % 10 != 0)
    )
    scored = stupid_backoff_score(
        docs.filter(F.col("doc_id") % 10 == 0), tri, big, uni, n_tok, vocab
    ).join(docs.select("doc_id", "source"), "doc_id")
    out = perplexity_bucket_select(
        scored, n_buckets=PPLB_BUCKETS, keep_buckets=PPLB_KEEP
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "ppl_q",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("kept").cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# deterministic sharded-export manifest (operators/export.py)

EXPORT_SHARDS = 16


@gate(
    "sharded_export_manifest",
    oracle=f"""
    WITH m AS (
      SELECT CAST({duckdb_h52("CAST(doc_id AS VARCHAR)")} % {EXPORT_SHARDS}
                 AS INT) AS shard_id,
             CAST(length({duckdb_tokens('text')}) AS BIGINT) AS tok,
             {duckdb_h52('text')} AS h
      FROM documents
    )
    SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(bit_xor(h) AS BIGINT) AS checksum
    FROM m GROUP BY shard_id
    """,
)
def q_sharded_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-manifest aggregation for the deterministic sharded export
    (operators/export.sharded_export_manifest): shard = portable 52-bit
    md5 hash of the doc id mod 16, per-shard doc/token counts and an
    order-independent bit_xor content fingerprint — every column exact
    integer, so the manifest (and hence the export audit) is reproducible
    across engines, retries, and partitionings.  One map-side-combinable
    aggregation at any corpus size."""
    from inferdb_spark.operators.export import sharded_export_manifest

    d = load_table(spark, sf_dir, "documents")
    return sharded_export_manifest(
        d, id_col="doc_id", text_col="text", n_shards=EXPORT_SHARDS
    )


# ---------------------------------------------------------------------------
# l-diversity suppression audit (operators/validate.l_diversity_suppress)

LDIV_L = 4


@gate(
    "l_diversity_suppress",
    oracle=f"""
    WITH b AS (
      SELECT c_nationkey,
             (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
                 // 200000 AS band,
             c_mktsegment
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, band, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS ndv
      FROM b GROUP BY c_nationkey, band
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation, CAST(band AS BIGINT) AS band,
           n, ndv,
           CAST(CASE WHEN ndv >= {LDIV_L} THEN 1 ELSE 0 END AS INT) AS kept
    FROM g
    """,
)
def q_l_diversity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity suppression audit (operators/validate.
    l_diversity_suppress, l=4 over quasi (nation, acctbal band) with
    sensitive c_mktsegment): per-group distinct-sensitive counts and the
    keep decision; the operator itself null-safe-semi-joins qualifying
    groups back onto the rows (pytest asserts row-level equivalence).
    The acctbal band shifts cents nonnegative before integer division so
    truncation == floor on both engines."""
    from inferdb_spark.operators.validate import l_diversity_suppress

    c = load_table(spark, sf_dir, "customer").withColumn(
        "band",
        F.expr(
            "(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)"
            " div 200000"
        ),
    )
    kept = l_diversity_suppress(
        c, ["c_nationkey", "band"], "c_mktsegment", LDIV_L
    )
    g_all = c.groupBy("c_nationkey", "band").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("c_mktsegment").cast("long").alias("ndv"),
    )
    g_kept = kept.groupBy("c_nationkey", "band").agg(
        F.count("*").alias("_nk")
    )
    return (
        g_all.join(g_kept, ["c_nationkey", "band"], "left")
        .select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("band").cast("long").alias("band"),
            "n",
            "ndv",
            F.when(F.col("_nk").isNotNull(), 1).otherwise(0).cast("int")
            .alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# cluster-balanced subsampling (operators/similarity.cluster_balanced_sample)

CBS_QUOTA = 40


@gate(
    "cluster_balanced_sample",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cl AS (SELECT * FROM (VALUES {_SD_CENT_SQL}) AS t(cid, cv)),
    d AS (
      SELECT e.vec_id, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(e.embedding[i] as double) - cl.cv[i])
                    * (cast(e.embedding[i] as double) - cl.cv[i]))) AS dsq
      FROM e CROSS JOIN cl
    ),
    m AS (SELECT vec_id, min(dsq) AS md FROM d GROUP BY vec_id),
    asg AS (
      SELECT d.vec_id, min(d.cid) AS cluster
      FROM d JOIN m ON d.vec_id = m.vec_id AND d.dsq = m.md
      GROUP BY d.vec_id
    ),
    rk AS (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY cluster ORDER BY
                 {duckdb_h52("CAST(vec_id AS VARCHAR)")}, vec_id) AS rk
      FROM asg
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INT) AS cluster,
           CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= {CBS_QUOTA}
    """,
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling (operators/similarity.
    cluster_balanced_sample): map-only nearest-literal-centroid assign
    (lowest-id tiebreak), then a deterministic per-cluster quota of 40 by
    (h52(id) ASC, id ASC) hash rank — topic-balanced data selection whose
    membership is a pure function of the id.  One cluster-keyed shuffle;
    the oracle replays the argmin and the hash rank exactly."""
    from inferdb_spark.operators.similarity import cluster_balanced_sample

    e = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(
        e, "embedding", SD_CENTROIDS, CBS_QUOTA, id_col="vec_id"
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        "rk",
    )


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py): purchase <- latest preceding click per user


@gate(
    "asof_attribution",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS t FROM events
      WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT event_id, user_id, epoch_us(ts) AS t FROM events
      WHERE event_type = 'click'
    ),
    u AS (
      SELECT user_id, t, 0 AS side, event_id AS seq,
             CAST(NULL AS BIGINT) AS l_id, event_id AS r_id, t AS r_t
      FROM r
      UNION ALL
      SELECT user_id, t, 1 AS side, 0 AS seq, event_id,
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM l
    ),
    m AS (
      SELECT user_id, t, side, l_id,
             last_value(r_id IGNORE NULLS) OVER w AS click_id,
             last_value(r_t IGNORE NULLS) OVER w AS click_us
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY t, side, seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(l_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(t AS BIGINT) AS purchase_us,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(click_us AS BIGINT) AS click_us,
           CAST(t - click_us AS BIGINT) AS lag_us
    FROM m WHERE side = 1
    """,
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/relational_ext.asof_join): every purchase
    matched to the latest preceding-or-simultaneous click by the same
    user — attribution / point-in-time-correct feature lookup.  Union +
    ordered-window algorithm: ONE shuffle on user_id, O(n log n) per
    partition, no range-join pair explosion; the matched row is an
    atomic payload struct and ties among equal click timestamps break on
    event_id (greatest wins — right_seq_col).  Unlike asof_join_rates
    (whose oracle is DuckDB's native ASOF), this oracle replays the
    identical union/window/frame, pinning duplicate-timestamp ties
    native ASOF leaves unspecified.  Times are exact integer
    epoch-micros on both engines."""
    from inferdb_spark.operators.relational_ext import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event"), "user_id", "t_us"
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="t_us",
        right_ts="t_us",
        right_values=["click_event"],
        right_seq_col="click_event",
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("t_us").cast("long").alias("purchase_us"),
        F.col("click_event_asof").cast("long").alias("click_id"),
        F.col("t_us_asof").cast("long").alias("click_us"),
        (F.col("t_us") - F.col("t_us_asof")).cast("long").alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# tokenizer fertility eval: per-source tokens-per-word with a fitted BPE
# merge list applied map-only (operators/bpe_train.bpe_apply)

FERT_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("e", "r"), ("o", "r"), ("a", "n"), ("i", "n"),
]


def _fert_chain_sql() -> str:
    seq = "'|' || array_to_string(regexp_extract_all(word, '.'), '||') || '|'"
    for a, b in FERT_MERGES:
        seq = f"replace({seq}, '|{a}||{b}|', '|{a}{b}|')"
    return seq


@gate(
    "tokenizer_fertility",
    oracle=f"""
    WITH w AS (
      SELECT source, t AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT source, unnest({duckdb_tokens('text')}) AS t FROM documents)
      GROUP BY source, t
    ),
    seg AS (
      SELECT source, cnt,
             CAST(length(string_split(trim({_fert_chain_sql()}, '|'), '||'))
                  AS BIGINT) AS np
      FROM w
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * np) AS BIGINT) AS n_pieces,
           CAST((1000 * sum(cnt * np)) // sum(cnt) AS BIGINT)
               AS fertility_milli
    FROM seg GROUP BY source
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (pieces per word — the standard tokenizer-
    quality metric) per source, with a fixed BPE merge list applied via
    operators/bpe_train.bpe_apply over the DISTINCT-WORD relation
    weighted by occurrence counts — the corpus is scanned once for the
    word counts and the segmentation cost is vocabulary-sized, so the
    eval is corpus-size-independent after one aggregation.  Exact
    integers end to end (milli-fertility by nonneg integer division)."""
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.bpe_train import bpe_apply

    d = load_table(spark, sf_dir, "documents")
    w = (
        d.select("source", F.explode(F.expr(tokens_sql("`text`"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    seg = w.select(
        "source",
        "cnt",
        F.size(bpe_apply(F.col("word"), FERT_MERGES)).cast("long").alias("np"),
    )
    return seg.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.col("np")).cast("long").alias("n_pieces"),
        F.expr("CAST((1000 * sum(cnt * np)) div sum(cnt) AS BIGINT)").alias(
            "fertility_milli"
        ),
    )


# ---------------------------------------------------------------------------
# train/test split-leakage audit (operators/dedup.split_leakage_audit):
# MinHash band collisions BETWEEN deterministic hash splits

from inferdb_spark.gate_prep import (  # noqa: E402
    _D_CORPUS,
    _band_rows,
    _sig_exprs,
    _spark_corpus,
    _d_shingle_hashes,
)

SPLK_MOD = 10


@gate(
    "split_leakage_audit",
    oracle=f"""
    WITH {_D_CORPUS},
    hashed AS (
      SELECT doc_id, {_d_shingle_hashes('text', 4)} AS hs FROM corpus
    ),
    sig AS (SELECT doc_id, {_sig_exprs} FROM hashed),
    bands AS ({_band_rows}),
    sb AS (
      SELECT doc_id, band_id, band_key,
             CASE WHEN {duckdb_h52("CAST(doc_id AS VARCHAR)")} % {SPLK_MOD}
                  = 0 THEN 1 ELSE 0 END AS _test
      FROM bands
    ),
    cands AS (
      SELECT DISTINCT t.doc_id AS test_id, r.doc_id AS train_id
      FROM sb t JOIN sb r
        ON t.band_id = r.band_id AND t.band_key = r.band_key
       AND t._test = 1 AND r._test = 0
    )
    SELECT CAST(test_id AS BIGINT) AS test_id,
           CAST(count(*) AS BIGINT) AS n_train_cands,
           CAST(min(train_id) AS BIGINT) AS min_train_id
    FROM cands GROUP BY test_id
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit (operators/dedup.
    split_leakage_audit; Lee et al. 2022's cross-split contamination
    concern): deterministic h52(id) % 10 hash split, then MinHash
    band-bucket collisions BETWEEN splits flag candidate leaks — the
    LSH dedup machinery re-pointed across the split boundary, so the
    join shuffles only (band, key, id) triples, never all pairs.  The
    corpus carries gate_prep's injected near-duplicates, whose clones
    hash into different splits and MUST be flagged."""
    from inferdb_spark.operators.dedup import split_leakage_audit

    corpus = _spark_corpus(spark, sf_dir)
    return split_leakage_audit(
        corpus, "doc_id", "text",
        n_hashes=16, bands=4, shingle_n=4, mode="char", seed=42,
        test_mod=SPLK_MOD,
    ).select(
        F.col("test_id").cast("long").alias("test_id"),
        "n_train_cands",
        "min_train_id",
    )


# ---------------------------------------------------------------------------
# character-entropy quality signal (operators/textprep.char_entropy)


@gate(
    "char_entropy_quality",
    oracle=f"""
    WITH nt AS (
      SELECT doc_id, {duckdb_normalize('text')} AS t FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, length(t)),
                 i -> substring(t, i, 1))) AS ch
      FROM nt WHERE length(t) >= 1
    ),
    cnt AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch
    ),
    per AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS sq
      FROM cnt GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars, n_distinct,
           CAST(CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
                - (sq // n_chars) AS BIGINT) AS entropy_micro
    FROM per
    """,
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document (operators/textprep.
    char_entropy) — the language-agnostic gibberish/template-spam signal.
    Each transcendental term is quantized to BIGINT micro-nats BEFORE
    aggregation (order-independent exact integer sums — the gbt_train
    rule), the final division is nonneg-integer, so the signal replays
    bit-identically across engines, partitions, and retries."""
    from inferdb_spark.operators.textprep import char_entropy

    d = load_table(spark, sf_dir, "documents")
    out = char_entropy(d, "doc_id", "text")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars",
        "n_distinct",
        F.col("entropy_micro").cast("long").alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# per-document n-gram novelty (operators/textprep.ngram_novelty)

NOV_N = 8


@gate(
    "ngram_novelty",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {duckdb_tokens('text')} AS t FROM documents),
    post AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, {duckdb_h52('g')} AS gh FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {NOV_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{NOV_N - 1}], ' '))) AS g
          FROM tok)
      )
    ),
    dfre AS (SELECT gh, CAST(count(*) AS BIGINT) AS dfr FROM post GROUP BY gh)
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN d.dfr >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST((1000 * (count(*) - sum(CASE WHEN d.dfr >= 2 THEN 1 ELSE 0
                END))) // count(*) AS BIGINT) AS novelty_milli
    FROM post p JOIN dfre d USING (gh)
    GROUP BY p.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word 8-gram novelty (operators/textprep.
    ngram_novelty; the Lee et al. 2022 memorization-risk metric):
    fraction of a doc's n-grams occurring in at least one OTHER doc.
    Posting relation of 8-byte gram hashes -> one document-frequency
    groupBy -> hash join back -> per-doc aggregation; exact integers
    (novelty in milli-units via nonneg integer division)."""
    from inferdb_spark.operators.textprep import ngram_novelty

    d = load_table(spark, sf_dir, "documents")
    out = ngram_novelty(d, "doc_id", "text", n=NOV_N)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams",
        "n_shared",
        "novelty_milli",
    )


# ---------------------------------------------------------------------------
# END-TO-END curation pipeline: quality filter -> exact dedup ->
# decontamination -> per-source token budget, ONE oracle for the whole chain

E2E_MIN_TOKENS = 20
E2E_DECON_N = 5
E2E_DECON_SHARED = 3
E2E_BUDGET = 2000


@gate(
    "e2e_curation_pipeline",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
    -- eval suite capped at doc_id < 2500: a no-op at gate scales (every
    -- doc_id < 2500 there) that bounds the per-eval-doc LITERAL gram
    -- arrays the stateless streaming filter compiles into its plan —
    -- fixed benchmark suites are small by definition, and an uncapped
    -- sf1 suite (1000 docs) made the literal plan pathological
    ev AS (SELECT doc_id AS eval_id, text FROM documents
           WHERE doc_id % 50 = 0 AND doc_id < 2500),
    s1 AS (
      SELECT * FROM corpus
      WHERE length(string_split(text, ' ')) >= {E2E_MIN_TOKENS}
    ),
    keep2 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
    s2 AS (SELECT s1.* FROM s1 JOIN keep2 USING (doc_id)),
    cg AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, {duckdb_h52('g')} AS gh FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT doc_id, {duckdb_tokens('text')} AS t FROM s2))
      )
    ),
    eg AS (
      SELECT DISTINCT eval_id, gh FROM (
        SELECT eval_id, {duckdb_h52('g')} AS gh FROM (
          SELECT eval_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT eval_id, {duckdb_tokens('text')} AS t FROM ev))
      )
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT cg.doc_id, eg.eval_id, count(*) AS n_shared
        FROM cg JOIN eg USING (gh)
        GROUP BY cg.doc_id, eg.eval_id
        HAVING count(*) >= {E2E_DECON_SHARED})
    ),
    s3 AS (
      SELECT s2.* FROM s2 LEFT JOIN hits ON s2.doc_id = hits.doc_id
      WHERE hits.doc_id IS NULL
    ),
    t AS (
      SELECT doc_id, source,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM s3
    ),
    r AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
                 PARTITION BY source
                 ORDER BY n_tokens DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens, cum_tokens
    FROM r WHERE cum_tokens <= {E2E_BUDGET}
    """,
)
def q_e2e_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation as ONE hash-checked relation: quality
    length filter (>= 20 whitespace tokens) -> exact dedup (lowest-id
    per md5, operators/dedup.exact_dedup) -> eval-suite decontamination
    (drop corpus docs sharing >= 3 word-5-grams with the held-out
    doc_id % 50 = 0 suite, operators/textprep.decontaminate) ->
    per-source 2000-token budget (operators/textprep.
    token_budget_per_source).  Four real operators chained exactly as a
    corpus build runs them; the oracle replays the whole chain, so
    STAGE COMPOSITION (not just each operator alone) is cross-engine
    verified.  Plan: each stage's shuffles only — no driver traffic,
    no recomputation (lazy chaining lets Catalyst pipeline the
    projections between shuffles)."""
    from inferdb_spark.operators.dedup import exact_dedup
    from inferdb_spark.operators.textprep import (
        decontaminate,
        token_budget_per_source,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    evald = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 2500)
    ).select(F.col("doc_id").alias("eval_id"), "text")
    s1 = corpus.where(
        F.size(F.split(F.col("text"), " ")) >= E2E_MIN_TOKENS
    )
    s2 = exact_dedup(s1, ["text"], "doc_id")
    s3 = decontaminate(
        s2, evald, n=E2E_DECON_N, min_shared=E2E_DECON_SHARED,
        corpus_id="doc_id", text_col="text",
    )
    out = token_budget_per_source(s3, E2E_BUDGET)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "n_tokens",
        "cum_tokens",
    )


# ---------------------------------------------------------------------------
# incremental SemDeDup (operators/similarity.semantic_dedup_incremental):
# new-batch dedup against an immutable kept corpus

from inferdb_spark.gate_llm3 import SD_THRESHOLD, _d_cos  # noqa: E402


@gate(
    "semantic_dedup_incremental",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    ex AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 1),
    cl AS (SELECT * FROM (VALUES {_SD_CENT_SQL}) AS t(cid, cv)),
    db AS (
      SELECT b.vec_id, b.embedding, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(b.embedding[i] as double) - cl.cv[i])
                    * (cast(b.embedding[i] as double) - cl.cv[i]))) AS dsq,
             {_d_cos('b.embedding', 'cl.cv')} AS ccos
      FROM b CROSS JOIN cl
    ),
    mb AS (SELECT vec_id, min(dsq) AS md FROM db GROUP BY vec_id),
    asgb0 AS (
      SELECT db.vec_id, min(db.cid) AS cluster
      FROM db JOIN mb ON db.vec_id = mb.vec_id AND db.dsq = mb.md
      GROUP BY db.vec_id
    ),
    asgb AS (
      SELECT a0.vec_id, a0.cluster,
             CAST(floor(d.ccos * 1000000.0 + 0.5) AS BIGINT) AS ccos_q,
             d.embedding
      FROM asgb0 a0 JOIN db d
        ON d.vec_id = a0.vec_id AND d.cid = a0.cluster
    ),
    de AS (
      SELECT ex.vec_id, ex.embedding, cl.cid,
             list_sum(list_transform(generate_series(1, {SD_DIM}),
                 i -> (cast(ex.embedding[i] as double) - cl.cv[i])
                    * (cast(ex.embedding[i] as double) - cl.cv[i]))) AS dsq
      FROM ex CROSS JOIN cl
    ),
    me AS (SELECT vec_id, min(dsq) AS md FROM de GROUP BY vec_id),
    asge AS (
      SELECT de.vec_id, min(de.cid) AS cluster, any_value(de.embedding)
                 AS embedding
      FROM de JOIN me ON de.vec_id = me.vec_id AND de.dsq = me.md
      GROUP BY de.vec_id
    ),
    l1 AS (
      SELECT DISTINCT x.vec_id
      FROM asgb x JOIN asge e ON x.cluster = e.cluster
      WHERE {_d_cos('x.embedding', 'e.embedding')} >= {SD_THRESHOLD!r}
    ),
    l2 AS (
      SELECT DISTINCT x.vec_id
      FROM asgb x JOIN asgb y
        ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
       AND (y.ccos_q < x.ccos_q
            OR (y.ccos_q = x.ccos_q AND y.vec_id < x.vec_id))
      WHERE {_d_cos('x.embedding', 'y.embedding')} >= {SD_THRESHOLD!r}
    )
    SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster, a.ccos_q
    FROM asgb a
    LEFT JOIN l1 ON a.vec_id = l1.vec_id
    LEFT JOIN l2 ON a.vec_id = l2.vec_id
    WHERE l1.vec_id IS NULL AND l2.vec_id IS NULL
    """,
)
def q_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (operators/similarity.
    semantic_dedup_incremental): the vec_id % 5 = 0 ingest batch deduped
    against the immutable % 5 = 1 kept corpus — existing docs always
    win, batch-internal duplicates fall to semantic_dedup's greedy
    (ccos_q, id) rule, so ingest never re-pairs the corpus.  Both joins
    shuffle on cluster id only; reduces to plain semantic_dedup when the
    kept corpus is empty (pytest-asserted)."""
    from inferdb_spark.operators.similarity import semantic_dedup_incremental

    e = load_table(spark, sf_dir, "embeddings")
    batch = e.filter(F.col("vec_id") % 5 == 0)
    existing = e.filter(F.col("vec_id") % 5 == 1)
    out = semantic_dedup_incremental(
        existing, batch, "embedding", SD_CENTROIDS, threshold=SD_THRESHOLD
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("ccos_q").cast("long").alias("ccos_q"),
    )


# ---------------------------------------------------------------------------
# streaming curation chain (round-5): the e2e pipeline's stages 1-3 run as
# a REAL Structured Streaming job; emitted distinct content set == batch

_stream_cur_counter = 0


def _stage_documents(spark: SparkSession, sf_dir: str):
    """Stage the documents table into a /tmp parquet dir (file stream
    sources need a directory); returns (stage_path, schema)."""
    import hashlib
    import os

    d = load_table(spark, sf_dir, "documents")
    stage = os.path.join(
        "/tmp",
        "inferdb_stream_docs_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        d.repartition(4).write.mode("overwrite").parquet(stage)
    return stage, d.schema


@gate(
    "stream_curation_chain",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
    -- eval suite capped at doc_id < 2500: a no-op at gate scales (every
    -- doc_id < 2500 there) that bounds the per-eval-doc LITERAL gram
    -- arrays the stateless streaming filter compiles into its plan —
    -- fixed benchmark suites are small by definition, and an uncapped
    -- sf1 suite (1000 docs) made the literal plan pathological
    ev AS (SELECT doc_id AS eval_id, text FROM documents
           WHERE doc_id % 50 = 0 AND doc_id < 2500),
    s1 AS (
      SELECT * FROM corpus
      WHERE length(string_split(text, ' ')) >= {E2E_MIN_TOKENS}
    ),
    cg AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, {duckdb_h52('g')} AS gh FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT doc_id, {duckdb_tokens('text')} AS t FROM s1))
      )
    ),
    eg AS (
      SELECT DISTINCT eval_id, gh FROM (
        SELECT eval_id, {duckdb_h52('g')} AS gh FROM (
          SELECT eval_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT eval_id, {duckdb_tokens('text')} AS t FROM ev))
      )
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT cg.doc_id, eg.eval_id, count(*) AS n_shared
        FROM cg JOIN eg USING (gh)
        GROUP BY cg.doc_id, eg.eval_id
        HAVING count(*) >= {E2E_DECON_SHARED})
    ),
    s3 AS (
      SELECT s1.* FROM s1 LEFT JOIN hits ON s1.doc_id = hits.doc_id
      WHERE hits.doc_id IS NULL
    )
    SELECT DISTINCT md5(text) AS content_h,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM s3
    ORDER BY content_h
    """,
)
def q_stream_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation chain run as a REAL streaming query (streaming.
    curation_stream): readStream over the staged documents dir (1 file
    per trigger) → stateless quality filter → stateless decontamination
    against the eval suite's literal gram arrays → stateful
    dropDuplicates on md5(text) → memory sink, run to completion.  The
    emitted DISTINCT CONTENT SET must equal the batch chain's (the
    DuckDB oracle replays quality→decon→DISTINCT content) no matter how
    files/triggers interleave — stream == batch row-for-row on the
    content-derived columns, the stream_dedup_exact contract extended to
    the whole chain.  Dedup-vs-decon order is immaterial for the content
    set (both are content functions), which is exactly why the chain is
    safe to run incrementally."""
    from inferdb_spark.operators.textprep import ngram_hash_postings
    from inferdb_spark.streaming.scoring_stream import (
        curation_stream,
        run_stream_to_memory,
        stream_from_parquet_dir,
    )

    global _stream_cur_counter
    _stream_cur_counter += 1
    name = f"gate_stream_curation_{_stream_cur_counter}"

    docs = load_table(spark, sf_dir, "documents")
    evald = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 2500)
    ).select(F.col("doc_id").alias("eval_id"), "text")
    # fixed benchmark suite -> per-eval-doc distinct gram hashes, collected
    # once at plan time (k-row fit-time collect, the centroid-literal
    # pattern); at sf0.01 this is ~10 docs
    eval_grams: dict[int, list[int]] = {}
    for row in ngram_hash_postings(evald, "eval_id", "text", E2E_DECON_N).collect():
        eval_grams.setdefault(row["eval_id"], []).append(row["gh"])
    gram_lists = [sorted(v) for _, v in sorted(eval_grams.items())]

    stage, schema = _stage_documents(spark, sf_dir)
    stream = stream_from_parquet_dir(spark, stage, schema).where(
        F.col("doc_id") % 50 != 0
    )
    curated = curation_stream(
        stream,
        gram_lists,
        min_tokens=E2E_MIN_TOKENS,
        n=E2E_DECON_N,
        min_shared=E2E_DECON_SHARED,
        bounded_state=False,
    )
    run_stream_to_memory(curated, name, "append")
    out = spark.sql(f"select * from {name}")
    return out.select(
        "content_h",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    ).orderBy("content_h")

# ---------------------------------------------------------------------------
# Streaming decontamination, UNCAPPED eval suite (the foreachBatch
# broadcast-join form).  Where stream_curation_chain compiles the (small,
# capped) eval suite into plan literals, this gate ships the suite as a
# posting relation broadcast-joined per microbatch — the form that holds at
# ANY suite size, so the oracle has no doc_id cap.


@gate(
    "stream_decon_foreachbatch",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
    ev AS (SELECT doc_id AS eval_id, text FROM documents
           WHERE doc_id % 50 = 0),
    s1 AS (
      SELECT * FROM corpus
      WHERE length(string_split(text, ' ')) >= {E2E_MIN_TOKENS}
    ),
    cg AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, {duckdb_h52('g')} AS gh FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT doc_id, {duckdb_tokens('text')} AS t FROM s1))
      )
    ),
    eg AS (
      SELECT DISTINCT eval_id, gh FROM (
        SELECT eval_id, {duckdb_h52('g')} AS gh FROM (
          SELECT eval_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT eval_id, {duckdb_tokens('text')} AS t FROM ev))
      )
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT cg.doc_id, eg.eval_id, count(*) AS n_shared
        FROM cg JOIN eg USING (gh)
        GROUP BY cg.doc_id, eg.eval_id
        HAVING count(*) >= {E2E_DECON_SHARED})
    ),
    s3 AS (
      SELECT s1.* FROM s1 LEFT JOIN hits ON s1.doc_id = hits.doc_id
      WHERE hits.doc_id IS NULL
    )
    SELECT DISTINCT md5(text) AS content_h,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM s3
    ORDER BY content_h
    """,
)
def q_stream_decon_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation chain as a streaming job whose decontamination stage
    is a per-microbatch BROADCAST JOIN against the FULL eval-suite
    posting relation (streaming.curation_stream_foreach_batch) — no
    doc_id cap, no plan literals: the suite-size-independent form.
    quality filter (stateless) → exact content dedup (stateful, in the
    streaming graph) → foreachBatch decon anti-join → idempotent
    per-batch_id parquet partitions.  The emitted distinct content set
    must equal the batch chain's (DuckDB replays quality→decon→DISTINCT
    content with NO suite cap) for any file/trigger interleaving —
    dedup commutes with the content-predicate decon filter."""
    import os
    import shutil

    from inferdb_spark.operators.textprep import ngram_hash_postings
    from inferdb_spark.streaming.scoring_stream import (
        curation_stream_foreach_batch,
        stream_from_parquet_dir,
    )

    global _stream_cur_counter
    _stream_cur_counter += 1
    run_dir = f"/tmp/inferdb_stream_decon_fb_{os.getpid()}_{_stream_cur_counter}"
    shutil.rmtree(run_dir, ignore_errors=True)
    out_path = os.path.join(run_dir, "out")
    ckpt = os.path.join(run_dir, "ckpt")

    docs = load_table(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    eval_postings = ngram_hash_postings(evald, "eval_id", "text", E2E_DECON_N)

    stage, schema = _stage_documents(spark, sf_dir)
    stream = stream_from_parquet_dir(spark, stage, schema).where(
        F.col("doc_id") % 50 != 0
    )
    q = curation_stream_foreach_batch(
        stream,
        eval_postings,
        out_path,
        ckpt,
        min_tokens=E2E_MIN_TOKENS,
        n=E2E_DECON_N,
        min_shared=E2E_DECON_SHARED,
    )
    q.processAllAvailable()
    q.stop()
    return (
        spark.read.parquet(out_path)
        .select(
            "content_h",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
        .orderBy("content_h")
    )
