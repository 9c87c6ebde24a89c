"""Gate queries: the relation-sketch suite and ranked retrieval.

The reference's exact COUNT(DISTINCT) accounting (`src/optimizer.py:225-231`,
index filling degree) and its corpus statistics get scale-path twins here —
every sketch is a PLAIN RELATION with an engine-portable estimator (see
operators/sketch.py), which is what lets DuckDB recompute each one
bit-for-bit:

- KMV (distinct counting + merge rollup + pairwise set algebra);
- equi-width histograms (mergeable quantiles);
- Bloom filter (shippable pre-join membership);
- count-min sketch (frequency estimation);
- BM25 ranked retrieval — the IR-standard upgrade of gate:tfidf_top_terms,
  scoring a fixed conjunctive query through an inverted-index-shaped
  relational plan.

Determinism: every ranking key is integer (micro-nat scores, BIGINT hashes);
floats appear only as rounded output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.functions.text import duckdb_tokens, tokens_sql
from inferdb_spark.gate import gate
from inferdb_spark.gate_prep import _d_word_gram_hashes
from inferdb_spark.operators.sketch import (
    H52_SPACE,
    bloom_build,
    bloom_probe,
    cms_build,
    cms_estimate,
    hist_quantile_estimate,
    hist_quantile_merge,
    hist_quantile_sketch,
    kmv_estimate,
    kmv_merge,
    kmv_pairwise_overlap,
    kmv_sketch,
)

KMV_K = 32

# DuckDB twin of the KMV estimate: per-group kth smallest h52(text) hash and
# the (k-1)*2^52/kth estimator, exact when the group has < k distinct hashes.
_KMV_ORACLE = f"""
    WITH h AS (
      SELECT DISTINCT lang, {duckdb_h52('text')} AS h FROM documents
    ),
    ranked AS (
      SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY lang) AS nd
      FROM h
    )
    SELECT lang,
           CAST(max(nd) AS BIGINT) AS n_distinct_hash,
           CAST(max(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT) AS kth_hash,
           CASE WHEN max(nd) < {KMV_K}
                THEN CAST(max(nd) AS DOUBLE)
                ELSE round({float((KMV_K - 1) * H52_SPACE)}
                           / CAST(max(CASE WHEN rn = {KMV_K} THEN h END) AS DOUBLE), 4)
           END AS est_distinct
    FROM ranked GROUP BY lang
"""


@gate("kmv_distinct_sketch", oracle=_KMV_ORACLE)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KMV distinct-text sketch, estimate vs exact.

    The scale path for the reference's exact distinct-key accounting
    (`src/optimizer.py:225-231`): one dedup shuffle over (group, hash),
    then a per-group top-k rank filter over the already-small hash
    relation.  Unlike approx_count_distinct's HLL, the sketch state is a
    plain BIGINT array column with an engine-portable estimator, so the
    oracle recomputes it bit-for-bit.
    """
    d = load_table(spark, sf_dir, "documents")
    sk = kmv_sketch(d, ["lang"], F.col("text"), KMV_K)
    est = kmv_estimate(sk, KMV_K)
    return est.join(_exact_hash_distinct(d), "lang").select(
        "lang", "n_distinct_hash", "kth_hash", "est_distinct"
    )


def _exact_hash_distinct(d: DataFrame) -> DataFrame:
    """Exact per-lang distinct-hash count (the estimator's ground truth —
    counted on the hash, the same universe the sketch samples)."""
    return (
        d.select("lang", h52(F.col("text")).alias("h"))
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").alias("n_distinct_hash"))
    )


@gate("kmv_merge_rollup", oracle=_KMV_ORACLE)
def q_kmv_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merge rollup: per-(lang, source) partial KMV sketches merged
    up to per-lang — the incremental pattern where each ingest batch
    persists its partial sketch and any later rollup merges sketches
    instead of re-reading 100 TB.  Merge is min-k over the union of the
    partials' hash sets (associative, idempotent, retry-safe), so the
    merged sketch is IDENTICAL to the direct per-lang sketch — the oracle
    is literally the direct computation.
    """
    d = load_table(spark, sf_dir, "documents")
    partials = kmv_sketch(d, ["lang", "source"], F.col("text"), KMV_K)
    merged = kmv_merge(partials, ["lang"], KMV_K)
    est = kmv_estimate(merged, KMV_K)
    return est.join(_exact_hash_distinct(d), "lang").select(
        "lang", "n_distinct_hash", "kth_hash", "est_distinct"
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window")
BM25_TOPN = 20


@gate(
    "bm25_ranked_retrieval",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({duckdb_tokens('text')}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) AS total_len FROM dl),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    q AS (SELECT unnest(['spark','join','window']) AS term),
    idf AS (SELECT term, round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
            FROM dfreq JOIN q USING (term) CROSS JOIN stats),
    scored AS (
      SELECT t.doc_id,
             CAST(sum(CAST(round(
               idf * round(t.tf * ({BM25_K1} + 1.0)
                     / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * d.dl / (total_len / n_docs))), 6)
               * 1e6) AS BIGINT)) AS BIGINT) AS score_micro,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf t JOIN idf USING (term) JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN stats
      GROUP BY t.doc_id
    )
    SELECT doc_id, score_micro, n_terms_hit FROM scored
    ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOPN}
    """,
)
def q_bm25_ranked_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 3-term query over the documents corpus.

    Inverted-index shape done relationally: postings = (doc, term, tf) from
    one tokenize pass; document-frequency and corpus stats are
    vocabulary-/constant-sized relations that BROADCAST onto the postings,
    so the only wide shuffle is the per-(doc,term) count.  The query-term
    semi-join prunes the postings scan to 3 terms before any join.  All
    ranking on integer micro-nat scores (idf and tf-normalization each
    rounded to 6dp before the multiply, identically in the oracle), ties
    to lowest doc_id.  Scale: posting-list build is the corpus-statistics
    job (shared with tfidf/vocab gates); per-query scoring touches only
    the queried terms' postings — the 100 TB plan a search over curated
    training data needs.  Extends gate:tfidf_top_terms to the IR-standard
    scoring the reference's corpus tooling lacks.
    """
    from inferdb_spark.scale import right_size_cached

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
    # ONE tokenize pass: dl and dfreq both derive from the (much smaller)
    # tf relation — dl = Σ tf per doc — and tf feeds scoring, so cache it.
    # right_size_cached: tf cached at the session shuffle width left six
    # downstream stages paying one task per kB-sized partition (the r10
    # driver's 8-core:32-core ratio 0.53 — ANTI-scaling); coalescing the
    # cache to its byte-supported width removes that per-stage task
    # overhead without touching cluster-scale behavior.  r11 alternating
    # A/B at sf0.1/local[32] was a WASH (median 3.52 vs 3.55 — the 32
    # extra tasks cost little on a 32-core box); kept for the low-core
    # ratio and the cluster shape, not a local win.
    tf = right_size_cached(
        tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    ).cache()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("total_len"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    q = spark.createDataFrame([(t,) for t in BM25_QUERY], "term string")
    idf = (
        dfreq.join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
                6,
            ).alias("idf"),
        )
    )
    avgdl = F.col("total_len") / F.col("n_docs")
    tfnorm = F.round(
        F.col("tf") * (BM25_K1 + 1.0)
        / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)),
        6,
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("part_micro", F.round(F.col("idf") * tfnorm * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.sum("part_micro").cast("long").alias("score_micro"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(BM25_TOPN)


# ---------------------------------------------------------------------------
# KMV set algebra: cross-language n-gram overlap from sketches alone

OVL_K = 64
OVL_N = 5  # word n-gram size


@gate(
    "kmv_pairwise_overlap",
    oracle=f"""
    WITH tok AS (SELECT lang, {duckdb_tokens('text')} AS t FROM documents),
    gh AS (
      SELECT DISTINCT lang, gh FROM (
        SELECT lang, unnest({_d_word_gram_hashes('t', OVL_N)}) AS gh FROM tok
      )
    ),
    ranked AS (
      SELECT lang, gh,
             row_number() OVER (PARTITION BY lang ORDER BY gh) AS rn
      FROM gh
    ),
    km AS (
      SELECT lang, list(gh ORDER BY gh) AS kmv
      FROM ranked WHERE rn <= {OVL_K} GROUP BY lang
    ),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, a.kmv AS ka, b.kmv AS kb
      FROM km a JOIN km b ON a.lang < b.lang
    ),
    calc AS (
      SELECT lang_a, lang_b, ka, kb,
             list_slice(list_sort(list_distinct(ka || kb)), 1, {OVL_K}) AS u
      FROM pairs
    ),
    m AS (
      SELECT lang_a, lang_b,
             CAST(length(u) AS BIGINT) AS n_union_kept,
             CAST(length(list_filter(u,
               h -> list_contains(ka, h) AND list_contains(kb, h))) AS BIGINT)
               AS n_both,
             CASE WHEN length(u) < {OVL_K} THEN CAST(length(u) AS DOUBLE)
                  ELSE {float((OVL_K - 1) * H52_SPACE)}
                       / CAST(u[{OVL_K}] AS DOUBLE) END AS union_raw,
             CAST(length(u) AS DOUBLE) AS n_u
      FROM calc
    )
    SELECT lang_a, lang_b, n_union_kept, n_both,
           round(union_raw, 4) AS union_est,
           round(CAST(n_both AS DOUBLE) / n_u, 6) AS jaccard_est,
           round(CAST(n_both AS DOUBLE) * union_raw / n_u, 4) AS intersect_est
    FROM m
    """,
)
def q_kmv_pairwise_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language 5-gram overlap (union/intersection/Jaccard) estimated
    from per-language KMV sketches ALONE — the cross-source contamination
    and mixture-planning question answered without re-reading the corpus.
    One corpus pass builds the sketches; the pairwise set algebra runs on
    a #groups-row relation (operators/sketch.kmv_pairwise_overlap).
    """
    from inferdb_spark.functions.text import word_ngrams_sql

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "lang", F.explode(F.expr(word_ngrams_sql("`text`", OVL_N))).alias("g")
    )
    sk = kmv_sketch(grams, ["lang"], F.col("g"), OVL_K)
    return kmv_pairwise_overlap(sk, "lang", OVL_K)


# ---------------------------------------------------------------------------
# Histogram quantile sketch (mergeable approx percentiles)

HQ_LO, HQ_HI, HQ_BINS = 0.0, 110000.0, 220
HQ_W = (HQ_HI - HQ_LO) / HQ_BINS
HQ_QS = [0.5, 0.9, 0.99]

_HQ_ORACLE = f"""
    WITH binned AS (
      SELECT l_returnflag AS returnflag,
             least(greatest(CAST(floor((l_extendedprice - {HQ_LO}) / {HQ_W}) AS BIGINT),
                            0), {HQ_BINS - 1}) AS bin
      FROM lineitem
    ),
    h AS (SELECT returnflag, bin, count(*) AS cnt FROM binned GROUP BY returnflag, bin),
    c AS (
      SELECT returnflag, bin, cnt,
             sum(cnt) OVER (PARTITION BY returnflag ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY returnflag) AS total
      FROM h
    ),
    j AS (
      SELECT c.*, q,
             greatest(CAST(ceil(q * CAST(total AS DOUBLE)) AS BIGINT), 1) AS r
      FROM c CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in HQ_QS)}]) AS q)
    )
    SELECT returnflag, CAST(q AS DOUBLE) AS q,
           round({HQ_LO} + (CAST(bin AS DOUBLE)
                 + CAST(r - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE))
                 * {HQ_W}, 6) AS est
    FROM j WHERE cum >= r AND (cum - cnt) < r
"""


@gate("hist_quantile_sketch", oracle=_HQ_ORACLE)
def q_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of extended price per return flag from a 220-bin
    histogram sketch — the engine-portable `approx_percentile`/t-digest
    twin (gate:exact_quantiles pins the exact path; this pins the scale
    path).  Build is one map-side-combined shuffle to ≤ bins rows per
    group; estimation is a window over the tiny sketch relation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sk = hist_quantile_sketch(
        li, ["l_returnflag"], F.col("l_extendedprice"), HQ_LO, HQ_HI, HQ_BINS
    )
    return hist_quantile_estimate(
        sk, ["l_returnflag"], HQ_QS, HQ_LO, HQ_HI, HQ_BINS
    ).select(F.col("l_returnflag").alias("returnflag"), "q", "est")


@gate("hist_quantile_merge", oracle=_HQ_ORACLE)
def q_hist_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same estimates from per-(returnflag, linestatus) PARTIAL histograms
    merged up to returnflag — additive merge is exact, so the rollup is
    bit-identical to the direct sketch (the oracle is the direct
    computation).  The incremental-ingest pattern: persist partials per
    batch, merge on demand.
    """
    li = load_table(spark, sf_dir, "lineitem")
    partials = hist_quantile_sketch(
        li,
        ["l_returnflag", "l_linestatus"],
        F.col("l_extendedprice"),
        HQ_LO,
        HQ_HI,
        HQ_BINS,
    )
    merged = hist_quantile_merge(partials, ["l_returnflag"])
    return hist_quantile_estimate(
        merged, ["l_returnflag"], HQ_QS, HQ_LO, HQ_HI, HQ_BINS
    ).select(F.col("l_returnflag").alias("returnflag"), "q", "est")


# ---------------------------------------------------------------------------
# Portable Bloom-filter pre-join filter

BLOOM_M = 4096  # bits
BLOOM_K = 3     # hash functions


def _d_bloom_pos(key_expr: str) -> str:
    """DuckDB list of the BLOOM_K bit positions for a (varchar) key expr."""
    terms = []
    for i in range(BLOOM_K):
        salted = "'b" + str(i) + ".' || " + key_expr
        terms.append(f"({duckdb_h52(salted)} % {BLOOM_M})")
    return "[" + ", ".join(terms) + "]"


@gate(
    "bloom_prejoin_filter",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    kp AS (SELECT unnest({_d_bloom_pos('k')}) AS p FROM keys),
    words AS (
      SELECT CAST(p // 32 AS BIGINT) AS word,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
      FROM kp GROUP BY 1
    ),
    pp AS (
      SELECT o_orderkey, unnest({_d_bloom_pos('CAST(o_custkey AS VARCHAR)')}) AS p
      FROM orders
    ),
    cand AS (
      SELECT o_orderkey
      FROM pp JOIN words ON CAST(p // 32 AS BIGINT) = words.word
      WHERE (words.bits & (1::BIGINT << CAST(p % 32 AS INT))) <> 0
      GROUP BY o_orderkey HAVING count(*) = {BLOOM_K}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_probed,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey
                            AND c.c_mktsegment = 'BUILDING')) AS n_true
    """,
)
def q_bloom_prejoin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-join filter as a PORTABLE relation: build a (word, bits)
    bloom over one segment's customer keys, probe every order, and report
    probed/candidate/true counts (candidates ⊇ true — no false negatives,
    the false-positive surplus is the m/n trade-off made visible).

    Unlike Spark's injected runtime bloom (engine-internal, per-query),
    this filter persists and ships: build once from the 300-key dim side,
    broadcast ~m/32 BIGINT rows into any consumer — including a different
    engine, as the oracle itself proves — and cut the 100 TB probe side
    before the exact join (operators/sketch.bloom_build / bloom_probe).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
    )
    bloom = bloom_build(keys, F.col("k"), BLOOM_K, BLOOM_M)
    cand = bloom_probe(
        o, F.col("o_custkey").cast("string"), bloom, BLOOM_K, BLOOM_M
    )
    true_keys = keys.select(F.col("k").cast("long").alias("tk"))
    n_true = o.join(
        F.broadcast(true_keys), F.col("o_custkey") == F.col("tk"), "left_semi"
    ).count()
    return (
        o.agg(F.count("*").cast("long").alias("n_probed"))
        .crossJoin(
            cand.agg(F.count("*").cast("long").alias("n_candidates"))
        )
        .withColumn("n_true", F.lit(n_true).cast("long"))
    )


# ---------------------------------------------------------------------------
# Count-min sketch frequency estimates

CMS_D, CMS_W = 4, 1024
CMS_PROBES = ("spark", "join", "window", "table", "nosuchtoken")


def _d_cms_pos(val_expr: str) -> str:
    terms = []
    for i in range(CMS_D):
        salted = "'r" + str(i) + ".' || " + val_expr
        terms.append(f"({duckdb_h52(salted)} % {CMS_W})")
    return "[" + ", ".join(terms) + "]"


@gate(
    "cms_term_frequency",
    oracle=f"""
    WITH tok AS (SELECT unnest({duckdb_tokens('text')}) AS term FROM documents),
    pos AS (
      SELECT i - 1 AS row, p[i] AS col
      FROM (SELECT {_d_cms_pos('term')} AS p FROM tok) t,
           (SELECT unnest(range(1, {CMS_D + 1})) AS i) ii
    ),
    cms AS (
      SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
      FROM pos GROUP BY row, col
    ),
    probes AS (SELECT unnest({list(CMS_PROBES)}) AS probe),
    ppos AS (
      SELECT probe, i - 1 AS row, p[i] AS col
      FROM (SELECT probe, {_d_cms_pos('probe')} AS p FROM probes) t,
           (SELECT unnest(range(1, {CMS_D + 1})) AS i) ii
    ),
    est AS (
      SELECT probe, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
      FROM ppos LEFT JOIN cms USING (row, col)
      GROUP BY probe
    ),
    truth AS (
      SELECT probe, CAST(count(term) AS BIGINT) AS true_cnt
      FROM probes LEFT JOIN tok ON term = probe GROUP BY probe
    )
    SELECT probe, est, true_cnt FROM est JOIN truth USING (probe)
    """,
)
def q_cms_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term frequencies vs exact counts for five probe
    terms (one absent).  The CMS is a (row, col, cnt) relation — 4×1024
    exact integer counters, additively mergeable, probed here in BOTH
    engines bit-for-bit (Spark's count_min_sketch blob cannot be).
    est ≥ true always; the absent term estimates 0 unless all four of its
    counters collide.  Build is one posexplode + map-side-combined count.
    """
    d = load_table(spark, sf_dir, "documents")
    # NOTE (r10): spread() before this tokenize REFUTED by alternating
    # A/B (min 1.97 -> 2.29 s) — same tokenize->groupBy shape as
    # fit_vocab; the refutation note there carries the analysis.
    tok = d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
    cms = cms_build(tok, F.col("term"), CMS_D, CMS_W)
    probes = spark.createDataFrame([(t,) for t in CMS_PROBES], "probe string")
    est = cms_estimate(cms, probes, F.col("probe"), CMS_D, CMS_W)
    truth = (
        probes.join(tok, F.col("term") == F.col("probe"), "left")
        .groupBy("probe")
        .agg(F.count("term").cast("long").alias("true_cnt"))
    )
    return est.join(truth, "probe").select("probe", "est", "true_cnt")


# ---------------------------------------------------------------------------
# Integer PageRank over the supplier↔part shipment graph

PR_ITERS = 4
PR_DAMP = 850000
PR_TOPN = 20


def _pr_oracle() -> str:
    base = 1000000 - PR_DAMP
    parts = [
        """
    edges AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
             CAST(l_partkey + 1000000 AS BIGINT) AS dst FROM lineitem
      UNION ALL
      SELECT DISTINCT CAST(l_partkey + 1000000 AS BIGINT),
             CAST(l_suppkey AS BIGINT) FROM lineitem
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)"""
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(f"""
    c{i} AS (
      SELECT dst, CAST(sum(rank_micro // out_deg) AS BIGINT) AS contrib
      FROM edges e JOIN deg USING (src) JOIN r{i - 1} r ON r.node = e.src
      GROUP BY dst
    ),
    r{i} AS (
      SELECT node,
             CAST({base} + ({PR_DAMP} * coalesce(contrib, 0)) // 1000000
               AS BIGINT) AS rank_micro
      FROM nodes LEFT JOIN c{i} ON node = dst
    )""")
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT node, rank_micro FROM r{PR_ITERS}
    ORDER BY rank_micro DESC, node ASC LIMIT {PR_TOPN}"""
    )


@gate("pagerank_supplier_part", oracle=_pr_oracle())
def q_pagerank_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (4 iterations, d=0.85) over the bidirectional
    supplier↔part shipment graph; top-20 nodes.

    Iterative relational fixpoints beyond connected components: the Spark
    side runs a driver loop over cached edge+degree relations
    (operators/graph.pagerank_integer, localCheckpoint per round); the
    oracle executes the SAME recurrence as 4 unrolled CTE layers.  All
    arithmetic is integer micro-units with floor division, which is what
    makes an ITERATIVE float-free algorithm bit-reproducible across
    engines — classic float PageRank never is (partition-order rounding).
    """
    from inferdb_spark.operators.graph import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1000000).cast("long").alias("dst"),
    ).distinct()
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = fwd.unionByName(rev)
    ranks = pagerank_integer(edges, PR_ITERS, PR_DAMP)
    return ranks.orderBy(F.desc("rank_micro"), F.asc("node")).limit(PR_TOPN)
