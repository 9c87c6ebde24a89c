"""Round-7 gate queries, batch 9: corpus BLEU (intra-document halves)
and HITS hub/authority scoring.

- BLEU-2 of each document's first half against its second half is the
  MT-metric machinery (clipped n-gram precision + brevity penalty)
  repurposed as an intra-document repetition diagnostic — the same
  quantity gate:gopher_repetition approximates with duplicate-line
  ratios, now measured the way an eval harness would.  All counts are
  exact integers; the four precision ratios divide once at the end.
- HITS (Kleinberg) runs hubs-and-authorities over the supplier→part
  bipartite graph ENTIRELY in integer micro-units with max-normalization
  by integer division each round — the same bit-reproducible iteration
  discipline as operators/graph.pagerank_integer, which float HITS
  (order-dependent accumulation + float normalization) cannot offer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.gate import gate

_BLEU_FINAL = (
    "CAST(round(CASE WHEN num1 = 0 OR num2 = 0 THEN 0.0 ELSE "
    "(CASE WHEN c_len < r_len THEN exp(1.0 - CAST(r_len AS DOUBLE) / c_len) "
    "ELSE 1.0 END) "
    "* exp(0.5 * (ln(CAST(num1 AS DOUBLE) / den1)"
    " + ln(CAST(num2 AS DOUBLE) / den2))) END, 6) AS DOUBLE)"
)


def _spark_grams(arr, n: int):
    """word n-grams over a token-array column (space-joined); the
    word_ngrams_sql shape generalized to a pre-sliced array.  bind_once
    evaluates the (sliced) array a single time — referencing it inside
    the per-element lambda would re-evaluate the slice per gram."""

    def build(t):
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return TXT.bind_once(arr, build)


def _duck_grams(arr_sql: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({arr_sql}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({arr_sql}, i, i + {n - 1}), ' '))"
    )


def _gram_parallelism(spark, sf_dir: str) -> int:
    """Reduce-partition count for the exploded-gram shuffle, proportional
    to the documents table's on-disk size (~16x explode factor, ~64 MB
    per reduce partition).  The session's spark.sql.shuffle.partitions
    (32) is sized for ROW-sized shuffles; the gram explode multiplies
    bytes ~16x, and at sf10 the 32-way reduce sorted ~3 GB per task and
    spilled catastrophically (measured: bleu_self_halves >12x linear).
    On a cluster this is the same knob as shuffle-partition autoscaling."""
    import os

    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        nbytes = 0
    return max(
        spark.sparkContext.defaultParallelism, (nbytes * 16) // (64 << 20) + 1
    )


def gram_overlap_stats(spark, sf_dir: str, halves, ns=(1, 2)):
    """Per-(doc_id, n) clipped-overlap statistics of candidate-half vs
    reference-half grams: (ov, c_cnt, r_cnt) — the shared machinery of
    gate:bleu_self_halves and gate:rouge_n_halves.

    ONE shuffle total: both sides' gram explodes are tagged and union'd,
    so a single groupBy(doc, n, gram) with conditional sums replaces the
    former cand-vs-ref fact-fact SortMergeJoin (which shuffled the gram
    relation twice and joined ~1e9-row sides at sf10).  Grams present on
    only one side contribute zeros exactly as the old left/full joins
    did.  The explicit repartition scales the reduce width with data
    size (see _gram_parallelism)."""
    parts = []
    for side, flag in (("cand", 1), ("ref", 0)):
        for n in ns:
            parts.append(
                halves.select(
                    "doc_id",
                    F.lit(n).alias("n"),
                    F.explode(_spark_grams(F.col(side), n)).alias("g"),
                    F.lit(flag).alias("w"),
                )
            )
    both = parts[0]
    for p in parts[1:]:
        both = both.unionByName(p)
    both = both.repartition(_gram_parallelism(spark, sf_dir), "doc_id", "n", "g")
    merged = both.groupBy("doc_id", "n", "g").agg(
        F.sum("w").cast("long").alias("c_cand"),
        F.sum(1 - F.col("w")).cast("long").alias("c_ref"),
    )
    return merged.groupBy("doc_id", "n").agg(
        F.sum(F.least(F.col("c_cand"), F.col("c_ref")))
        .cast("long")
        .alias("ov"),
        F.sum("c_cand").cast("long").alias("c_cnt"),
        F.sum("c_ref").cast("long").alias("r_cnt"),
    )


@gate(
    "bleu_self_halves",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {TXT.duckdb_tokens('text')} AS t FROM documents
    ),
    halves AS (
      SELECT doc_id,
             list_slice(t, 1, len(t) // 2) AS cand,
             list_slice(t, len(t) // 2 + 1, len(t)) AS ref
      FROM tok
    ),
    cand_g AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c_cand FROM (
        SELECT doc_id, 1 AS n, unnest({_duck_grams("cand", 1)}) AS g FROM halves
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_duck_grams("cand", 2)}) AS g FROM halves
      ) GROUP BY doc_id, n, g
    ),
    ref_g AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c_ref FROM (
        SELECT doc_id, 1 AS n, unnest({_duck_grams("ref", 1)}) AS g FROM halves
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_duck_grams("ref", 2)}) AS g FROM halves
      ) GROUP BY doc_id, n, g
    ),
    clipped AS (
      SELECT cand_g.n,
             CAST(sum(least(c_cand, coalesce(c_ref, 0))) AS BIGINT) AS num,
             CAST(sum(c_cand) AS BIGINT) AS den
      FROM cand_g LEFT JOIN ref_g
        ON cand_g.doc_id = ref_g.doc_id AND cand_g.n = ref_g.n
           AND cand_g.g = ref_g.g
      GROUP BY cand_g.n
    ),
    lens AS (
      SELECT CAST(sum(len(cand)) AS BIGINT) AS c_len,
             CAST(sum(len(ref)) AS BIGINT) AS r_len
      FROM halves
    ),
    wide AS (
      SELECT
        CAST(max(CASE WHEN n = 1 THEN num END) AS BIGINT) AS num1,
        CAST(max(CASE WHEN n = 1 THEN den END) AS BIGINT) AS den1,
        CAST(max(CASE WHEN n = 2 THEN num END) AS BIGINT) AS num2,
        CAST(max(CASE WHEN n = 2 THEN den END) AS BIGINT) AS den2
      FROM clipped
    )
    SELECT num1, den1, num2, den2, c_len, r_len,
           CAST(round(CAST(num1 AS DOUBLE) / den1, 6) AS DOUBLE) AS p1,
           CAST(round(CAST(num2 AS DOUBLE) / den2, 6) AS DOUBLE) AS p2,
           {_BLEU_FINAL} AS bleu2
    FROM wide CROSS JOIN lens
    """,
)
def q_bleu_self_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-2 of each document's first token-half against its
    second half — clipped modified n-gram precision (n = 1, 2) with the
    brevity penalty, i.e. the standard MT-eval machinery driven as an
    intra-document repetition diagnostic (high self-BLEU = template/
    boilerplate text; the measured twin of gate:gopher_repetition).
    Counts are exact BIGINTs end to end: per-(doc, n-gram) counts from
    ONE tagged grouped explode (gram_overlap_stats — no cand-vs-ref
    join), clipping via least() inside the same aggregation, ONE
    division per precision at the end, and the exp/ln composition in a
    shared SQL string.  Scale: everything keys on (doc_id, gram) —
    embarrassingly parallel, no global relation anywhere; the gram
    shuffle width scales with input size (_gram_parallelism)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(TXT.tokens_sql("`text`")).alias("t"))
    halves = toks.select(
        "doc_id",
        F.expr("slice(t, 1, size(t) div 2)").alias("cand"),
        F.expr("slice(t, size(t) div 2 + 1, size(t) - size(t) div 2)").alias(
            "ref"
        ),
    )
    halves = halves.persist()

    clipped = (
        gram_overlap_stats(spark, sf_dir, halves)
        .groupBy("n")
        .agg(
            F.sum("ov").cast("long").alias("num"),
            F.sum("c_cnt").cast("long").alias("den"),
        )
    )
    lens = halves.agg(
        F.sum(F.size("cand")).cast("long").alias("c_len"),
        F.sum(F.size("ref")).cast("long").alias("r_len"),
    )
    wide = clipped.agg(
        F.max(F.when(F.col("n") == 1, F.col("num"))).cast("long").alias("num1"),
        F.max(F.when(F.col("n") == 1, F.col("den"))).cast("long").alias("den1"),
        F.max(F.when(F.col("n") == 2, F.col("num"))).cast("long").alias("num2"),
        F.max(F.when(F.col("n") == 2, F.col("den"))).cast("long").alias("den2"),
    )
    out = wide.crossJoin(F.broadcast(lens)).selectExpr(
        "num1",
        "den1",
        "num2",
        "den2",
        "c_len",
        "r_len",
        "CAST(round(CAST(num1 AS DOUBLE) / den1, 6) AS DOUBLE) AS p1",
        "CAST(round(CAST(num2 AS DOUBLE) / den2, 6) AS DOUBLE) AS p2",
        f"{_BLEU_FINAL} AS bleu2",
    )
    rows = out.collect()
    halves.unpersist()
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# HITS over the supplier→part bipartite graph, integer micro-units with
# max-normalization by integer division each round (bit-reproducible —
# the pagerank_integer discipline).  h0 = 1e6 for every supplier;
# per round: a(p) = Σ h(s), renormalize a to max 1e6 by a*1e6 div amax;
# h(s) = Σ a(p), renormalize likewise.  Fixed 3 rounds on both engines.

_HITS_ROUNDS = 3
_HITS_TOPK = 15

_HITS_EDGES_SQL = """
    e AS MATERIALIZED (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s, CAST(l_partkey AS BIGINT) AS p
      FROM lineitem WHERE l_partkey % 5 = 0
    ),
    h0 AS MATERIALIZED (
      SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS h FROM e
    )"""


def _hits_oracle(role: str = "authority") -> str:
    steps = []
    for i in range(_HITS_ROUNDS):
        steps.append(
            f"""
    ar{i + 1} AS MATERIALIZED (
      SELECT e.p, CAST(sum(h{i}.h) AS BIGINT) AS a
      FROM e JOIN h{i} ON e.s = h{i}.s GROUP BY e.p
    ),
    am{i + 1} AS MATERIALIZED (SELECT max(a) AS m FROM ar{i + 1}),
    a{i + 1} AS MATERIALIZED (
      SELECT p, CAST(a * 1000000 // am{i + 1}.m AS BIGINT) AS a
      FROM ar{i + 1} CROSS JOIN am{i + 1}
    ),
    hr{i + 1} AS MATERIALIZED (
      SELECT e.s, CAST(sum(a{i + 1}.a) AS BIGINT) AS h
      FROM e JOIN a{i + 1} ON e.p = a{i + 1}.p GROUP BY e.s
    ),
    hm{i + 1} AS MATERIALIZED (SELECT max(h) AS m FROM hr{i + 1}),
    h{i + 1} AS MATERIALIZED (
      SELECT s, CAST(h * 1000000 // hm{i + 1}.m AS BIGINT) AS h
      FROM hr{i + 1} CROSS JOIN hm{i + 1}
    )"""
        )
    r = _HITS_ROUNDS
    final = (
        f"""
    SELECT p AS node, a AS score, 'authority' AS role
    FROM a{r} ORDER BY a DESC, p ASC LIMIT {_HITS_TOPK}
    """
        if role == "authority"
        else f"""
    SELECT s AS node, h AS score, 'hub' AS role
    FROM h{r} ORDER BY h DESC, s ASC LIMIT {_HITS_TOPK}
    """
    )
    return "WITH " + _HITS_EDGES_SQL + "," + ",".join(steps) + final


def _hits_scores(spark: SparkSession, sf_dir: str):
    """Run the fixed-round integer HITS iteration; returns the cached
    edge relation plus the final authority (p, a) and hub (s, h)
    relations.  Caller must unpersist the edge relation."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.filter(F.col("l_partkey") % 5 == 0)
        .select(
            F.col("l_suppkey").cast("long").alias("s"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
        .persist()
    )
    h = e.select("s").distinct().withColumn("h", F.lit(1000000).cast("long"))
    a = None
    for _ in range(_HITS_ROUNDS):
        ar = (
            e.join(h, "s")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        am = ar.agg(F.max("a").alias("m"))
        a = (
            ar.crossJoin(F.broadcast(am))
            .selectExpr("p", "CAST(a * 1000000 div m AS BIGINT) AS a")
            .localCheckpoint(eager=True)
        )
        hr = e.join(a, "p").groupBy("s").agg(F.sum("a").cast("long").alias("h"))
        hm = hr.agg(F.max("h").alias("m"))
        h = (
            hr.crossJoin(F.broadcast(hm))
            .selectExpr("s", "CAST(h * 1000000 div m AS BIGINT) AS h")
            .localCheckpoint(eager=True)
        )
    return e, a, h


@gate("hits_hub_authority", oracle=_hits_oracle())
def q_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) authority scores over the supplier→part bipartite
    graph — top-{k} authority parts after 3 mutual-reinforcement rounds,
    the link-analysis companion to gate:pagerank_supplier_part (PageRank
    ranks by random-walk mass; HITS separates hub quality from authority
    quality).  ENTIRELY integer: scores live in micro-units,
    normalization is a*1e6 div max(a) (one broadcast of a 1-row max per
    round — no float normalization, so partition order and retries can't
    move a single bit).  State is one row per node; each round is two
    grouped joins over the cached edge relation, the pagerank_integer
    discipline.  Top-k via (score DESC, node ASC) TakeOrdered — total
    order, engine-deterministic."""
    e, a, h = _hits_scores(spark, sf_dir)
    out = (
        a.select(
            F.col("p").alias("node"),
            F.col("a").alias("score"),
            F.lit("authority").alias("role"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    rows = out.collect()
    e.unpersist()
    return spark.createDataFrame(rows, out.schema)
