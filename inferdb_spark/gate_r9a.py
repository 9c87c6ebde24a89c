"""Round-9 gates, batch 1: the shortlist-based ranking evaluation —
the scale default the round-7 verdict asked for (#6).

`ranking_eval_metrics` (gate_r5c) evaluates retrieval EXACTLY: every query
scores every candidate, quadratic by construction (sf1: 800 x 19k pairs =
141 s).  This gate runs the same metric relations
(operators/rank_metrics.ranking_metrics) over a multi-probe-LSH
shortlisted candidate set instead: candidates hash to their sign bucket
over N_PLANES literal hyperplanes (2^N_PLANES balanced cells), each query
scores only its own bucket plus its weakest-plane flip, and n_rel is
normalized by a LINEAR label-count join — the plan a 100 TB corpus needs
(partition-prune the probed buckets; no all-pairs stage anywhere).

Design note (measured, round-8 ranking-eval report): distance-argmin IVF
cells around random literal centroids collapse onto whichever centroid
sits nearest the data mean — the shortlist stays near-quadratic.  Sign
buckets are balanced by construction on roughly-isotropic embeddings, and
query-directed multi-probe (flip the weakest bit) recovers much of the
recall of probing independent tables.  Fitted-k-means IVF remains the
operator-level alternative (rank_metrics.ivf_shortlisted_eval); recall
and wall time of all three paths are recorded in BASELINE.md via
tools/ann_recall_report.py --ranking-eval, not assumed.

Reference parity: evaluates the retrieval stage the reference's benchmark
queries score with brute-force scans (src/experiments — no ANN path at
all); the LSH shortlist is this repo's documented scale substitution.

Cross-engine determinism: dyadic literal hyperplanes (exactly
representable doubles) burned into both dialects; projection folds
written with the same element order on both sides; weakest-plane
selection = lexicographic min of (|proj|, index) structs, ties to the
lowest plane index in both engines; bit flip in pure integer arithmetic
(no XOR builtin dependence); cosine rounded to 6dp before ranking;
(cos6 DESC, cid ASC) total order; all metric arithmetic in integer
micro-units (shared _RANK_* SQL constants from gate_r5c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.vector import as_double_array, l2_norm
from inferdb_spark.gate import gate
from inferdb_spark.gate_r5c import (
    _RANK_DISC_SQL,
    _RANK_IDCG_SQL,
    _RANK_MRR_SQL,
)
from inferdb_spark.operators import similarity as SIM
from inferdb_spark.operators.rank_metrics import (
    RANK_K,
    lsh_shortlist_pairs,
    ranking_metrics,
)

assert RANK_K == 10  # the imported oracle literals are generated for k=10

EMB_DIM = 64
N_PLANES = 5  # 32 balanced sign cells
N_PROBE = 2  # own bucket + weakest-plane flip
RANK_PLANES = SIM.make_hyperplanes(N_PLANES, EMB_DIM, seed=1234)

_plane_sql = ["[" + ", ".join(repr(x) for x in p) + "]" for p in RANK_PLANES]


def _proj(ps: str) -> str:
    """dot(v, plane) — the exact element order of functions.vector.dot's
    zip_with fold."""
    return (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        f" k -> v[k] * ({ps})[k]))"
    )


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {_proj(ps)} > 0 THEN CAST({2**i} AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END)"
    for i, ps in enumerate(_plane_sql)
)
# weakest plane = lexicographic min of (|proj|, index) structs — the same
# struct-sort idiom as similarity.hyperplane_multiprobe_sql's array_sort
_WEAK_SQL = (
    "list_sort(["
    + ", ".join(
        f"{{'d': abs({_proj(ps)}), 'i': {i}}}" for i, ps in enumerate(_plane_sql)
    )
    + "])[1].i"
)
# bit flip in integer arithmetic: b XOR 2^w == b + 2^w - 2*bit_w(b)*2^w
_FLIP_SQL = (
    "(b + pw - 2 * (CAST(floor(CAST(b AS DOUBLE) / CAST(pw AS DOUBLE))"
    " AS BIGINT) % 2) * pw)"
)

# shared CTE chain up to the per-query top-k shortlist ranking — reused
# verbatim by gate_r9c's ERR/RBP gate
_RANKIVF_TOP_CTES = f"""base AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nb AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM base
),
qp AS (
  SELECT vec_id, label, v, nrm, {_BUCKET_SQL} AS b,
         CAST(pow(2.0, {_WEAK_SQL}) AS BIGINT) AS pw
  FROM nb WHERE vec_id % 25 = 0
),
q AS (
  SELECT vec_id, label, v, nrm, [b, {_FLIP_SQL}] AS probe FROM qp
),
c AS (
  SELECT *, {_BUCKET_SQL} AS list_id
  FROM nb WHERE vec_id % 25 <> 0
),
p AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
         round(CASE WHEN q.nrm > 0 AND c.nrm > 0
               THEN list_sum(list_transform(generate_series(1, {EMB_DIM}),
                    i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm)
               ELSE 0.0 END, 6) AS cos6
  FROM q JOIN c ON list_contains(q.probe, c.list_id)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, cid ASC) AS rnk
  FROM p
),
top AS (
  SELECT qid, cid, rel, rnk,
         SUM(rel) OVER (PARTITION BY qid ORDER BY rnk) AS cum
  FROM rk WHERE rnk <= {RANK_K}
)"""

_RANKIVF_ORACLE = f"""
WITH {_RANKIVF_TOP_CTES},
lc AS (
  SELECT label AS lbl, CAST(count(*) AS BIGINT) AS n
  FROM nb WHERE vec_id % 25 <> 0 GROUP BY label
),
rr AS (
  SELECT q.vec_id AS qid, CAST(COALESCE(lc.n, 0) AS BIGINT) AS n_rel
  FROM q LEFT JOIN lc ON q.label = lc.lbl
),
m AS (
  SELECT qid,
         CAST(SUM(rel * ({_RANK_DISC_SQL})) AS BIGINT) AS dcg,
         MIN(CASE WHEN rel = 1 THEN rnk END) AS frank,
         CAST(SUM(CASE WHEN rel = 1
              THEN CAST(floor((1000000.0 * cum) / rnk) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS ap_num
  FROM top GROUP BY qid
)
SELECT rr.qid, rr.n_rel,
  CAST(CASE WHEN rr.n_rel = 0 THEN 0.0
       ELSE round(CAST(m.dcg AS DOUBLE) / ({_RANK_IDCG_SQL}), 6) END AS DOUBLE) AS ndcg6,
  CAST({_RANK_MRR_SQL} AS DOUBLE) AS mrr6,
  CAST(CASE WHEN rr.n_rel = 0 THEN 0.0
       ELSE round(CAST(m.ap_num AS DOUBLE)
                  / (CAST(LEAST(rr.n_rel, 10) AS DOUBLE) * 1000000.0), 6)
       END AS DOUBLE) AS ap6
FROM rr JOIN m ON rr.qid = m.qid
ORDER BY rr.qid
"""


@gate("ranking_eval_shortlist", oracle=_RANKIVF_ORACLE)
def q_ranking_eval_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / MAP@10 with multi-probe-LSH shortlisted
    candidates: each query scores only 2 of 32 balanced sign cells
    (~1/16 of the all-pairs work; the ratio holds at any corpus size,
    and on a real cluster the probed buckets are partition-pruned at
    the scan).  Shares the metric relations with the exact gate
    (gate:ranking_eval_metrics), which keeps its brute-force guard as
    the quality reference."""
    qs, cs = rankivf_split(spark, sf_dir)
    pairs = lsh_shortlist_pairs(
        F.broadcast(qs), cs, RANK_PLANES, n_probe=N_PROBE
    )
    label_counts = cs.groupBy(F.col("clabel").alias("_lbl")).agg(
        F.count("*").cast("long").alias("_n")
    )
    n_rel = qs.join(
        F.broadcast(label_counts), F.col("qlabel") == F.col("_lbl"), "left"
    ).select(
        "qid", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_rel")
    )
    return ranking_metrics(pairs, n_rel, k=RANK_K).select(
        "qid", "n_rel", "ndcg6", "mrr6", F.col("map6").alias("ap6")
    )


def rankivf_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (queries, candidates) split shared by the shortlist ranking
    gates (this module and gate_r9c's ERR/RBP): every 25th vector is a
    query, the rest are the corpus; columns as rank_metrics expects."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        as_double_array(F.col("embedding")).alias("v"),
    )
    nb = e.withColumn("nrm", l2_norm(F.col("v")))
    qs = nb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cs = nb.where(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    return qs, cs
