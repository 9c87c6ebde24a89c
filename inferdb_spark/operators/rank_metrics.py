"""Ranking-evaluation metrics (NDCG@k / MRR / MAP@k) factored out of the
exact gate so BOTH candidate-generation strategies feed the same metric
relations:

- the EXACT path (gate:ranking_eval_metrics): brute-force scored pairs,
  quadratic in queries × corpus BY CONSTRUCTION, size-guarded;
- the CORPUS path (:func:`ivf_shortlisted_eval`): IVF coarse-quantizer
  shortlists per query — candidate work is queries × (probed lists'
  sizes), and n_rel normalization comes from a LINEAR label-count join,
  so nothing quadratic remains at 100 TB.

Determinism contract (unchanged from the gate): the (cos6 DESC, cid ASC)
order is total; DCG uses integer MICRO-UNIT discount literals, IDCG a
prefix-sum literal CASE, MRR a 1/rank literal CASE, AP exact integer
precision terms — one float division per metric at the end.

With n_probe = n_lists the shortlist is the whole corpus and the result
equals the exact path row-for-row (tested).  At narrower probes the
shortlist IS the system being evaluated — metrics move in EITHER
direction (dropping a high-scoring irrelevant candidate promotes
relevant ones), which is exactly what an ANN evaluation should surface;
only the n_rel normalization stays exact, because it never depends on
the shortlist.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inferdb_spark.functions.vector import as_double_array, dot, l2_norm

RANK_K = 10
DISC_MICRO = [
    int(math.floor(1_000_000.0 / math.log2(i + 1) + 0.5)) for i in range(1, RANK_K + 1)
]
IDCG_CUM = [sum(DISC_MICRO[: j + 1]) for j in range(RANK_K)]
MRR_LIT = [round(1.0 / r, 6) for r in range(1, RANK_K + 1)]


def ranking_metrics(pairs: DataFrame, n_rel: DataFrame, k: int = RANK_K) -> DataFrame:
    """Per-query (qid, n_rel, ndcg6, mrr6, map6) from a scored candidate
    relation `pairs` (qid, cid, rel, cos6) and a normalization relation
    `n_rel` (qid, n_rel).  Windows run over per-query top-k lists only."""
    wrank = Window.partitionBy("qid").orderBy(F.col("cos6").desc(), F.col("cid").asc())
    rk = pairs.withColumn("rnk", F.row_number().over(wrank)).where(F.col("rnk") <= k)
    wcum = (
        Window.partitionBy("qid")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    top = rk.withColumn("cum", F.sum("rel").over(wcum))

    disc = F.lit(None)
    for i, d in enumerate(DISC_MICRO[:k]):
        disc = (
            F.when(F.col("rnk") == i + 1, d)
            if i == 0
            else disc.when(F.col("rnk") == i + 1, d)
        )
    ap_term = F.when(
        F.col("rel") == 1,
        F.floor((F.lit(1000000.0) * F.col("cum")) / F.col("rnk")).cast("long"),
    ).otherwise(F.lit(0))
    m = top.groupBy("qid").agg(
        F.sum(F.col("rel") * disc).cast("long").alias("dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frank"),
        F.sum(ap_term).cast("long").alias("ap_num"),
    )

    idcg = F.lit(None)
    for j, c in enumerate(IDCG_CUM[:k]):
        cond = F.least(F.col("n_rel"), F.lit(k)) == j + 1
        idcg = F.when(cond, c) if j == 0 else idcg.when(cond, c)
    idcg = idcg.otherwise(F.lit(0))
    mrr = F.lit(None)
    for r, mm in enumerate(MRR_LIT[:k]):
        cond = F.col("frank") == r + 1
        mrr = F.when(cond, F.lit(mm)) if r == 0 else mrr.when(cond, F.lit(mm))
    mrr = mrr.otherwise(F.lit(0.0))

    return (
        n_rel.join(m, "qid")
        .select(
            "qid",
            "n_rel",
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("dcg").cast("double") / idcg, 6))
            .cast("double")
            .alias("ndcg6"),
            mrr.cast("double").alias("mrr6"),
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("ap_num").cast("double")
                    / (F.least(F.col("n_rel"), F.lit(k)).cast("double") * F.lit(1000000.0)),
                    6,
                )
            )
            .cast("double")
            .alias("map6"),
        )
        .orderBy("qid")
    )


def scored_pairs(qs: DataFrame, cs: DataFrame) -> DataFrame:
    """(qid, cid, rel, cos6) from query/candidate relations carrying
    (qid/cid, qlabel/clabel, qv/cv, qn/cn) — the shared scoring
    expression of both evaluation paths."""
    return qs.join(cs, F.lit(True)).select(
        "qid",
        "cid",
        (F.col("qlabel") == F.col("clabel")).cast("long").alias("rel"),
        F.round(
            F.when(
                (F.col("qn") > 0) & (F.col("cn") > 0),
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cos6"),
    )


def _scored_probe_join(qprobe: DataFrame, cand: DataFrame) -> DataFrame:
    """equi-join queries-with-probe-lists to candidates-with-cells on
    list_id and score each pair: (qid, cid, rel, cos6)."""
    return qprobe.join(cand, "list_id").select(
        "qid",
        "cid",
        (F.col("qlabel") == F.col("clabel")).cast("long").alias("rel"),
        F.round(
            F.when(
                (F.col("qn") > 0) & (F.col("cn") > 0),
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cos6"),
    )


def ivf_shortlist_pairs(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """Scored (qid, cid, rel, cos6) pairs restricted to each query's
    `n_probe` nearest IVF lists — the candidate-generation stage shared by
    :func:`ivf_shortlisted_eval` and the shortlist gates.  The only join
    is the equi-join on list_id; nothing quadratic."""
    from inferdb_spark.operators.similarity import (
        ivf_assign_sql,
        ivf_probe_cells_sql,
    )

    cand = candidates.withColumn(
        "list_id", F.expr(ivf_assign_sql("`cv`", centroids))
    )
    qprobe = queries.withColumn(
        "list_id",
        F.explode(F.expr(ivf_probe_cells_sql("`qv`", centroids, n_probe))),
    )
    return _scored_probe_join(qprobe, cand)


def lsh_shortlist_pairs(
    queries: DataFrame,
    candidates: DataFrame,
    planes: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """Scored pairs restricted to each query's multi-probe LSH buckets:
    candidates hash to their sign bucket over `planes`; each query probes
    its own bucket plus the (n_probe - 1) weakest-plane flips
    (similarity.hyperplane_multiprobe_sql).  Sign cells are balanced by
    construction on roughly-isotropic embeddings, where distance-argmin
    cells around random centroids collapse — measured in the round-8
    ranking-eval report."""
    from inferdb_spark.operators.similarity import (
        hyperplane_bucket_sql,
        hyperplane_multiprobe_sql,
    )

    cand = candidates.withColumn(
        "list_id", F.expr(hyperplane_bucket_sql("`cv`", planes))
    )
    qprobe = queries.withColumn(
        "list_id",
        F.explode(F.expr(hyperplane_multiprobe_sql("`qv`", planes, n_probe))),
    )
    return _scored_probe_join(qprobe, cand)


def ivf_shortlisted_eval(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    k: int = RANK_K,
) -> DataFrame:
    """Corpus-scale ranking evaluation: each query scores ONLY the
    candidates in its `n_probe` nearest IVF lists (similarity.ivf_build /
    ivf_probe_cells_sql), and n_rel comes from a LINEAR per-label count of
    the full candidate relation — exact normalization without the
    quadratic pair enumeration.  Inputs carry the same columns as
    :func:`scored_pairs`.  With n_probe = n_lists the shortlist is the
    whole corpus and the result equals the exact path row-for-row."""
    pairs = ivf_shortlist_pairs(queries, candidates, centroids, n_probe)
    label_counts = candidates.groupBy(F.col("clabel").alias("_lbl")).agg(
        F.count("*").cast("long").alias("_n")
    )
    n_rel = (
        queries.join(
            F.broadcast(label_counts), F.col("qlabel") == F.col("_lbl"), "left"
        )
        .select("qid", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_rel"))
    )
    return ranking_metrics(pairs, n_rel, k)
