"""Gate queries: ML-dataflow + featurizer operators (SURVEY.md §2 families
A3, J2, J5/A6, W1-W3, A10/J6, P7, U3 and the query-integration pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.math_fns import sigmoid
from inferdb_spark.gate import (
    DISC_SPLITS,
    QTY_SPLITS,
    TAX_SPLITS,
    _bin_expr_sql,
    gate,
)
from inferdb_spark.operators import featurize as FZ
from inferdb_spark.operators.binning import BinSpec

# dyadic LR weights for the query-integration demo (label ~ returnflag)
LIN_COEF_Q, LIN_COEF_D, LIN_COEF_T, LIN_B = 0.0625, -8.0, 12.0, -1.5

# ---------------------------------------------------------------------------
# WoE / IV aggregation (A3 — the optimizer's core statistic)
# ---------------------------------------------------------------------------


@gate(
    "woe_iv",
    oracle=f"""
    WITH enc AS (
      SELECT {_bin_expr_sql('l_quantity', QTY_SPLITS)} AS bin,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS e FROM enc
    ),
    g AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS events
      FROM enc GROUP BY bin
    )
    SELECT g.bin, g.n, g.events,
           CAST(g.n - g.events AS BIGINT) AS non_events,
           CAST(round(ln(((g.events + 0.5) / t.e) / ((g.n - g.events + 0.5) / (t.n - t.e))), 6) AS DOUBLE) AS woe,
           CAST(round((((g.events + 0.5) / t.e) - ((g.n - g.events + 0.5) / (t.n - t.e)))
                * ln(((g.events + 0.5) / t.e) / ((g.n - g.events + 0.5) / (t.n - t.e))), 6) AS DOUBLE) AS iv_term
    FROM g CROSS JOIN tot t
    """,
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value per bin with the reference's
    0.5 adjustment (src/optimizer.py:53-82) — one groupBy + tiny cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    enc = li.select(
        BinSpec("l_quantity", splits=QTY_SPLITS).expr().alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    tot = enc.agg(F.count("*").alias("tn"), F.sum("y").alias("te"))
    g = enc.groupBy("bin").agg(F.count("*").alias("n"), F.sum("y").alias("events"))
    j = g.crossJoin(F.broadcast(tot))
    dist_ev = (F.col("events") + 0.5) / F.col("te")
    dist_nev = (F.col("n") - F.col("events") + 0.5) / (F.col("tn") - F.col("te"))
    woe = F.log(dist_ev / dist_nev)
    return j.select(
        "bin",
        F.col("n"),
        F.col("events"),
        (F.col("n") - F.col("events")).alias("non_events"),
        F.round(woe, 6).cast("double").alias("woe"),
        F.round((dist_ev - dist_nev) * woe, 6).cast("double").alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# MLP scoring as relational matmul (J5/A6) — dyadic weights, 3 -> 4 -> 1
# ---------------------------------------------------------------------------

NN_W0 = [  # [in=3][hidden=4], dyadic
    [0.5, -0.25, 0.125, 0.75],
    [-1.5, 2.0, -0.5, 0.25],
    [0.25, 0.5, -0.75, -0.125],
]
NN_B0 = [0.25, -0.5, 0.125, 0.0]
NN_W1 = [[0.5], [-0.25], [0.75], [-0.5]]  # [hidden=4][out=1]
NN_B1 = [0.125]

_nn_w0_vals = ", ".join(
    f"({i}, {j}, {NN_W0[i][j]!r})" for i in range(3) for j in range(4)
)
_nn_w1_vals = ", ".join(f"({i}, 0, {NN_W1[i][0]!r})" for i in range(4))
_nn_b0_vals = ", ".join(f"({j}, {NN_B0[j]!r})" for j in range(4))


@gate(
    "mlp_relational",
    oracle=f"""
    WITH coo AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id, 0 AS col_id, l_quantity AS val FROM lineitem WHERE l_quantity <> 0
      UNION ALL
      SELECT l_orderkey*10 + l_linenumber, 1, l_discount FROM lineitem WHERE l_discount <> 0
      UNION ALL
      SELECT l_orderkey*10 + l_linenumber, 2, l_tax FROM lineitem WHERE l_tax <> 0
    ),
    w0 AS (SELECT * FROM (VALUES {_nn_w0_vals}) AS t(in_id, out_id, w)),
    b0 AS (SELECT * FROM (VALUES {_nn_b0_vals}) AS t(out_id, bias)),
    w1 AS (SELECT * FROM (VALUES {_nn_w1_vals}) AS t(in_id, out_id, w)),
    h AS (
      SELECT coo.row_id, w0.out_id AS col_id,
             greatest(0.0, sum(coo.val * w0.w) + any_value(b0.bias)) AS val
      FROM coo JOIN w0 ON coo.col_id = w0.in_id JOIN b0 ON w0.out_id = b0.out_id
      GROUP BY coo.row_id, w0.out_id
    ),
    z AS (
      SELECT h.row_id, sum(h.val * w1.w) + {NN_B1[0]!r} AS z
      FROM h JOIN w1 ON h.col_id = w1.in_id
      GROUP BY h.row_id
    )
    SELECT row_id, CAST(round(1.0 / (1.0 + exp(-z)), 6) AS DOUBLE) AS prediction
    FROM z
    """,
)
def q_mlp_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hidden-layer MLP as relational matrix multiply + ReLU + sigmoid —
    the reference's NN transpilation (src/transpiler.py:1733-1835,
    sql_scripts/nn_inference.sql:14-47).  Dyadic weights keep every product
    and partial sum exactly representable, so the grouped sums are
    order-independent."""
    from inferdb_spark.operators.scoring import score_mlp_relational, sparsify_coo

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        "l_quantity", "l_discount", "l_tax",
    )
    coo = sparsify_coo(li, ["l_quantity", "l_discount", "l_tax"])
    out = score_mlp_relational(
        coo, [NN_W0, NN_W1], [NN_B0, NN_B1], activation="relu", out_link="sigmoid"
    )
    return out.select(
        "row_id", F.round("prediction", 6).cast("double").alias("prediction")
    )


# ---------------------------------------------------------------------------
# multi-class linear argmax (W2 / O4)
# ---------------------------------------------------------------------------

MC_COEF = [
    [0.125, -2.0, 1.5],
    [-0.25, 4.0, -0.5],
    [0.0625, 1.0, 0.25],
]
MC_B = [0.5, -1.0, 0.25]

_mc_scores_sql = ", ".join(
    f"l_quantity * {MC_COEF[c][0]!r} + l_discount * {MC_COEF[c][1]!r}"
    f" + l_tax * {MC_COEF[c][2]!r} + {MC_B[c]!r} AS s{c}"
    for c in range(3)
)


@gate(
    "multiclass_argmax",
    oracle=f"""
    WITH scored AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id, {_mc_scores_sql}
      FROM lineitem
    )
    SELECT row_id,
           CAST(CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                     WHEN s1 >= s2 THEN 1 ELSE 2 END AS INT) AS prediction
    FROM scored
    """,
)
def q_multiclass_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class linear prediction via per-class scores + argmax with
    lowest-class tiebreak — the RANK()=1 pattern (src/transpiler.py:
    1652-1663) collapsed into a projection (no window, no shuffle)."""
    from inferdb_spark.operators.scoring import score_multiclass_linear

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        "l_quantity", "l_discount", "l_tax",
    )
    return score_multiclass_linear(
        li, ["l_quantity", "l_discount", "l_tax"], MC_COEF, MC_B
    ).select("row_id", "prediction")


# ---------------------------------------------------------------------------
# nearest-cluster assignment (W3/J7 — kmeans predict)
# ---------------------------------------------------------------------------

CLUSTERS = [(40.0, -74.0), (40.5, -73.5), (41.0, -74.5), (40.25, -73.75)]
_cl_rows = ", ".join(f"({i}, {la!r}, {lo!r})" for i, (la, lo) in enumerate(CLUSTERS))


@gate(
    "cluster_assign",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             40.0 + (c_custkey % 120) * 0.01 AS lat,
             -74.0 + (c_custkey % 90) * 0.01 AS lon
      FROM customer
    ),
    cl AS (SELECT * FROM (VALUES {_cl_rows}) AS t(cid, clat, clon)),
    d AS (
      SELECT p.c_custkey, cl.cid,
             (p.lat - cl.clat) * (p.lat - cl.clat) + (p.lon - cl.clon) * (p.lon - cl.clon) AS dsq
      FROM pts p CROSS JOIN cl
    ),
    m AS (SELECT c_custkey, min(dsq) AS md FROM d GROUP BY 1)
    SELECT d.c_custkey, CAST(min(d.cid) AS INT) AS cluster
    FROM d JOIN m ON d.c_custkey = m.c_custkey AND d.dsq = m.md
    GROUP BY d.c_custkey
    """,
)
def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-center assignment.  The reference cross-joins rows × centers
    and window-ranks (create_featurizer_pg.py:104-127); with literal centers
    the argmin is array_min over structs — a pure projection."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (F.lit(40.0) + (F.col("c_custkey") % 120) * 0.01).alias("lat"),
        (F.lit(-74.0) + (F.col("c_custkey") % 90) * 0.01).alias("lon"),
    )
    return FZ.assign_nearest_cluster(pts, "lat", "lon", CLUSTERS, "cluster").select(
        "c_custkey", F.col("cluster").cast("int").alias("cluster")
    )


# ---------------------------------------------------------------------------
# route aggregates + composite-key join (A10/J6)
# ---------------------------------------------------------------------------


@gate(
    "route_agg_join",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id % 20 AS route, event_type,
             CAST(round(value*100) AS BIGINT) AS cents,
             event_id % 5 = 0 AS is_test
      FROM events
    ),
    routes AS (
      SELECT route, event_type,
             CAST(count(*) AS BIGINT) AS route_cnt,
             CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS route_avg
      FROM base WHERE NOT is_test GROUP BY route, event_type
    )
    SELECT b.event_id,
           coalesce(r.route_cnt, 0) AS route_cnt,
           CAST(coalesce(r.route_avg, 0.0) AS DOUBLE) AS route_avg
    FROM base b LEFT JOIN routes r ON b.route = r.route AND b.event_type = r.event_type
    WHERE b.is_test
    """,
)
def q_route_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route aggregates fitted on train, broadcast-joined onto test with
    COALESCE(count,0) for unseen routes (nyc_rides featurizer pattern,
    preprocessing_experiment.py:427-435 + query_integration_pgml.sql:12)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 20).alias("route"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 5 == 0).alias("is_test"),
    )
    routes = (
        base.filter(~F.col("is_test"))
        .groupBy("route", "event_type")
        .agg(
            F.count("*").alias("route_cnt"),
            (F.sum("cents").cast("double") / F.count("*") / 100).alias("route_avg"),
        )
    )
    test = base.filter("is_test")
    out = FZ.join_route_aggregates(test, routes, ["route", "event_type"])
    return out.select(
        "event_id",
        F.coalesce("route_cnt", F.lit(0)).alias("route_cnt"),
        F.coalesce("route_avg", F.lit(0.0)).cast("double").alias("route_avg"),
    )


# ---------------------------------------------------------------------------
# PCA projection + manhattan (literal arithmetic)
# ---------------------------------------------------------------------------

PCA_MEANS = [25.5, 0.05, 0.04]
PCA_COMP = [[0.5, -0.25, 0.75], [-0.125, 0.5, 0.25]]  # 2 components, dyadic


@gate(
    "pca_projection",
    oracle=f"""
    SELECT l_orderkey*10 + l_linenumber AS row_id,
           CAST((l_quantity - {PCA_MEANS[0]!r}) * {PCA_COMP[0][0]!r}
              + (l_discount - {PCA_MEANS[1]!r}) * {PCA_COMP[0][1]!r}
              + (l_tax - {PCA_MEANS[2]!r}) * {PCA_COMP[0][2]!r} AS DOUBLE) AS pca_0,
           CAST((l_quantity - {PCA_MEANS[0]!r}) * {PCA_COMP[1][0]!r}
              + (l_discount - {PCA_MEANS[1]!r}) * {PCA_COMP[1][1]!r}
              + (l_tax - {PCA_MEANS[2]!r}) * {PCA_COMP[1][2]!r} AS DOUBLE) AS pca_1
    FROM lineitem
    """,
)
def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x-μ)·Kᵀ burned into the plan as literal arithmetic — the reference's
    PCA featurizer codegen (create_featurizer_pg.py:141-170)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "row_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    out = FZ.pca_project(li, ["l_quantity", "l_discount", "l_tax"], PCA_MEANS, PCA_COMP)
    return out.select(
        "row_id",
        F.col("pca_0").cast("double").alias("pca_0"),
        F.col("pca_1").cast("double").alias("pca_1"),
    )


# ---------------------------------------------------------------------------
# outlier imputation (P7)
# ---------------------------------------------------------------------------

OUT_LO, OUT_HI = 2.0, 48.0
OUT_B0, OUT_COEF = 10.0, {"l_discount": 50.0, "l_tax": 25.0}


@gate(
    "outlier_impute",
    oracle=f"""
    SELECT l_orderkey*10 + l_linenumber AS row_id,
           CAST(CASE WHEN l_quantity >= {OUT_LO!r} AND l_quantity <= {OUT_HI!r} THEN l_quantity
                     ELSE {OUT_B0!r} + l_discount * 50.0 + l_tax * 25.0 END AS DOUBLE) AS qty_imputed
    FROM lineitem
    """,
)
def q_outlier_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN f BETWEEN lo AND hi THEN f ELSE <linear model> — learned
    outlier imputation (create_featurizer_pg.py:173-216)."""
    from inferdb_spark.operators.preprocess import impute_outliers_linear

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        "l_quantity", "l_discount", "l_tax",
    )
    out = impute_outliers_linear(li, "l_quantity", (OUT_LO, OUT_HI), OUT_B0, OUT_COEF)
    return out.select("row_id", F.col("l_quantity").cast("double").alias("qty_imputed"))


# ---------------------------------------------------------------------------
# classification index: majority-vote kv + mode prefix fallback
# ---------------------------------------------------------------------------

_ET_CASE = ("CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
            "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END")


@gate(
    "index_score_classification",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(value > 250.0 AS INT) + CAST(value > 500.0 AS INT) + CAST(value > 750.0 AS INT) AS b1,
             CAST(hour(ts) > 7 AS INT) + CAST(hour(ts) > 15 AS INT) AS b2,
             {_ET_CASE} AS label,
             event_id % 3 = 0 AS is_test
      FROM events
    ),
    percls AS (
      SELECT b1, b2, label, CAST(count(*) AS BIGINT) AS cnt
      FROM base WHERE NOT is_test GROUP BY b1, b2, label
    ),
    kvm AS (SELECT b1, b2, max(cnt) AS mc FROM percls GROUP BY 1, 2),
    kv AS (
      SELECT p.b1, p.b2, CAST(min(p.label) AS DOUBLE) AS v
      FROM percls p JOIN kvm ON p.b1 = kvm.b1 AND p.b2 = kvm.b2 AND p.cnt = kvm.mc
      GROUP BY p.b1, p.b2
    ),
    p1cls AS (SELECT b1, label, CAST(sum(cnt) AS BIGINT) AS cnt FROM percls GROUP BY 1, 2),
    p1m AS (SELECT b1, max(cnt) AS mc FROM p1cls GROUP BY 1),
    p1 AS (
      SELECT c.b1, CAST(min(c.label) AS DOUBLE) AS v
      FROM p1cls c JOIN p1m ON c.b1 = p1m.b1 AND c.cnt = p1m.mc GROUP BY c.b1
    ),
    glcls AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS cnt FROM percls GROUP BY 1),
    gl AS (
      SELECT CAST(min(label) AS DOUBLE) AS g FROM glcls
      WHERE cnt = (SELECT max(cnt) FROM glcls)
    )
    SELECT t.event_id, coalesce(kv.v, p1.v, gl.g) AS prediction
    FROM base t
    LEFT JOIN kv ON t.b1 = kv.b1 AND t.b2 = kv.b2
    LEFT JOIN p1 ON t.b1 = p1.b1
    CROSS JOIN gl
    WHERE t.is_test
    """,
)
def q_index_score_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification index scoring: per-key MAJORITY VOTE (lowest-class
    tiebreak) with mode-based prefix fallback (src/transpiler.py:986-992 +
    inference_trie majority DFS) — the row-weighted aggregation mode, all
    integer counts so the hash comparison is exact."""
    from inferdb_spark.operators.index import build_index
    from inferdb_spark.operators.scoring import index_score

    ev = load_table(spark, sf_dir, "events")
    label = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    base = ev.select(
        "event_id", "value",
        F.hour("ts").cast("double").alias("hour_f"),
        label.alias("label"),
        (F.col("event_id") % 3 == 0).alias("is_test"),
    )
    specs = [
        BinSpec(column="value", splits=[250.0, 500.0, 750.0]),
        BinSpec(column="hour_f", splits=[7.0, 15.0]),
    ]
    train = base.filter(~F.col("is_test"))
    idx = build_index(train, specs, "label", task="classification", agg_mode="rows")
    scored = index_score(base.filter("is_test"), idx)
    return scored.select("event_id", F.col("prediction").cast("double").alias("prediction"))


@gate(
    "query_integration_lr",
    oracle=f"""
    WITH scored AS (
      SELECT l_returnflag, l_quantity,
             1.0 / (1.0 + exp(-(l_quantity * {LIN_COEF_Q!r} + l_discount * {LIN_COEF_D!r}
                  + l_tax * {LIN_COEF_T!r} + {LIN_B!r}))) AS p
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_flagged,
           CAST(sum(l_quantity) AS DOUBLE) AS qty_sum
    FROM scored WHERE p > 0.5
    GROUP BY l_returnflag
    """,
)
def q_query_integration_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLmodel query integration: LR scored INLINE in the query, predicate
    over the score, aggregate above it — one Catalyst plan, scoring fused
    into the scan stage (sql_scripts/query_integration_sqlmodel_lr.sql
    pattern)."""
    from inferdb_spark.operators.scoring import score_linear_dense

    li = load_table(spark, sf_dir, "lineitem")
    scored = score_linear_dense(
        li, ["l_quantity", "l_discount", "l_tax"],
        [LIN_COEF_Q, LIN_COEF_D, LIN_COEF_T], LIN_B, link="sigmoid",
    )
    return (
        scored.filter(F.col("prediction") > 0.5)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_flagged"), F.sum("l_quantity").alias("qty_sum"))
    )


# ---------------------------------------------------------------------------
# full featurizer chain — the reference's create_featurizer_query composition
# ---------------------------------------------------------------------------

FC_CLUSTERS = [(40.0, -74.0), (40.5, -73.5), (40.25, -73.75)]
_fc_cl_rows = ", ".join(f"({i}, {la!r}, {lo!r})" for i, (la, lo) in enumerate(FC_CLUSTERS))
FC_PCA_MEANS = [500.0, 12.0]
FC_PCA_COMP = [[0.25, -0.5]]


@gate(
    "featurizer_chain",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, ts,
             CASE WHEN value >= 10.0 AND value <= 900.0 THEN value
                  ELSE 50.0 + hour(ts) * 2.0 END AS value_imp,
             40.0 + (user_id % 120) * 0.01 AS lat,
             -74.0 + (user_id % 90) * 0.01 AS lon
      FROM events
    ),
    cl AS (SELECT * FROM (VALUES {_fc_cl_rows}) AS t(cid, clat, clon)),
    dists AS (
      SELECT b.event_id, cl.cid,
             (b.lat - cl.clat)*(b.lat - cl.clat) + (b.lon - cl.clon)*(b.lon - cl.clon) AS dsq
      FROM base b CROSS JOIN cl
    ),
    mind AS (SELECT event_id, min(dsq) AS md FROM dists GROUP BY 1),
    assigned AS (
      SELECT d.event_id, min(d.cid) AS cluster
      FROM dists d JOIN mind m ON d.event_id = m.event_id AND d.dsq = m.md
      GROUP BY d.event_id
    ),
    feat AS (
      SELECT b.event_id, a.cluster,
             hour(b.ts) AS hour, isodow(b.ts) AS isodow,
             CAST(isodow(b.ts) IN (6,7) AS INT) AS is_weekend,
             b.value_imp,
             (b.value_imp - {FC_PCA_MEANS[0]!r}) * {FC_PCA_COMP[0][0]!r}
           + (hour(b.ts) - {FC_PCA_MEANS[1]!r}) * {FC_PCA_COMP[0][1]!r} AS pca_0
      FROM base b JOIN assigned a ON b.event_id = a.event_id
    ),
    routes AS (
      SELECT cluster, is_weekend,
             CAST(count(*) AS BIGINT) AS route_cnt,
             CAST(sum(CAST(round(value_imp*100) AS BIGINT)) AS DOUBLE) / count(*) / 100 AS route_avg
      FROM feat WHERE event_id % 4 <> 0 GROUP BY 1, 2
    )
    SELECT f.event_id, f.cluster,
           CAST(f.hour AS BIGINT) AS hour, CAST(f.isodow AS BIGINT) AS isodow,
           f.is_weekend,
           CAST(round(f.value_imp, 6) AS DOUBLE) AS value_imp,
           CAST(round(f.pca_0, 6) AS DOUBLE) AS pca_0,
           coalesce(r.route_cnt, 0) AS route_cnt,
           CAST(round(coalesce(r.route_avg, 0.0), 6) AS DOUBLE) AS route_avg
    FROM feat f LEFT JOIN routes r ON f.cluster = r.cluster AND f.is_weekend = r.is_weekend
    WHERE f.event_id % 4 = 0
    """,
)
def q_featurizer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full featurizer composition (create_featurizer_pg.py:219-311's
    CTE chain): outlier imputation → datetime family → nearest-cluster →
    PCA projection → per-route aggregates broadcast-joined with
    COALESCE(…,0) — all ONE lazy Catalyst plan; the only shuffles are the
    route groupBy and its broadcast back."""
    from inferdb_spark.functions.datetime_fns import is_weekend, pg_isodow
    from inferdb_spark.operators.preprocess import impute_outliers_linear

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "ts", F.col("value").alias("value_imp"),
        (F.lit(40.0) + (F.col("user_id") % 120) * 0.01).alias("lat"),
        (F.lit(-74.0) + (F.col("user_id") % 90) * 0.01).alias("lon"),
        F.hour("ts").cast("double").alias("_hour_d"),
    )
    base = impute_outliers_linear(
        base, "value_imp", (10.0, 900.0), 50.0, {"_hour_d": 2.0}
    )
    assigned = FZ.assign_nearest_cluster(base, "lat", "lon", FC_CLUSTERS, "cluster")
    feat = assigned.select(
        "event_id",
        "cluster",
        F.hour("ts").alias("hour"),
        pg_isodow(F.col("ts")).alias("isodow"),
        is_weekend(F.col("ts")).alias("is_weekend"),
        "value_imp",
        (
            (F.col("value_imp") - FC_PCA_MEANS[0]) * FC_PCA_COMP[0][0]
            + (F.hour("ts") - FC_PCA_MEANS[1]) * FC_PCA_COMP[0][1]
        ).alias("pca_0"),
    )
    routes = (
        feat.filter(F.col("event_id") % 4 != 0)
        .groupBy("cluster", "is_weekend")
        .agg(
            F.count("*").alias("route_cnt"),
            (
                F.sum(F.round(F.col("value_imp") * 100).cast("long")).cast("double")
                / F.count("*")
                / 100
            ).alias("route_avg"),
        )
    )
    test = feat.filter(F.col("event_id") % 4 == 0)
    out = FZ.join_route_aggregates(test, routes, ["cluster", "is_weekend"])
    return out.select(
        "event_id",
        "cluster",
        F.col("hour").cast("long").alias("hour"),
        F.col("isodow").cast("long").alias("isodow"),
        "is_weekend",
        F.round("value_imp", 6).cast("double").alias("value_imp"),
        F.round("pca_0", 6).cast("double").alias("pca_0"),
        F.coalesce("route_cnt", F.lit(0)).alias("route_cnt"),
        F.round(F.coalesce("route_avg", F.lit(0.0)), 6).cast("double").alias("route_avg"),
    )


# ---------------------------------------------------------------------------
# window: row_number recovery + rolling average (W1 + pm25 extension)
# ---------------------------------------------------------------------------


@gate(
    "window_rownumber",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS rn
    FROM orders WHERE o_totalprice > 300000
    """,
)
def q_window_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() over a total order (W1) — the reference uses it to
    recover row identity after set-returning functions (src/transpiler.py:
    1497); we give it a deterministic ordering."""
    o = load_table(spark, sf_dir, "orders")
    w = W.orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (
        o.filter(F.col("o_totalprice") > 300000)
        .select("o_orderkey", F.row_number().over(w).cast("long").alias("rn"))
    )


@gate(
    "rolling_window_avg",
    oracle="""
    SELECT event_id,
           CAST(avg(CAST(round(value*100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) / 100 AS DOUBLE) AS rolling_2
    FROM events
    """,
)
def q_rolling_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_2 lag-window mean — the pm25 dataset's precomputed feature
    re-derived in-engine (SURVEY.md §2.5 extension; rowsBetween(-1, 0))."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-1, 0)
    )
    return ev.select(
        "event_id",
        (F.avg(F.round(F.col("value") * 100).cast("long")).over(w) / 100)
        .cast("double")
        .alias("rolling_2"),
    )


# ---------------------------------------------------------------------------
# set ops (U3) and the query-integration pattern
# ---------------------------------------------------------------------------


@gate(
    "union_distinct",
    oracle="""
    SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_quantity > 49
      UNION
      SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 400000
    ) GROUP BY k
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct (U3, pd.concat analog)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    a = li.filter(F.col("l_quantity") > 49).select(F.col("l_orderkey").alias("k")).distinct()
    b = o.filter(F.col("o_totalprice") > 400000).select(F.col("o_orderkey").alias("k")).distinct()
    return a.unionByName(b).distinct().groupBy("k").agg(F.count("*").alias("n"))


@gate(
    "query_integration",
    oracle=f"""
    WITH base AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             l_orderkey % 5 <> 0 AS is_train,
             {_bin_expr_sql('l_quantity', QTY_SPLITS)} AS b1,
             {_bin_expr_sql('l_discount', DISC_SPLITS)} AS b2,
             {_bin_expr_sql('l_tax', TAX_SPLITS)} AS b3,
             CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
             l_returnflag
      FROM lineitem
    ),
    train AS (SELECT * FROM base WHERE is_train),
    kv AS (
      SELECT b1, b2, b3, CAST(sum(cents) AS DOUBLE) / count(*) AS value
      FROM train GROUP BY b1, b2, b3
    ),
    gl AS (SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS g FROM train),
    scored AS (
      SELECT t.row_id, t.l_returnflag,
             coalesce(kv.value, gl.g) / 100 AS prediction
      FROM base t
      LEFT JOIN kv ON t.b1 = kv.b1 AND t.b2 = kv.b2 AND t.b3 = kv.b3
      CROSS JOIN gl
      WHERE NOT t.is_train
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_flagged,
           CAST(sum(CAST(round(prediction * 100) AS BIGINT)) AS BIGINT) AS sum_pred_cents
    FROM scored
    WHERE prediction > 400.0
    GROUP BY l_returnflag
    """,
)
def q_query_integration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction as a relational operand: score inline, then FILTER and
    AGGREGATE over the prediction column — the reference's query-integration
    microbenchmark (sql_scripts/query_integration_inferdb.sql:27-34,
    query_integration.py:161-189).  The whole thing is ONE Catalyst plan:
    scan → project bins → broadcast join → filter → aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        (F.col("l_orderkey") % 5 != 0).alias("is_train"),
        BinSpec("l_quantity", splits=QTY_SPLITS).expr().alias("b1"),
        BinSpec("l_discount", splits=DISC_SPLITS).expr().alias("b2"),
        BinSpec("l_tax", splits=TAX_SPLITS).expr().alias("b3"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_returnflag",
    )
    train = base.filter("is_train")
    kv = train.groupBy("b1", "b2", "b3").agg(
        (F.sum("cents").cast("double") / F.count("*")).alias("value")
    )
    gl = train.agg((F.sum("cents").cast("double") / F.count("*")).alias("g"))
    scored = (
        base.filter(~F.col("is_train"))
        .join(F.broadcast(kv), ["b1", "b2", "b3"], "left")
        .crossJoin(F.broadcast(gl))
        .select(
            "row_id",
            "l_returnflag",
            (F.coalesce("value", "g") / 100).alias("prediction"),
        )
    )
    return (
        scored.filter(F.col("prediction") > 400.0)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_flagged"),
            F.sum(F.round(F.col("prediction") * 100).cast("long")).alias(
                "sum_pred_cents"
            ),
        )
    )


@gate(
    "auc_rank_sum",
    oracle=f"""
    WITH sc AS (
      SELECT CAST(round((l_quantity * {LIN_COEF_Q!r} + l_discount * {LIN_COEF_D!r}
                   + l_tax * {LIN_COEF_T!r} + {LIN_B!r}) * 1000) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (SELECT s, count(*) AS cnt, sum(y) AS pos FROM sc GROUP BY s),
    r AS (SELECT cnt, pos,
                 sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
          FROM g)
    SELECT CAST(round((sum(pos * (2*cum - cnt + 1)) / 2.0
                       - sum(pos) * (sum(pos) + 1) / 2.0)
                      / (sum(pos) * sum(cnt - pos)), 6) AS DOUBLE) AS auc,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(cnt - pos) AS BIGINT) AS n_neg
    FROM r
    """,
)
def q_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the deterministic linear scorer against the
    returnflag label (metrics.binary_auc: tie-corrected Mann-Whitney,
    integer half-unit ranks — order-independent, bit-exact).  Scores are
    discretized to integer millis on both sides (dyadic coefficients →
    the rounding is exact)."""
    from inferdb_spark.operators.metrics import binary_auc

    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.round(
            (
                F.col("l_quantity") * LIN_COEF_Q
                + F.col("l_discount") * LIN_COEF_D
                + F.col("l_tax") * LIN_COEF_T
                + F.lit(LIN_B)
            )
            * 1000
        )
        .cast("long")
        .alias("s"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return binary_auc(scored, "s", "y")


@gate(
    "benford_first_digit",
    oracle="""
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_totalprice >= 1
    GROUP BY 1
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit histogram (Benford-test input) — the
    data-forensics profile for anomaly screening over money columns.
    Digit extracted via explicit floor + string head on BOTH sides
    (double→BIGINT casts round in DuckDB but truncate in Spark — floor
    first makes them agree)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    return o.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))


@gate(
    "calibration_bins",
    oracle=f"""
    WITH sc AS (
      SELECT CAST(round((l_quantity * {LIN_COEF_Q!r} + l_discount * {LIN_COEF_D!r}
                   + l_tax * {LIN_COEF_T!r} + {LIN_B!r}) * 1000) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    r AS (
      SELECT s, y,
             row_number() OVER (ORDER BY s, l_orderkey, l_linenumber) AS rn,
             count(*) OVER () AS n_total
      FROM sc
    )
    SELECT CAST((rn - 1) * 10 // n_total AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(s) AS BIGINT) AS sum_score_millis
    FROM r GROUP BY 1
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-curve bins (reliability diagram input): equal-count
    score deciles → positives per bin vs summed score.  Decile
    assignment uses row_number over a UNIQUE ordering (score, orderkey,
    linenumber) — plain ntile over a tied score column is
    order-nondeterministic across engines.  Completes the ranking-metric
    family next to auc_rank_sum."""
    from pyspark.sql import Window as W2

    li = load_table(spark, sf_dir, "lineitem")
    sc = li.select(
        F.round(
            (
                F.col("l_quantity") * LIN_COEF_Q
                + F.col("l_discount") * LIN_COEF_D
                + F.col("l_tax") * LIN_COEF_T
                + F.lit(LIN_B)
            )
            * 1000
        ).cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    w = W2.orderBy("s", "l_orderkey", "l_linenumber")
    ranked = sc.select(
        "s", "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W2.partitionBy()).alias("n_total"),
    )
    return ranked.groupBy(
        ((F.col("rn") - 1) * 10 / F.col("n_total")).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum("s").alias("sum_score_millis"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (leakage-free categorical encoding)
# ---------------------------------------------------------------------------


@gate(
    "target_encode_loo",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y_cents
      FROM lineitem
    ),
    stats AS (
      SELECT cat, CAST(sum(y_cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      FROM lines GROUP BY cat
    ),
    enc AS (
      SELECT l.cat,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN st.c > 1
                  THEN CAST(round(CAST(st.s - l.y_cents AS DOUBLE)
                                  / CAST(st.c - 1 AS DOUBLE) * 1000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sum_enc_milli
      FROM lines l JOIN stats st ON l.cat = st.cat
      GROUP BY l.cat
    )
    SELECT cat, n_lines, sum_enc_milli FROM enc
    """,
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical value becomes
    the mean target of the OTHER rows in its category —
    (sum - y) / (count - 1) — the leakage-free form of the target-aware
    encoding the reference's supervised binning performs
    (`src/encoder.py:22-98` bins by target statistics the same way).

    Decorrelation: per-category (sum, count) is one exact-integer
    aggregate BROADCAST back onto the rows; the per-row encode is then a
    projection (no self-join, no window over the fact table).  The gate
    checksums the encodes per category (each row's encode rounded to
    integer milli-cents first, so the checksum sum is exact BIGINT).
    """
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_returnflag").alias("cat"),
        F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long").alias("y_cents"),
    )
    stats = lines.groupBy(F.col("cat").alias("c_cat")).agg(
        F.sum("y_cents").alias("s"), F.count("*").alias("c")
    )
    enc_milli = F.when(
        F.col("c") > 1,
        F.round(
            (F.col("s") - F.col("y_cents")).cast("double")
            / (F.col("c") - 1).cast("double")
            * 1000
        ).cast("long"),
    ).otherwise(F.lit(0))
    return (
        lines.join(F.broadcast(stats), F.col("cat") == F.col("c_cat"))
        .groupBy("cat")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(enc_milli).cast("long").alias("sum_enc_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped OLS (per-group closed-form simple regression; MADlib grouped
# linregr_train analog)
# ---------------------------------------------------------------------------


@gate(
    "grouped_ols_slope",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY returnflag
    )
    SELECT returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope_cents,
           round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS intercept_cents
    FROM m
    """,
)
def q_grouped_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (price-per-quantity line per return flag) from
    closed-form moment sums — the grouped `madlib.linregr_train` pattern
    (one model per partition key) and the 2-variable special case of
    operators/linreg's normal-equations fit.

    All five moments are exact BIGINT sums in ONE aggregation pass;
    slope/intercept are computed from the already-exact moments with one
    fixed double expression order, so a 1000-executor run and DuckDB
    produce identical bits.  Thousands of per-key models cost exactly one
    shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long").alias("y"),
    )
    m = pts.groupBy("returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd, sxd, syd, sxyd, sxxd = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx")
    )
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return m.select(
        "returnflag",
        "n",
        F.round(slope, 6).alias("slope_cents"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept_cents"),
    )
