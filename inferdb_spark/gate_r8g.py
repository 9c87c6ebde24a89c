"""Round-8 gate queries, batch 7.

Business-analytics classics:

- chow_test_break   — structural-break F test of the weekly trend fit
                      at a known split (the CONFIRMATORY companion to
                      gate:changepoint_sse_scan, which SEARCHES for the
                      break)
- abc_pareto_parts  — ABC (Pareto 80/95) revenue classification of
                      parts with exact integer class boundaries
- rfm_segmentation  — recency/frequency/monetary quintile scoring of
                      customers, quintile thresholds found by
                      operators/order_stats.exact_kth_smallest
                      (count-bisection — NO global sort of a data-sized
                      relation anywhere on the Spark side)

Determinism: segment fits reuse gate_r8e's 6dp-rounded OLS; ABC class
membership compares exact integer cross-products (cum*100 vs tot*80);
RFM thresholds are exact k-th smallest values (identical under any tie
order), scores are integer comparisons against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.gate_r8e import _OLS_A6, _OLS_B6, _RESID6, _WK_SQL_DUCK, _ols_mom, _weekly_kd
from inferdb_spark.operators.order_stats import exact_kth_smallest

# ---------------------------------------------------------------------------
# Chow test
# ---------------------------------------------------------------------------

_CHOW_SPLIT_WK = 1356  # (1996-01-01 - 1970-01-01) days // 7

_CHOW_OUT = [
    "n1",
    "n2",
    "sse_p6",
    "sse_1_6",
    "sse_2_6",
    "CAST(round(((sse_p6 - (sse_1_6 + sse_2_6)) / 2.0)"
    " / ((sse_1_6 + sse_2_6) / CAST(n1 + n2 - 4 AS DOUBLE)), 6) AS DOUBLE)"
    " AS f6",
]


def _chow_seg_sql(pred: str, tag: str) -> str:
    """one segment's rounded OLS fit + residual SSE (6dp), as a scalar
    CTE body over the weekly relation filtered by `pred`."""
    return f"""
    mom_{tag} AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(wk) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(wk * wk) AS BIGINT) AS sxx,
             CAST(sum(wk * y) AS BIGINT) AS sxy
      FROM weekly WHERE {pred}
    ),
    fit_{tag} AS (SELECT {_OLS_B6} AS b6, {_OLS_A6} AS a6, n FROM mom_{tag}),
    sse_{tag} AS (
      SELECT CAST(sum(CAST(round(e * e) AS BIGINT)) AS DOUBLE) AS sse,
             CAST(min(n) AS BIGINT) AS n
      FROM (
        SELECT {_RESID6} AS e, n
        FROM weekly CROSS JOIN fit_{tag} WHERE {pred}
      )
    )"""


@gate(
    "chow_test_break",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    {_chow_seg_sql("1 = 1", "p").lstrip()},
    {_chow_seg_sql(f"wk < {_CHOW_SPLIT_WK}", "a").lstrip()},
    {_chow_seg_sql(f"wk >= {_CHOW_SPLIT_WK}", "b").lstrip()},
    wide AS (
      SELECT (SELECT n FROM sse_a) AS n1, (SELECT n FROM sse_b) AS n2,
             (SELECT sse FROM sse_p) AS sse_p6,
             (SELECT sse FROM sse_a) AS sse_1_6,
             (SELECT sse FROM sse_b) AS sse_2_6
    )
    SELECT {', '.join(_CHOW_OUT)} FROM wide
    """,
)
def q_chow_test_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the weekly revenue trend at
    the first week of 1996: fit OLS lines to the pooled series and to
    each side, then F = ((SSE_p - SSE_1 - SSE_2)/k) / ((SSE_1 +
    SSE_2)/(n - 2k)) with k = 2 parameters — the classical KNOWN-date
    break test (gate:changepoint_sse_scan searches all dates for the
    break; Chow confirms a hypothesized one with a proper F framing).

    Determinism: all three fits use the 6dp-rounded coefficients from
    exact BIGINT moments (gate_r8e discipline); each SSE sums per-term
    unit-quantized squared residuals as exact BIGINTs (a plain double
    sum would be shuffle-order-sensitive, and at sf1 SSE magnitudes a
    6dp decimal grid exceeds double precision); the F composition runs
    once in shared SQL.  Scale: one groupBy(week) + three 1-row fits
    over the ~365-row weekly relation."""
    weekly = _weekly_kd(spark, sf_dir).persist()

    def seg(pred):
        seg_w = weekly.filter(pred) if pred is not None else weekly
        fit = _ols_mom(seg_w).selectExpr(f"{_OLS_B6} AS b6", f"{_OLS_A6} AS a6", "n")
        resid = seg_w.crossJoin(F.broadcast(fit)).selectExpr(f"{_RESID6} AS e", "n")
        return resid.agg(
            F.sum(F.round(F.col("e") * F.col("e")).cast("long"))
            .cast("double")
            .alias("sse"),
            F.min("n").cast("long").alias("n"),
        )

    p = seg(None).selectExpr("sse AS sse_p6")
    a = seg(F.col("wk") < _CHOW_SPLIT_WK).selectExpr("sse AS sse_1_6", "n AS n1")
    b = seg(F.col("wk") >= _CHOW_SPLIT_WK).selectExpr("sse AS sse_2_6", "n AS n2")
    wide = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(p))
    out = wide.selectExpr(*_CHOW_OUT)
    rows = out.collect()
    weekly.unpersist()
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# ABC / Pareto classification
# ---------------------------------------------------------------------------


@gate(
    "abc_pareto_parts",
    oracle="""
    WITH rev AS (
      SELECT CAST(l_partkey AS BIGINT) AS partkey,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS dollars
      FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
      SELECT partkey, dollars,
             CAST(sum(dollars) OVER (ORDER BY dollars DESC, partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_d,
             CAST(sum(dollars) OVER () AS BIGINT) AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum_d * 100 <= tot * 80 THEN 'A'
                  WHEN cum_d * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             dollars, tot
      FROM cum
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(dollars) AS BIGINT) AS dollars,
           CAST(round(CAST(sum(dollars) AS DOUBLE) / CAST(min(tot) AS DOUBLE),
                6) AS DOUBLE) AS share6
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: parts sorted by
    revenue descending, class A while the cumulative share stays within
    80%, B to 95%, C after — the classic inventory-prioritization
    rollup, and the categorical face of gate:gini_grouped_revenue's
    concentration measurement.

    Determinism: class boundaries compare exact integer cross-products
    (cum*100 <= tot*80 — no share ever materializes as a float before
    classing), the cumulative window runs under the (revenue DESC,
    partkey) total order, and the one display division is shared SQL.
    Scale: the window runs over the PART domain (bounded); the only
    full-data pass is the map-side-combinable groupBy(partkey).  At
    true catalog scale the same query runs on the bin-domain histogram
    of part revenues (the decile_lift_histogram substitution)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").cast("long").alias("partkey")).agg(
        F.sum(F.round(F.col("l_extendedprice")).cast("long"))
        .cast("long")
        .alias("dollars")
    )
    w_cum = Window.orderBy(F.desc("dollars"), F.asc("partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = rev.select(
        "partkey",
        "dollars",
        F.sum("dollars").over(w_cum).cast("long").alias("cum_d"),
        F.sum("dollars").over(w_all).cast("long").alias("tot"),
    )
    classed = cum.select(
        F.when(F.col("cum_d") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum_d") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "dollars",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("dollars").cast("long").alias("dollars"),
            F.round(
                F.sum("dollars").cast("double") / F.min("tot").cast("double"), 6
            )
            .cast("double")
            .alias("share6"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# RFM segmentation with count-bisection quintile thresholds
# ---------------------------------------------------------------------------

_RFM_PERCUST_DUCK = """
      SELECT o_custkey AS custkey,
             CAST(datediff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
"""


def _rfm_thresholds_duck(metric: str) -> str:
    """4 quintile thresholds of `metric` as exact k-th smallest values
    (k = j*n div 5, floored at 1) — identical to count-bisection."""
    return f"""
    rk_{metric} AS (
      SELECT {metric} AS v,
             CAST(row_number() OVER (ORDER BY {metric}, custkey) AS BIGINT)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM percust
    ),
    t_{metric} AS (
      SELECT
        max(CASE WHEN rk = greatest(1, (1 * n) // 5) THEN v END) AS t1,
        max(CASE WHEN rk = greatest(1, (2 * n) // 5) THEN v END) AS t2,
        max(CASE WHEN rk = greatest(1, (3 * n) // 5) THEN v END) AS t3,
        max(CASE WHEN rk = greatest(1, (4 * n) // 5) THEN v END) AS t4
      FROM rk_{metric}
    )"""


@gate(
    "rfm_segmentation",
    oracle=f"""
    WITH percust AS ({_RFM_PERCUST_DUCK}),
    {_rfm_thresholds_duck("r").lstrip()},
    {_rfm_thresholds_duck("f").lstrip()},
    {_rfm_thresholds_duck("m").lstrip()},
    scored AS (
      SELECT
        CAST(1 + (CASE WHEN r > t_r.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN r > t_r.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN r > t_r.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN r > t_r.t4 THEN 1 ELSE 0 END) AS BIGINT)
          AS r_score,
        CAST(1 + (CASE WHEN f > t_f.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN f > t_f.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN f > t_f.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN f > t_f.t4 THEN 1 ELSE 0 END) AS BIGINT)
          AS f_score,
        CAST(1 + (CASE WHEN m > t_m.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN m > t_m.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN m > t_m.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN m > t_m.t4 THEN 1 ELSE 0 END) AS BIGINT)
          AS m_score
      FROM percust CROSS JOIN t_r CROSS JOIN t_f CROSS JOIN t_m
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of ordering customers: recency (days since last
    order, vs the corpus max date), frequency (order count), monetary
    (total dollars), each scored 1-5 against its own exact quintile
    thresholds, then segment sizes per (R, F, M) cell — the classic
    CRM / mixing-weight segmentation.

    THE SCALE POINT: the quintile thresholds on the Spark side come
    from operators/order_stats.exact_kth_smallest (count-bisection —
    O(buckets) driver rows per pass, NO global sort or row_number over
    the data-sized per-customer relation anywhere), while the oracle
    computes the same k-th smallest values by rank selection; the k-th
    smallest VALUE of a multiset is tie-order-invariant, so both paths
    agree exactly.  Scores then reduce to integer comparisons against
    12 broadcast literals.  This is the deployable form of quantile
    scoring at 100 TB — the ntile form this gate deliberately avoids
    carries the decile_lift_table caveat."""
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("mx"))
    percust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.max("mx"), F.max("o_orderdate"))
            .cast("long")
            .alias("r"),
            F.count("*").cast("long").alias("f"),
            F.sum(F.round(F.col("o_totalprice")).cast("long"))
            .cast("long")
            .alias("m"),
        )
        .persist()
    )
    try:
        thresholds = {}
        for metric in ("r", "f", "m"):
            thresholds[metric] = [
                exact_kth_smallest(
                    percust,
                    metric,
                    (lambda j: (lambda n: max(1, (j * n) // 5)))(j),
                    persist=False,  # percust is already cached
                )
                for j in (1, 2, 3, 4)
            ]
        score_cols = []
        for metric in ("r", "f", "m"):
            t1, t2, t3, t4 = thresholds[metric]
            score_cols.append(
                f"CAST(1 + (CASE WHEN {metric} > {t1} THEN 1 ELSE 0 END)"
                f" + (CASE WHEN {metric} > {t2} THEN 1 ELSE 0 END)"
                f" + (CASE WHEN {metric} > {t3} THEN 1 ELSE 0 END)"
                f" + (CASE WHEN {metric} > {t4} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS {metric}_score"
            )
        scored = percust.selectExpr(*score_cols)
        out = (
            scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count("*").cast("long").alias("n_customers"))
            .orderBy("r_score", "f_score", "m_score")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        percust.unpersist()
