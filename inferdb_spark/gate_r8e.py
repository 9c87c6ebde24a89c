"""Round-8 gate queries, batch 5.

Regression diagnostics and classical tests over the weekly / monthly
revenue series (all domain-bounded relations — weeks and months, never
raw rows — so every window below sorts a few hundred rows regardless of
data size):

- durbin_watson_weekly  — first-order residual autocorrelation of the
                          weekly OLS trend fit
- grubbs_outlier_test   — single-outlier max-deviation test
- runs_test_median      — Wald-Wolfowitz runs above/below the median
- mann_kendall_trend    — nonparametric pairwise-sign trend test with
                          tie-corrected variance (the significance
                          companion to gate:theil_sen_weekly_pairs)
- cooks_distance_topk   — OLS influence diagnostics (leverage,
                          residual, Cook's D), top-5 weeks
- periodogram_monthly   — DFT power at k = 1..6 cycles over the
                          monthly series (the spectral companion to
                          gate:seasonal_decompose_monthly / gate:acf)

Weekly revenue is held in KILOdollars so sum-of-squares moments stay in
BIGINT through ~sf100 (the gini/xbar overflow lesson).  Residuals are
computed from 6dp-ROUNDED coefficients so both engines subtract
bit-identical fits; trig factors are micro-quantized before entering
integer sums (the benford discipline for transcendental inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# weekly kilodollar revenue — the shared base relation of this batch
_WK_SQL_DUCK = """
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                  AS BIGINT) AS wk,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
"""


def _weekly_kd(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.selectExpr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT) AS wk",
            "CAST(round(o_totalprice) AS BIGINT) AS d",
        )
        .groupBy("wk")
        .agg(
            F.expr(
                "CAST(round(CAST(sum(d) AS DOUBLE) / 1000.0) AS BIGINT)"
            ).alias("y")
        )
    )


# OLS of y on wk from the five exact moments, coefficients 6dp-rounded
# (slope b then intercept a, both shared SQL)
_OLS_B6 = (
    "CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE)"
)
_OLS_A6 = (
    "CAST(round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE)"
)

_OLS_MOM_DUCK = """
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(wk) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(wk * wk) AS BIGINT) AS sxx,
             CAST(sum(wk * y) AS BIGINT) AS sxy
      FROM weekly
"""


def _ols_mom(weekly: DataFrame) -> DataFrame:
    return weekly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("wk").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("wk") * F.col("wk")).cast("long").alias("sxx"),
        F.sum(F.col("wk") * F.col("y")).cast("long").alias("sxy"),
    )


# residual from the ROUNDED fit, itself 6dp-rounded — bit-identical on
# both engines because a6/b6 and the inputs are
_RESID6 = (
    "CAST(round(CAST(y AS DOUBLE) - (a6 + b6 * CAST(wk AS DOUBLE)), 6)"
    " AS DOUBLE)"
)

# ---------------------------------------------------------------------------
# Durbin-Watson
# ---------------------------------------------------------------------------


@gate(
    "durbin_watson_weekly",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS ({_OLS_MOM_DUCK}),
    fit AS (SELECT {_OLS_B6} AS b6, {_OLS_A6} AS a6, n FROM mom),
    resid AS (
      SELECT wk, {_RESID6} AS e, n FROM weekly CROSS JOIN fit
    ),
    lagged AS (
      SELECT e, lag(e) OVER (ORDER BY wk) AS e_prev, n FROM resid
    ),
    quant AS (
      SELECT n,
             CAST(CASE WHEN e_prev IS NULL THEN 0
                  ELSE CAST(round((e - e_prev) * (e - e_prev)) AS BIGINT)
                  END AS BIGINT) AS d_u,
             CAST(round(e * e) AS BIGINT) AS q_u
      FROM lagged
    )
    SELECT CAST(min(n) AS BIGINT) AS n,
           (SELECT b6 FROM fit) AS b6,
           (SELECT a6 FROM fit) AS a6,
           CAST(round(CAST(sum(d_u) AS DOUBLE) / CAST(sum(q_u) AS DOUBLE), 6)
                AS DOUBLE) AS dw6
    FROM quant
    """,
)
def q_durbin_watson_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the weekly-revenue OLS trend fit:
    DW = sum (e_t - e_(t-1))^2 / sum e_t^2 — the standard check that a
    regression's residuals are serially uncorrelated (DW ~ 2) before
    trusting its standard errors; on seasonal revenue it detects the
    autocorrelation the straight line cannot absorb.  Complements
    gate:autocorrelation_acf (ACF describes the raw series, DW tests
    the RESIDUALS of a fit).

    Determinism: OLS coefficients come from exact BIGINT moments and
    are 6dp-rounded before residuals are formed, so both engines
    subtract bit-identical fits; residuals themselves are 6dp-rounded,
    and BOTH squared-residual sums are per-term quantized to BIGINT
    (unit resolution in kilodollar^2 — a plain double sum over the week
    relation would be shuffle-order-sensitive); the DW ratio divides
    once in shared SQL.  Scale: one map-side-combinable groupBy(week) +
    windows on the ~365-row week domain."""
    weekly = _weekly_kd(spark, sf_dir)
    fit = _ols_mom(weekly).selectExpr(f"{_OLS_B6} AS b6", f"{_OLS_A6} AS a6", "n")
    resid = weekly.crossJoin(F.broadcast(fit)).selectExpr(
        "wk", f"{_RESID6} AS e", "n"
    )
    lagged = resid.select(
        "e", F.lag("e").over(Window.orderBy("wk")).alias("e_prev"), "n"
    )
    quant = lagged.select(
        "n",
        F.when(F.col("e_prev").isNull(), F.lit(0))
        .otherwise(
            F.round(
                (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev"))
            ).cast("long")
        )
        .cast("long")
        .alias("d_u"),
        F.round(F.col("e") * F.col("e")).cast("long").alias("q_u"),
    )
    stats = quant.agg(
        F.min("n").cast("long").alias("n"),
        F.round(
            F.sum("d_u").cast("double") / F.sum("q_u").cast("double"), 6
        )
        .cast("double")
        .alias("dw6"),
    )
    return stats.crossJoin(F.broadcast(fit.select("b6", "a6"))).select(
        "n", "b6", "a6", "dw6"
    )


# ---------------------------------------------------------------------------
# Grubbs' test
# ---------------------------------------------------------------------------


@gate(
    "grubbs_outlier_test",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM weekly
    ),
    dev AS (
      SELECT wk, y, n, s, q, CAST(abs(n * y - s) AS BIGINT) AS ad
      FROM weekly CROSS JOIN mom
    ),
    top AS (
      SELECT * FROM dev ORDER BY ad DESC, wk LIMIT 1
    )
    SELECT wk AS wk_outlier, y AS y_outlier, n,
           CAST(round((CAST(ad AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
                AS DOUBLE) AS g6
    FROM top
    """,
)
def q_grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' single-outlier test over weekly revenue: G = max_t
    |y_t - ybar| / s, reporting the arg-max week and its statistic —
    the classical "is the most extreme subgroup an outlier" question
    (gate:xbar_control_chart z-scores every week; Grubbs tests the
    WORST one with the right extreme-value framing).

    Determinism: deviations compare as exact integers |n*y - s| (no
    mean materializes), the arg-max takes (|dev| DESC, wk) — a total
    order — and the G formula runs once in shared SQL from the three
    exact moments.  Scale: one groupBy(week) + a 1-row TakeOrdered over
    the week domain; kilodollar units keep q = sum y^2 in BIGINT
    through ~sf100."""
    weekly = _weekly_kd(spark, sf_dir)
    mom = weekly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    )
    dev = weekly.crossJoin(F.broadcast(mom)).select(
        "wk",
        "y",
        "n",
        "s",
        "q",
        F.abs(F.col("n") * F.col("y") - F.col("s")).cast("long").alias("ad"),
    )
    top = dev.orderBy(F.desc("ad"), F.asc("wk")).limit(1)
    return top.selectExpr(
        "wk AS wk_outlier",
        "y AS y_outlier",
        "n",
        "CAST(round((CAST(ad AS DOUBLE) / CAST(n AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6) AS DOUBLE) AS g6",
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test
# ---------------------------------------------------------------------------

_RUNS_OUT = [
    "n1",
    "n2",
    "runs",
    "CAST(round(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0, 6) AS DOUBLE)"
    " AS mu6",
    "CAST(round((CAST(runs AS DOUBLE)"
    " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))"
    " / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)))"
    " / (((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
    " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))), 6) AS DOUBLE)"
    " AS z6",
]


@gate(
    "runs_test_median",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    ranked AS (
      SELECT wk, y, CAST(row_number() OVER (ORDER BY y, wk) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM weekly
    ),
    med AS (SELECT y AS m FROM ranked WHERE rk = (n + 1) // 2),
    signs AS (
      SELECT wk, CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
      FROM weekly
    ),
    flips AS (
      SELECT s, CASE WHEN lag(s) OVER (ORDER BY wk) IS NULL THEN 0
                     WHEN lag(s) OVER (ORDER BY wk) <> s THEN 1 ELSE 0 END AS f
      FROM signs
    ),
    agg AS (
      SELECT CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2,
             CAST(sum(f) + 1 AS BIGINT) AS runs
      FROM flips
    )
    SELECT {', '.join(_RUNS_OUT)} FROM agg
    """,
)
def q_runs_test_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of randomness over weekly revenue: code
    each week above (1) / at-or-below (0) the exact lower median, count
    runs of equal codes, and z-score against the no-serial-dependence
    null — too FEW runs means clustering (seasonality), too many means
    alternation.  The nonparametric sibling of
    gate:durbin_watson_weekly that needs no fitted line at all.

    Determinism: the median is an integer rank selection ((y, wk) total
    order); codes and run counts are exact integers; the z formula runs
    once in shared SQL.  Scale: windows on the week domain only."""
    weekly = _weekly_kd(spark, sf_dir)
    w_all = Window.partitionBy()
    ranked = weekly.select(
        "wk",
        "y",
        F.row_number().over(Window.orderBy("y", "wk")).cast("long").alias("rk"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    med = ranked.filter(F.expr("rk = (n + 1) div 2")).select(
        F.col("y").alias("m")
    )
    signs = weekly.crossJoin(F.broadcast(med)).select(
        "wk", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s")
    )
    lag_s = F.lag("s").over(Window.orderBy("wk"))
    flips = signs.select(
        "s",
        F.when(lag_s.isNull(), 0).when(lag_s != F.col("s"), 1).otherwise(0).alias("f"),
    )
    agg = flips.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        (F.sum("f") + 1).cast("long").alias("runs"),
    )
    return agg.selectExpr(*_RUNS_OUT)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------

_MK_OUT = [
    "n",
    "s_stat",
    "CAST(round((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)"
    " * CAST(2 * n + 5 AS DOUBLE) - CAST(tie_term AS DOUBLE)) / 18.0, 6)"
    " AS DOUBLE) AS var6",
    "CAST(round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
    " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) ELSE 0.0 END"
    " / sqrt((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)"
    " * CAST(2 * n + 5 AS DOUBLE) - CAST(tie_term AS DOUBLE)) / 18.0), 6)"
    " AS DOUBLE) AS z6",
]


@gate(
    "mann_kendall_trend",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    s AS (
      SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM weekly a JOIN weekly b ON a.wk < b.wk
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM weekly GROUP BY y)
      WHERE t > 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM weekly)
    SELECT {', '.join(_MK_OUT)} FROM s CROSS JOIN ties CROSS JOIN nn
    """,
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test over weekly revenue: S = sum over pairs
    of sign(y_j - y_i), variance with the full tie-group correction,
    continuity-corrected z — the standard nonparametric "is there a
    monotone trend" test, and the significance companion to
    gate:theil_sen_weekly_pairs (Theil-Sen says HOW STEEP, Mann-Kendall
    says WHETHER to believe it).

    Determinism: S and the tie term are exact BIGINTs; the variance and
    z run once in shared SQL.  Scale: the pair join is (weeks choose 2)
    — quadratic in the TIME DOMAIN only; everything else is a
    bin-domain aggregate."""
    weekly = _weekly_kd(spark, sf_dir)
    a = weekly.alias("a")
    b = weekly.alias("b")
    s = a.join(b, F.col("a.wk") < F.col("b.wk")).agg(
        F.sum(
            F.when(F.col("b.y") > F.col("a.y"), 1)
            .when(F.col("b.y") < F.col("a.y"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        weekly.groupBy("y")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (F.lit(2) * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nn = weekly.agg(F.count("*").cast("long").alias("n"))
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .selectExpr(*_MK_OUT)
    )


# ---------------------------------------------------------------------------
# Cook's distance top-k
# ---------------------------------------------------------------------------

_COOKS_K = 5

# leverage h = 1/n + (n*x - sx)^2 / (n * (n*sxx - sx^2)); Cook's D for
# p = 2 parameters: D = e^2 * h / (2 * s2 * (1-h)^2), s2 = SSE/(n-2)
_H6 = (
    "CAST(round(1.0 / CAST(n AS DOUBLE)"
    " + (CAST(n * wk - sx AS DOUBLE) * CAST(n * wk - sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6) AS DOUBLE)"
)
_COOKS_D6 = (
    "CAST(round((e * e) * h6 / (2.0 * s2 * ((1.0 - h6) * (1.0 - h6))), 6)"
    " AS DOUBLE)"
)


@gate(
    "cooks_distance_topk",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS ({_OLS_MOM_DUCK}),
    fit AS (SELECT {_OLS_B6} AS b6, {_OLS_A6} AS a6, n, sx, sxx FROM mom),
    resid AS (
      SELECT wk, y, {_RESID6} AS e, n, sx, sxx FROM weekly CROSS JOIN fit
    ),
    sse AS (
      SELECT CAST(round(CAST(sum(CAST(round(e * e) AS BIGINT)) AS DOUBLE)
                  / (CAST(min(n) AS DOUBLE) - 2.0), 6) AS DOUBLE) AS s2
      FROM resid
    ),
    scored AS (
      SELECT wk, y, e, {_H6} AS h6, s2 FROM resid CROSS JOIN sse
    ),
    dd AS (
      SELECT wk, y, CAST(round(e, 6) AS DOUBLE) AS e6, h6,
             {_COOKS_D6} AS cooks_d6
      FROM scored
    )
    SELECT * FROM dd ORDER BY cooks_d6 DESC, wk LIMIT {_COOKS_K}
    """,
)
def q_cooks_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS influence diagnostics for the weekly trend fit: leverage
    h_t, residual, and Cook's distance D_t = e^2 h / (p s^2 (1-h)^2),
    reporting the {_COOKS_K} most influential weeks — the
    which-points-own-this-fit audit run before trusting any regression
    the engine trains (gate:grubbs_outlier_test flags extreme VALUES;
    Cook's D flags points that BEND THE LINE, which need not be the
    same weeks).

    Determinism: the fit is 6dp-rounded before scoring, s^2 sums
    per-term-quantized squared residuals (shuffle-order-proof) and is
    6dp-rounded, every formula is shared SQL over exact integer
    moments, and the top-k
    takes the (D DESC, wk) total order on ROUNDED D.  Scale: one
    groupBy(week), broadcast moments, one TakeOrdered over the week
    domain."""
    weekly = _weekly_kd(spark, sf_dir)
    fit = _ols_mom(weekly).selectExpr(
        f"{_OLS_B6} AS b6", f"{_OLS_A6} AS a6", "n", "sx", "sxx"
    )
    resid = weekly.crossJoin(F.broadcast(fit)).selectExpr(
        "wk", "y", f"{_RESID6} AS e", "n", "sx", "sxx"
    )
    sse = resid.agg(
        F.round(
            F.sum(F.round(F.col("e") * F.col("e")).cast("long")).cast("double")
            / (F.min("n").cast("double") - F.lit(2.0)),
            6,
        )
        .cast("double")
        .alias("s2")
    )
    scored = resid.crossJoin(F.broadcast(sse)).selectExpr(
        "wk", "y", "e", f"{_H6} AS h6", "s2"
    )
    dd = scored.selectExpr(
        "wk", "y", "CAST(round(e, 6) AS DOUBLE) AS e6", "h6", f"{_COOKS_D6} AS cooks_d6"
    )
    return dd.orderBy(F.desc("cooks_d6"), F.asc("wk")).limit(_COOKS_K)

q_cooks_distance_topk.__doc__ = q_cooks_distance_topk.__doc__.format(_COOKS_K=_COOKS_K)


# ---------------------------------------------------------------------------
# Periodogram of the monthly series
# ---------------------------------------------------------------------------

_PG_MAXK = 6
_TWO_PI = "6.283185307179586"

# trig factors micro-quantized BEFORE entering the integer sums (the
# benford discipline: a 1-ULP cross-engine cos difference cannot move a
# quantized integer except exactly on a .5 boundary)
_PG_COS = (
    f"CAST(round(cos({_TWO_PI} * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)"
    " / CAST(tt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_cos"
)
_PG_SIN = (
    f"CAST(round(sin({_TWO_PI} * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)"
    " / CAST(tt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_sin"
)

_PG_OUT = [
    "k",
    "tt AS n_months",
    "CAST(round(CAST(c_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS c6",
    "CAST(round(CAST(s_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS s6",
    "CAST(round(((CAST(c_u AS DOUBLE) / 1000000.0)"
    " * (CAST(c_u AS DOUBLE) / 1000000.0)"
    " + (CAST(s_u AS DOUBLE) / 1000000.0)"
    " * (CAST(s_u AS DOUBLE) / 1000000.0)) / CAST(tt AS DOUBLE), 6)"
    " AS DOUBLE) AS power6",
]


@gate(
    "periodogram_monthly",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS mkey,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, CAST(row_number() OVER (ORDER BY mkey) - 1 AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS tt
      FROM monthly
    ),
    expanded AS (
      SELECT idx.*, CAST(ks.k AS BIGINT) AS k
      FROM idx CROSS JOIN (SELECT unnest(range(1, {_PG_MAXK + 1})) AS k) ks
    ),
    weights AS (
      SELECT k, t, tt, y, {_PG_COS}, {_PG_SIN} FROM expanded
    ),
    sums AS (
      SELECT k, CAST(min(tt) AS BIGINT) AS tt,
             CAST(sum(y * w_cos) AS BIGINT) AS c_u,
             CAST(sum(y * w_sin) AS BIGINT) AS s_u
      FROM weights GROUP BY k
    )
    SELECT {', '.join(_PG_OUT)} FROM sums ORDER BY k
    """,
)
def q_periodogram_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of monthly revenue at k = 1..{_PG_MAXK} cycles over
    the observed span: DFT coefficients c_k = sum y_t cos(2 pi k t/T),
    s_k likewise, power (c^2+s^2)/T — the spectral answer to "WHICH
    seasonality does this series carry" (gate:seasonal_decompose_monthly
    assumes the annual period; the periodogram measures all candidate
    frequencies; gate:autocorrelation_acf is its time-domain dual).

    Determinism: each trig factor is micro-quantized to a BIGINT before
    the y * w products sum (exact integers; a 1-ULP cos difference
    between JVM and libm cannot move a quantized factor off a non-.5
    boundary), divisions and the power composition run in shared SQL.
    Scale: the t-index window runs on the month domain; the k fan-out
    is a literal 6-row cross join."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.selectExpr(
            "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey",
            "CAST(round(o_totalprice) AS BIGINT) AS d",
        )
        .groupBy("mkey")
        .agg(
            F.expr("CAST(round(CAST(sum(d) AS DOUBLE) / 1000.0) AS BIGINT)").alias(
                "y"
            )
        )
    )
    w_all = Window.partitionBy()
    idx = monthly.select(
        "y",
        (F.row_number().over(Window.orderBy("mkey")) - 1).cast("long").alias("t"),
        F.count("*").over(w_all).cast("long").alias("tt"),
    )
    ks = spark.range(1, _PG_MAXK + 1).selectExpr("CAST(id AS BIGINT) AS k")
    weights = idx.crossJoin(F.broadcast(ks)).selectExpr(
        "k", "t", "tt", "y", _PG_COS, _PG_SIN
    )
    sums = weights.groupBy("k").agg(
        F.min("tt").cast("long").alias("tt"),
        F.sum(F.col("y") * F.col("w_cos")).cast("long").alias("c_u"),
        F.sum(F.col("y") * F.col("w_sin")).cast("long").alias("s_u"),
    )
    return sums.selectExpr(*_PG_OUT).orderBy("k")

q_periodogram_monthly.__doc__ = q_periodogram_monthly.__doc__.format(_PG_MAXK=_PG_MAXK)
