"""Round-8 gate queries, batch 8.

The two hardest members of the regression/forecasting family:

- holt_winters_monthly — additive Holt-Winters (level + trend + 12
  seasonal states, alpha = beta = gamma = 1/2) folded as ONE aggregate
  HOF whose accumulator is the full 14-component state vector — the
  seasonal upgrade of gate:holt_linear_forecast, and the strongest
  stress of the shared-fold discipline (DuckDB list_reduce with a
  list-typed accumulator, bit-identical IEEE op order on both engines)
- breusch_pagan_weekly — heteroskedasticity LM test of the weekly OLS
  fit, with every residual-moment sum computed by an ORDERED array fold
  (a plain SQL sum of 365 doubles is shuffle-order-sensitive; folding
  the week-ordered array fixes the order on both engines)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.gate_r8e import _OLS_A6, _OLS_B6, _WK_SQL_DUCK, _ols_mom, _weekly_kd

# ---------------------------------------------------------------------------
# Additive Holt-Winters, period 12
# ---------------------------------------------------------------------------

_HW_H = 12  # forecast horizons

# the fold body, written ONCE as a comment so both engines' lambdas can
# be checked against it line by line (pos = x[2] 0-based seasonal slot):
#   s_old = acc[3 + pos]
#   l_new = 0.5*(x - s_old) + 0.5*(acc_l + acc_b)
#   b_new = 0.5*(l_new - acc_l) + 0.5*acc_b       (l_new inlined)
#   s_new = 0.5*(x - l_new) + 0.5*s_old           (l_new inlined)
#   acc'  = [l_new, b_new, s_1.., s_new at slot pos, ..s_12]

_HW_DUCK_STEP = (
    "(acc, x) -> list_concat("
    "[0.5 * (x[1] - acc[3 + CAST(x[2] AS BIGINT)]) + 0.5 * (acc[1] + acc[2]),"
    " 0.5 * ((0.5 * (x[1] - acc[3 + CAST(x[2] AS BIGINT)])"
    " + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.5 * acc[2]],"
    " list_transform(range(1, 13), i -> CASE WHEN CAST(i AS DOUBLE) = x[2] + 1.0"
    " THEN 0.5 * (x[1] - (0.5 * (x[1] - acc[3 + CAST(x[2] AS BIGINT)])"
    " + 0.5 * (acc[1] + acc[2]))) + 0.5 * acc[3 + CAST(x[2] AS BIGINT)]"
    " ELSE acc[i + 2] END))"
)

_HW_OUT = [
    "h",
    "n_months",
    "CAST(round(lb_l, 6) AS DOUBLE) AS level6",
    "CAST(round(lb_b, 6) AS DOUBLE) AS trend6",
    "CAST(round(s_h, 6) AS DOUBLE) AS seasonal6",
    "CAST(round(lb_l + CAST(h AS DOUBLE) * lb_b + s_h, 6) AS DOUBLE)"
    " AS forecast6",
]


@gate(
    "holt_winters_monthly",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS mkey,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    lists AS (
      SELECT list(CAST(y AS DOUBLE) ORDER BY mkey) AS vals,
             CAST(count(*) AS BIGINT) AS tt
      FROM monthly
    ),
    init AS (
      SELECT vals, tt,
             list_reduce(list_slice(vals, 1, 12), (acc, x) -> acc + x) / 12.0
               AS l0,
             (list_reduce(list_slice(vals, 13, 24), (acc, x) -> acc + x) / 12.0
              - list_reduce(list_slice(vals, 1, 12), (acc, x) -> acc + x) / 12.0)
             / 12.0 AS b0
      FROM lists
    ),
    folded AS (
      SELECT tt,
             list_reduce(
               list_prepend(
                 list_concat([l0, b0],
                   list_transform(list_slice(vals, 1, 12), v -> v - l0)),
                 list_transform(range(13, CAST(tt AS BIGINT) + 1),
                   t -> [vals[CAST(t AS BIGINT)],
                         CAST((t - 1) % 12 AS DOUBLE)])),
               {_HW_DUCK_STEP}) AS st
      FROM init
    ),
    fc AS (
      SELECT CAST(h AS BIGINT) AS h, tt AS n_months,
             st[1] AS lb_l, st[2] AS lb_b,
             st[3 + CAST((tt + h - 1) % 12 AS BIGINT)] AS s_h
      FROM folded CROSS JOIN (SELECT unnest(range(1, {_HW_H + 1})) AS h)
    )
    SELECT {', '.join(_HW_OUT)} FROM fc ORDER BY h
    """,
)
def q_holt_winters_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast of monthly revenue (period 12,
    alpha = beta = gamma = 1/2): level, trend, and all twelve seasonal
    states evolve together in ONE aggregate-HOF fold whose accumulator
    is the 14-component state vector [l, b, s_0..s_11] — the seasonal
    upgrade of gate:holt_linear_forecast, and the forecasting primitive
    for load that actually has an annual shape.  Init: l = mean of the
    first season, b = (second-season mean - first)/12, s_i = x_i - l;
    recursion runs t = 13..T; forecasts x(T+h) = l + h*b + s_((T+h-1)
    mod 12) for h = 1..{_HW_H}.

    Determinism: the DuckDB fold wraps each observation as
    [x, seasonal-slot] so list_reduce's accumulator (a DOUBLE list) can
    carry the state vector, and both engines execute the IDENTICAL
    written IEEE op order (l_new inlined into b_new/s_new the same way
    on both sides — see the module comment block); halvings of
    integer-kilodollar values keep every step bit-stable.  Scale: one
    map-side-combinable groupBy(month); the fold runs over the
    month-DOMAIN array (~84 elements).  Requires >= 25 months."""
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
    lists = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mkey", "y"))).alias("ms"),
        F.count("*").cast("long").alias("tt"),
    ).select(
        F.transform(F.col("ms"), lambda r: r["y"].cast("double")).alias("vals"),
        "tt",
    )

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    init = lists.select(
        "vals",
        "tt",
        (fold_sum(F.slice(F.col("vals"), 1, 12)) / F.lit(12.0)).alias("l0"),
        (
            (
                fold_sum(F.slice(F.col("vals"), 13, 12)) / F.lit(12.0)
                - fold_sum(F.slice(F.col("vals"), 1, 12)) / F.lit(12.0)
            )
            / F.lit(12.0)
        ).alias("b0"),
    )
    half = F.lit(0.5)

    def hw_step(acc, x):
        xv = F.element_at(x, 1)
        pos = F.element_at(x, 2)  # 0-based slot, double
        s_old = F.element_at(acc, (pos + F.lit(3)).cast("int"))
        l_prev, b_prev = F.element_at(acc, 1), F.element_at(acc, 2)
        l_new = half * (xv - s_old) + half * (l_prev + b_prev)
        b_new = (
            half * ((half * (xv - s_old) + half * (l_prev + b_prev)) - l_prev)
            + half * b_prev
        )
        s_new = (
            half * (xv - (half * (xv - s_old) + half * (l_prev + b_prev)))
            + half * s_old
        )
        return F.concat(
            F.array(l_new, b_new),
            F.transform(
                F.sequence(F.lit(1), F.lit(12)),
                lambda i: F.when(
                    i.cast("double") == pos + F.lit(1.0), s_new
                ).otherwise(F.element_at(acc, (i + F.lit(2)).cast("int"))),
            ),
        )

    acc0 = F.concat(
        F.array(F.col("l0"), F.col("b0")),
        F.transform(F.slice(F.col("vals"), 1, 12), lambda v: v - F.col("l0")),
    )
    # guard: Spark sequence(13, tt) DESCENDS when tt < 13 (it never goes
    # empty like DuckDB range) — short series must yield zero steps
    elements = F.when(
        F.col("tt") >= 13,
        F.transform(
            F.sequence(F.lit(13), F.col("tt").cast("int")),
            lambda t: F.array(
                F.element_at(F.col("vals"), t.cast("int")),
                ((t - F.lit(1)) % F.lit(12)).cast("double"),
            ),
        ),
    ).otherwise(F.array().cast("array<array<double>>"))
    folded = init.select(
        "tt", F.aggregate(elements, acc0, hw_step).alias("st")
    )
    fc = folded.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HW_H))).alias("h0"),
        F.col("tt").alias("n_months"),
        F.element_at(F.col("st"), 1).alias("lb_l"),
        F.element_at(F.col("st"), 2).alias("lb_b"),
        "st",
    ).select(
        F.col("h0").cast("long").alias("h"),
        "n_months",
        "lb_l",
        "lb_b",
        F.element_at(
            F.col("st"),
            (F.lit(3) + (F.col("n_months") + F.col("h0") - 1) % 12).cast("int"),
        ).alias("s_h"),
    )
    return fc.selectExpr(*_HW_OUT).orderBy("h")

q_holt_winters_monthly.__doc__ = q_holt_winters_monthly.__doc__.format(_HW_H=_HW_H)


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test
# ---------------------------------------------------------------------------

# LM = n * R^2 of e^2 regressed on wk; the u = e^2 moment sums run as
# ONE ordered array fold (acc = [su, suu, sxu]) so no shuffle-order
# double accumulation exists on either engine
_BP_OUT = [
    "n",
    "CAST(round((CAST(n AS DOUBLE) * sxu - CAST(sx AS DOUBLE) * su)"
    " * (CAST(n AS DOUBLE) * sxu - CAST(sx AS DOUBLE) * su)"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * suu - su * su)), 6) AS DOUBLE) AS r2_6",
    "CAST(round(CAST(n AS DOUBLE)"
    " * ((CAST(n AS DOUBLE) * sxu - CAST(sx AS DOUBLE) * su)"
    " * (CAST(n AS DOUBLE) * sxu - CAST(sx AS DOUBLE) * su)"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * suu - su * su))), 6) AS DOUBLE) AS lm6",
]

_BP_RESID6 = (
    "CAST(round(CAST(y AS DOUBLE) - (a6 + b6 * CAST(wk AS DOUBLE)), 6)"
    " AS DOUBLE)"
)


@gate(
    "breusch_pagan_weekly",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(wk) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(wk * wk) AS BIGINT) AS sxx,
             CAST(sum(wk * y) AS BIGINT) AS sxy
      FROM weekly
    ),
    fit AS (SELECT {_OLS_B6} AS b6, {_OLS_A6} AS a6, n, sx, sxx FROM mom),
    resid AS (
      SELECT wk, {_BP_RESID6} AS e, n, sx, sxx
      FROM weekly CROSS JOIN fit
    ),
    lists AS (
      SELECT CAST(min(n) AS BIGINT) AS n, CAST(min(sx) AS BIGINT) AS sx,
             CAST(min(sxx) AS BIGINT) AS sxx,
             list([e * e, CAST(wk AS DOUBLE)] ORDER BY wk) AS us
      FROM resid
    ),
    folded AS (
      SELECT n, sx, sxx,
             list_reduce(list_prepend([0.0, 0.0, 0.0],
               list_transform(us, u -> [u[1], u[1] * u[1], u[2] * u[1]])),
               (acc, x) -> [acc[1] + x[1], acc[2] + x[2], acc[3] + x[3]]) AS s
      FROM lists
    )
    SELECT {', '.join(_BP_OUT)}
    FROM (SELECT n, sx, sxx, s[1] AS su, s[2] AS suu, s[3] AS sxu FROM folded)
    """,
)
def q_breusch_pagan_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test of the weekly OLS trend:
    regress squared residuals on the week index, LM = n * R^2 — the
    does-the-noise-grow check that pairs with gate:durbin_watson_weekly
    (DW: are residuals serially correlated; BP: is their VARIANCE
    x-dependent).  Seasonal revenue amplitude grows with level, so BP
    fires here by design.

    Determinism: residuals come from the 6dp-rounded shared fit; the
    three u = e^2 moment sums accumulate in ONE week-ORDERED array fold
    on both engines (a plain SQL sum of hundreds of doubles would be
    shuffle-order-sensitive — this is the ewma fold discipline applied
    to moment sums), and R^2/LM compose once in shared SQL.  Scale: the
    fold runs over the week-domain array; everything upstream is the
    one groupBy(week)."""
    weekly = _weekly_kd(spark, sf_dir)
    fit = _ols_mom(weekly).selectExpr(
        f"{_OLS_B6} AS b6", f"{_OLS_A6} AS a6", "n", "sx", "sxx"
    )
    resid = weekly.crossJoin(F.broadcast(fit)).selectExpr(
        "wk", f"{_BP_RESID6} AS e", "n", "sx", "sxx"
    )
    lists = resid.agg(
        F.min("n").cast("long").alias("n"),
        F.min("sx").cast("long").alias("sx"),
        F.min("sxx").cast("long").alias("sxx"),
        F.sort_array(
            F.collect_list(F.struct(F.col("wk"), (F.col("e") * F.col("e")).alias("u")))
        ).alias("us"),
    )
    folded = lists.select(
        "n",
        "sx",
        "sxx",
        F.aggregate(
            F.transform(
                F.col("us"),
                lambda r: F.array(
                    r["u"], r["u"] * r["u"], r["wk"].cast("double") * r["u"]
                ),
            ),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)),
            lambda acc, x: F.array(
                F.element_at(acc, 1) + F.element_at(x, 1),
                F.element_at(acc, 2) + F.element_at(x, 2),
                F.element_at(acc, 3) + F.element_at(x, 3),
            ),
        ).alias("s"),
    )
    return folded.selectExpr(
        "n",
        "sx",
        "sxx",
        "element_at(s, 1) AS su",
        "element_at(s, 2) AS suu",
        "element_at(s, 3) AS sxu",
    ).selectExpr(*_BP_OUT)
