"""Round-10 gates, batch 1: paired nonparametrics (Wilcoxon
signed-rank, sign test), multi-lag white-noise testing (Ljung-Box),
bidirectional lag-1 Granger causality, and the uniform quantile
transform — the next members of the repo's time-series and paired-
comparison families.

Reference parity: none exist in the reference (metrics only,
src/transpiler.py:241-377); they extend gate families welch_t_test /
mann_whitney_binned (paired twins), pacf_durbin_levinson /
durbin_watson_weekly (multi-lag / cross-series), and robust_scale /
boxcox_loglik_grid (rank-based transform).

Cross-engine determinism: the cookbook discipline throughout — exact
BIGINT counting and whole-dollar/kilodollar moments; doubled midranks on
bounded bin domains; fold-free single-row algebra in shared SQL strings;
statistics composed from 6dp-ROUNDED intermediates where an intermediate
is reported; windows only over bounded bin/week domains, never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.gate_r8e import _WK_SQL_DUCK, _weekly_kd  # noqa: F401

# ---------------------------------------------------------------------------
# Paired construction shared by Wilcoxon + sign test: per-customer order
# revenue (whole dollars), era A (< 1998-05-01) minus era B (>=) — the
# halves of the 344-week order history; a customer absent from an era
# contributes 0 there (a real revenue change, not a missing pair).
# ---------------------------------------------------------------------------

_ERA_SPLIT = "1998-05-01"
_WILCOX_BIN = 100  # $100 |difference| bins (the mann_whitney grid scale)

_PAIRS_SQL_DUCK = f"""
      SELECT o_custkey,
             CAST(sum(CASE WHEN o_orderdate < DATE '{_ERA_SPLIT}'
                           THEN CAST(round(o_totalprice) AS BIGINT)
                           ELSE 0 END)
                  - sum(CASE WHEN o_orderdate >= DATE '{_ERA_SPLIT}'
                             THEN CAST(round(o_totalprice) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS d
      FROM orders GROUP BY o_custkey
"""


def _paired_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    dol = F.round(F.col("o_totalprice")).cast("long")
    era_a = F.when(F.col("o_orderdate") < _ERA_SPLIT, dol).otherwise(F.lit(0))
    era_b = F.when(F.col("o_orderdate") >= _ERA_SPLIT, dol).otherwise(F.lit(0))
    return od.groupBy("o_custkey").agg(
        (F.sum(era_a) - F.sum(era_b)).cast("long").alias("d")
    )


# z = (W2 - n(n+1)/2) / (2 * sqrt(n(n+1)(2n+1)/24 - ties/48)),
# W2 = doubled positive rank sum (exact BIGINT)
_WILCOX_Z = (
    # nullif: n = 0 or all-ties zero the variance — z undefined, never
    # NaN/Inf (degenerate-battery contract; shared by both engines)
    "((CAST(w2_pos AS DOUBLE)"
    " - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 2.0)"
    " / nullif(2.0 * sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)"
    " * CAST(2 * n + 1 AS DOUBLE) / 24.0"
    " - CAST(tie_term AS DOUBLE) / 48.0), 0.0))"
)
_WILCOX_OUT = [
    "n",
    "w2_pos",
    "tie_term",
    f"CAST(round({_WILCOX_Z}, 6) AS DOUBLE) AS z6",
]


@gate(
    "wilcoxon_signed_rank_binned",
    oracle=f"""
    WITH per_c AS ({_PAIRS_SQL_DUCK}),
    nz AS (
      SELECT CAST(abs(d) AS BIGINT) // {_WILCOX_BIN} AS v,
             CAST(CASE WHEN d > 0 THEN 1 ELSE 0 END AS BIGINT) AS pos
      FROM per_c WHERE d <> 0
    ),
    bins AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t, CAST(sum(pos) AS BIGINT) AS p
      FROM nz GROUP BY v
    ),
    ranked AS (
      SELECT v, t, p,
             2 * coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
      FROM bins
    ),
    s AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(p * r2) AS BIGINT) AS w2_pos,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
      FROM ranked
    )
    SELECT {", ".join(_WILCOX_OUT)} FROM s
    """,
)
def q_wilcoxon_signed_rank_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test for a per-customer revenue shift
    between the two halves of the order history — the PAIRED twin of
    gate:mann_whitney_binned (same customer observed in both eras, so
    between-customer variance cancels), with |difference| ranks on the
    $100 bin grid and the tie-corrected normal approximation.

    Exactness: doubled midranks (2r = 2*cum_before + t + 1) keep every
    rank an exact BIGINT over the bounded |d|-bin domain; W2+ and the
    tie term are integer sums; the single z division happens in shared
    SQL.  Scale: one groupBy(custkey) pass, one groupBy(bin); the rank
    window runs over bins, never customers."""
    per_c = _paired_d(spark, sf_dir)
    nz = per_c.filter(F.col("d") != 0).select(
        F.expr(f"CAST(abs(d) AS BIGINT) div {_WILCOX_BIN}").alias("v"),
        F.when(F.col("d") > 0, 1).otherwise(0).cast("long").alias("pos"),
    )
    bins = nz.groupBy("v").agg(
        F.count("*").cast("long").alias("t"),
        F.sum("pos").cast("long").alias("p"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = bins.select(
        "t",
        "p",
        (
            2 * F.coalesce(F.sum("t").over(wb), F.lit(0)) + F.col("t") + 1
        ).alias("r2"),
    )
    s = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("p") * F.col("r2")).cast("long").alias("w2_pos"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_term"),
    )
    return s.selectExpr(*_WILCOX_OUT)


_SIGN_OUT = [
    "m",
    "k_pos",
    # nullif: zero non-tied pairs (m = 0) makes the sign z undefined
    "CAST(round((2.0 * CAST(k_pos AS DOUBLE) - CAST(m AS DOUBLE))"
    " / nullif(sqrt(CAST(m AS DOUBLE)), 0.0), 6) AS DOUBLE) AS z6",
    # continuity-corrected magnitude (the classic small-sample guard)
    "CAST(round((abs(2.0 * CAST(k_pos AS DOUBLE) - CAST(m AS DOUBLE)) - 1.0)"
    " / nullif(sqrt(CAST(m AS DOUBLE)), 0.0), 6) AS DOUBLE) AS z_cc6",
]


@gate(
    "sign_test_paired",
    oracle=f"""
    WITH per_c AS ({_PAIRS_SQL_DUCK}),
    s AS (
      SELECT CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_pos
      FROM per_c
    )
    SELECT {", ".join(_SIGN_OUT)} FROM s
    """,
)
def q_sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign test over the SAME per-customer era pairing as
    gate:wilcoxon_signed_rank_binned: only the direction of each
    difference counts, so it is valid with no symmetry assumption at
    all (Wilcoxon additionally uses magnitudes; the pair is the
    standard robustness ladder).  Pure integer counting; one division
    in shared SQL; continuity-corrected z reported alongside."""
    per_c = _paired_d(spark, sf_dir)
    s = per_c.agg(
        F.sum(F.when(F.col("d") != 0, 1).otherwise(0)).cast("long").alias("m"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("k_pos"),
    )
    return s.selectExpr(*_SIGN_OUT)


# ---------------------------------------------------------------------------
# Ljung-Box Q on weekly revenue, lags 1..3 — composes from the SAME
# fold-computed 6dp-rounded ACF as gate:pacf_durbin_levinson
# ---------------------------------------------------------------------------

# chi2(3) upper-5% critical value, decided on the ROUNDED Q
_LB_CHI2_CRIT = 7.814728

_LB_Q = (
    # nullif: Q(3) needs n_weeks > 3 — shorter series zero a lag
    # denominator and the statistic is undefined, never Inf
    "(CAST(n_weeks AS DOUBLE) * (CAST(n_weeks AS DOUBLE) + 2.0)"
    " * (rho1_6 * rho1_6 / nullif(CAST(n_weeks AS DOUBLE) - 1.0, 0.0)"
    " + rho2_6 * rho2_6 / nullif(CAST(n_weeks AS DOUBLE) - 2.0, 0.0)"
    " + rho3_6 * rho3_6 / nullif(CAST(n_weeks AS DOUBLE) - 3.0, 0.0)))"
)
_LB_OUT = [
    "n_weeks",
    "rho1_6",
    "rho2_6",
    "rho3_6",
    f"CAST(round({_LB_Q}, 6) AS DOUBLE) AS q3_6",
    f"CAST(CASE WHEN CAST(round({_LB_Q}, 6) AS DOUBLE) > {_LB_CHI2_CRIT!r}"
    " THEN 1 ELSE 0 END AS BIGINT) AS reject_white_noise",
]


def _lb_rho_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_weeks, rho1_6, rho2_6, rho3_6) — the pacf gate's fold, reused."""
    weekly = _weekly_kd(spark, sf_dir)
    tot = weekly.agg(
        F.sum("y").cast("long").alias("s"),
        F.count("*").cast("long").alias("w"),
    )
    listed = weekly.crossJoin(F.broadcast(tot)).agg(
        F.min("w").cast("long").alias("n_weeks"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("wk"),
                    (F.col("w") * F.col("y") - F.col("s"))
                    .cast("double")
                    .alias("d"),
                )
            )
        ).alias("ds"),
    )
    folded = listed.select(
        "n_weeks",
        F.aggregate(
            F.transform(F.col("ds"), lambda r: F.array(r["d"])),
            F.array(*[F.lit(0.0)] * 7),
            lambda acc, x: F.array(
                F.element_at(acc, 1) + F.element_at(x, 1) * F.element_at(x, 1),
                F.element_at(acc, 2) + F.element_at(x, 1) * F.element_at(acc, 5),
                F.element_at(acc, 3) + F.element_at(x, 1) * F.element_at(acc, 6),
                F.element_at(acc, 4) + F.element_at(x, 1) * F.element_at(acc, 7),
                F.element_at(x, 1),
                F.element_at(acc, 5),
                F.element_at(acc, 6),
            ),
        ).alias("f"),
    )
    return folded.selectExpr(
        "n_weeks",
        "CAST(round(element_at(f, 2) / element_at(f, 1), 6) AS DOUBLE) AS rho1_6",
        "CAST(round(element_at(f, 3) / element_at(f, 1), 6) AS DOUBLE) AS rho2_6",
        "CAST(round(element_at(f, 4) / element_at(f, 1), 6) AS DOUBLE) AS rho3_6",
    )


# the pacf fold, shared verbatim with gate_r8k's oracle
from inferdb_spark.gate_r8k import _PACF_FOLD_DUCK  # noqa: E402


@gate(
    "ljung_box_weekly",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS w
      FROM weekly
    ),
    folded AS (
      SELECT CAST(min(w) AS BIGINT) AS n_weeks,
             {_PACF_FOLD_DUCK}
      FROM weekly CROSS JOIN tot
    ),
    rho AS (
      SELECT n_weeks,
             CAST(round(f[2] / f[1], 6) AS DOUBLE) AS rho1_6,
             CAST(round(f[3] / f[1], 6) AS DOUBLE) AS rho2_6,
             CAST(round(f[4] / f[1], 6) AS DOUBLE) AS rho3_6
      FROM folded
    )
    SELECT {", ".join(_LB_OUT)} FROM rho
    """,
)
def q_ljung_box_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau Q over lags 1..3 of weekly revenue — the
    MULTI-lag white-noise test (durbin_watson_weekly tests only lag 1;
    Box-Jenkins runs this on residuals before trusting any fitted
    model), with the chi2(3) decision made on the ROUNDED Q so the
    boundary cannot flip engines.

    Determinism: composes entirely from the SAME week-ORDERED
    7-component fold and 6dp-rounded rho's as gate:pacf_durbin_levinson
    (fold shared verbatim); Q is one shared SQL expression.  Scale: one
    groupBy(week) + a fold over the week-domain array."""
    rho = _lb_rho_relation(spark, sf_dir)
    return rho.selectExpr(*_LB_OUT)


# ---------------------------------------------------------------------------
# Bidirectional lag-1 Granger causality: weekly revenue vs order count
# ---------------------------------------------------------------------------

# weekly relation with BOTH series: y = revenue (kilodollars), x = orders
_WK2_SQL_DUCK = """
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                  AS BIGINT) AS wk,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS DOUBLE) / 1000.0) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
"""

# consecutive-week pairs (wk, yt, xt, y1, x1); missing weeks simply drop
_GC_PAIRS_DUCK = """
      SELECT b.y AS yt, b.x AS xt, a.y AS y1, a.x AS x1
      FROM weekly a JOIN weekly b ON b.wk = a.wk + 1
"""

_GC_MOMS = [
    ("n", "count(*)"),
    ("syt", "sum(yt)"),
    ("sxt", "sum(xt)"),
    ("sy1", "sum(y1)"),
    ("sx1", "sum(x1)"),
    ("qyt", "sum(yt * yt)"),
    ("qxt", "sum(xt * xt)"),
    ("qy1", "sum(y1 * y1)"),
    ("qx1", "sum(x1 * x1)"),
    ("pyty1", "sum(yt * y1)"),
    ("pytx1", "sum(yt * x1)"),
    ("pxty1", "sum(xt * y1)"),
    ("pxtx1", "sum(xt * x1)"),
    ("py1x1", "sum(y1 * x1)"),
]
_GC_MOM_SQL = ", ".join(
    f"CAST({e} AS BIGINT) AS {a}" for a, e in _GC_MOMS
)


def _c(q: str, sa: str, sb: str) -> str:
    """centered moment S_ab = q - sa*sb/n (double, shared order)."""
    return (
        f"(CAST({q} AS DOUBLE) - CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )


def _granger_f(dep_q: str, dep_s: str, p_own: str, p_oth: str,
               own_q: str, own_s: str, oth_q: str, oth_s: str,
               cross_p: str) -> str:
    """F for H0 'other series' lag adds nothing beyond own lag:
    restricted y_t ~ own_1 vs unrestricted y_t ~ own_1 + other_1,
    solved in closed form from centered moments (Cramer, 2x2)."""
    syy = _c(dep_q, dep_s, dep_s)
    s11 = _c(own_q, own_s, own_s)
    s22 = _c(oth_q, oth_s, oth_s)
    s12 = _c(cross_p, own_s, oth_s)
    s1y = _c(p_own, own_s, dep_s)
    s2y = _c(p_oth, oth_s, dep_s)
    # nullif on every Cramer denominator: constant own-lag (s11 = 0),
    # collinear lags (det = 0), and a perfect unrestricted fit
    # (ssr_u = 0) all make F undefined — NULL, never NaN/Inf
    ssr_r = f"({syy} - {s1y} * {s1y} / nullif({s11}, 0.0))"
    det = f"({s11} * {s22} - {s12} * {s12})"
    b = f"(({s1y} * {s22} - {s2y} * {s12}) / nullif({det}, 0.0))"
    c = f"(({s2y} * {s11} - {s1y} * {s12}) / nullif({det}, 0.0))"
    ssr_u = f"({syy} - {b} * {s1y} - {c} * {s2y})"
    return (
        f"(({ssr_r} - {ssr_u}) * (CAST(n AS DOUBLE) - 3.0)"
        f" / nullif({ssr_u}, 0.0))"
    )


_F_X_TO_Y = _granger_f("qyt", "syt", "pyty1", "pytx1",
                       "qy1", "sy1", "qx1", "sx1", "py1x1")
_F_Y_TO_X = _granger_f("qxt", "sxt", "pxtx1", "pxty1",
                       "qx1", "sx1", "qy1", "sy1", "py1x1")

_GC_OUT = [
    "n",
    f"CAST(round({_F_X_TO_Y}, 6) AS DOUBLE) AS f_orders_to_revenue6",
    f"CAST(round({_F_Y_TO_X}, 6) AS DOUBLE) AS f_revenue_to_orders6",
]


@gate(
    "granger_lag1_weekly",
    oracle=f"""
    WITH weekly AS ({_WK2_SQL_DUCK}),
    pairs AS ({_GC_PAIRS_DUCK}),
    mom AS (SELECT {_GC_MOM_SQL} FROM pairs)
    SELECT {", ".join(_GC_OUT)} FROM mom
    """,
)
def q_granger_lag1_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality F in BOTH directions between weekly
    order count and weekly revenue: does last week's order count
    predict this week's revenue beyond revenue's own lag (and vice
    versa)?  The cross-series upgrade of the autocorrelation family —
    on this synthetic data order size is date-independent, so both F's
    sit near the null (revenue is count x mean-price: the two series
    co-move CONTEMPORANEOUSLY, which Granger's lagged design correctly
    refuses to call causal).

    Exactness: the 14 pair moments are exact BIGINTs (kilodollar
    revenue, order counts) from one aggregation over the
    consecutive-week self-join; restricted and unrestricted OLS solve
    in closed form (Cramer) inside ONE shared SQL string each — no
    iterative fit, no per-row residual pass.  Scale: groupBy(week),
    then a self-join and reduce on the ~344-row week domain."""
    od = load_table(spark, sf_dir, "orders")
    weekly = (
        od.selectExpr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT) AS wk",
            "CAST(round(o_totalprice) AS BIGINT) AS dol",
        )
        .groupBy("wk")
        .agg(
            F.expr(
                "CAST(round(CAST(sum(dol) AS DOUBLE) / 1000.0) AS BIGINT)"
            ).alias("y"),
            F.count("*").cast("long").alias("x"),
        )
    )
    a, b = weekly.alias("a"), weekly.alias("b")
    pairs = a.join(b, F.col("b.wk") == F.col("a.wk") + 1).select(
        F.col("b.y").alias("yt"),
        F.col("b.x").alias("xt"),
        F.col("a.y").alias("y1"),
        F.col("a.x").alias("x1"),
    )
    mom = pairs.agg(*[F.expr(f"CAST({e} AS BIGINT)").alias(a_) for a_, e in _GC_MOMS])
    return mom.selectExpr(*_GC_OUT)


# ---------------------------------------------------------------------------
# Uniform quantile transform on the $100 bin domain
# ---------------------------------------------------------------------------

_QT_BIN_CENTS = 10_000

_QT_OUT = [
    "v",
    "c",
    # bin-midpoint CDF (cum_before + c/2) / N: strictly inside (0, 1) —
    # the rank/N convention touches 1.0 at the max bin and breaks any
    # downstream probit/logit application
    "CAST(round((2.0 * CAST(cb AS BIGINT) + CAST(c AS BIGINT))"
    " / (2.0 * CAST(nt AS DOUBLE)), 6) AS DOUBLE) AS q6",
]


@gate(
    "quantile_transform_binned",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_QT_BIN_CENTS} AS v
      FROM orders
    ),
    bins AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY v),
    cum AS (
      SELECT v, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
             CAST(sum(c) OVER () AS BIGINT) AS nt
      FROM bins
    )
    SELECT {", ".join(_QT_OUT)} FROM cum ORDER BY v
    """,
)
def q_quantile_transform_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform quantile (rank-Gauss's first half) transform MAP for
    order value on the $100 bin grid: bin -> midrank/N in (0, 1) — the
    monotone feature transform that makes any downstream binning or
    linear model scale-free, computed once on the bounded bin domain
    and broadcast back for application (the gate returns the map; the
    application join is the index_translate broadcast pattern).

    Exactness: bin-midpoint numerators are exact integers (2*cum_before
    + c over doubled units); ONE division per bin in shared SQL.  Scale: one
    groupBy(bin); windows over the ~5k-bin domain, never rows; the map
    is row-count-independent."""
    od = load_table(spark, sf_dir, "orders")
    binned = od.selectExpr(
        f"CAST(round(o_totalprice * 100) AS BIGINT) div {_QT_BIN_CENTS} AS v"
    )
    bins = binned.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("long").alias("cb"),
        F.sum("c").over(wa).cast("long").alias("nt"),
    )
    return cum.selectExpr(*_QT_OUT)
