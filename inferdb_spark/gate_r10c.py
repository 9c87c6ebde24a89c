"""Round-10 gate queries, batch c.

Unit-root / long-run-variance econometrics over the shared weekly
kilodollar revenue series (gate_r8e._weekly_kd), completing the
time-series identification battery (acf/pacf/ljung-box/holt/periodogram
already gated):

- dickey_fuller_unitroot — DF regression Δy on y_{t-1} (is the series
  mean-reverting?), exact-integer moments via one lag window
- kpss_level_stat       — KPSS level-stationarity statistic from the
  time-ORDERED partial-sum fold (the null is the opposite of DF's)
- newey_west_hac        — HAC (Bartlett, lag 4) long-run variance and
  robust se of the mean, per-lag cross-terms unit-quantized to BIGINT
- variance_ratio_test   — Lo-MacKinlay VR(4) from overlapping 4-week
  differences, homoskedastic z
- theta_method_forecast — the M3-winning theta method as SES fold +
  half-slope drift, 4-week horizon

Determinism: the weekly y are exact BIGINT kilodollars; every
data-sized sum is either an integer sum, a per-term unit-quantized
BIGINT sum, or a time-ORDERED array fold; statistics divide once in
shared SQL with nullif-guarded denominators (degenerate battery
contract).  Scale: ONE groupBy(week) each — the per-week relation
(~360 rows at any SF) bounds every window/fold.

Reference scope: extends the microbenchmark protocols of
src/experiments (reference has no time-series ops; cited for the
family-completion rationale per SURVEY §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.gate import gate
from inferdb_spark.gate_r8e import _WK_SQL_DUCK, _weekly_kd

# ---------------------------------------------------------------------------
# Dickey-Fuller unit-root regression: d_t = a + b * y_{t-1} + e_t
# ---------------------------------------------------------------------------

# shared OLS fragments over the exact BIGINT pair moments
# (n, sx, sxx, sd, sxd, sdd); b = slope on the lagged level, the DF
# statistic is b / se(b).  nullif: n < 3 or a constant series zeroes
# the Gram determinant / dof.
_DF_DET = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_DF_B = (
    f"((CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE)"
    f" - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE)) / nullif({_DF_DET}, 0.0))"
)
_DF_A = f"((CAST(sd AS DOUBLE) - {_DF_B} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
_DF_SSE = (
    f"(CAST(sdd AS DOUBLE) - {_DF_A} * CAST(sd AS DOUBLE)"
    f" - {_DF_B} * CAST(sxd AS DOUBLE))"
)
_DF_SE_B = (
    f"sqrt({_DF_SSE} / nullif(CAST(n - 2 AS DOUBLE), 0.0)"
    f" * CAST(n AS DOUBLE) / nullif({_DF_DET}, 0.0))"
)

_DF_OUT = [
    "n",
    f"CAST(round({_DF_B}, 6) AS DOUBLE) AS b6",
    f"CAST(round({_DF_A}, 6) AS DOUBLE) AS a6",
    f"CAST(round({_DF_B} / nullif({_DF_SE_B}, 0.0), 6) AS DOUBLE) AS t_df6",
]


@gate(
    "dickey_fuller_unitroot",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    pairs AS (
      SELECT lag(y) OVER (ORDER BY wk) AS x, y
      FROM weekly
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y - x) AS BIGINT) AS sd,
             CAST(sum(x * (y - x)) AS BIGINT) AS sxd,
             CAST(sum((y - x) * (y - x)) AS BIGINT) AS sdd
      FROM pairs WHERE x IS NOT NULL
    )
    SELECT {", ".join(_DF_OUT)} FROM mom
    """,
)
def q_dickey_fuller_unitroot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root regression on weekly revenue: regress the
    first difference Δy_t on the lagged level y_{t-1}; the DF statistic
    t = b/se(b) is strongly negative for a mean-reverting series and
    near 0 for a random walk — the standard pre-test before any
    trend/forecast model (holt_linear_forecast, theta) is trusted.

    Exactness: (x, Δ) pairs come from ONE lag window over the bounded
    weekly relation; all six regression moments are exact BIGINT sums of
    integer kilodollars (order-independent); b, a, SSE, se compose once
    in shared SQL with nullif-guarded determinant/dof.  Scale: one
    groupBy(week) over the fact table; everything after is ~360 rows."""
    weekly = _weekly_kd(spark, sf_dir)
    w = Window.orderBy("wk")
    pairs = weekly.select(F.lag("y").over(w).alias("x"), "y").filter(
        F.col("x").isNotNull()
    )
    d = F.col("y") - F.col("x")
    mom = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(d).cast("long").alias("sd"),
        F.sum(F.col("x") * d).cast("long").alias("sxd"),
        F.sum(d * d).cast("long").alias("sdd"),
    )
    return mom.selectExpr(*_DF_OUT)


# ---------------------------------------------------------------------------
# KPSS level-stationarity statistic
# ---------------------------------------------------------------------------

# eta = sum_t S_t^2 / (n^2 * sigma2),  S_t = partial sums of (y - ybar),
# sigma2 = lag-0 variance.  The partial-sum square sum is a time-ORDERED
# fold (acc = [running S_t, running sum of S_t^2]) — sequential, so the
# double arithmetic order is identical on both engines.
_KPSS_OUT = [
    "n",
    "CAST(round((CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(n AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS sigma2_m6",
    "CAST(round(ssq / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * nullif((CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(n AS DOUBLE), 0.0)), 6) AS DOUBLE) AS eta6",
]


@gate(
    "kpss_level_stat",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy,
             list(CAST(y AS DOUBLE) ORDER BY wk) AS ys
      FROM weekly
    ),
    folded AS (
      SELECT n, sy, syy,
             list_reduce(list_prepend([0.0, 0.0],
               list_transform(ys, v -> [v - CAST(sy AS DOUBLE)
                                            / CAST(n AS DOUBLE), 0.0])),
               (acc, x) -> [acc[1] + x[1],
                            acc[2] + (acc[1] + x[1]) * (acc[1] + x[1])])[2]
               AS ssq
      FROM mom
    )
    SELECT {", ".join(_KPSS_OUT)} FROM folded
    """,
)
def q_kpss_level_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic for weekly revenue — the
    complement of gate:dickey_fuller_unitroot (KPSS's NULL is
    stationarity; DF's null is a unit root — reporting both is the
    textbook identification protocol): eta = Σ_t S_t² / (n² σ̂²) with
    S_t the partial sums of demeaned y and σ̂² the lag-0 variance.

    Exactness: n/Σy/Σy² are exact BIGINTs; the partial-sum square
    accumulates in a time-ORDERED fold (sequential → identical double
    op order on both engines; the ewma/breusch_pagan discipline);
    division chain shared with nullif for a constant series (σ̂² = 0).
    sigma2 reported in mega-(kilodollar)² units to stay inside the 6dp
    cross-engine grid.  Scale: one groupBy(week); the fold runs over
    ~360 elements."""
    weekly = _weekly_kd(spark, sf_dir)
    mom = weekly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("wk"), F.col("y").cast("double").alias("v")))
            ),
            lambda s: s["v"],
        ).alias("ys"),
    )
    mean = F.col("sy").cast("double") / F.col("n").cast("double")
    folded = mom.select(
        "n",
        "sy",
        "syy",
        F.element_at(
            F.aggregate(
                F.transform(F.col("ys"), lambda v: F.array(v - mean, F.lit(0.0))),
                F.array(F.lit(0.0), F.lit(0.0)),
                lambda acc, x: F.array(
                    F.element_at(acc, 1) + F.element_at(x, 1),
                    F.element_at(acc, 2)
                    + (F.element_at(acc, 1) + F.element_at(x, 1))
                    * (F.element_at(acc, 1) + F.element_at(x, 1)),
                ),
            ),
            2,
        ).alias("ssq"),
    )
    return folded.selectExpr(*_KPSS_OUT)


# ---------------------------------------------------------------------------
# Newey-West HAC long-run variance (Bartlett kernel, lag 4)
# ---------------------------------------------------------------------------

_NW_L = 4

# G_l = sum_t round(dev_t * dev_{t+l}) over the overlapping pairs — the
# per-term unit-quantize discipline ((kilodollar)^2 grid) making each
# lag's cross-sum an order-independent BIGINT
_NW_GAMMAS = ", ".join(
    f"CAST(sum(CAST(round(d0 * d{l}) AS BIGINT)) AS BIGINT) AS g{l}"
    for l in range(_NW_L + 1)
)
_NW_LRV = (
    "((CAST(g0 AS DOUBLE)"
    + "".join(
        f" + 2.0 * {1.0 - l / (_NW_L + 1)!r} * CAST(g{l} AS DOUBLE)"
        for l in range(1, _NW_L + 1)
    )
    + ") / CAST(n AS DOUBLE))"
)
_NW_OUT = [
    "n",
    "CAST(round(CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)"
    " AS DOUBLE) AS gamma0_m6",
    f"CAST(round({_NW_LRV} / 1000000.0, 6) AS DOUBLE) AS lrv_m6",
    # CASE guard: Bartlett weights make the LRV nonnegative in exact
    # arithmetic, but a quantized near-zero-variance corner can dip
    # epsilon-negative — the se is then undefined (NULL), never NaN
    f"CAST(round(CASE WHEN {_NW_LRV} >= 0.0"
    f" THEN sqrt({_NW_LRV} / CAST(n AS DOUBLE)) END, 6) AS DOUBLE)"
    " AS se_mean6",
]


@gate(
    "newey_west_hac",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      FROM weekly
    ),
    dev AS (
      SELECT CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS d0,
             {", ".join(
                 f"CAST(lag(y, {l}) OVER (ORDER BY wk) AS DOUBLE)"
                 f" - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS d{l}"
                 for l in range(1, _NW_L + 1))}
      FROM weekly CROSS JOIN tot
    ),
    gam AS (
      SELECT (SELECT n FROM tot) AS n, {_NW_GAMMAS}
      FROM dev
    )
    SELECT {", ".join(_NW_OUT)} FROM gam
    """,
)
def q_newey_west_hac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC long-run variance of weekly revenue (Bartlett
    kernel, bandwidth 4) and the autocorrelation-robust standard error
    of the mean — what an A/B readout over time-series data must use
    instead of the iid se (cuped/ab_test gates assume independence;
    this is the correction when they can't).

    Exactness: deviations are written-order doubles from exact BIGINT
    (n, Σy); each lag's cross-products are unit-quantized to BIGINT
    BEFORE the sum (order-independent — never a raw double sum, per the
    engine discipline); the Bartlett combination divides once in shared
    SQL.  NULL lag rows fall out of the sums identically on both
    engines.  Variance outputs are reported in mega-(kilodollar)² units
    to stay on the 6dp cross-engine grid.  Scale: one groupBy(week) +
    one 5-lag window over ~360 rows."""
    weekly = _weekly_kd(spark, sf_dir)
    tot = weekly.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("sy")
    )
    w = Window.orderBy("wk")
    mean = F.col("sy").cast("double") / F.col("n").cast("double")
    dev = weekly.crossJoin(F.broadcast(tot)).select(
        (F.col("y").cast("double") - mean).alias("d0"),
        *[
            (F.lag("y", lag_i).over(w).cast("double") - mean).alias(f"d{lag_i}")
            for lag_i in range(1, _NW_L + 1)
        ],
        "n",
    )
    gam = dev.agg(
        F.max("n").alias("n"),
        *[
            F.sum(F.round(F.col("d0") * F.col(f"d{l}")).cast("long"))
            .cast("long")
            .alias(f"g{l}")
            for l in range(_NW_L + 1)
        ],
    )
    return gam.selectExpr(*_NW_OUT)


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio test, q = 4
# ---------------------------------------------------------------------------

_VR_Q = 4

# VR = [sum (D - q*mu)^2 / m] / [sum (d - mu)^2 / (n-1)] where d are
# 1-week diffs (count n), D overlapping q-week diffs, mu = sum(d)/n, and
# m = q (n - q + 1)(1 - q/n) — the Lo-MacKinlay overlap correction.
_VR_MU = "(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))"
_VR_VAR1 = (
    f"((CAST(sdd AS DOUBLE) - CAST(n AS DOUBLE) * {_VR_MU} * {_VR_MU})"
    f" / nullif(CAST(n - 1 AS DOUBLE), 0.0))"
)
_VR_M = (
    f"({_VR_Q}.0 * CAST(n - {_VR_Q} + 1 AS DOUBLE)"
    f" * (1.0 - {_VR_Q}.0 / CAST(n AS DOUBLE)))"
)
_VR_VARQ = (
    f"((CAST(sqq AS DOUBLE)"
    f" - 2.0 * {_VR_Q}.0 * {_VR_MU} * CAST(sq_ AS DOUBLE)"
    f" + CAST(nq AS DOUBLE) * {_VR_Q}.0 * {_VR_Q}.0 * {_VR_MU} * {_VR_MU})"
    f" / nullif({_VR_M}, 0.0))"
)
_VR_RATIO = f"({_VR_VARQ} / nullif({_VR_Q}.0 * {_VR_VAR1}, 0.0))"
_VR_OUT = [
    "n",
    "nq",
    f"CAST(round({_VR_RATIO}, 6) AS DOUBLE) AS vr4_6",
    f"CAST(round(({_VR_RATIO} - 1.0)"
    f" / nullif(sqrt(2.0 * (2.0 * {_VR_Q} - 1.0) * ({_VR_Q} - 1.0)"
    f" / (3.0 * {_VR_Q} * CAST(n AS DOUBLE))), 0.0), 6) AS DOUBLE) AS z6",
]


@gate(
    "variance_ratio_test",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    diffs AS (
      SELECT y - lag(y, 1) OVER (ORDER BY wk) AS d,
             y - lag(y, {_VR_Q}) OVER (ORDER BY wk) AS dq
      FROM weekly
    ),
    mom AS (
      SELECT CAST(count(d) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(d * d) AS BIGINT) AS sdd,
             CAST(count(dq) AS BIGINT) AS nq,
             CAST(sum(dq) AS BIGINT) AS sq_,
             CAST(sum(dq * dq) AS BIGINT) AS sqq
      FROM diffs
    )
    SELECT {", ".join(_VR_OUT)} FROM mom
    """,
)
def q_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test VR(4) on weekly revenue
    changes: under a random walk the variance of 4-week differences is
    4x the 1-week variance (VR = 1); VR < 1 flags mean reversion,
    VR > 1 momentum — the finance-standard random-walk diagnostic,
    complementing DF/KPSS with a scale-specific read.

    Exactness: both difference series are exact BIGINTs from two lag
    windows over the bounded weekly relation; all five moments are
    integer sums; the ratio and the homoskedastic z compose once in
    shared SQL with nullif guards (constant series, n <= q).  Scale:
    one groupBy(week) + one 2-lag window over ~360 rows."""
    weekly = _weekly_kd(spark, sf_dir)
    w = Window.orderBy("wk")
    diffs = weekly.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("d"),
        (F.col("y") - F.lag("y", _VR_Q).over(w)).alias("dq"),
    )
    mom = diffs.agg(
        F.count("d").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.count("dq").cast("long").alias("nq"),
        F.sum("dq").cast("long").alias("sq_"),
        F.sum(F.col("dq") * F.col("dq")).cast("long").alias("sqq"),
    )
    return mom.selectExpr(*_VR_OUT)


# ---------------------------------------------------------------------------
# Theta-method forecast (SES level + half the linear-trend drift)
# ---------------------------------------------------------------------------

_THETA_ALPHA = 0.2
_THETA_H = 4

# SES level folds time-ordered; OLS slope b comes from the exact
# (wk-indexed) moments; the classic theta(0,2) combination forecasts
#   f_h = level + (b/2) * ((h-1) + 1/alpha)
_TH_B = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))"
)


def _th_f(h: int) -> str:
    return (
        f"CAST(round(lvl + 0.5 * {_TH_B}"
        f" * ({h - 1}.0 + 1.0 / {_THETA_ALPHA!r}), 6) AS DOUBLE)"
    )


_TH_ROWS_SQL = " UNION ALL ".join(
    f"SELECT CAST({h} AS BIGINT) AS h, {_th_f(h)} AS forecast_k6 FROM folded"
    for h in range(1, _THETA_H + 1)
)
_TH_INLINE = (
    "inline(array("
    + ", ".join(
        f"struct(CAST({h} AS BIGINT) AS h, {_th_f(h)} AS forecast_k6)"
        for h in range(1, _THETA_H + 1)
    )
    + "))"
)


@gate(
    "theta_method_forecast",
    oracle=f"""
    WITH weekly AS ({_WK_SQL_DUCK}),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(wk) AS BIGINT) AS sx,
             CAST(sum(wk * wk) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(wk * y) AS BIGINT) AS sxy,
             list(CAST(y AS DOUBLE) ORDER BY wk) AS ys
      FROM weekly
    ),
    folded AS (
      SELECT n, sx, sxx, sy, sxy,
             list_reduce(ys, (acc, x) -> {_THETA_ALPHA!r} * x
                                         + {1.0 - _THETA_ALPHA!r} * acc) AS lvl
      FROM mom
    )
    {_TH_ROWS_SQL}
    ORDER BY h
    """,
)
def q_theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast of weekly revenue, 4-week horizon — the
    M3-competition-winning baseline in its standard decomposition:
    forecast_h = SES level + (slope/2) * ((h-1) + 1/alpha), i.e. simple
    exponential smoothing plus half the linear-trend drift
    (complements gate:holt_linear_forecast, whose trend is fully
    weighted; when they disagree the trend is unstable).

    Exactness: the SES recurrence folds over the time-ORDERED y array
    (identical sequential double ops on both engines — the ewma
    pattern); the slope comes from exact BIGINT moments; each horizon
    row composes once in shared SQL (UNION ALL rows in the oracle,
    inline(array(...)) on the Spark side — the boxcox grid pattern).
    Scale: one groupBy(week); the fold is ~360 elements."""
    weekly = _weekly_kd(spark, sf_dir)
    mom = weekly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("wk").cast("long").alias("sx"),
        F.sum(F.col("wk") * F.col("wk")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("wk") * F.col("y")).cast("long").alias("sxy"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("wk"), F.col("y").cast("double").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("ys"),
    )
    folded = mom.select(
        "n",
        "sx",
        "sxx",
        "sy",
        "sxy",
        F.aggregate(
            F.slice(F.col("ys"), 2, F.size("ys") - 1),
            F.element_at(F.col("ys"), 1),
            lambda acc, x: F.lit(_THETA_ALPHA) * x
            + F.lit(1.0 - _THETA_ALPHA) * acc,
        ).alias("lvl"),
    )
    return folded.selectExpr(_TH_INLINE).orderBy("h")
