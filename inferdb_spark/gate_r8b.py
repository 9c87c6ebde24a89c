"""Round-8 gate queries, batch 2.

Contents (COVERAGE.md round-8 backlog, inference/mining half):

- cvm_energy_two_sample — Cramer-von Mises T and 1-D energy distance
                          (= 2x Cramer distance) from ONE binned-CDF
                          relation, the squared-gap companions to
                          gate:wasserstein_binned_drift
- rdd_local_linear      — regression-discontinuity local-linear
                          estimator at a placebo cutoff
- theil_sen_weekly_pairs — Theil-Sen robust trend over ALL week pairs
                          (the generic-pairs form; the nation gate
                          medians tiny per-group sets)
- prefixspan_bigrams    — sequential-pattern support of type bigrams
                          with gaps over per-user event sequences

Determinism: exact BIGINT counts/cross-products everywhere; per-bin
double terms nano-quantized to BIGINT before summation; selections
(medians) via integer ranks over total orders; shared SQL strings for
every division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Cramer-von Mises + energy distance between order-price eras
# ---------------------------------------------------------------------------

_CVM_SPLIT = "DATE '1996-01-01'"
_CVM_BIN = "least(99, CAST(floor(o_totalprice / 5000.0) AS BIGINT))"
_CVM_BINW = 5000.0  # dollars per bin, the Lebesgue weight for energy

# per-bin CvM term w_b * D_b^2 / (n*m*(n+m)^2), nano-quantized; D_b is
# the exact integer CDF cross-difference cum_r*m - cum_c*n
_CVM_TERM = (
    "CAST(round(((CAST(w AS DOUBLE) * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)))"
    " / nullif(((CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)) * CAST(n_r + n_c AS DOUBLE))"
    " * CAST(n_r + n_c AS DOUBLE), 0.0)) * 1000000000.0) AS BIGINT)"
)
# per-bin energy term 2 * gap * binwidth * (D/(n*m))^2, nano-quantized
_ENERGY_TERM = (
    "CAST(round(((2.0 * (CAST(gap AS DOUBLE) * {w})) "
    " * ((CAST(d AS DOUBLE) / nullif(CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE), 0.0))"
    " * (CAST(d AS DOUBLE) / nullif(CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE), 0.0))))"
    " * 1000000000.0) AS BIGINT)"
).format(w=f"{_CVM_BINW!r}")

_CVM_OUT = [
    "bin",
    "cnt_r",
    "cnt_c",
    "cum_r",
    "cum_c",
    "gap",
    "n_r AS n_ref",
    "n_c AS n_cur",
    "CAST(round(CAST(sum(cvm_u) OVER () AS DOUBLE) / 1000000000.0, 6) AS DOUBLE)"
    " AS cvm_t6",
    "CAST(round(CAST(sum(energy_u) OVER () AS DOUBLE) / 1000000000.0, 6) AS DOUBLE)"
    " AS energy6",
]


@gate(
    "cvm_energy_two_sample",
    oracle=f"""
    WITH b AS (
      SELECT {_CVM_BIN} AS bin,
             CASE WHEN o_orderdate < {_CVM_SPLIT} THEN 1 ELSE 0 END AS is_r
      FROM orders
    ),
    per_bin AS (
      SELECT bin, CAST(sum(is_r) AS BIGINT) AS cnt_r,
             CAST(sum(1 - is_r) AS BIGINT) AS cnt_c
      FROM b GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS n_r,
                   CAST(sum(cnt_c) AS BIGINT) AS n_c FROM per_bin),
    cum AS (
      SELECT bin, cnt_r, cnt_c,
             CAST(sum(cnt_r) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_r,
             CAST(sum(cnt_c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c,
             CAST(coalesce(lead(bin) OVER (ORDER BY bin), bin + 1) - bin
                  AS BIGINT) AS gap
      FROM per_bin
    ),
    terms AS (
      SELECT bin, cnt_r, cnt_c, cum_r, cum_c, gap, n_r, n_c,
             CAST(cnt_r + cnt_c AS BIGINT) AS w,
             CAST(cum_r * n_c - cum_c * n_r AS BIGINT) AS d
      FROM cum CROSS JOIN tot
    ),
    quant AS (
      SELECT bin, cnt_r, cnt_c, cum_r, cum_c, gap, n_r, n_c,
             {_CVM_TERM} AS cvm_u, {_ENERGY_TERM} AS energy_u
      FROM terms
    )
    SELECT {', '.join(_CVM_OUT)} FROM quant ORDER BY bin
    """,
)
def q_cvm_energy_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises statistic AND 1-D energy distance
    between pre-/post-1996 order-price distributions, both from ONE
    binned-CDF relation: CvM weights the squared CDF gap by the pooled
    count at each value (T = nm/(n+m)^2 * sum_pooled (F-G)^2), energy
    distance integrates it over the VALUE domain (for 1-D, energy
    = 2*Cramer = 2*Int (F-G)^2 dt, here with bin-width * gap as the
    Lebesgue measure, empty bins carried by the gap like
    gate:wasserstein_binned_drift).  Together with Wasserstein (L1) and
    KS (Linf) the engine now covers the whole drift-geometry family.

    Exactness: the CDF gap is the exact integer cross-product
    cum_r*n_c - cum_c*n_r; each bin's double term is nano-quantized to
    a BIGINT before the 100-row window sum (order-independent).  Scale:
    one scan + one <=100-row bin aggregate; windows run on the bin
    domain."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.selectExpr(
        f"{_CVM_BIN} AS bin",
        f"CASE WHEN o_orderdate < {_CVM_SPLIT} THEN 1 ELSE 0 END AS is_r",
    )
    per_bin = b.groupBy("bin").agg(
        F.sum("is_r").cast("long").alias("cnt_r"),
        F.sum(1 - F.col("is_r")).cast("long").alias("cnt_c"),
    )
    tot = per_bin.agg(
        F.sum("cnt_r").cast("long").alias("n_r"),
        F.sum("cnt_c").cast("long").alias("n_c"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("bin")
    cum = per_bin.select(
        "bin",
        "cnt_r",
        "cnt_c",
        F.sum("cnt_r").over(wc).cast("long").alias("cum_r"),
        F.sum("cnt_c").over(wc).cast("long").alias("cum_c"),
        (F.coalesce(F.lead("bin").over(wl), F.col("bin") + 1) - F.col("bin"))
        .cast("long")
        .alias("gap"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        "cnt_r",
        "cnt_c",
        "cum_r",
        "cum_c",
        "gap",
        "n_r",
        "n_c",
        (F.col("cnt_r") + F.col("cnt_c")).cast("long").alias("w"),
        (F.col("cum_r") * F.col("n_c") - F.col("cum_c") * F.col("n_r"))
        .cast("long")
        .alias("d"),
    )
    quant = terms.selectExpr(
        "bin", "cnt_r", "cnt_c", "cum_r", "cum_c", "gap", "n_r", "n_c",
        f"{_CVM_TERM} AS cvm_u",
        f"{_ENERGY_TERM} AS energy_u",
    )
    return quant.selectExpr(*_CVM_OUT).orderBy("bin")


# ---------------------------------------------------------------------------
# Regression-discontinuity local-linear estimator (placebo cutoff)
# ---------------------------------------------------------------------------

_RDD_CUT = 450_000  # cents: acctbal 4500.00
_RDD_BW = 300_000  # cents: bandwidth 3000.00

# intercept at the cutoff from one side's exact moments:
# a = (Sy*Suu - Su*Suy) / (n*Suu - Su*Su), slope analogous — the moment
# products exceed BIGINT, so they run in written-order doubles
def _rdd_a(p: str) -> str:
    return (
        f"((CAST(sy_{p} AS DOUBLE) * CAST(suu_{p} AS DOUBLE)"
        f" - CAST(su_{p} AS DOUBLE) * CAST(suy_{p} AS DOUBLE))"
        f" / nullif(CAST(n_{p} AS DOUBLE) * CAST(suu_{p} AS DOUBLE)"
        f" - CAST(su_{p} AS DOUBLE) * CAST(su_{p} AS DOUBLE), 0.0))"
    )


def _rdd_b(p: str) -> str:
    return (
        f"((CAST(n_{p} AS DOUBLE) * CAST(suy_{p} AS DOUBLE)"
        f" - CAST(su_{p} AS DOUBLE) * CAST(sy_{p} AS DOUBLE))"
        f" / nullif(CAST(n_{p} AS DOUBLE) * CAST(suu_{p} AS DOUBLE)"
        f" - CAST(su_{p} AS DOUBLE) * CAST(su_{p} AS DOUBLE), 0.0))"
    )


_RDD_OUT = [
    "n_l",
    "n_r",
    f"CAST(round({_rdd_a('l')}, 6) AS DOUBLE) AS a_left6",
    f"CAST(round({_rdd_a('r')}, 6) AS DOUBLE) AS a_right6",
    f"CAST(round({_rdd_b('l')}, 6) AS DOUBLE) AS slope_left6",
    f"CAST(round({_rdd_b('r')}, 6) AS DOUBLE) AS slope_right6",
    f"CAST(round({_rdd_a('r')} - {_rdd_a('l')}, 6) AS DOUBLE) AS tau6",
]


@gate(
    "rdd_local_linear",
    oracle=f"""
    WITH y AS (
      SELECT c.c_custkey,
             CAST(round(c.c_acctbal * 100) AS BIGINT) - {_RDD_CUT} AS u,
             CAST(coalesce(sum(CAST(round(o.o_totalprice) AS BIGINT)), 0)
                  AS BIGINT) AS yd
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    win AS (
      SELECT u, yd, CASE WHEN u >= 0 THEN 1 ELSE 0 END AS is_r
      FROM y WHERE u >= -{_RDD_BW} AND u <= {_RDD_BW}
    ),
    mom AS (
      SELECT
        CAST(sum(1 - is_r) AS BIGINT) AS n_l,
        CAST(sum(CASE WHEN is_r = 0 THEN u ELSE 0 END) AS BIGINT) AS su_l,
        CAST(sum(CASE WHEN is_r = 0 THEN yd ELSE 0 END) AS BIGINT) AS sy_l,
        CAST(sum(CASE WHEN is_r = 0 THEN u * u ELSE 0 END) AS BIGINT) AS suu_l,
        CAST(sum(CASE WHEN is_r = 0 THEN u * yd ELSE 0 END) AS BIGINT) AS suy_l,
        CAST(sum(is_r) AS BIGINT) AS n_r,
        CAST(sum(CASE WHEN is_r = 1 THEN u ELSE 0 END) AS BIGINT) AS su_r,
        CAST(sum(CASE WHEN is_r = 1 THEN yd ELSE 0 END) AS BIGINT) AS sy_r,
        CAST(sum(CASE WHEN is_r = 1 THEN u * u ELSE 0 END) AS BIGINT) AS suu_r,
        CAST(sum(CASE WHEN is_r = 1 THEN u * yd ELSE 0 END) AS BIGINT) AS suy_r
      FROM win
    )
    SELECT {', '.join(_RDD_OUT)} FROM mom
    """,
)
def q_rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity local-linear estimator: running
    variable = account balance (cents, centered at the 4500.00 cutoff),
    outcome = the customer's total order dollars, rectangular kernel of
    bandwidth 3000.00 — separate OLS lines on each side, treatment
    effect tau = right intercept - left intercept at the cutoff.  The
    cutoff is a PLACEBO (balances don't gate ordering in this data), so
    tau ~ 0: the same design-validation discipline as
    gate:diff_in_diff_revenue.

    Exactness: both sides' five OLS moments come from ONE conditional
    aggregation of exact BIGINTs (|u| <= 3e5 so u*u and u*y stay exact
    past sf100); the closed-form intercepts/slopes run in written-order
    doubles via shared SQL strings.  Scale: one broadcast-joinable
    aggregation to per-customer outcomes, one bandwidth-filtered scan,
    one 1-row moment row — no windows, nothing quadratic."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    y = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.coalesce(F.sum(F.round(F.col("o_totalprice")).cast("long")), F.lit(0))
            .cast("long")
            .alias("yd")
        )
        .select(
            (F.round(F.col("c_acctbal") * 100).cast("long") - F.lit(_RDD_CUT)).alias("u"),
            "yd",
        )
    )
    win = y.filter((F.col("u") >= -_RDD_BW) & (F.col("u") <= _RDD_BW)).select(
        "u", "yd", F.when(F.col("u") >= 0, 1).otherwise(0).alias("is_r")
    )

    def side(p: str, flag: int):
        c = F.col("is_r") == flag
        return [
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"n_{p}"),
            F.sum(F.when(c, F.col("u")).otherwise(0)).cast("long").alias(f"su_{p}"),
            F.sum(F.when(c, F.col("yd")).otherwise(0)).cast("long").alias(f"sy_{p}"),
            F.sum(F.when(c, F.col("u") * F.col("u")).otherwise(0))
            .cast("long")
            .alias(f"suu_{p}"),
            F.sum(F.when(c, F.col("u") * F.col("yd")).otherwise(0))
            .cast("long")
            .alias(f"suy_{p}"),
        ]

    mom = win.agg(*(side("l", 0) + side("r", 1)))
    return mom.selectExpr(*_RDD_OUT)


# ---------------------------------------------------------------------------
# Theil-Sen robust trend over all weekly-revenue pairs
# ---------------------------------------------------------------------------


@gate(
    "theil_sen_weekly_pairs",
    oracle="""
    WITH weekly AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                  AS BIGINT) AS wk,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS yd
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.wk AS wk1, b.wk AS wk2,
             CAST(b.yd - a.yd AS DOUBLE) / CAST(b.wk - a.wk AS DOUBLE) AS slope
      FROM weekly a JOIN weekly b ON a.wk < b.wk
    ),
    ranked AS (
      SELECT slope, CAST(row_number() OVER (ORDER BY slope, wk1, wk2)
                         AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_pairs
      FROM pairs
    ),
    med AS (
      SELECT CAST(round(slope, 6) AS DOUBLE) AS slope_med6, n_pairs
      FROM ranked WHERE rk = (n_pairs + 1) // 2
    ),
    resid AS (
      SELECT CAST(round(CAST(w.yd AS DOUBLE) - m.slope_med6 * CAST(w.wk AS DOUBLE),
                        6) AS DOUBLE) AS r,
             w.wk, m.slope_med6, m.n_pairs
      FROM weekly w CROSS JOIN med m
    ),
    rr AS (
      SELECT r, slope_med6, n_pairs,
             CAST(row_number() OVER (ORDER BY r, wk) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_weeks
      FROM resid
    )
    SELECT n_weeks, n_pairs, slope_med6,
           CAST(round(r, 6) AS DOUBLE) AS intercept_med6
    FROM rr WHERE rk = (n_weeks + 1) // 2
    """,
)
def q_theil_sen_weekly_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of weekly revenue: the exact median of all
    C(W,2) pairwise slopes, plus the matching median intercept
    median_w(y_w - m*wk) — the generic-pairs form of the estimator
    (gate:theil_sen_nation_trend medians tiny per-nation groups; this
    one ranks the full pair relation).  Robust to the seasonal revenue
    spikes an OLS line would chase.

    Determinism: each slope is ONE IEEE division of exact integers
    (identical on both engines), the median is a rank selection under
    the total order (slope, wk1, wk2) — lower median, never an average
    — and the intercept reuses the 6dp-ROUNDED slope so its inputs are
    bit-identical cross-engine.  Scale: the pair relation is (weeks
    choose 2) — quadratic in the TIME DOMAIN only, ~66k rows for 7
    years regardless of row count; the full-data pass is one
    map-side-combinable groupBy(week)."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.selectExpr(
        "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT) AS wk",
        "CAST(round(o_totalprice) AS BIGINT) AS d",
    ).groupBy("wk").agg(F.sum("d").cast("long").alias("yd"))
    a = weekly.alias("a")
    b = weekly.alias("b")
    pairs = a.join(b, F.col("a.wk") < F.col("b.wk")).select(
        F.col("a.wk").alias("wk1"),
        F.col("b.wk").alias("wk2"),
        (
            (F.col("b.yd") - F.col("a.yd")).cast("double")
            / (F.col("b.wk") - F.col("a.wk")).cast("double")
        ).alias("slope"),
    )
    w_all = Window.partitionBy()
    ranked = pairs.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "wk1", "wk2"))
        .cast("long")
        .alias("rk"),
        F.count("*").over(w_all).cast("long").alias("n_pairs"),
    )
    med = ranked.filter(F.expr("rk = (n_pairs + 1) div 2")).selectExpr(
        "CAST(round(slope, 6) AS DOUBLE) AS slope_med6", "n_pairs"
    )
    resid = weekly.crossJoin(F.broadcast(med)).select(
        F.round(
            F.col("yd").cast("double") - F.col("slope_med6") * F.col("wk").cast("double"),
            6,
        )
        .cast("double")
        .alias("r"),
        "wk",
        "slope_med6",
        "n_pairs",
    )
    rr = resid.select(
        "r",
        "slope_med6",
        "n_pairs",
        F.row_number().over(Window.orderBy("r", "wk")).cast("long").alias("rk"),
        F.count("*").over(w_all).cast("long").alias("n_weeks"),
    )
    return rr.filter(F.expr("rk = (n_weeks + 1) div 2")).selectExpr(
        "n_weeks",
        "n_pairs",
        "slope_med6",
        "CAST(round(r, 6) AS DOUBLE) AS intercept_med6",
    )


# ---------------------------------------------------------------------------
# PrefixSpan-lite: sequential bigram patterns with gaps
# ---------------------------------------------------------------------------

# strict total order over events: seconds * 2^32 + event_id (event_id
# stays < 2^32 through ~sf100; the docstring records the bound)
_PS_POS_SPARK = (
    "CAST(unix_micros(ts) div 1000000 AS BIGINT) * 4294967296 + event_id"
)
_PS_POS_DUCK = (
    "CAST(epoch_us(ts) // 1000000 AS BIGINT) * 4294967296 + event_id"
)


@gate(
    "prefixspan_bigrams",
    oracle=f"""
    WITH pos AS (
      SELECT user_id, event_type, {_PS_POS_DUCK} AS p FROM events
    ),
    per_ut AS (
      SELECT user_id, event_type,
             CAST(min(p) AS BIGINT) AS mn, CAST(max(p) AS BIGINT) AS mx
      FROM pos GROUP BY user_id, event_type
    ),
    u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM pos),
    sup AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS support
      FROM per_ut a JOIN per_ut b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
           AND a.mn < b.mx
      GROUP BY a.event_type, b.event_type
    )
    SELECT antecedent, consequent, support, n_users,
           CAST(round(CAST(support AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
                AS DOUBLE) AS support_frac6
    FROM sup CROSS JOIN u
    ORDER BY antecedent, consequent
    """,
)
def q_prefixspan_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support of every event-type bigram <a, b> with
    gaps allowed (PrefixSpan subsequence semantics restricted to
    length-2 patterns): a user supports <a, b> iff some a-event occurs
    STRICTLY before some b-event in their stream.  That reduces to
    min_pos(a) < max_pos(b) per (user, type) — so the sequence mining
    needs only ONE groupBy and a per-user join bounded by the type
    domain, never a per-user sequence scan.

    Determinism: event order is the strict total order
    seconds * 2^32 + event_id (exact BIGINT through ~sf100, where
    event_id approaches 2^32); supports are exact counts; the only
    division is the support fraction in a shared SQL string.  Scale:
    per-(user, type) state is 2 BIGINTs; the self-join fans out at most
    |type domain|^2 rows per user (25 here)."""
    ev = load_table(spark, sf_dir, "events")
    pos = ev.selectExpr("user_id", "event_type", f"{_PS_POS_SPARK} AS p")
    per_ut = pos.groupBy("user_id", "event_type").agg(
        F.min("p").cast("long").alias("mn"),
        F.max("p").cast("long").alias("mx"),
    )
    n_users = pos.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a = per_ut.alias("a")
    b = per_ut.alias("b")
    sup = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.mn") < F.col("b.mx")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").cast("long").alias("support"))
    )
    return (
        sup.crossJoin(F.broadcast(n_users))
        .selectExpr(
            "antecedent",
            "consequent",
            "support",
            "n_users",
            "CAST(round(CAST(support AS DOUBLE) / CAST(n_users AS DOUBLE), 6)"
            " AS DOUBLE) AS support_frac6",
        )
        .orderBy("antecedent", "consequent")
    )
