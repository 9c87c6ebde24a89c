"""Round-11 gate queries, batch b.

Parametric distribution fits and concentration/diversity indices — the
method-of-moments companions to the nonparametric families already
gated (KM/Weibull survival, MAD/Grubbs outliers, entropy quality):

- gumbel_block_maxima      — Gumbel (EV-I) location/scale fitted to
                             monthly block maxima of order value (the
                             classical extreme-value threshold model)
- negbin_moments_fit       — negative-binomial r/p from per-customer
                             order-count mean/variance (overdispersed
                             counts; Poisson has v = m, real baskets
                             don't)
- lognormal_conversion_fit — log-normal mu/sigma of the
                             time-to-first-purchase duration (the
                             uncensored-subset AFT companion to
                             gate:weibull_survival_fit's KM chain)
- shannon_simpson_diversity — per-nation Shannon entropy / Simpson
                             index / effective-brand count of supplied
                             part brands (curation-mix diversity, the
                             corpus-composition statistic at 100 TB)
- herfindahl_concentration — per-nation HHI / normalized HHI /
                             effective supplier count over revenue
                             shares (the market-concentration dual of
                             the diversity gate)

Determinism: every sum is an exact BIGINT — raw integer moments where
the domain is integral (cents, counts), per-term micro/nano-quantized
where a transcendental enters (ln p, shares squared, ln t) — so no
shuffle-order-sensitive double sum exists anywhere; transcendental
outputs round to 6dp on both sides; every zero-able denominator is
nullif-guarded (degenerate battery: tests/test_degenerate_r11.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Gumbel (extreme-value type I) fit on monthly block maxima
# ---------------------------------------------------------------------------

# method of moments on the block-maxima series (kilodollars):
#   scale beta = s * sqrt(6) / pi,  location mu = xbar - gamma * beta
# with gamma the Euler-Mascheroni constant.  xbar and s derive from the
# EXACT BIGINT cents sums over the ~81-month domain (month count is
# scale-invariant, so sxx fits a BIGINT at any SF); sqrt is IEEE-exact.
_EULER_GAMMA = 0.5772156649015329
_PI = 3.141592653589793

_GB_XBAR = "(CAST(sx AS DOUBLE) / CAST(nm AS DOUBLE) / 100000.0)"
_GB_S = (
    "sqrt((CAST(sxx AS DOUBLE) / 10000000000.0"
    " - CAST(sx AS DOUBLE) / 100000.0 * CAST(sx AS DOUBLE) / 100000.0"
    " / CAST(nm AS DOUBLE)) / nullif(CAST(nm - 1 AS DOUBLE), 0.0))"
)
_GB_BETA = f"({_GB_S} * sqrt(6.0) / {_PI!r})"
_GB_OUT = [
    "nm",
    f"CAST(round({_GB_XBAR}, 6) AS DOUBLE) AS mean_max_k6",
    f"CAST(round({_GB_BETA}, 6) AS DOUBLE) AS beta_k6",
    f"CAST(round({_GB_XBAR} - {_EULER_GAMMA!r} * {_GB_BETA}, 6)"
    " AS DOUBLE) AS mu_k6",
]


@gate(
    "gumbel_block_maxima",
    oracle=f"""
    WITH mx AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
             max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mc
      FROM orders GROUP BY ym
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS nm,
             CAST(sum(mc) AS BIGINT) AS sx,
             CAST(sum(mc * mc) AS BIGINT) AS sxx
      FROM mx
    )
    SELECT {", ".join(_GB_OUT)} FROM mom
    """,
)
def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) location/scale fitted by method of moments to the
    monthly maxima of order value — the classical model for "how big
    is next month's biggest order" / anomaly thresholds, completing the
    extreme-tail family (zipf/Hill slope, Grubbs, MAD already gated).

    Exactness: block maxima are exact cents BIGINTs; their first two
    moments are exact BIGINT sums over the fixed ~81-month domain (a
    month's max squares to ~2.5e15 — 81 of them sit far under the
    BIGINT ceiling at any SF, because the MONTH COUNT never scales);
    mean/sd/beta/mu compose once in shared SQL with IEEE-exact sqrt.
    Scale: one groupBy(month) over the scan, then a 2-moment reduce on
    the month domain."""
    od = load_table(spark, sf_dir, "orders")
    mx = od.selectExpr(
        "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS c",
    ).groupBy("ym").agg(F.max("c").alias("mc"))
    mom = mx.agg(
        F.count("*").cast("long").alias("nm"),
        F.sum("mc").cast("long").alias("sx"),
        F.sum(F.col("mc") * F.col("mc")).cast("long").alias("sxx"),
    )
    return mom.selectExpr(*_GB_OUT)


# ---------------------------------------------------------------------------
# Negative-binomial method-of-moments fit on per-customer order counts
# ---------------------------------------------------------------------------

_NB_M = "(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))"
_NB_V = (
    "((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / nullif(CAST(n - 1 AS DOUBLE), 0.0))"
)
_NB_OUT = [
    "n",
    f"CAST(round({_NB_M}, 6) AS DOUBLE) AS mean6",
    f"CAST(round({_NB_V}, 6) AS DOUBLE) AS var6",
    # r = m^2 / (v - m): nullif fires on equidispersion (v = m), where
    # the NB degenerates to Poisson and r is undefined
    f"CAST(round({_NB_M} * {_NB_M} / nullif({_NB_V} - {_NB_M}, 0.0), 6)"
    " AS DOUBLE) AS r6",
    f"CAST(round({_NB_M} / nullif({_NB_V}, 0.0), 6) AS DOUBLE) AS p6",
]


@gate(
    "negbin_moments_fit",
    oracle=f"""
    WITH pc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY o_custkey
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS scc
      FROM pc
    )
    SELECT {", ".join(_NB_OUT)} FROM mom
    """,
)
def q_negbin_moments_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial (r, p) fitted by method of moments to the
    per-customer order-count distribution: r = m²/(v−m), p = m/v.
    Basket counts are overdispersed (v > m), which Poisson cannot
    express — the NB is the standard count model for demand/usage
    forecasting and for synthetic-data calibration.

    Exactness: counts are exact; the two moments are exact BIGINT sums
    over the customer domain; the two divisions compose once in shared
    SQL, nullif-guarded at equidispersion (v = m → r undefined) and
    zero variance.  Scale: one groupBy(custkey) + one 2-moment
    reduce."""
    od = load_table(spark, sf_dir, "orders")
    pc = od.groupBy("o_custkey").agg(F.count("*").cast("long").alias("c"))
    mom = pc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    return mom.selectExpr(*_NB_OUT)


# ---------------------------------------------------------------------------
# Log-normal fit of the conversion-duration distribution
# ---------------------------------------------------------------------------

_LN_MU = "(CAST(sl AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))"
_LN_VAR = (
    "((CAST(sll AS DOUBLE) / 1000000.0"
    " - CAST(sl AS DOUBLE) / 1000000.0 * CAST(sl AS DOUBLE) / 1000000.0"
    " / CAST(n AS DOUBLE)) / nullif(CAST(n - 1 AS DOUBLE), 0.0))"
)
_LN_OUT = [
    "n",
    f"CAST(round({_LN_MU}, 6) AS DOUBLE) AS mu6",
    f"CAST(round(sqrt({_LN_VAR}), 6) AS DOUBLE) AS sigma6",
    # median = e^mu — transcendental, so rounded on both sides
    f"CAST(round(exp({_LN_MU}), 6) AS DOUBLE) AS median_s6",
]


@gate(
    "lognormal_conversion_fit",
    oracle=f"""
    WITH subj AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS purch_us
      FROM events GROUP BY user_id
    ),
    durs AS (
      SELECT CAST((purch_us - first_us) // 1000000 AS BIGINT) AS t
      FROM subj WHERE purch_us IS NOT NULL
        AND (purch_us - first_us) // 1000000 >= 1
    ),
    terms AS (
      SELECT CAST(round(ln(CAST(t AS DOUBLE)) * 1000000.0) AS BIGINT) AS l_u,
             CAST(round(ln(CAST(t AS DOUBLE)) * ln(CAST(t AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS ll_u
      FROM durs
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l_u) AS BIGINT) AS sl,
             CAST(sum(ll_u) AS BIGINT) AS sll
      FROM terms
    )
    SELECT {", ".join(_LN_OUT)} FROM mom
    """,
)
def q_lognormal_conversion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal mu/sigma of the time-to-first-purchase duration in
    seconds, fitted on the UNCENSORED subset (users who purchased;
    durations >= 1 s) — the accelerated-failure-time companion to
    gate:weibull_survival_fit: Weibull linearizes the KM curve with
    censoring, log-normal models the realized conversion delay, and
    median = e^mu is the business-facing summary.

    Exactness: per-user ln t and (ln t)² are micro-quantized BIGINTs
    before the sums (order-independent at any user count); mu/sigma
    compose once in shared SQL; exp rounds to 6dp on both sides.
    Scale: one groupBy(user), one projection, one 2-moment reduce."""
    ev = load_table(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("purch_us"),
    )
    durs = subj.filter(F.col("purch_us").isNotNull()).select(
        F.expr("CAST((purch_us - first_us) div 1000000 AS BIGINT)").alias("t")
    ).filter(F.col("t") >= 1)
    lt = F.log(F.col("t").cast("double"))
    terms = durs.select(
        F.round(lt * 1000000.0).cast("long").alias("l_u"),
        F.round(lt * lt * 1000000.0).cast("long").alias("ll_u"),
    )
    mom = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("l_u").cast("long").alias("sl"),
        F.sum("ll_u").cast("long").alias("sll"),
    )
    return mom.selectExpr(*_LN_OUT)


# ---------------------------------------------------------------------------
# Shannon / Simpson diversity of supplied part brands per nation
# ---------------------------------------------------------------------------

# per-brand terms quantized to nano BEFORE the per-nation sum: p ln p
# (Shannon, in nats) and p^2 (Simpson) — the sums are then exact BIGINTs
_SD_OUT = [
    "nat",
    "n_brands",
    "CAST(round(-CAST(sh_nano AS DOUBLE) / 1000000000.0, 6) AS DOUBLE)"
    " AS shannon6",
    "CAST(round(1.0 - CAST(sp_nano AS DOUBLE) / 1000000000.0, 6) AS DOUBLE)"
    " AS simpson6",
    # effective brand count e^H — transcendental, rounded both sides
    "CAST(round(exp(-CAST(sh_nano AS DOUBLE) / 1000000000.0), 6) AS DOUBLE)"
    " AS effective_brands6",
]


@gate(
    "shannon_simpson_diversity",
    oracle=f"""
    WITH bk AS (
      SELECT CAST(s.s_nationkey AS BIGINT) AS nat, p.p_brand AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY nat, b
    ),
    tot AS (
      SELECT nat, CAST(sum(c) AS BIGINT) AS nt FROM bk GROUP BY nat
    ),
    terms AS (
      SELECT bk.nat,
             CAST(round(1000000000.0 * CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)
                  * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT)
               AS h_nano,
             CAST(round(1000000000.0 * CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)
                  * CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) AS BIGINT)
               AS p_nano
      FROM bk JOIN tot ON bk.nat = tot.nat
    ),
    agg AS (
      SELECT nat, CAST(count(*) AS BIGINT) AS n_brands,
             CAST(sum(h_nano) AS BIGINT) AS sh_nano,
             CAST(sum(p_nano) AS BIGINT) AS sp_nano
      FROM terms GROUP BY nat
    )
    SELECT {", ".join(_SD_OUT)} FROM agg ORDER BY nat
    """,
)
def q_shannon_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation diversity of the part brands its suppliers ship:
    Shannon entropy (nats), Simpson index 1-Σp², and the effective
    brand count e^H — the corpus-composition statistics a curation
    pipeline runs per source/domain at 100 TB (how concentrated is the
    mix?), here over the supplier-brand relation.

    Exactness: per-brand p·ln p and p² terms are nano-quantized
    BIGINTs before the per-nation sums (25 nations x 25 brands — the
    term relation is domain-bounded); e^H rounds to 6dp on both sides.
    Scale: two hash joins (supplier/part both broadcast-size) + one
    groupBy(nation, brand) over the scan, then domain-bounded
    reduces."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    pa = load_table(spark, sf_dir, "part")
    bk = (
        li.join(
            F.broadcast(su.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == su["s_suppkey"],
        )
        .join(
            F.broadcast(pa.select("p_partkey", "p_brand")),
            li["l_partkey"] == pa["p_partkey"],
        )
        .groupBy(
            F.col("s_nationkey").cast("long").alias("nat"),
            F.col("p_brand").alias("b"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = bk.groupBy("nat").agg(F.sum("c").cast("long").alias("nt"))
    p = F.col("c").cast("double") / F.col("nt").cast("double")
    terms = bk.join(tot, "nat").select(
        "nat",
        F.round(1000000000.0 * p * F.log(p)).cast("long").alias("h_nano"),
        F.round(1000000000.0 * p * p).cast("long").alias("p_nano"),
    )
    agg = terms.groupBy("nat").agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum("h_nano").cast("long").alias("sh_nano"),
        F.sum("p_nano").cast("long").alias("sp_nano"),
    )
    return agg.selectExpr(*_SD_OUT).orderBy("nat")


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per nation
# ---------------------------------------------------------------------------

_HH_HHI = "(CAST(s2_nano AS DOUBLE) / 1000000000.0)"
_HH_OUT = [
    "nat",
    "n_suppliers",
    f"CAST(round({_HH_HHI}, 6) AS DOUBLE) AS hhi6",
    # normalized HHI (HHI - 1/N)/(1 - 1/N): undefined for a single
    # supplier (nullif)
    f"CAST(round(({_HH_HHI} - 1.0 / CAST(n_suppliers AS DOUBLE))"
    " / nullif(1.0 - 1.0 / CAST(n_suppliers AS DOUBLE), 0.0), 6)"
    " AS DOUBLE) AS hhi_norm6",
    f"CAST(round(1.0 / nullif({_HH_HHI}, 0.0), 6) AS DOUBLE)"
    " AS effective_suppliers6",
]


@gate(
    "herfindahl_concentration",
    oracle=f"""
    WITH sr AS (
      SELECT CAST(s.s_nationkey AS BIGINT) AS nat, l.l_suppkey AS sk,
             CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS rc
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY nat, sk
    ),
    tot AS (SELECT nat, CAST(sum(rc) AS BIGINT) AS tc FROM sr GROUP BY nat),
    terms AS (
      SELECT sr.nat,
             CAST(round(1000000000.0 * CAST(rc AS DOUBLE) / CAST(tc AS DOUBLE)
                  * CAST(rc AS DOUBLE) / CAST(tc AS DOUBLE)) AS BIGINT)
               AS s2_nano
      FROM sr JOIN tot ON sr.nat = tot.nat
    ),
    agg AS (
      SELECT nat, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(s2_nano) AS BIGINT) AS s2_nano
      FROM terms GROUP BY nat
    )
    SELECT {", ".join(_HH_OUT)} FROM agg ORDER BY nat
    """,
)
def q_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Herfindahl-Hirschman index over supplier revenue
    shares, plus the normalized HHI and the effective supplier count
    1/HHI — the concentration dual of gate:shannon_simpson_diversity
    (antitrust's market-power statistic; for a training-data pipeline,
    the per-source dominance check before mixing).

    Exactness: revenue is exact cents; per-supplier squared shares are
    nano-quantized BIGINTs before the per-nation sum; the three index
    expressions compose once in shared SQL, nullif-guarded for the
    single-supplier nation.  Scale: one broadcast join + groupBy
    (nation, supplier) over the scan; everything after runs on the
    supplier domain."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    sr = (
        li.join(
            F.broadcast(su.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == su["s_suppkey"],
        )
        .groupBy(
            F.col("s_nationkey").cast("long").alias("nat"),
            F.col("l_suppkey").alias("sk"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("rc")
        )
    )
    tot = sr.groupBy("nat").agg(F.sum("rc").cast("long").alias("tc"))
    share = F.col("rc").cast("double") / F.col("tc").cast("double")
    terms = sr.join(tot, "nat").select(
        "nat",
        F.round(1000000000.0 * share * share).cast("long").alias("s2_nano"),
    )
    agg = terms.groupBy("nat").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("s2_nano").cast("long").alias("s2_nano"),
    )
    return agg.selectExpr(*_HH_OUT).orderBy("nat")
