"""Round-8 gate queries, batch 9.

The k-group comparison trio over the five order-priority groups (one
per inference family, completing the set the
gate:levene_brown_forsythe opened):

- anova_oneway_priority — parametric one-way F on group MEANS
- kruskal_wallis_binned — rank-based k-sample test (the k-group
                          extension of gate:mann_whitney_binned) in the
                          cancellation-free deviation form
- bartlett_variance_test — parametric variance-homogeneity test (the
                          ln-based sibling of Brown-Forsythe)

Determinism: all moments are exact BIGINTs; every k-row sum of doubles
runs as a group-name-ORDERED array fold (the breusch_pagan discipline),
so no 5-row shuffle-order accumulation exists; final statistics compose
once in shared SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

_PRIO_MOM_DUCK = """
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sg,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS qg
      FROM orders GROUP BY o_orderpriority
"""


def _prio_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.round(F.col("o_totalprice")).cast("long")
    return orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(d).cast("long").alias("sg"),
        F.sum(d * d).cast("long").alias("qg"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA
# ---------------------------------------------------------------------------

_ANOVA_TG = (
    "CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)"
    " / CAST(ng AS DOUBLE)) AS BIGINT)"
)

# nullif guards (degenerate-input battery): k = 1, n = k (one row per
# group), and zero within-group variance each zero a denominator —
# ANSI raises on any zero divisor, so the F statistic goes NULL instead
_ANOVA_OUT = [
    "k",
    "n",
    "CAST(round(((CAST(t_sum AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " / nullif(CAST(k - 1 AS DOUBLE), 0.0))"
    " / nullif((CAST(q_sum AS DOUBLE) - CAST(t_sum AS DOUBLE))"
    " / nullif(CAST(n - k AS DOUBLE), 0.0), 0.0), 6) AS DOUBLE) AS f6",
]


@gate(
    "anova_oneway_priority",
    oracle=f"""
    WITH per_g AS ({_PRIO_MOM_DUCK}),
    quant AS (SELECT grp, ng, sg, qg, {_ANOVA_TG} AS t_u FROM per_g),
    gtot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q_sum,
             CAST(sum(t_u) AS BIGINT) AS t_sum
      FROM quant
    )
    SELECT {', '.join(_ANOVA_OUT)} FROM gtot
    """,
)
def q_anova_oneway_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic one-way ANOVA F for a difference in MEAN order value
    across the five priority groups — the parametric member of the
    k-group trio (Kruskal-Wallis is its rank-based sibling,
    Brown-Forsythe/Bartlett test the variances instead of the means).
    Priorities are assigned independently of price in this data, so F
    sits near 1 — a placebo, like gate:diff_in_diff_revenue.

    Exactness: the three per-group moments are exact BIGINTs; the only
    non-integer per-group quantity sg^2/ng is unit-quantized before the
    cross-group sums (the levene_brown_forsythe discipline); the F
    ratio divides once in shared SQL.  Scale: one map-side-combinable
    groupBy; every later relation has one row per group."""
    per_g = _prio_mom(spark, sf_dir)
    quant = per_g.selectExpr("grp", "ng", "sg", "qg", f"{_ANOVA_TG} AS t_u")
    gtot = quant.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q_sum"),
        F.sum("t_u").cast("long").alias("t_sum"),
    )
    return gtot.selectExpr(*_ANOVA_OUT)


# ---------------------------------------------------------------------------
# Kruskal-Wallis (binned midranks, deviation form)
# ---------------------------------------------------------------------------

_KW_BIN_CENTS = 10_000  # $100 bins, the mann_whitney_binned grid

# the shared midrank machinery (histogram -> doubled midranks ->
# per-group rank sums) as a reusable DuckDB CTE chain — gate_r8k's Dunn
# post-hoc builds on the SAME relations
KW_CTES_DUCK = f"""binned AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_KW_BIN_CENTS} AS v,
             o_orderpriority AS grp
      FROM orders
    ),
    hist AS (
      SELECT v, grp, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY v, grp
    ),
    bins AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS t FROM hist GROUP BY v
    ),
    mr AS (
      SELECT v, t,
             CAST(2 * (coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) + t + 1 AS BIGINT)
               AS mr2
      FROM bins
    ),
    per_g AS (
      SELECT hist.grp, CAST(sum(hist.c) AS BIGINT) AS ng,
             CAST(sum(hist.c * mr.mr2) AS BIGINT) AS r2g
      FROM hist JOIN mr ON hist.v = mr.v GROUP BY hist.grp
    ),
    tot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
      FROM per_g
    )"""


def kw_relations(spark: SparkSession, sf_dir: str):
    """Spark twin of KW_CTES_DUCK: returns (per_g, bins, tot)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    binned = orders.selectExpr(
        f"CAST(round(o_totalprice * 100) AS BIGINT) div {_KW_BIN_CENTS} AS v",
        "o_orderpriority AS grp",
    )
    hist = binned.groupBy("v", "grp").agg(F.count("*").cast("long").alias("c"))
    bins = hist.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = bins.select(
        "v",
        "t",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(w_prev), F.lit(0))
            + F.col("t")
            + F.lit(1)
        )
        .cast("long")
        .alias("mr2"),
    )
    per_g = (
        hist.join(mr, "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(F.col("c") * F.col("mr2")).cast("long").alias("r2g"),
        )
    )
    tot = per_g.agg(
        F.sum("ng").cast("long").alias("n"), F.count("*").cast("long").alias("k")
    )
    return per_g, bins, tot

# nullif guards: n = 1 zeroes n^3 - n; an all-ties input zeroes the tie
# correction itself (h_tied undefined) — NULL, never DIVIDE_BY_ZERO
_KW_OUT = [
    "n",
    "k",
    "CAST(round(12.0 * hsum / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)), 6)"
    " AS DOUBLE) AS h6",
    "CAST(round(1.0 - CAST(tie_term AS DOUBLE)"
    " / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE), 0.0), 6) AS DOUBLE) AS c6",
    "CAST(round((12.0 * hsum / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))"
    " / nullif(1.0 - CAST(tie_term AS DOUBLE)"
    " / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE), 0.0), 0.0), 6) AS DOUBLE) AS h_tied6",
]


@gate(
    "kruskal_wallis_binned",
    oracle=f"""
    WITH {KW_CTES_DUCK},
    devs AS (
      SELECT CAST(r2g - ng * (n + 1) AS BIGINT) AS d, ng, grp, n, k
      FROM per_g CROSS JOIN tot
    ),
    folded AS (
      SELECT CAST(min(n) AS BIGINT) AS n, CAST(min(k) AS BIGINT) AS k,
             list_reduce(list_prepend([0.0, 0.0],
               list([CAST(d AS DOUBLE), CAST(ng AS DOUBLE)] ORDER BY grp)),
               (acc, x) -> [acc[1]
                 + ((x[1] * x[1]) / x[2]) / 4.0, 0.0])[1] AS hsum
      FROM devs
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_term FROM bins
    )
    SELECT {', '.join(_KW_OUT)} FROM folded CROSS JOIN ties
    """,
)
def q_kruskal_wallis_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis k-sample rank test of order value across the five
    priority groups, on the $100-binned variable — the k-group
    extension of gate:mann_whitney_binned, sharing its scale
    discipline: midranks come from the bin-domain HISTOGRAM (doubled so
    they are exact integers: mr2 = 2*cum_before + t + 1), so there is
    NO global row sort and no per-row rank anywhere.

    The statistic uses the cancellation-free deviation form
    H = 12/(N(N+1)) * sum_g d_g^2/(4 n_g) with the exact integer
    deviations d_g = R2_g - n_g(N+1) (the textbook sum R_g^2/n_g form
    subtracts two ~N^3 magnitudes and loses everything past 2^53);
    the 5-term d^2/n sum runs as a group-name-ORDERED array fold, and
    the tie correction sum(t^3 - t) is an exact BIGINT (same documented
    ~sf10 bound as mann_whitney's tie term).  Output: raw H, the tie
    correction C, and H/C."""
    per_g, bins, tot = kw_relations(spark, sf_dir)
    devs = per_g.crossJoin(F.broadcast(tot)).select(
        (F.col("r2g") - F.col("ng") * (F.col("n") + 1)).cast("long").alias("d"),
        "ng",
        "grp",
        "n",
        "k",
    )
    folded = devs.agg(
        F.min("n").cast("long").alias("n"),
        F.min("k").cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("grp"),
                            F.col("d").cast("double").alias("dd"),
                            F.col("ng").cast("double").alias("nn"),
                        )
                    )
                ),
                lambda r: F.array(r["dd"], r["nn"]),
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + ((F.element_at(x, 1) * F.element_at(x, 1)) / F.element_at(x, 2))
            / F.lit(4.0),
        ).alias("hsum"),
    )
    ties = bins.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_term")
    )
    return folded.crossJoin(F.broadcast(ties)).selectExpr(*_KW_OUT)


# ---------------------------------------------------------------------------
# Bartlett's test
# ---------------------------------------------------------------------------

# per-group sample variance from exact moments, in ONE shared string
# nullif guards: a singleton group zeroes ng - 1; k = 1 zeroes the
# correction's 3(k-1); n = k zeroes the pooled dof.  ln(0) (a
# zero-variance group) already returns NULL in both engines.
_BART_LNV = (
    "ln((CAST(ng AS DOUBLE) * CAST(qg AS DOUBLE)"
    " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
    " / nullif(CAST(ng AS DOUBLE) * CAST(ng - 1 AS DOUBLE), 0.0))"
)

_BART_OUT = [
    "n",
    "k",
    "CAST(round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * ln(sp2)"
    " - wsum) / nullif(1.0 + (isum - 1.0 / nullif(CAST(n AS DOUBLE)"
    " - CAST(k AS DOUBLE), 0.0)) / nullif(3.0 * (CAST(k AS DOUBLE) - 1.0),"
    " 0.0), 0.0), 6) AS DOUBLE) AS t6",
]


@gate(
    "bartlett_variance_test",
    oracle=f"""
    WITH per_g AS ({_PRIO_MOM_DUCK}),
    lnv AS (
      SELECT grp, ng, {_BART_LNV} AS lnvg,
             CAST(qg - CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                  / CAST(ng AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssw_u
      FROM per_g
    ),
    folded AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ssw_u) AS BIGINT) AS ssw,
             list_reduce(list_prepend([0.0, 0.0],
               list([CAST(ng AS DOUBLE), lnvg] ORDER BY grp)),
               (acc, x) -> [acc[1] + (x[1] - 1.0) * x[2],
                            acc[2] + 1.0 / nullif(x[1] - 1.0, 0.0)]) AS s
      FROM lnv
    )
    SELECT {', '.join(_BART_OUT)}
    FROM (SELECT n, k, s[1] AS wsum, s[2] AS isum,
                 CAST(ssw AS DOUBLE)
                   / nullif(CAST(n AS DOUBLE) - CAST(k AS DOUBLE), 0.0)
                   AS sp2
          FROM folded)
    """,
)
def q_bartlett_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across the five priority
    groups: T = [(N-k) ln(s_p^2) - sum_g (n_g-1) ln(s_g^2)] / C with
    the standard correction C — the parametric (normality-assuming)
    sibling of gate:levene_brown_forsythe (report both: when
    they disagree, the data is non-normal and Brown-Forsythe wins).

    Determinism: per-group variances come from exact BIGINT moments in
    ONE shared ln string; the two k-term sums (weighted ln-variances
    and 1/(n_g-1)) accumulate in a group-name-ORDERED array fold; the
    pooled variance numerator sums per-group unit-quantized
    qg - round(sg^2/ng) as exact BIGINTs; the T composition runs once
    in shared SQL.  Scale: one groupBy + one 5-row fold."""
    per_g = _prio_mom(spark, sf_dir)
    lnv = per_g.selectExpr(
        "grp",
        "ng",
        f"{_BART_LNV} AS lnvg",
        "CAST(qg - CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)"
        " / CAST(ng AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssw_u",
    )
    folded = lnv.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("ssw_u").cast("long").alias("ssw"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("grp"),
                            F.col("ng").cast("double").alias("nn"),
                            F.col("lnvg").alias("lv"),
                        )
                    )
                ),
                lambda r: F.array(r["nn"], r["lv"]),
            ),
            F.array(F.lit(0.0), F.lit(0.0)),
            lambda acc, x: F.array(
                F.element_at(acc, 1)
                + (F.element_at(x, 1) - F.lit(1.0)) * F.element_at(x, 2),
                F.element_at(acc, 2)
                + F.lit(1.0)
                / F.nullif(F.element_at(x, 1) - F.lit(1.0), F.lit(0.0)),
            ),
        ).alias("s"),
    )
    return folded.selectExpr(
        "n",
        "k",
        "element_at(s, 1) AS wsum",
        "element_at(s, 2) AS isum",
        "CAST(ssw AS DOUBLE)"
        " / nullif(CAST(n AS DOUBLE) - CAST(k AS DOUBLE), 0.0) AS sp2",
    ).selectExpr(*_BART_OUT)
