"""Round-8 gate queries, batch 11.

Completions of the inference families opened by earlier round-8 batches:

- dunn_posthoc_pairs  — WHICH groups differ after Kruskal-Wallis says
                        SOME do: pairwise Dunn z on the same bin-domain
                        midrank relations (imported from gate_r8i)
- mood_median_test    — k-group median test whose global median comes
                        from order_stats count-bisection (no global
                        sort), chi2 on above/below counts
- partial_correlation — r(x, y | z) from three exact-moment pairwise
                        correlations
- pacf_durbin_levinson — partial autocorrelations at lags 1..3 via the
                        Durbin-Levinson recursion over fold-computed
                        exact-deviation ACF (the other half of the
                        Box-Jenkins identification pair with
                        gate:autocorrelation_acf)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.gate_r8e import _WK_SQL_DUCK, _weekly_kd
from inferdb_spark.gate_r8i import KW_CTES_DUCK, kw_relations
from inferdb_spark.operators.order_stats import exact_kth_smallest

# ---------------------------------------------------------------------------
# Dunn's post-hoc pairwise comparisons
# ---------------------------------------------------------------------------

# Bonferroni-adjusted two-sided critical value for k=5 groups (10 pairs)
# at family alpha = 0.05: Phi^-1(1 - 0.05/(2*10))
_DUNN_ZCRIT = 2.807034

# z_ij = (rbar_i - rbar_j) / sqrt(V * (1/n_i + 1/n_j)),
# rbar = r2g / (2 ng), V = N(N+1)/12 - tie_term/(12(N-1))
# nullif guards (degenerate-input battery): n = 1 zeroes the tie
# divisor 12(n-1); an all-ties input zeroes the whole variance V, so z
# goes NULL instead of raising DIVIDE_BY_ZERO under ANSI
_DUNN_Z = (
    "((CAST(r2g_1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))"
    " - CAST(r2g_2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)))"
    " / nullif(sqrt((CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 12.0"
    " - CAST(tie_term AS DOUBLE)"
    " / nullif(12.0 * (CAST(n AS DOUBLE) - 1.0), 0.0))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0.0))"
)

_DUNN_OUT = [
    "g1",
    "g2",
    "n1",
    "n2",
    f"CAST(round({_DUNN_Z}, 6) AS DOUBLE) AS z6",
    f"CAST(CASE WHEN abs(CAST(round({_DUNN_Z}, 6) AS DOUBLE))"
    f" > {_DUNN_ZCRIT!r} THEN 1 ELSE 0 END AS BIGINT) AS significant",
]


@gate(
    "dunn_posthoc_pairs",
    oracle=f"""
    WITH {KW_CTES_DUCK},
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_term FROM bins
    ),
    pairs AS (
      SELECT a.grp AS g1, b.grp AS g2,
             a.ng AS n1, b.ng AS n2, a.r2g AS r2g_1, b.r2g AS r2g_2,
             tot.n, ties.tie_term
      FROM per_g a JOIN per_g b ON a.grp < b.grp
      CROSS JOIN tot CROSS JOIN ties
    )
    SELECT {', '.join(_DUNN_OUT)} FROM pairs ORDER BY g1, g2
    """,
)
def q_dunn_posthoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: all 10 pairwise mean-rank comparisons
    between the five priority groups, on the SAME bin-domain midrank
    relations as gate:kruskal_wallis_binned (imported, not
    re-derived) — KW answers "do ANY groups differ", Dunn answers
    WHICH, with the tie-corrected rank variance and a Bonferroni
    critical value {z!r} (alpha 0.05 over 10 pairs) decided on the
    ROUNDED z so the boundary cannot flip engines.

    Scale: everything runs on the per-group (5-row) and bin-domain
    relations; the pair join is 10 rows.  Placebo data: priorities
    carry no price signal, so no pair should flag."""
    per_g, bins, tot = kw_relations(spark, sf_dir)
    ties = bins.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_term")
    )
    a = per_g.alias("a")
    b = per_g.alias("b")
    pairs = (
        a.join(b, F.col("a.grp") < F.col("b.grp"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("a.grp").alias("g1"),
            F.col("b.grp").alias("g2"),
            F.col("a.ng").alias("n1"),
            F.col("b.ng").alias("n2"),
            F.col("a.r2g").alias("r2g_1"),
            F.col("b.r2g").alias("r2g_2"),
            "n",
            "tie_term",
        )
    )
    return pairs.selectExpr(*_DUNN_OUT).orderBy("g1", "g2")


q_dunn_posthoc_pairs.__doc__ = q_dunn_posthoc_pairs.__doc__.format(z=_DUNN_ZCRIT)

# ---------------------------------------------------------------------------
# Mood's median test
# ---------------------------------------------------------------------------

# per-cell chi2 term (O*N - row*col)^2 / (N * row * col), nano-quantized
def _mood_term(o: str, col_tot: str) -> str:
    return (
        f"CAST(round(((CAST({o} * n - ng * {col_tot} AS DOUBLE)"
        f" * CAST({o} * n - ng * {col_tot} AS DOUBLE))"
        f" / nullif((CAST(n AS DOUBLE) * CAST(ng AS DOUBLE))"
        f" * CAST({col_tot} AS DOUBLE), 0.0)) * 1000000000.0) AS BIGINT)"
    )


_MOOD_OUT = [
    "grp",
    "n_above",
    "n_below_eq",
    "ng",
    "CAST(round(CAST(sum(t_above + t_below) OVER () AS DOUBLE)"
    " / 1000000000.0, 6) AS DOUBLE) AS chi2_6",
    "CAST(count(*) OVER () - 1 AS BIGINT) AS df",
]


@gate(
    "mood_median_test",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp, o_orderkey AS okey,
             CAST(round(o_totalprice) AS BIGINT) AS y
      FROM orders
    ),
    ranked AS (
      SELECT y, CAST(row_number() OVER (ORDER BY y, okey) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS nn
      FROM base
    ),
    med AS (SELECT y AS m FROM ranked WHERE rk = (nn + 1) // 2),
    cells AS (
      SELECT grp,
             CAST(sum(CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_above,
             CAST(sum(CASE WHEN y > (SELECT m FROM med) THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_below_eq,
             CAST(count(*) AS BIGINT) AS ng
      FROM base GROUP BY grp
    ),
    tots AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(n_above) AS BIGINT) AS tot_above,
             CAST(sum(n_below_eq) AS BIGINT) AS tot_below
      FROM cells
    ),
    terms AS (
      SELECT grp, n_above, n_below_eq, ng,
             {_mood_term("n_above", "tot_above")} AS t_above,
             {_mood_term("n_below_eq", "tot_below")} AS t_below
      FROM cells CROSS JOIN tots
    )
    SELECT {', '.join(_MOOD_OUT)} FROM terms ORDER BY grp
    """,
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five priority groups: classify
    every order above / at-or-below the EXACT grand median, then chi2
    on the 5x2 contingency table — the coarsest and most robust of the
    k-group location tests (KW uses full ranks; Mood only the median
    side), the one still valid under wild outliers.

    THE SCALE POINT (same as rfm_segmentation): the Spark side finds
    the grand median with order_stats.exact_kth_smallest count-bisection
    — no global sort of the data-sized relation — while the oracle rank-
    selects the same tie-order-invariant value.  Cell chi2 terms keep
    the expectation as the exact integer cross-product O*N - ng*col
    and are nano-quantized before the 5-row window sum."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderpriority AS grp", "CAST(round(o_totalprice) AS BIGINT) AS y"
    ).persist()
    try:
        m = exact_kth_smallest(base, "y", lambda n: (n + 1) // 2, persist=False)
        cells = base.groupBy("grp").agg(
            F.sum(F.when(F.col("y") > m, 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(F.when(F.col("y") > m, 0).otherwise(1))
            .cast("long")
            .alias("n_below_eq"),
            F.count("*").cast("long").alias("ng"),
        )
        tots = cells.agg(
            F.sum("ng").cast("long").alias("n"),
            F.sum("n_above").cast("long").alias("tot_above"),
            F.sum("n_below_eq").cast("long").alias("tot_below"),
        )
        terms = cells.crossJoin(F.broadcast(tots)).selectExpr(
            "grp",
            "n_above",
            "n_below_eq",
            "ng",
            f"{_mood_term('n_above', 'tot_above')} AS t_above",
            f"{_mood_term('n_below_eq', 'tot_below')} AS t_below",
        )
        out = terms.selectExpr(*_MOOD_OUT).orderBy("grp")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# Partial correlation
# ---------------------------------------------------------------------------

def _pc_m(a: str, b: str) -> str:
    c = f"q{a}" if a == b else f"c{''.join(sorted(a + b))}"
    return (
        f"(CAST(n AS DOUBLE) * CAST({c} AS DOUBLE)"
        f" - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
    )


def _pc_r(a: str, b: str) -> str:
    # nullif: a zero-variance margin makes r undefined — NULL, not a raise
    return f"({_pc_m(a, b)} / nullif(sqrt({_pc_m(a, a)} * {_pc_m(b, b)}), 0.0))"


_PC_INNER = [
    "n",
    f"CAST(round({_pc_r('x', 'y')}, 6) AS DOUBLE) AS r_xy6",
    f"CAST(round({_pc_r('x', 'z')}, 6) AS DOUBLE) AS r_xz6",
    f"CAST(round({_pc_r('y', 'z')}, 6) AS DOUBLE) AS r_yz6",
]
_PC_OUTER = [
    "n",
    "r_xy6",
    "r_xz6",
    "r_yz6",
    # nullif: |r| = 1 (z collinear with x or y) zeroes the denominator
    "CAST(round((r_xy6 - r_xz6 * r_yz6)"
    " / nullif(sqrt((1.0 - r_xz6 * r_xz6) * (1.0 - r_yz6 * r_yz6)), 0.0), 6)"
    " AS DOUBLE) AS r_xy_given_z6",
]


@gate(
    "partial_correlation",
    oracle=f"""
    WITH vars AS (
      SELECT CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x,
             CAST(sum(CAST(round(l_extendedprice / 100.0) AS BIGINT))
                  AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS z
      FROM lineitem GROUP BY l_orderkey
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(x * x) AS BIGINT) AS qx,
             CAST(sum(y * y) AS BIGINT) AS qy,
             CAST(sum(z * z) AS BIGINT) AS qz,
             CAST(sum(x * y) AS BIGINT) AS cxy,
             CAST(sum(x * z) AS BIGINT) AS cxz,
             CAST(sum(y * z) AS BIGINT) AS cyz
      FROM vars
    ),
    inner_sel AS (SELECT {', '.join(_PC_INNER)} FROM mom)
    SELECT {', '.join(_PC_OUTER)} FROM inner_sel
    """,
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation r(order quantity, order dollars | line
    count) over the per-order items: the raw quantity-dollars
    correlation is ~0.74, but it is mostly the shared line-count factor
    — controlling for z collapses it, which is exactly the
    confounder-audit story partials exist to tell (the cronbach
    correlations are zero-order; pipelines use partials to decide
    whether a feature adds signal beyond an existing one).

    Exactness: all ten moments are exact BIGINTs from ONE grouped pass;
    the three pairwise correlations use shared written-order formulas
    and are 6dp-rounded; the partial composes from the ROUNDED r's so
    its inputs are bit-identical cross-engine (the cronbach_alpha
    discipline).  Scale: one map-side-combinable groupBy(order), one
    1-row moment aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    vars_ = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("x"),
        F.sum(F.round(F.col("l_extendedprice") / F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y"),
        F.count("*").cast("long").alias("z"),
    )
    mom = vars_.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("qx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("qy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("cxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("cxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("cyz"),
    )
    return mom.selectExpr(*_PC_INNER).selectExpr(*_PC_OUTER)


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson
# ---------------------------------------------------------------------------

# ACF from exact integer deviations d_t = W*y_t - S, with den and the
# three lag cross-sums accumulated in ONE week-ORDERED 7-component fold
# (acc = [den, n1, n2, n3, prev1, prev2, prev3])
_PACF_FOLD_DUCK = """
             list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
               list([CAST(w * y - s AS DOUBLE)] ORDER BY wk)),
               (acc, x) -> [acc[1] + x[1] * x[1],
                            acc[2] + x[1] * acc[5],
                            acc[3] + x[1] * acc[6],
                            acc[4] + x[1] * acc[7],
                            x[1], acc[5], acc[6]]) AS f
"""

# Durbin-Levinson from the 6dp-ROUNDED rho's (column refs rho1..rho3).
# nullif: rho1 = ±1 (a perfectly periodic/constant series) zeroes the
# level-2 denominator, and the level-3 denominator can vanish likewise.
_P22 = "((rho2_6 - rho1_6 * rho1_6) / nullif(1.0 - rho1_6 * rho1_6, 0.0))"
_P21 = f"(rho1_6 - {_P22} * rho1_6)"
_P33 = (
    f"((rho3_6 - {_P21} * rho2_6 - {_P22} * rho1_6)"
    f" / nullif(1.0 - {_P21} * rho1_6 - {_P22} * rho2_6, 0.0))"
)

_PACF_OUT = [
    "n_weeks",
    "rho1_6",
    "rho2_6",
    "rho3_6",
    "rho1_6 AS pacf1_6",
    f"CAST(round({_P22}, 6) AS DOUBLE) AS pacf2_6",
    f"CAST(round({_P33}, 6) AS DOUBLE) AS pacf3_6",
]


@gate(
    "pacf_durbin_levinson",
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
             CAST(round(f[2] / nullif(f[1], 0.0), 6) AS DOUBLE) AS rho1_6,
             CAST(round(f[3] / nullif(f[1], 0.0), 6) AS DOUBLE) AS rho2_6,
             CAST(round(f[4] / nullif(f[1], 0.0), 6) AS DOUBLE) AS rho3_6
      FROM folded
    )
    SELECT {', '.join(_PACF_OUT)} FROM rho
    """,
)
def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelations of weekly revenue at lags 1..3 via the
    Durbin-Levinson recursion — the identification companion of
    gate:autocorrelation_acf (ACF tails off for AR processes; the PACF
    CUTS OFF at the true AR order, which is what Box-Jenkins reads).

    Determinism: deviations are the exact integers W*y - S (no mean
    materializes); the denominator and all three lag cross-sums
    accumulate in ONE week-ORDERED 7-component fold on both engines;
    the rho's are 6dp-rounded and Durbin-Levinson composes from the
    ROUNDED values in shared SQL.  Scale: one groupBy(week) + a fold
    over the week-domain array."""
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
    rho = folded.selectExpr(
        "n_weeks",
        "CAST(round(element_at(f, 2) / nullif(element_at(f, 1), 0.0), 6) AS DOUBLE) AS rho1_6",
        "CAST(round(element_at(f, 3) / nullif(element_at(f, 1), 0.0), 6) AS DOUBLE) AS rho2_6",
        "CAST(round(element_at(f, 4) / nullif(element_at(f, 1), 0.0), 6) AS DOUBLE) AS rho3_6",
    )
    return rho.selectExpr(*_PACF_OUT)
