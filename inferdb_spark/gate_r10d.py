"""Round-10 gate queries, batch d.

Ordered-alternative / distribution-distance / graph-structure
completions:

- jonckheere_terpstra_trend — ordered-group trend test (are order
  values monotone in priority?) from exact pairwise bin counts
- hellinger_bhattacharyya_drift — Hellinger + Bhattacharyya distances
  between two periods' binned price distributions (the sqrt-affinity
  members of the drift family: PSI/JSD/Wasserstein/KS already gated)
- hotelling_t2_two_sample — 2-D mean-vector comparison with the
  closed-form pooled-covariance inverse (the multivariate Welch)
- degree_assortativity — bipartite degree-degree Pearson over the
  supplier-part edge relation (do busy suppliers serve popular parts?)
- t_closeness_audit — per-quasi-group ordinal EMD of the sensitive
  attribute vs the global distribution (completes the k-anonymity /
  l-diversity privacy battery with its distributional member)

Determinism: exact BIGINT counts/moments, IEEE-exact sqrt (correctly
rounded by both engines), per-bin nano-quantized sums, single shared
division chains, nullif-guarded denominators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test
# ---------------------------------------------------------------------------

_JT_BIN_CENTS = 10_000  # the kruskal/mann-whitney $100 grid

# z from the doubled statistic (2J exact) under the no-ties null
# variance [N^2(2N+3) - sum n_i^2 (2n_i+3)] / 72 — the binning-induced
# tie correction is omitted and NAMED (conservative for this grid)
_JT_OUT = [
    "k",
    "n",
    "j2",
    "e2",
    "CAST(round((CAST(j2 AS DOUBLE) - CAST(e2 AS DOUBLE)) / 2.0"
    " / nullif(sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * (2.0 * CAST(n AS DOUBLE) + 3.0) - CAST(vsum AS DOUBLE)) / 72.0),"
    " 0.0), 6) AS DOUBLE) AS z6",
]


@gate(
    "jonckheere_terpstra_trend",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_JT_BIN_CENTS} AS v,
             o_orderpriority AS grp
      FROM orders
    ),
    hist AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c
      FROM binned GROUP BY grp, v
    ),
    -- DENSE (group x bin) grid: the cumulative-below count must exist
    -- for EVERY bin where any OTHER group has mass, not just the bins
    -- this group occupies (a sparse cum relation silently drops the
    -- pair terms at group-i-empty bins — caught by the sf0.001 third
    -- implementation)
    dense AS (
      SELECT g.grp, b.v, CAST(coalesce(h.c, 0) AS BIGINT) AS c
      FROM (SELECT DISTINCT grp FROM hist) g
      CROSS JOIN (SELECT DISTINCT v FROM hist) b
      LEFT JOIN hist h ON h.grp = g.grp AND h.v = b.v
    ),
    cum AS (
      SELECT grp, v, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS clt
      FROM dense
    ),
    pair_terms AS (
      SELECT CAST(sum(2 * j.c * i.clt + i.c * j.c) AS BIGINT) AS j2
      FROM cum i JOIN hist j ON i.v = j.v AND i.grp < j.grp
    ),
    per_g AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ng FROM hist GROUP BY grp),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             CAST((sum(ng) * sum(ng) - sum(ng * ng)) // 2 AS BIGINT) AS e2,
             CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS vsum
      FROM per_g
    )
    SELECT {", ".join(_JT_OUT)}
    FROM pair_terms CROSS JOIN tot
    """,
)
def q_jonckheere_terpstra_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for a MONOTONE trend of order value
    across the five priority groups (ordered by their '1-'..'5-' name
    prefixes): J = Σ_{{i<j}} #(x_i < x_j) + ties/2 — strictly more
    powerful than Kruskal-Wallis when the alternative is ordered.  A
    placebo here (priorities carry no price signal).

    Exactness: the doubled statistic 2J = Σ_b [2·c_j(b)·cumlt_i(b) +
    c_i(b)·c_j(b)] is an exact BIGINT from the per-group bin histogram
    and ONE per-group cumulative window; the null mean 2E = Σ_{{i<j}}
    n_i·n_j is exact integer arithmetic; z uses the standard no-ties
    null variance (named approximation — the $100 grid's tie correction
    is omitted, making |z| conservative).  Scale: one groupBy(grp, bin);
    the pair join runs on the bin-domain relation (bins × group pairs),
    never on rows."""
    od = load_table(spark, sf_dir, "orders")
    binned = od.selectExpr(
        f"CAST(round(o_totalprice * 100) AS BIGINT) div {_JT_BIN_CENTS} AS v",
        "o_orderpriority AS grp",
    )
    hist = binned.groupBy("grp", "v").agg(F.count("*").cast("long").alias("c"))
    # dense (group x bin) grid — see the oracle comment: the cumulative
    # must cover every bin ANY group occupies
    dense = (
        F.broadcast(hist.select("grp").distinct())
        .crossJoin(hist.select("v").distinct())
        .join(hist, ["grp", "v"], "left")
        .select("grp", "v", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dense.select(
        "grp",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("clt"),
    )
    i = cum.alias("i")
    j = hist.alias("j")
    pair_terms = (
        i.join(j, (F.col("i.v") == F.col("j.v")) & (F.col("i.grp") < F.col("j.grp")))
        .agg(
            F.sum(
                2 * F.col("j.c") * F.col("i.clt") + F.col("i.c") * F.col("j.c")
            )
            .cast("long")
            .alias("j2")
        )
    )
    per_g = hist.groupBy("grp").agg(F.sum("c").cast("long").alias("ng"))
    tot = per_g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.expr(
            "CAST((sum(ng) * sum(ng) - sum(ng * ng)) div 2 AS BIGINT)"
        ).alias("e2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3))
        .cast("long")
        .alias("vsum"),
    )
    return pair_terms.crossJoin(F.broadcast(tot)).selectExpr(*_JT_OUT)


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya drift between two periods
# ---------------------------------------------------------------------------

_HB_BIN_CENTS = 10_000
_HB_SPLIT = "1998-01-01"  # mid-range of the 1995-2001 span (~45/55 split)

# per-bin Bhattacharyya affinity term sqrt(p_b q_b), nano-quantized.
# IEEE sqrt is correctly rounded, so both engines produce the identical
# double before the round.
_HB_TERM = (
    "CAST(round(1000000000.0 * sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
    " / nullif(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 0.0))"
    " AS BIGINT)"
)

_HB_OUT = [
    "na",
    "nb",
    "n_bins",
    "CAST(round(CAST(bc_nano AS DOUBLE) / 1000000000.0, 6) AS DOUBLE) AS bc6",
    # CASE wrapper: greatest() IGNORES nulls in both engines, so an
    # undefined BC (empty side) would silently read as hellinger 0.0 —
    # propagate NULL instead
    "CAST(round(CASE WHEN bc_nano IS NOT NULL THEN"
    " sqrt(greatest(0.0, 1.0 - CAST(bc_nano AS DOUBLE)"
    " / 1000000000.0)) END, 6) AS DOUBLE) AS hellinger6",
    "CAST(round(-ln(nullif(CAST(bc_nano AS DOUBLE) / 1000000000.0, 0.0)), 6)"
    " AS DOUBLE) AS bhattacharyya6",
]


@gate(
    "hellinger_bhattacharyya_drift",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_HB_BIN_CENTS} AS v,
             CASE WHEN o_orderdate < DATE '{_HB_SPLIT}' THEN 1 ELSE 0 END AS pa
      FROM orders
    ),
    hist AS (
      SELECT v, CAST(sum(pa) AS BIGINT) AS ca,
             CAST(sum(1 - pa) AS BIGINT) AS cb
      FROM binned GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM hist
    ),
    terms AS (
      SELECT {_HB_TERM} AS t_nano
      FROM hist CROSS JOIN tot
    )
    SELECT na, nb, n_bins,
           CAST(round(CAST(bc_nano AS DOUBLE) / 1000000000.0, 6) AS DOUBLE)
             AS bc6,
           CAST(round(sqrt(greatest(0.0, 1.0 - CAST(bc_nano AS DOUBLE)
             / 1000000000.0)), 6) AS DOUBLE) AS hellinger6,
           CAST(round(-ln(nullif(CAST(bc_nano AS DOUBLE) / 1000000000.0,
             0.0)), 6) AS DOUBLE) AS bhattacharyya6
    FROM (SELECT CAST(sum(t_nano) AS BIGINT) AS bc_nano FROM terms)
    CROSS JOIN tot
    """,
)
def q_hellinger_bhattacharyya_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hellinger distance and Bhattacharyya distance between the
    pre-1998 and post-1998 order-value distributions (split at
    _HB_SPLIT = 1998-01-01, mid-range of the 1995-2001 span) on the
    shared $100 grid — the sqrt-affinity members of the drift-detection family
    (PSI, JS divergence, binned Wasserstein, KS already gated; Hellinger
    is the one that is a true metric AND bounded, the usual choice for
    monitoring curation-mix drift).

    Exactness: per-bin affinity terms sqrt(c_a·c_b)/sqrt(n_a·n_b) are
    nano-quantized BIGINTs before the sum (IEEE sqrt is correctly
    rounded — bit-identical across engines); distances derive from the
    one BC sum in shared SQL (greatest(0, ·) absorbs the nano-grid's
    possible 1-ulp overshoot at BC = 1; nullif guards ln(0) when the
    supports are disjoint).  Scale: one groupBy(bin); everything after
    runs on the ~5k-bin domain."""
    od = load_table(spark, sf_dir, "orders")
    binned = od.selectExpr(
        f"CAST(round(o_totalprice * 100) AS BIGINT) div {_HB_BIN_CENTS} AS v",
        f"CASE WHEN o_orderdate < DATE '{_HB_SPLIT}' THEN 1 ELSE 0 END AS pa",
    )
    hist = binned.groupBy("v").agg(
        F.sum("pa").cast("long").alias("ca"),
        F.sum(1 - F.col("pa")).cast("long").alias("cb"),
    )
    tot = hist.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count("*").cast("long").alias("n_bins"),
    )
    terms = hist.crossJoin(F.broadcast(tot)).selectExpr(f"{_HB_TERM} AS t_nano")
    bc = terms.agg(F.sum("t_nano").cast("long").alias("bc_nano"))
    return bc.crossJoin(F.broadcast(tot)).selectExpr(*_HB_OUT)


# ---------------------------------------------------------------------------
# Hotelling T² two-sample (2-D mean vectors, pooled covariance)
# ---------------------------------------------------------------------------

# written-order-double centered SS within group g over (x1, x2):
def _ht_ss(g: str, a: str, b: str) -> str:
    q = f"q{a}{b}_{g}"
    # nullif: an empty group's otherwise(0) moments would hit an ANSI
    # DIVIDE_BY_ZERO here (degenerate battery row)
    return (
        f"(CAST({q} AS DOUBLE) - CAST(s{a}_{g} AS DOUBLE)"
        f" * CAST(s{b}_{g} AS DOUBLE) / nullif(CAST(n_{g} AS DOUBLE), 0.0))"
    )


# pooled covariance entries (divide by nA + nB - 2)
_HT_DOF = "nullif(CAST(n_a + n_b - 2 AS DOUBLE), 0.0)"
_HT_S11 = f"(({_ht_ss('a', '1', '1')} + {_ht_ss('b', '1', '1')}) / {_HT_DOF})"
_HT_S22 = f"(({_ht_ss('a', '2', '2')} + {_ht_ss('b', '2', '2')}) / {_HT_DOF})"
_HT_S12 = f"(({_ht_ss('a', '1', '2')} + {_ht_ss('b', '1', '2')}) / {_HT_DOF})"
# nullif: an empty group has sum 0 with count 0 (the otherwise(0)
# moments), so the mean is 0/0 = NaN without the guard — NULL instead
_HT_D1 = (
    "(CAST(s1_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0)"
    " - CAST(s1_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0))"
)
_HT_D2 = (
    "(CAST(s2_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0)"
    " - CAST(s2_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0))"
)
_HT_DET = f"({_HT_S11} * {_HT_S22} - {_HT_S12} * {_HT_S12})"
# d' S^-1 d with the 2x2 closed-form inverse
_HT_QUAD = (
    f"(({_HT_S22} * {_HT_D1} * {_HT_D1}"
    f" - 2.0 * {_HT_S12} * {_HT_D1} * {_HT_D2}"
    f" + {_HT_S11} * {_HT_D2} * {_HT_D2}) / nullif({_HT_DET}, 0.0))"
)
_HT_OUT = [
    "n_a",
    "n_b",
    f"CAST(round({_HT_D1}, 6) AS DOUBLE) AS d1_6",
    f"CAST(round({_HT_D2} / 100.0, 6) AS DOUBLE) AS d2_6",
    f"CAST(round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
    f" / nullif(CAST(n_a + n_b AS DOUBLE), 0.0) * {_HT_QUAD}, 6)"
    " AS DOUBLE) AS t2_6",
]


@gate(
    "hotelling_t2_two_sample",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 'a' ELSE 'b' END AS g,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_tax * 100) AS BIGINT) AS x2
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    mom AS (
      SELECT
        CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN g = 'a' THEN x1 ELSE 0 END) AS BIGINT) AS s1_a,
        CAST(sum(CASE WHEN g = 'b' THEN x1 ELSE 0 END) AS BIGINT) AS s1_b,
        CAST(sum(CASE WHEN g = 'a' THEN x2 ELSE 0 END) AS BIGINT) AS s2_a,
        CAST(sum(CASE WHEN g = 'b' THEN x2 ELSE 0 END) AS BIGINT) AS s2_b,
        CAST(sum(CASE WHEN g = 'a' THEN x1 * x1 ELSE 0 END) AS BIGINT) AS q11_a,
        CAST(sum(CASE WHEN g = 'b' THEN x1 * x1 ELSE 0 END) AS BIGINT) AS q11_b,
        CAST(sum(CASE WHEN g = 'a' THEN x2 * x2 ELSE 0 END) AS BIGINT) AS q22_a,
        CAST(sum(CASE WHEN g = 'b' THEN x2 * x2 ELSE 0 END) AS BIGINT) AS q22_b,
        CAST(sum(CASE WHEN g = 'a' THEN x1 * x2 ELSE 0 END) AS BIGINT) AS q12_a,
        CAST(sum(CASE WHEN g = 'b' THEN x1 * x2 ELSE 0 END) AS BIGINT) AS q12_b
      FROM base
    )
    SELECT {", ".join(_HT_OUT)} FROM mom
    """,
)
def q_hotelling_t2_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotelling's T² comparing the (quantity, tax-cents) MEAN VECTOR
    between returned (R) and delivered (N) line items — the
    multivariate generalization of gate:welch_t_test: one joint test
    instead of two marginal t-tests, correct under feature correlation
    (the pooled 2×2 covariance inverts in closed form).  A placebo on
    this data.

    Exactness: all 12 per-group moments are exact BIGINT conditional
    sums in ONE pass; centered SS / pooled covariance / mean difference
    / quadratic form compose as written-order doubles in shared SQL,
    determinant and dof nullif-guarded (the degenerate battery's
    collinear / singleton classes).  d2 is reported in tax units
    (cents/100) at 6dp.  Scale: one scan, one 1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    base = li.select(
        F.when(F.col("l_returnflag") == "R", "a").otherwise("b").alias("g"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_tax") * 100).cast("long").alias("x2"),
    )
    def _c(g, expr):
        return F.sum(F.when(F.col("g") == g, expr).otherwise(0)).cast("long")

    mom = base.agg(
        _c("a", F.lit(1)).alias("n_a"),
        _c("b", F.lit(1)).alias("n_b"),
        _c("a", F.col("x1")).alias("s1_a"),
        _c("b", F.col("x1")).alias("s1_b"),
        _c("a", F.col("x2")).alias("s2_a"),
        _c("b", F.col("x2")).alias("s2_b"),
        _c("a", F.col("x1") * F.col("x1")).alias("q11_a"),
        _c("b", F.col("x1") * F.col("x1")).alias("q11_b"),
        _c("a", F.col("x2") * F.col("x2")).alias("q22_a"),
        _c("b", F.col("x2") * F.col("x2")).alias("q22_b"),
        _c("a", F.col("x1") * F.col("x2")).alias("q12_a"),
        _c("b", F.col("x1") * F.col("x2")).alias("q12_b"),
    )
    return mom.selectExpr(*_HT_OUT)


# ---------------------------------------------------------------------------
# Bipartite degree assortativity over the supplier-part edge relation
# ---------------------------------------------------------------------------

_DA_R = (
    "((CAST(ne AS DOUBLE) * CAST(sab AS DOUBLE)"
    " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
    " / nullif(sqrt((CAST(ne AS DOUBLE) * CAST(saa AS DOUBLE)"
    " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
    " * (CAST(ne AS DOUBLE) * CAST(sbb AS DOUBLE)"
    " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0))"
)
_DA_OUT = [
    "ne",
    "CAST(round(CAST(sa AS DOUBLE) / CAST(ne AS DOUBLE), 6) AS DOUBLE)"
    " AS mean_deg_s6",
    "CAST(round(CAST(sb AS DOUBLE) / CAST(ne AS DOUBLE), 6) AS DOUBLE)"
    " AS mean_deg_p6",
    f"CAST(round({_DA_R}, 6) AS DOUBLE) AS assortativity6",
]


@gate(
    "degree_assortativity",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                      CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    ),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS deg_s FROM e GROUP BY s),
    dp AS (SELECT p, CAST(count(*) AS BIGINT) AS deg_p FROM e GROUP BY p),
    ed AS (
      SELECT ds.deg_s AS a, dp.deg_p AS b
      FROM e JOIN ds ON e.s = ds.s JOIN dp ON e.p = dp.p
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(a * a) AS BIGINT) AS saa,
             CAST(sum(b * b) AS BIGINT) AS sbb,
             CAST(sum(a * b) AS BIGINT) AS sab
      FROM ed
    )
    SELECT {", ".join(_DA_OUT)} FROM mom
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier-part bipartite graph: the
    Pearson correlation, over EDGES, between the supplier's degree and
    the part's degree — positive means busy suppliers concentrate on
    popular parts (hub-hub wiring, the skew-join hazard), negative
    means hubs spread across the tail.  Complements the node-scoring
    graph family (pagerank/HITS/k-core) with the standard mixing
    statistic.

    Exactness: degrees are exact counts; the edge-level moments are
    exact BIGINT sums; one written-order Pearson division,
    nullif-guarded (a degree-regular graph has zero variance).  Scale:
    one distinct + two groupBys + two hash joins keyed on the edge
    endpoints — row-linear, no pair fan-out anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").cast("long").alias("s"),
        F.col("l_partkey").cast("long").alias("p"),
    ).distinct()
    ds = e.groupBy("s").agg(F.count("*").cast("long").alias("deg_s"))
    dp = e.groupBy("p").agg(F.count("*").cast("long").alias("deg_p"))
    ed = e.join(ds, "s").join(dp, "p").select(
        F.col("deg_s").alias("a"), F.col("deg_p").alias("b")
    )
    mom = ed.agg(
        F.count("*").cast("long").alias("ne"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
    )
    return mom.selectExpr(*_DA_OUT)


# ---------------------------------------------------------------------------
# t-closeness audit (ordinal EMD per quasi-identifier group)
# ---------------------------------------------------------------------------

_TC_T = 0.15  # the t in t-closeness

# ordinal EMD over 3 equally spaced classes = mean |cumulative diff|
# at the k-1 = 2 interior cut points
_TC_EMD = (
    "((abs(CAST(c0 AS DOUBLE) / CAST(ng AS DOUBLE)"
    " - CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE))"
    " + abs(CAST(c0 + c1 AS DOUBLE) / CAST(ng AS DOUBLE)"
    " - CAST(g0 + g1 AS DOUBLE) / CAST(n AS DOUBLE))) / 2.0)"
)
_TC_OUT = [
    "nat",
    "seg",
    "ng",
    f"CAST(round({_TC_EMD}, 6) AS DOUBLE) AS emd6",
    f"CAST(CASE WHEN CAST(round({_TC_EMD}, 6) AS DOUBLE) > {_TC_T!r}"
    " THEN 1 ELSE 0 END AS BIGINT) AS violates_t",
]

_TC_CLASS = (
    "CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 5000 THEN 1 ELSE 2 END"
)


@gate(
    "t_closeness_audit",
    oracle=f"""
    WITH cls AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
             {_TC_CLASS} AS cl
      FROM customer
    ),
    per_g AS (
      SELECT nat, seg,
             CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(CASE WHEN cl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN cl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM cls GROUP BY nat, seg
    ),
    gtot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(c0) AS BIGINT) AS g0,
             CAST(sum(c1) AS BIGINT) AS g1
      FROM per_g
    )
    SELECT {", ".join(_TC_OUT)}
    FROM per_g CROSS JOIN gtot
    ORDER BY nat, seg
    """,
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of the (nation, market segment) quasi-identifier
    groups for the ordinal sensitive attribute "balance band" (negative /
    low / high): per group, the earth-mover's distance between the
    group's class distribution and the global one (for k equally spaced
    ordinal classes, EMD = mean |cumulative difference| at the k-1 cut
    points); groups with EMD > t = {_TC_T!r} violate t-closeness even if
    they pass k-anonymity and l-diversity (both already gated) — the
    standard escalation of the privacy battery.

    Exactness: class counts are exact BIGINTs; per-group EMD divides
    exact integers in one shared expression; the violation flag
    compares the ROUNDED value so the boundary cannot flip engines.
    Scale: one groupBy over the quasi-identifier domain (125 groups);
    the global row broadcasts."""
    c = load_table(spark, sf_dir, "customer")
    cls = c.selectExpr(
        "CAST(c_nationkey AS BIGINT) AS nat",
        "c_mktsegment AS seg",
        f"{_TC_CLASS} AS cl",
    )
    per_g = cls.groupBy("nat", "seg").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(F.when(F.col("cl") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("cl") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    glob = per_g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("c0").cast("long").alias("g0"),
        F.sum("c1").cast("long").alias("g1"),
    )
    return (
        per_g.crossJoin(F.broadcast(glob))
        .selectExpr(*_TC_OUT)
        .orderBy("nat", "seg")
    )
