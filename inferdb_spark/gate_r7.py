"""Round-7 gate queries: rank/association statistics (Kendall tau-b,
Mann-Whitney U, Benjamini-Hochberg FDR), classical time-series
decomposition and robust trend (seasonal decompose, Theil-Sen), exact
weighted sampling (systematic PPS), a second-moment sketch (AMS F2), and
Kneser-Ney bigram smoothing.

All of these are warehouse-side statistics a training-data pipeline runs
next to the reference's IV/WoE feature selection (`src/optimizer.py:
73-104` picks features by information value; tau-b / U / FDR are the
standard alternatives) — each engineered with this repo's cross-engine
determinism rules:

- pair statistics (Kendall, Mann-Whitney) are computed on a BINNED joint
  frequency table, so the pair join is |domain|^2 — bounded by the bin
  grid, independent of row count — and every pair term is a BIGINT
  product (order-independent sums, no float accumulation);
- integer division uses `div` (Spark) / `//` (DuckDB) on non-negative
  operands only (identical semantics there);
- transcendental outputs round to 6dp on both sides; ranks order by
  (value, key) so ties are engine-deterministic;
- the PPS sampler replaces the usual -ln(u)/w exponential keys (a
  transcendental in the ORDER BY — not portable) with all-integer
  systematic selection over a h52-permuted prefix-sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Kendall tau-b on a binned joint frequency table
# ---------------------------------------------------------------------------

_YB_CENTS = 500_000  # $5,000 revenue bins -> <= ~21 y-cells


@gate(
    "kendall_tau_binned",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) // {_YB_CENTS} AS yb,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    cd AS (
      SELECT CAST(coalesce(sum(CASE WHEN c2.yb > c1.yb
                                    THEN c1.n * c2.n END), 0) AS BIGINT) AS conc,
             CAST(coalesce(sum(CASE WHEN c2.yb < c1.yb
                                    THEN c1.n * c2.n END), 0) AS BIGINT) AS disc
      FROM cells c1 JOIN cells c2 ON c2.x > c1.x
    ),
    tx AS (
      SELECT CAST(sum((nx * (nx - 1)) // 2) AS BIGINT) AS tie_x
      FROM (SELECT sum(n) AS nx FROM cells GROUP BY x)
    ),
    ty AS (
      SELECT CAST(sum((ny * (ny - 1)) // 2) AS BIGINT) AS tie_y
      FROM (SELECT sum(n) AS ny FROM cells GROUP BY yb)
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             CAST((sum(n) * (sum(n) - 1)) // 2 AS BIGINT) AS n2
      FROM cells
    )
    SELECT n_rows, conc, disc, tie_x, tie_y,
           round(CAST(conc - disc AS DOUBLE)
                 / (sqrt(CAST(n2 - tie_x AS DOUBLE))
                    * sqrt(CAST(n2 - tie_y AS DOUBLE))), 6) AS tau_b
    FROM cd, tx, ty, tot
    """,
)
def q_kendall_tau_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between line quantity and binned line revenue.

    The naive statistic is an all-pairs O(n^2) scan; the scale form here
    aggregates to the JOINT FREQUENCY GRID first (|qty domain| x |revenue
    bins| cells, ~50 x 21 regardless of row count), then counts
    concordant/discordant pairs as products of cell counts over a grid
    self-join — one aggregation shuffle plus a broadcast nested-loop over
    ~1k cells.  Identical to exact tau-b of the binned variables.  All
    pair sums are BIGINT (exact); the single sqrt division happens once,
    as sqrt(a)*sqrt(b) so the product (~(n^2/2)^2) never materializes in
    integer range.  At 60M rows the cell counts grow but the grid does
    not.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("long").alias("x"),
            F.expr(
                f"CAST(round(l_extendedprice * 100) AS BIGINT) div {_YB_CENTS}"
            ).alias("yb"),
        )
        .groupBy("x", "yb")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cells.cache()
    c1 = cells.alias("c1")
    c2 = cells.alias("c2")
    cd = (
        c1.join(F.broadcast(c2), F.col("c2.x") > F.col("c1.x"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c2.yb") > F.col("c1.yb"),
                        F.col("c1.n") * F.col("c2.n"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("conc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c2.yb") < F.col("c1.yb"),
                        F.col("c1.n") * F.col("c2.n"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("disc"),
        )
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(F.sum(F.expr("(nx * (nx - 1)) div 2")).cast("long").alias("tie_x"))
    )
    ty = (
        cells.groupBy("yb")
        .agg(F.sum("n").alias("ny"))
        .agg(F.sum(F.expr("(ny * (ny - 1)) div 2")).cast("long").alias("tie_y"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.expr("CAST((sum(n) * (sum(n) - 1)) div 2 AS BIGINT)").alias("n2"),
    )
    out = cd.crossJoin(tx).crossJoin(ty).crossJoin(tot).select(
        "n_rows",
        "conc",
        "disc",
        "tie_x",
        "tie_y",
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / (
                F.sqrt((F.col("n2") - F.col("tie_x")).cast("double"))
                * F.sqrt((F.col("n2") - F.col("tie_y")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )
    return out


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum test) on a binned value histogram
# ---------------------------------------------------------------------------

_MW_BIN_CENTS = 10_000  # $100 bins over o_totalprice


@gate(
    "mann_whitney_binned",
    oracle=f"""
    WITH hist AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_MW_BIN_CENTS} AS v,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1
    ),
    cross_u AS (
      SELECT CAST(coalesce(sum(h1.n1 * h2.n2), 0) AS BIGINT) AS gt_pairs
      FROM hist h1 JOIN hist h2 ON h1.v > h2.v
    ),
    tie_u AS (
      SELECT CAST(sum(n1 * n2) AS BIGINT) AS tie_pairs,
             CAST(sum((n1 + n2) * ((n1 + n2) * (n1 + n2) - 1)) AS BIGINT)
               AS tie_cubes,
             CAST(sum(n1) AS BIGINT) AS tot1,
             CAST(sum(n2) AS BIGINT) AS tot2
      FROM hist
    )
    SELECT tot1 AS n1, tot2 AS n2,
           CAST(2 * gt_pairs + tie_pairs AS DOUBLE) / 2.0 AS u1,
           round((CAST(2 * gt_pairs + tie_pairs AS DOUBLE) / 2.0
                  - CAST(tot1 * tot2 AS DOUBLE) / 2.0)
                 / sqrt(CAST(tot1 AS DOUBLE) * CAST(tot2 AS DOUBLE) / 12.0
                        * (CAST(tot1 + tot2 + 1 AS DOUBLE)
                           - CAST(tie_cubes AS DOUBLE)
                             / (CAST(tot1 + tot2 AS DOUBLE)
                                * CAST(tot1 + tot2 - 1 AS DOUBLE)))), 6) AS z
    FROM cross_u, tie_u
    """,
)
def q_mann_whitney_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U of order value, URGENT vs LOW priority,
    with the tie-corrected normal approximation z.

    Same scale discipline as kendall_tau_binned: aggregate each sample to
    a shared $100-bin HISTOGRAM first (domain-bounded, ~5k bins), then
    U1 = #(x1 > x2) + #ties/2 comes from a histogram self-join — pair
    work is |bins|^2, never rows^2, and every term is an exact BIGINT
    product (2*U1 kept integer until the final /2.0).  The tie variance
    term sum(t^3 - t) is exact BIGINT too.  This is the exact U of the
    binned variable (the spearman_binned substitution, applied to a rank
    test); no global sort, no per-row window.
    """
    od = load_table(spark, sf_dir, "orders")
    hist = (
        od.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) div {_MW_BIN_CENTS}"
            ).alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("f1"),
            F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("f2"),
        )
        .groupBy("v")
        .agg(
            F.sum("f1").cast("long").alias("n1"),
            F.sum("f2").cast("long").alias("n2"),
        )
    )
    hist.cache()
    h1 = hist.alias("h1")
    h2 = hist.alias("h2")
    cross_u = h1.join(F.broadcast(h2), F.col("h1.v") > F.col("h2.v")).agg(
        F.coalesce(F.sum(F.col("h1.n1") * F.col("h2.n2")), F.lit(0))
        .cast("long")
        .alias("gt_pairs")
    )
    t = F.col("n1") + F.col("n2")
    tie_u = hist.agg(
        F.sum(F.col("n1") * F.col("n2")).cast("long").alias("tie_pairs"),
        F.sum(t * (t * t - 1)).cast("long").alias("tie_cubes"),
        F.sum("n1").cast("long").alias("tot1"),
        F.sum("n2").cast("long").alias("tot2"),
    )
    two_u1 = (2 * F.col("gt_pairs") + F.col("tie_pairs")).cast("double")
    tot1d = F.col("tot1").cast("double")
    tot2d = F.col("tot2").cast("double")
    nd = (F.col("tot1") + F.col("tot2")).cast("double")
    var = (
        tot1d
        * tot2d
        / F.lit(12.0)
        * (
            (F.col("tot1") + F.col("tot2") + 1).cast("double")
            - F.col("tie_cubes").cast("double")
            / (nd * (F.col("tot1") + F.col("tot2") - 1).cast("double"))
        )
    )
    return cross_u.crossJoin(tie_u).select(
        F.col("tot1").alias("n1"),
        F.col("tot2").alias("n2"),
        (two_u1 / F.lit(2.0)).alias("u1"),
        F.round(
            (two_u1 / F.lit(2.0) - (F.col("tot1") * F.col("tot2")).cast("double") / F.lit(2.0))
            / F.sqrt(var),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-brand Hoeffding-bound p-values
# ---------------------------------------------------------------------------

_BH_Q = 0.10


@gate(
    "bh_fdr_screen",
    oracle=f"""
    WITH per_brand AS (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    gstats AS (
      SELECT CAST(sum(n_b) AS BIGINT) AS n_g, CAST(sum(r_b) AS BIGINT) AS r_g
      FROM per_brand
    ),
    pv AS (
      SELECT brand, n_b,
             round(exp(-2.0 * CAST(n_b AS DOUBLE)
                       * (CAST(r_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                          - CAST(r_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                       * (CAST(r_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                          - CAST(r_g AS DOUBLE) / CAST(n_g AS DOUBLE))), 6)
               AS p6
      FROM per_brand, gstats
    ),
    ranked AS (
      SELECT brand, n_b, p6,
             CAST(row_number() OVER (ORDER BY p6, brand) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv
    ),
    cut AS (
      SELECT *,
             max(CASE WHEN p6 <= {_BH_Q} * CAST(rk AS DOUBLE) / CAST(m AS DOUBLE)
                      THEN rk ELSE 0 END) OVER () AS k
      FROM ranked
    )
    SELECT brand, n_b, p6, rk,
           CAST(CASE WHEN rk <= k THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM cut
    """,
)
def q_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing screen: per part brand, does the return rate
    deviate from the corpus rate?  p-values are HOEFFDING BOUNDS
    (exp(-2 n delta^2) — closed-form, engine-portable; no chi-square CDF
    needed), then Benjamini-Hochberg step-up at q=0.10 marks the rejected
    set: k = max{{i : p_(i) <= q*i/m}}, reject ranks 1..k.

    Scale: one fact-dim join (shuffle or broadcast per AQE) collapses to
    25 brand rows; ranking/step-up windows run over those 25 rows only.
    p-values round to 6dp BEFORE ranking (ties then break on brand), so
    the rank — and therefore the BH cutoff — is engine-deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    per_brand = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("r_b"),
        )
    )
    glob = per_brand.agg(
        F.sum("n_b").cast("long").alias("n_g"),
        F.sum("r_b").cast("long").alias("r_g"),
    )
    delta = (
        F.col("r_b").cast("double") / F.col("n_b").cast("double")
        - F.col("r_g").cast("double") / F.col("n_g").cast("double")
    )
    pv = per_brand.crossJoin(F.broadcast(glob)).select(
        "brand",
        "n_b",
        F.round(F.exp(F.lit(-2.0) * F.col("n_b").cast("double") * delta * delta), 6)
        .alias("p6"),
    )
    ranked = pv.select(
        "brand",
        "n_b",
        "p6",
        F.row_number().over(Window.orderBy("p6", "brand")).cast("long").alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    sig_rank = F.when(
        F.col("p6") <= F.lit(_BH_Q) * F.col("rk").cast("double") / F.col("m").cast("double"),
        F.col("rk"),
    ).otherwise(F.lit(0))
    cut = ranked.select(
        "*", F.max(sig_rank).over(Window.partitionBy()).alias("k")
    )
    return cut.select(
        "brand",
        "n_b",
        "p6",
        "rk",
        F.when(F.col("rk") <= F.col("k"), 1).otherwise(0).cast("long").alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (2x12 centered moving average)
# ---------------------------------------------------------------------------


@gate(
    "seasonal_decompose_monthly",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT ym, rev_c,
             sum(rev_c) OVER (ORDER BY ym ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
               AS s12a,
             count(*) OVER (ORDER BY ym ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
               AS c12a,
             sum(rev_c) OVER (ORDER BY ym ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
               AS s12b,
             count(*) OVER (ORDER BY ym ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
               AS c12b
      FROM monthly
    ),
    tr AS (
      SELECT ym, rev_c,
             CASE WHEN c12a = 12 AND c12b = 12
                  THEN CAST(s12a + s12b AS BIGINT) END AS trend_x24
      FROM win
    ),
    seas AS (
      SELECT ym % 100 AS moy,
             CAST(sum(24 * rev_c - trend_x24) AS BIGINT) AS sum_detr,
             CAST(count(trend_x24) AS BIGINT) AS n_detr
      FROM tr WHERE trend_x24 IS NOT NULL
      GROUP BY 1
    )
    SELECT tr.ym, tr.rev_c,
           round(CAST(tr.trend_x24 AS DOUBLE) / 24.0, 6) AS trend,
           round(CAST(seas.sum_detr AS DOUBLE) / (24.0 * CAST(seas.n_detr AS DOUBLE)),
                 6) AS seasonal,
           round(CAST(tr.rev_c AS DOUBLE) - CAST(tr.trend_x24 AS DOUBLE) / 24.0
                 - CAST(seas.sum_detr AS DOUBLE)
                   / (24.0 * CAST(seas.n_detr AS DOUBLE)), 6) AS remainder
    FROM tr JOIN seas ON tr.ym % 100 = seas.moy
    """,
)
def q_seasonal_decompose_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly order revenue:
    trend = 2x12 centered moving average, seasonal = per-calendar-month
    mean of the detrended series, remainder = value - trend - seasonal.

    Determinism: the trend is carried as trend_x24 = (12-sum_a + 12-sum_b)
    — an exact BIGINT (dividing by 24 only at output), so the detrended
    values 24*v - trend_x24 are exact integers and the seasonal means are
    single BIGINT-sum / count divisions.  Months with an incomplete 12+12
    window (first/last 6) drop out, as in the classical method.

    Scale: the only row-proportional work is the monthly aggregate (one
    shuffle); every window/join after it runs on the ~80-row month series.
    Assumes a gap-free month sequence (ROWS frames index positions).
    """
    od = load_table(spark, sf_dir, "orders")
    monthly = (
        od.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("ym")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
    )
    wa = Window.orderBy("ym").rowsBetween(-6, 5)
    wb = Window.orderBy("ym").rowsBetween(-5, 6)
    win = monthly.select(
        "ym",
        "rev_c",
        F.sum("rev_c").over(wa).alias("s12a"),
        F.count("*").over(wa).alias("c12a"),
        F.sum("rev_c").over(wb).alias("s12b"),
        F.count("*").over(wb).alias("c12b"),
    )
    tr = win.select(
        "ym",
        "rev_c",
        F.when(
            (F.col("c12a") == 12) & (F.col("c12b") == 12),
            (F.col("s12a") + F.col("s12b")).cast("long"),
        ).alias("trend_x24"),
    )
    tr.cache()
    seas = (
        tr.filter(F.col("trend_x24").isNotNull())
        .groupBy((F.col("ym") % 100).alias("moy"))
        .agg(
            F.sum(24 * F.col("rev_c") - F.col("trend_x24"))
            .cast("long")
            .alias("sum_detr"),
            F.count("trend_x24").cast("long").alias("n_detr"),
        )
    )
    seas_term = F.col("sum_detr").cast("double") / (
        F.lit(24.0) * F.col("n_detr").cast("double")
    )
    trend_term = F.col("trend_x24").cast("double") / F.lit(24.0)
    return (
        tr.join(F.broadcast(seas), tr.ym % 100 == seas.moy)
        .select(
            "ym",
            "rev_c",
            F.round(trend_term, 6).alias("trend"),
            F.round(seas_term, 6).alias("seasonal"),
            F.round(F.col("rev_c").cast("double") - trend_term - seas_term, 6)
            .alias("remainder"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend per nation (median of pairwise slopes)
# ---------------------------------------------------------------------------


@gate(
    "theil_sen_nation_trend",
    oracle="""
    WITH series AS (
      SELECT c.c_nationkey AS nk,
             CAST((year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate)
                  AS BIGINT) AS t,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT s1.nk,
             CAST(s2.v - s1.v AS DOUBLE) / CAST(s2.t - s1.t AS DOUBLE) AS slope,
             s1.t AS t1, s2.t AS t2
      FROM series s1 JOIN series s2 ON s1.nk = s2.nk AND s2.t > s1.t
    ),
    ranked AS (
      SELECT nk, slope,
             row_number() OVER (PARTITION BY nk ORDER BY slope, t1, t2) AS rk,
             count(*) OVER (PARTITION BY nk) AS np
      FROM slopes
    )
    SELECT CAST(nk AS BIGINT) AS nk, CAST(np AS BIGINT) AS n_pairs,
           round(slope, 6) AS sen_slope
    FROM ranked WHERE rk = (np + 1) // 2
    """,
)
def q_theil_sen_nation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue per nation: the (lower)
    median of all pairwise slopes (v2-v1)/(t2-t1) within each nation's
    month series.

    Scale: the O(n^2) pair space is over MONTHS per nation (~80 points ->
    ~3.2k pairs), never over rows; the row-proportional work is one
    (nation, month) aggregate.  t is the absolute month index (integer
    arithmetic, no window needed to position points).  Slopes are exact
    BIGINT differences divided once — the same IEEE double on both
    engines — and the median rank orders by (slope, t1, t2) so ties are
    deterministic; lower median = rank (n+1)//2.
    """
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    series = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
            )
            .cast("long")
            .alias("t"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    series.cache()
    s1 = series.alias("s1")
    s2 = series.alias("s2")
    slopes = s1.join(
        s2, (F.col("s1.nk") == F.col("s2.nk")) & (F.col("s2.t") > F.col("s1.t"))
    ).select(
        F.col("s1.nk").alias("nk"),
        (
            (F.col("s2.v") - F.col("s1.v")).cast("double")
            / (F.col("s2.t") - F.col("s1.t")).cast("double")
        ).alias("slope"),
        F.col("s1.t").alias("t1"),
        F.col("s2.t").alias("t2"),
    )
    w = Window.partitionBy("nk").orderBy("slope", "t1", "t2")
    ranked = slopes.select(
        "nk",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("nk")).alias("np"),
    )
    return ranked.filter(
        F.col("rk") == F.expr("(np + 1) div 2")
    ).select(
        F.col("nk").cast("long").alias("nk"),
        F.col("np").cast("long").alias("n_pairs"),
        F.round("slope", 6).alias("sen_slope"),
    )


# ---------------------------------------------------------------------------
# Systematic PPS sample (all-integer weighted sampling without ln keys)
# ---------------------------------------------------------------------------

_PPS_K = 20
_PPS_W_OFFSET = 100_000  # cents; c_acctbal >= -999.99 -> weight >= 1 cent


@gate(
    "pps_systematic_sample",
    oracle=f"""
    WITH wtd AS (
      SELECT c_mktsegment AS seg, c_custkey AS ck,
             CAST(round(c_acctbal * 100) AS BIGINT) + {_PPS_W_OFFSET} AS w,
             {duckdb_h52("CAST(c_custkey AS VARCHAR)")} AS hk
      FROM customer
    ),
    pref AS (
      SELECT seg, ck, w,
             sum(w) OVER (PARTITION BY seg ORDER BY hk, ck
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY seg) AS tw
      FROM wtd
    )
    SELECT seg, CAST(ck AS BIGINT) AS ck, w,
           CAST((cw * {_PPS_K}) // tw - ((cw - w) * {_PPS_K}) // tw AS BIGINT)
             AS times_selected
    FROM pref
    WHERE (cw * {_PPS_K}) // tw > ((cw - w) * {_PPS_K}) // tw
    """,
)
def q_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k=20 per market segment,
    probability proportional to (shifted) account balance — Madow's
    systematic PPS over a hash-permuted order.

    The textbook A-ES scheme ranks by -ln(u)/w, but a transcendental in
    the ORDER BY is not engine-portable (libm vs JVM log differ in the
    last ulp; a rounding fix would create ties).  Systematic PPS is the
    all-integer equivalent discipline: order items by h52(key) (a
    deterministic pseudo-random permutation), take the BIGINT prefix-sum
    cw of weights, and select every item whose interval (cw-w, cw]
    contains a threshold j*W/k — i.e. floor(cw*k/W) > floor((cw-w)*k/W),
    pure integer floor division on non-negative operands (identical in
    both engines).  Items with w > W/k can be selected multiple times
    (times_selected).

    Scale: one shuffle partitioned by stratum + an in-partition sort for
    the prefix sum; no global state, no rejection loop.  cw*k stays well
    inside BIGINT (sum-of-weights * k ~ 2e17 even at 1e10 customers).
    """
    cu = load_table(spark, sf_dir, "customer")
    wtd = cu.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").alias("ck"),
        (F.round(F.col("c_acctbal") * 100).cast("long") + _PPS_W_OFFSET).alias("w"),
        h52(F.col("c_custkey").cast("string")).alias("hk"),
    )
    wp = (
        Window.partitionBy("seg")
        .orderBy("hk", "ck")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = wtd.select(
        "seg",
        "ck",
        "w",
        F.sum("w").over(wp).alias("cw"),
        F.sum("w").over(Window.partitionBy("seg")).alias("tw"),
    )
    hi = F.expr(f"(cw * {_PPS_K}) div tw")
    lo = F.expr(f"((cw - w) * {_PPS_K}) div tw")
    return pref.filter(hi > lo).select(
        "seg",
        F.col("ck").cast("long").alias("ck"),
        "w",
        (hi - lo).cast("long").alias("times_selected"),
    )


# ---------------------------------------------------------------------------
# AMS F2 (second frequency moment) sketch over document tokens
# ---------------------------------------------------------------------------

_AMS_R = 16


@gate(
    "ams_f2_sketch",
    oracle=f"""
    WITH tok AS (
      SELECT unnest((CASE WHEN length(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
                     END)) AS term
      FROM documents
    ),
    counts AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
    reps AS (
      SELECT r.r,
             CAST(sum(CASE WHEN {duckdb_h52("counts.term || '#' || CAST(r.r AS VARCHAR)")} % 2 = 0
                           THEN counts.c ELSE -counts.c END) AS BIGINT) AS x
      FROM counts, (SELECT unnest(range(1, {_AMS_R + 1})) AS r) r
      GROUP BY r.r
    ),
    est AS (SELECT CAST(sum(x * x) AS BIGINT) AS sum_sq FROM reps),
    ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM counts)
    SELECT sum_sq, exact_f2,
           round(CAST(sum_sq AS DOUBLE) / ({_AMS_R}.0 * CAST(exact_f2 AS DOUBLE)),
                 6) AS est_ratio
    FROM est, ex
    """,
)
def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch of the
    corpus token distribution: 16 replicas of X_r = sum_t sign_r(t)*c(t)
    with +-1 signs from the portable h52 hash; E[X_r^2] = F2.  Output
    pins the replica sum-of-squares, the exact F2, and their ratio —
    the sketch's accuracy certificate.

    Scale: signs attach to the DISTINCT-TERM relation (vocabulary-sized,
    not token-stream-sized), so the 16x replica explosion multiplies
    vocab rows only; both aggregates are single BIGINT-sum shuffles.
    At extreme corpus sizes X_r^2 can exceed BIGINT — shard the sketch
    and combine X_r per shard (linear) before squaring, as any
    distributed AMS does; gate scale stays exact integer.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.expr(TXT.tokens_sql("`text`"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    counts.cache()
    reps = (
        counts.select(
            "term",
            "c",
            F.explode(F.sequence(F.lit(1), F.lit(_AMS_R))).alias("r"),
        )
        .select(
            "r",
            F.when(
                h52(
                    F.concat(
                        F.col("term"), F.lit("#"), F.col("r").cast("string")
                    )
                )
                % 2
                == 0,
                F.col("c"),
            )
            .otherwise(-F.col("c"))
            .alias("sx"),
        )
        .groupBy("r")
        .agg(F.sum("sx").cast("long").alias("x"))
    )
    est = reps.agg(F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_sq"))
    ex = counts.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    return est.crossJoin(ex).select(
        "sum_sq",
        "exact_f2",
        F.round(
            F.col("sum_sq").cast("double")
            / (F.lit(float(_AMS_R)) * F.col("exact_f2").cast("double")),
            6,
        ).alias("est_ratio"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram probabilities
# ---------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOP = 50


@gate(
    "kneser_ney_bigram",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             (CASE WHEN length(trim(regexp_replace(regexp_replace(
                lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split(trim(regexp_replace(regexp_replace(
                lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
              END) AS t
      FROM documents
    ),
    dp AS (
      SELECT b['w1'] AS w1, b['w2'] AS w2
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM tok WHERE len(t) >= 2
      )
    ),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM dp GROUP BY w1, w2),
    uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM dp GROUP BY w1),
    fert AS (SELECT w1, CAST(count(*) AS BIGINT) AS f1 FROM big GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS k2 FROM big GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM big)
    SELECT big.w1, big.w2, big.c12,
           round((CAST(big.c12 AS DOUBLE) - {_KN_D}) / CAST(uni.c1 AS DOUBLE)
                 + (({_KN_D} * CAST(fert.f1 AS DOUBLE)) / CAST(uni.c1 AS DOUBLE))
                   * (CAST(cont.k2 AS DOUBLE) / CAST(tot.nb AS DOUBLE)), 6)
             AS p_kn
    FROM big
    JOIN uni USING (w1) JOIN fert USING (w1) JOIN cont USING (w2)
    CROSS JOIN tot
    ORDER BY big.c12 DESC, big.w1, big.w2
    LIMIT {_KN_TOP}
    """,
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (discount D=0.75, an
    exact dyadic so the discounted numerator is exact in double):
    P(w2|w1) = (c12-D)/c1 + (D*N1+(w1,.)/c1) * (N1+(.,w2)/N1+(.,.)),
    the smoothing every production n-gram LM uses — continuation counts
    come straight off the bigram-type relation.  Top-50 bigrams by
    (count desc, w1, w2).

    Scale: everything derives from the bigram/unigram count relations
    (groupBys over the exploded token stream, vocabulary-bounded output);
    the continuation/fertility tables are one more groupBy over the
    bigram TYPES (far smaller than tokens).  Joins are on w1/w2 keys and
    broadcastable; top-k is a TakeOrdered, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    from inferdb_spark.operators.textprep import _bigram_structs

    toks = docs.select(F.expr(TXT.tokens_sql("`text`")).alias("t"))
    pairs = toks.select(F.explode(_bigram_structs("t")).alias("b")).select(
        "b.w1", "b.w2"
    )
    pairs.cache()
    # right_size_cached: big cached at the session shuffle width made the
    # three downstream groupBys + the final join pay one task per kB-
    # sized partition; coalesce the cache to its byte-supported width
    # (scale-adaptive no-op on genuinely large bigram tables)
    from inferdb_spark.scale import right_size_cached

    big = right_size_cached(
        pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    )
    big.cache()
    uni = pairs.groupBy("w1").agg(F.count("*").cast("long").alias("c1"))
    fert = big.groupBy("w1").agg(F.count("*").cast("long").alias("f1"))
    cont = big.groupBy("w2").agg(F.count("*").cast("long").alias("k2"))
    tot = big.agg(F.count("*").cast("long").alias("nb"))
    d = F.lit(_KN_D)
    p_kn = (F.col("c12").cast("double") - d) / F.col("c1").cast("double") + (
        (d * F.col("f1").cast("double")) / F.col("c1").cast("double")
    ) * (F.col("k2").cast("double") / F.col("nb").cast("double"))
    return (
        big.join(uni, "w1")
        .join(fert, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", F.round(p_kn, 6).alias("p_kn"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_KN_TOP)
    )
