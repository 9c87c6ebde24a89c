"""Round-7 gate queries, batch 2: stratified and resampling inference
(Cochran-Mantel-Haenszel, sign-flip permutation test, CUPED-adjusted
A/B), agreement and inequality summaries (Cohen's kappa, grouped Gini),
and sequential drift/changepoint detection (Page-Hinkley CUSUM, single
changepoint by SSE scan).

Shared engineering with gate_r7 / the poisson-bootstrap family:

- replica statistics (permutation test) come from ONE pass with 2x32
  conditional BIGINT sums — no resample shuffle, no B-fold data blow-up;
- per-stratum rational terms (CMH expectations/variances) are quantized
  to integer micro-units BEFORE the cross-stratum sum, so the aggregate
  is order-independent;
- variance identities replace per-row adjusted values (CUPED uses
  Var(y - theta*x) = Var(y) - 2 theta Cov + theta^2 Var(x) over exact
  integer moment sums — no double accumulates row-wise);
- sequential statistics (Page-Hinkley) are cross-multiplied into pure
  BIGINT prefix sums (m_t scaled by the day count D) so the running min
  and the alarm comparison are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified 2x2xK association test
# ---------------------------------------------------------------------------

_CMH_PRICE = 150_000.0  # exposure: order total above this


@gate(
    "cmh_stratified_test",
    oracle=f"""
    WITH tab AS (
      SELECT c.c_nationkey AS nk,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_totalprice > {_CMH_PRICE} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS m1,
             CAST(sum(CASE WHEN o.o_totalprice > {_CMH_PRICE}
                            AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    terms AS (
      SELECT a,
             CAST(round(CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                        / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS e_u,
             CAST(round(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                        * CAST(m1 AS DOUBLE) * CAST(n - m1 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE)) * 1000000) AS BIGINT) AS v_u
      FROM tab WHERE n > 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(a) AS BIGINT) AS sum_a,
             CAST(sum(e_u) AS BIGINT) AS sum_e_u,
             CAST(sum(v_u) AS BIGINT) AS sum_v_u
      FROM terms
    )
    SELECT k, sum_a,
           round(CAST(sum_e_u AS DOUBLE) / 1000000.0, 6) AS sum_e,
           round((CAST(sum_a AS DOUBLE) - CAST(sum_e_u AS DOUBLE) / 1000000.0)
                 * (CAST(sum_a AS DOUBLE) - CAST(sum_e_u AS DOUBLE) / 1000000.0)
                 / (CAST(sum_v_u AS DOUBLE) / 1000000.0), 6) AS cmh_stat
    FROM s
    """,
)
def q_cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of exposure (high-value order) vs
    outcome (finished status) ASSOCIATION CONTROLLING FOR STRATA
    (customer nation): CMH = (sum_k a_k - sum_k E_k)^2 / sum_k V_k with
    the hypergeometric E_k = n1*m1/n and V_k = n1*n0*m1*m0/(n^2 (n-1)).

    Simpson's-paradox-proof screening — the stratified sibling of
    chi2_independence.  Per-stratum E/V are rationals, so each is
    quantized to integer MICRO-UNITS before the cross-stratum sum
    (order-independent BIGINT aggregation; one double division per
    stratum, 25 strata).  Scale: one fact-dim join collapsing to K=25
    stratum rows; everything after is constant work.
    """
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    exposed = F.when(F.col("o_totalprice") > _CMH_PRICE, 1).otherwise(0)
    outcome = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    tab = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(exposed).cast("long").alias("n1"),
            F.sum(outcome).cast("long").alias("m1"),
            F.sum(exposed * outcome).cast("long").alias("a"),
        )
    )
    nd = F.col("n").cast("double")
    e_u = F.round(
        F.col("n1").cast("double") * F.col("m1").cast("double") / nd * 1_000_000
    ).cast("long")
    v_u = F.round(
        F.col("n1").cast("double")
        * (F.col("n") - F.col("n1")).cast("double")
        * F.col("m1").cast("double")
        * (F.col("n") - F.col("m1")).cast("double")
        / (nd * nd * (F.col("n") - 1).cast("double"))
        * 1_000_000
    ).cast("long")
    terms = tab.filter(F.col("n") > 1).select(
        "a", e_u.alias("e_u"), v_u.alias("v_u")
    )
    s = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("e_u").cast("long").alias("sum_e_u"),
        F.sum("v_u").cast("long").alias("sum_v_u"),
    )
    dev = F.col("sum_a").cast("double") - F.col("sum_e_u").cast("double") / F.lit(
        1_000_000.0
    )
    return s.select(
        "k",
        "sum_a",
        F.round(F.col("sum_e_u").cast("double") / F.lit(1_000_000.0), 6).alias(
            "sum_e"
        ),
        F.round(
            dev * dev / (F.col("sum_v_u").cast("double") / F.lit(1_000_000.0)), 6
        ).alias("cmh_stat"),
    )


# ---------------------------------------------------------------------------
# One-pass sign-flip permutation test (32 replicas, poisson-bootstrap style)
# ---------------------------------------------------------------------------

_PERM_R = 32


def _perm_sql() -> str:
    """Oracle: observed diff + 32 permuted diffs, all from one scan."""
    parts = []
    for r in range(1, _PERM_R + 1):
        hr = duckdb_h52("CAST(o_orderkey AS VARCHAR) || '|" + str(r) + "'")
        parts.append(
            f"CAST(sum(CASE WHEN {hr} % 2 = 0"
            f" THEN cents ELSE 0 END) AS BIGINT) AS s{r},\n             "
            f"CAST(sum(CASE WHEN {hr} % 2 = 0"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS c{r}"
        )
    rep_sums = ",\n             ".join(parts)
    rep_diffs = ",\n        ".join(
        f"abs(CAST(s{r} AS DOUBLE) / CAST(c{r} AS DOUBLE)"
        f" - CAST(st - s{r} AS DOUBLE) / CAST(ct - c{r} AS DOUBLE)) AS d{r}"
        for r in range(1, _PERM_R + 1)
    )
    exceed = " + ".join(f"(CASE WHEN d{r} >= d_obs THEN 1 ELSE 0 END)" for r in range(1, _PERM_R + 1))
    return f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    sums AS (
      SELECT CAST(sum(cents) AS BIGINT) AS st,
             CAST(count(*) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_obs,
             CAST(sum(g) AS BIGINT) AS c_obs,
             {rep_sums}
      FROM base
    ),
    diffs AS (
      SELECT st, ct,
        abs(CAST(s_obs AS DOUBLE) / CAST(c_obs AS DOUBLE)
            - CAST(st - s_obs AS DOUBLE) / CAST(ct - c_obs AS DOUBLE)) AS d_obs,
        {rep_diffs}
      FROM sums
    )
    SELECT ct AS n, round(d_obs / 100.0, 6) AS obs_diff,
           round((1.0 + ({exceed})) / {_PERM_R + 1}.0, 6) AS p_value
    FROM diffs
    """


@gate("permutation_test_signflip", oracle=_perm_sql())
def q_permutation_test_signflip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the URGENT-vs-LOW mean order value difference
    — the distribution-free sibling of ab_test_ztest.  32 label
    permutations come from h52(key|r), and ALL of them are evaluated in
    ONE aggregation pass as 64 conditional BIGINT sums (the
    poisson_bootstrap_ci discipline: no resample shuffle, replica count
    independent of rows).  p = (1 + #{r: |diff_r| >= |diff_obs|}) / (R+1),
    the standard add-one permutation p-value.

    Every replica diff is two exact-integer-sum divisions; the >= compare
    runs on identical doubles in both engines.  Scale: one scan, one
    reduce row, driver sees a single row.
    """
    from inferdb_spark.functions.hashing import spark_h52_sql

    od = load_table(spark, sf_dir, "orders")
    base = od.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    # Spread the narrow filtered base across cores before the md5 work:
    # the one-row-group scan is a single task, and 32 md5 trees per row
    # on one core dominate this gate's execution (guide §2.2 via
    # scale.spread; exact BIGINT sums below are layout-insensitive).
    from inferdb_spark.scale import spread

    base = spread(base)
    # per-replica flip flags materialize ONCE per row here (the previous
    # form re-evaluated each replica's md5 inside both of its aggregate
    # children); all 32 flag expressions parse JVM-side in ONE selectExpr
    # call — the per-replica F.expr form still paid 32 py4j round trips
    # of construction.  Same SQL text, so the parsed trees and values are
    # bit-identical (guide §1/§2.3).
    flagged = base.selectExpr(
        "cents",
        "g",
        *[
            "(((" + spark_h52_sql(f"concat(k, '|{r}')") + ") % 2) = 0)"
            f" AS f{r}"
            for r in range(1, _PERM_R + 1)
        ],
    )
    # textual twins of the previous Column chains (the 64 conditional
    # sums + 32 replica diffs cost ~1.5 s of py4j construction): one
    # parse per agg column + ONE selectExpr for the final row — same
    # CASE/abs/division trees, bit-identical values (guide §1)
    aggs = [
        F.expr("CAST(sum(cents) AS BIGINT) AS st"),
        F.expr("CAST(count(*) AS BIGINT) AS ct"),
        F.expr(
            "CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT)"
            " AS s_obs"
        ),
        F.expr("CAST(sum(g) AS BIGINT) AS c_obs"),
    ]
    for r in range(1, _PERM_R + 1):
        aggs.append(
            F.expr(
                f"CAST(sum(CASE WHEN f{r} THEN cents ELSE 0 END) AS BIGINT)"
                f" AS s{r}"
            )
        )
        aggs.append(
            F.expr(
                f"CAST(sum(CASE WHEN f{r} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS c{r}"
            )
        )
    sums = flagged.agg(*aggs)

    def diff_sql(s: str, c: str) -> str:
        return (
            f"abs(CAST({s} AS DOUBLE) / CAST({c} AS DOUBLE)"
            f" - CAST(st - {s} AS DOUBLE) / CAST(ct - {c} AS DOUBLE))"
        )

    d_obs = diff_sql("s_obs", "c_obs")
    exceed = " + ".join(
        f"(CASE WHEN {diff_sql(f's{r}', f'c{r}')} >= {d_obs}"
        " THEN 1 ELSE 0 END)"
        for r in range(1, _PERM_R + 1)
    )
    return sums.selectExpr(
        "ct AS n",
        f"round({d_obs} / 100.0D, 6) AS obs_diff",
        f"round((1.0D + CAST({exceed} AS DOUBLE)) / {float(_PERM_R + 1)!r}D, 6)"
        " AS p_value",
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between two deterministic document raters
# ---------------------------------------------------------------------------

_KAPPA_CHARS = [150, 300]  # rater A: n_chars buckets
_KAPPA_TOKS = [25, 50]  # rater B: token-count buckets


@gate(
    "cohens_kappa",
    oracle=f"""
    WITH rated AS (
      SELECT (CASE WHEN n_chars < {_KAPPA_CHARS[0]} THEN 0
                   WHEN n_chars < {_KAPPA_CHARS[1]} THEN 1 ELSE 2 END) AS ra,
             (CASE WHEN tc < {_KAPPA_TOKS[0]} THEN 0
                   WHEN tc < {_KAPPA_TOKS[1]} THEN 1 ELSE 2 END) AS rb
      FROM (
        SELECT n_chars,
               len(CASE WHEN length(trim(regexp_replace(regexp_replace(
                      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split(trim(regexp_replace(regexp_replace(
                      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
                    END) AS tc
        FROM documents
      )
    ),
    cells AS (
      SELECT ra, rb, CAST(count(*) AS BIGINT) AS c FROM rated GROUP BY ra, rb
    ),
    m AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT) AS agree
      FROM cells
    ),
    pe AS (
      SELECT CAST(sum(na * nb) AS BIGINT) AS chance_x
      FROM (SELECT ra AS k, sum(c) AS na FROM cells GROUP BY ra) a
      JOIN (SELECT rb AS k, sum(c) AS nb FROM cells GROUP BY rb) b USING (k)
    )
    SELECT n, agree,
           round((CAST(agree AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(chance_x AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(chance_x AS DOUBLE)), 6) AS kappa
    FROM m, pe
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two 3-class document raters
    (char-length buckets vs token-count buckets) — the standard QA
    statistic when two labeling heuristics (or annotators / judge
    models) grade the same corpus.

    kappa = (po - pe) / (1 - pe) cross-multiplied to integer form:
    (agree*n - sum_k na_k*nb_k) / (n^2 - sum_k na_k*nb_k), so both
    numerator and denominator are exact BIGINTs and the single division
    is the only double.  Scale: one groupBy to a 3x3 confusion relation.
    """
    from inferdb_spark.functions import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    tc = F.size(F.expr(TXT.tokens_sql("`text`")))
    rated = docs.select(
        F.when(F.col("n_chars") < _KAPPA_CHARS[0], 0)
        .when(F.col("n_chars") < _KAPPA_CHARS[1], 1)
        .otherwise(2)
        .alias("ra"),
        F.when(tc < _KAPPA_TOKS[0], 0)
        .when(tc < _KAPPA_TOKS[1], 1)
        .otherwise(2)
        .alias("rb"),
    )
    cells = rated.groupBy("ra", "rb").agg(F.count("*").cast("long").alias("c"))
    cells.cache()
    m = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    a = cells.groupBy(F.col("ra").alias("k")).agg(F.sum("c").alias("na"))
    b = cells.groupBy(F.col("rb").alias("k")).agg(F.sum("c").alias("nb"))
    pe = (
        a.join(b, "k")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("chance_x"))
    )
    return m.crossJoin(pe).select(
        "n",
        "agree",
        F.round(
            (
                F.col("agree").cast("double") * F.col("n").cast("double")
                - F.col("chance_x").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("n").cast("double")
                - F.col("chance_x").cast("double")
            ),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley drift detection as exact-integer prefix sums
# ---------------------------------------------------------------------------

_PH_DELTA_C = 50  # slack per step, cents
_PH_LAMBDA_C = 200_000  # alarm threshold, cents


@gate(
    "page_hinkley_drift",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS d
      FROM hourly GROUP BY 1
    ),
    pre AS (
      SELECT h.event_type, h.h,
             CAST(t.d * sum(h.x) OVER (PARTITION BY h.event_type ORDER BY h.h
                                       ROWS UNBOUNDED PRECEDING)
                  - (row_number() OVER (PARTITION BY h.event_type ORDER BY h.h))
                    * (t.sx + t.d * {_PH_DELTA_C}) AS BIGINT) AS m_xd,
             t.d AS d
      FROM hourly h JOIN tot t ON h.event_type = t.event_type
    ),
    ph AS (
      SELECT event_type, h,
             CAST(m_xd - min(m_xd) OVER (PARTITION BY event_type ORDER BY h
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS ph_xd,
             d
      FROM pre
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(ph_xd) AS BIGINT) AS max_ph_xd,
           CAST(sum(CASE WHEN ph_xd > d * {_PH_LAMBDA_C} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(coalesce(min(CASE WHEN ph_xd > d * {_PH_LAMBDA_C} THEN h END), -1)
                AS BIGINT) AS first_alarm_h
    FROM ph GROUP BY event_type
    """,
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector per event type over the hourly
    value series: m_t = sum_{{i<=t}} (x_i - mean - delta), PH_t = m_t -
    min_{{i<=t}} m_i, alarm when PH_t > lambda — the sequential CUSUM
    sibling of the batch PSI drift gate.

    Exactness: m_t involves the rational global mean, so everything is
    CROSS-MULTIPLIED by the series length D: m_t*D = D*prefix(x) -
    t*(S + D*delta) is a pure BIGINT, the running min is an integer
    window min, and the alarm compares against lambda*D exactly.  Scale:
    the row-proportional work is the hourly aggregate; prefix windows
    partition by event type over the (type, hour) relation.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").alias("h"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    tot = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.sum("x").cast("long").alias("sx"),
        F.count("*").cast("long").alias("d"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    worder = Window.partitionBy("event_type").orderBy("h")
    pre = (
        hourly.join(F.broadcast(tot), hourly.event_type == tot.et)
        .select(
            "event_type",
            "h",
            (
                F.col("d") * F.sum("x").over(wcum)
                - F.row_number().over(worder).cast("long")
                * (F.col("sx") + F.col("d") * _PH_DELTA_C)
            )
            .cast("long")
            .alias("m_xd"),
            "d",
        )
    )
    ph = pre.select(
        "event_type",
        "h",
        (F.col("m_xd") - F.min("m_xd").over(wcum)).cast("long").alias("ph_xd"),
        "d",
    )
    alarm = F.col("ph_xd") > F.col("d") * _PH_LAMBDA_C
    return ph.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.max("ph_xd").cast("long").alias("max_ph_xd"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.coalesce(F.min(F.when(alarm, F.col("h"))), F.lit(-1))
        .cast("long")
        .alias("first_alarm_h"),
    )


# ---------------------------------------------------------------------------
# Grouped Gini coefficient (trapezoid Lorenz over a revenue histogram)
# ---------------------------------------------------------------------------

_GINI_BIN_DOLLARS = 1_000  # $1,000 revenue bins


@gate(
    "gini_grouped_revenue",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey, CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    hist AS (
      SELECT rev // {_GINI_BIN_DOLLARS} AS b,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(rev) AS BIGINT) AS s
      FROM per_cust GROUP BY 1
    ),
    cum AS (
      SELECT b, c, s,
             sum(s) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cs,
             sum(c) OVER () AS ct,
             sum(s) OVER () AS st
      FROM hist
    ),
    tr AS (
      SELECT CAST(sum(c * (2 * cs - s)) AS BIGINT) AS lorenz_x2,
             CAST(max(ct) AS BIGINT) AS n,
             CAST(max(st) AS BIGINT) AS total
      FROM cum
    )
    SELECT n, total,
           round(1.0 - CAST(lorenz_x2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini
    FROM tr
    """,
)
def q_gini_grouped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer revenue via the trapezoid Lorenz
    curve over a $1,000-binned histogram: G = 1 - sum_i c_i*(CS_{{i-1}} +
    CS_i) / (N * Total) with CS the ascending cumulative revenue — the
    mixture/duplication skew diagnostic for corpus source weighting.

    Exactness: with 2*CS - s = CS_{{i-1}} + CS_i, the whole Lorenz sum is
    one BIGINT expression; the single division happens at the end.
    Gini is scale-invariant, so revenue is held in DOLLARS (not cents):
    the c*(2*cs) product is bounded by n_bin * 2*total, and cents
    overflowed BIGINT at the sf10 probe (1.5M customers x $2.3e11 total)
    — dollars keep it exact past 1e9 customers (kilodollars beyond).
    Scale: per-customer aggregate (row-proportional), then windows over
    the DOMAIN-BOUNDED bin relation, never customer-count rows.
    """
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long"))
        .cast("long")
        .alias("rev")
    )
    hist = (
        per_cust.select(F.expr(f"rev div {_GINI_BIN_DOLLARS}").alias("b"), "rev")
        .groupBy("b")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("rev").cast("long").alias("s"),
        )
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = hist.select(
        "b",
        "c",
        "s",
        F.sum("s").over(wc).alias("cs"),
        F.sum("c").over(wall).alias("ct"),
        F.sum("s").over(wall).alias("st"),
    )
    tr = cum.agg(
        F.sum(F.col("c") * (2 * F.col("cs") - F.col("s")))
        .cast("long")
        .alias("lorenz_x2"),
        F.max("ct").cast("long").alias("n"),
        F.max("st").cast("long").alias("total"),
    )
    return tr.select(
        "n",
        "total",
        F.round(
            F.lit(1.0)
            - F.col("lorenz_x2").cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout from exact moment sums
# ---------------------------------------------------------------------------


@gate(
    "cuped_adjusted_ab",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey AS ck,
             CAST(sum(CASE WHEN year(o_orderdate) < 1998
                           THEN CAST(round(o_totalprice) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN year(o_orderdate) >= 1998
                           THEN CAST(round(o_totalprice) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y,
             CAST({duckdb_h52("CAST(o_custkey AS VARCHAR)")} % 2 AS BIGINT) AS v
      FROM orders GROUP BY o_custkey
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM per_cust
    ),
    vmom AS (
      SELECT v, CAST(count(*) AS BIGINT) AS nv,
             CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
      FROM per_cust GROUP BY v
    ),
    theta AS (
      SELECT n, sx, sy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho2
      FROM mom
    )
    SELECT
      round(th, 6) AS theta,
      round(rho2, 6) AS var_reduction,
      round((SELECT CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) FROM vmom WHERE v = 1)
            - (SELECT CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) FROM vmom WHERE v = 0)
            - th * ((SELECT CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE) FROM vmom WHERE v = 1)
                    - (SELECT CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE) FROM vmom WHERE v = 0)),
            6) AS adj_diff
    FROM theta
    """,
)
def q_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. WSDM'13):
    pre-period customer spend x is the covariate, 1998+ spend y the
    metric, h52 parity the variant.  theta = Cov(x,y)/Var(x) and the
    achieved variance reduction rho^2 come from EXACT integer moment sums
    (n*sxy - sx*sy cross-multiplied form — no per-row adjusted doubles
    anywhere, the variance identity replaces row-level y - theta*x);
    the adjusted effect is ybar_1 - ybar_0 - theta*(xbar_1 - xbar_0).

    Dollars (not cents) keep sum(x*x) inside BIGINT out to ~1e9
    customers.  Scale: one per-customer aggregate + two one-row reduces.
    """
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(
            F.when(
                F.year("o_orderdate") < 1998,
                F.round(F.col("o_totalprice")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.year("o_orderdate") >= 1998,
                F.round(F.col("o_totalprice")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).select(
        "*", (h52(F.col("ck").cast("string")) % 2).cast("long").alias("v")
    )
    per_cust.cache()
    mom = per_cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    vm = per_cust.groupBy("v").agg(
        F.count("*").cast("long").alias("nv"),
        F.sum("x").cast("long").alias("sxv"),
        F.sum("y").cast("long").alias("syv"),
    )
    v1 = vm.filter(F.col("v") == 1).select(
        (F.col("syv").cast("double") / F.col("nv").cast("double")).alias("ybar1"),
        (F.col("sxv").cast("double") / F.col("nv").cast("double")).alias("xbar1"),
    )
    v0 = vm.filter(F.col("v") == 0).select(
        (F.col("syv").cast("double") / F.col("nv").cast("double")).alias("ybar0"),
        (F.col("sxv").cast("double") / F.col("nv").cast("double")).alias("xbar0"),
    )
    nd = F.col("n").cast("double")
    cov_x = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    var_x = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    var_y = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    th = (cov_x / var_x).alias("th")
    theta = mom.select(th, (cov_x * cov_x / (var_x * var_y)).alias("rho2"))
    return theta.crossJoin(v1).crossJoin(v0).select(
        F.round("th", 6).alias("theta"),
        F.round("rho2", 6).alias("var_reduction"),
        F.round(
            F.col("ybar1")
            - F.col("ybar0")
            - F.col("th") * (F.col("xbar1") - F.col("xbar0")),
            6,
        ).alias("adj_diff"),
    )


# ---------------------------------------------------------------------------
# Single changepoint by SSE scan over monthly revenue
# ---------------------------------------------------------------------------

_CP_MIN_SEG = 6  # months per side


@gate(
    "changepoint_sse_scan",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
             CAST(round(sum(o_totalprice) / 1000.0) AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT ym, v,
             CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS tn,
             CAST(sum(v) OVER (ORDER BY ym ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS p1,
             CAST(sum(v * v) OVER (ORDER BY ym ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS q1,
             CAST(sum(v) OVER () AS BIGINT) AS pt,
             CAST(sum(v * v) OVER () AS BIGINT) AS qt
      FROM monthly
    ),
    cand AS (
      SELECT ym, t, tn,
             round(CAST(q1 AS DOUBLE)
                   - CAST(p1 AS DOUBLE) * CAST(p1 AS DOUBLE) / CAST(t AS DOUBLE)
                   + CAST(qt - q1 AS DOUBLE)
                   - CAST(pt - p1 AS DOUBLE) * CAST(pt - p1 AS DOUBLE)
                     / CAST(tn - t AS DOUBLE), 6) AS sse
      FROM idx
      WHERE t >= {_CP_MIN_SEG} AND t <= tn - {_CP_MIN_SEG}
    )
    SELECT ym AS change_ym, t AS split_t, sse AS best_sse
    FROM cand
    ORDER BY sse, ym LIMIT 1
    """,
)
def q_changepoint_sse_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint in monthly revenue by exhaustive SSE scan (the
    CART/binary-segmentation split criterion on a time axis): for every
    admissible split t, SSE(t) = [Q1 - P1^2/t] + [Q2 - P2^2/(T-t)] from
    BIGINT prefix sums of v and v^2; the argmin (6dp-rounded SSE, then
    lowest month) is the detected change.

    Values are KILODOLLAR integers so v^2 prefix sums stay far inside
    BIGINT at any scale.  Scale: monthly aggregate is the only
    row-proportional stage; the scan is one window pass + TakeOrdered(1)
    over ~80 candidate rows (binary segmentation recurses on segments —
    each level is this same relation-bounded scan).
    """
    od = load_table(spark, sf_dir, "orders")
    monthly = (
        od.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("ym")
        )
        .agg(
            F.round(F.sum("o_totalprice") / F.lit(1000.0)).cast("long").alias("v")
        )
    )
    wo = Window.orderBy("ym")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    idx = monthly.select(
        "ym",
        "v",
        F.row_number().over(wo).cast("long").alias("t"),
        F.count("*").over(wall).cast("long").alias("tn"),
        F.sum("v").over(wc).cast("long").alias("p1"),
        F.sum(F.col("v") * F.col("v")).over(wc).cast("long").alias("q1"),
        F.sum("v").over(wall).cast("long").alias("pt"),
        F.sum(F.col("v") * F.col("v")).over(wall).cast("long").alias("qt"),
    )
    sse = F.round(
        F.col("q1").cast("double")
        - F.col("p1").cast("double") * F.col("p1").cast("double")
        / F.col("t").cast("double")
        + (F.col("qt") - F.col("q1")).cast("double")
        - (F.col("pt") - F.col("p1")).cast("double")
        * (F.col("pt") - F.col("p1")).cast("double")
        / (F.col("tn") - F.col("t")).cast("double"),
        6,
    )
    cand = idx.filter(
        (F.col("t") >= _CP_MIN_SEG) & (F.col("t") <= F.col("tn") - _CP_MIN_SEG)
    ).select(F.col("ym").alias("change_ym"), F.col("t").alias("split_t"), sse.alias("best_sse"))
    return cand.orderBy("best_sse", "change_ym").limit(1)
