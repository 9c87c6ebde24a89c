"""Round-5 batch-3 gates: linear-SVM training replay, portable-register
HyperLogLog, Apriori association rules, autocorrelation, Poisson-bootstrap
confidence intervals, and retrieval ranking metrics (NDCG/MRR/MAP).

Reference anchors: the in-DB classifier-training family (PGML `pgml.train`
on 'classification', src/transpiler.py:2032-2101) for the SVM; the
exact-distinct accounting (src/optimizer.py:225-231) whose mergeable 100 TB
substitute is the register HLL; the class-frequency statistics
(src/encoder.py) whose market-basket sibling is Apriori support/confidence.
Everything follows the gate.py determinism cookbook: integer cross-multiply
support thresholds, integer micro-unit discounts, floor-snapped cents,
Python-literal transcendental constants shared by both engines, 6dp rounds
on every libm output, lowest-value tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.functions.vector import as_double_array, dot, l2_norm
from inferdb_spark.gate import gate
from inferdb_spark.operators import calibrate as CAL
from inferdb_spark.operators import logreg as LR
from inferdb_spark.operators import sketch as SK

# ---------------------------------------------------------------------------
# 1. linear-SVM training replay — hinge subgradient + L2 shrink, the
# transcendental-free sibling of logreg_train_replay.

SVM_FEATS = ["qn", "l_discount", "l_tax"]
SVM_FEAT_SQLS = ["l_quantity * CAST(0.02 AS DOUBLE)", "l_discount", "l_tax"]
SVM_LABEL_SQL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
SVM_LAM = 0.01
SVM_STEPS = 10
SVM_LR = 1.0
SVM_SCALE = 10_000


@gate(
    "svm_train_replay",
    oracle=LR.fit_predict_svm_sql(
        SVM_FEAT_SQLS,
        label_sql=SVM_LABEL_SQL,
        row_id_sql="l_orderkey * 10 + l_linenumber",
        lam=SVM_LAM,
        n_steps=SVM_STEPS,
        learning_rate=SVM_LR,
        scale=SVM_SCALE,
    ),
)
def q_svm_train_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native linear-SVM training (operators/logreg.fit_svm_gd): 10
    fixed-step full-batch subgradient rounds on hinge loss with L2-shrunk
    coefficients; per step one exact BIGINT aggregation (gradient values
    are exactly {-1e6, 0, +1e6}), so the entire fit is transcendental-free.
    The oracle replays the fit as a DuckDB CTE chain from the same
    literals and scores all 60k rows with the final hyperplane."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("qn", F.col("l_quantity") * F.lit(0.02))
        .withColumn("y", (F.col("l_returnflag") == "R").cast("long"))
    )
    model = LR.fit_svm_gd(
        li, SVM_FEATS, "y", lam=SVM_LAM, n_steps=SVM_STEPS,
        learning_rate=SVM_LR, scale=SVM_SCALE,
    )
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("row_id"),
        F.round(model.margin(), 6).cast("double").alias("margin6"),
        model.prediction().alias("pred"),
    )


# ---------------------------------------------------------------------------
# 2. portable-register HyperLogLog over l_partkey — registers as a plain
# relation (operators/sketch.py HLL block documents the layout).

HLL_P = 6
HLL_M = 1 << HLL_P
HLL_REM_BITS = 52 - HLL_P
_HLL_ALPHA_M2 = SK.hll_alpha(HLL_M) * HLL_M * HLL_M
_HLL_SCALE = float(1 << (HLL_REM_BITS + 1))

_HLL_ORACLE = f"""
WITH h AS (
  SELECT {duckdb_h52("CAST(l_partkey AS VARCHAR)")} AS h FROM lineitem
),
r AS (
  SELECT h % {HLL_M} AS bucket,
         CAST(floor(h / {float(HLL_M)!r}) AS BIGINT) AS rem
  FROM h
),
regs AS (
  SELECT bucket, MAX({SK.duckdb_hll_rho("rem", HLL_REM_BITS)}) AS rho
  FROM r GROUP BY bucket
),
dom AS (SELECT CAST(range AS BIGINT) AS bucket FROM range({HLL_M})),
full_r AS (
  SELECT dom.bucket, CAST(COALESCE(regs.rho, 0) AS BIGINT) AS rho
  FROM dom LEFT JOIN regs ON dom.bucket = regs.bucket
),
s AS (
  SELECT SUM((CAST(1 AS BIGINT) << CAST({HLL_REM_BITS + 1} - rho AS INT))) AS inv_scaled,
         SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v_zeros
  FROM full_r
),
e AS (
  SELECT CASE
    WHEN v_zeros > 0
         AND ({_HLL_ALPHA_M2!r} / (CAST(inv_scaled AS DOUBLE) / {_HLL_SCALE!r})) <= {2.5 * HLL_M!r}
    THEN round({float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST(v_zeros AS DOUBLE)), 6)
    ELSE round({_HLL_ALPHA_M2!r} / (CAST(inv_scaled AS DOUBLE) / {_HLL_SCALE!r}), 6)
  END AS est6
  FROM s
)
SELECT full_r.bucket, full_r.rho, CAST(e.est6 AS DOUBLE) AS est6
FROM full_r CROSS JOIN e
ORDER BY bucket
"""


@gate("hll_distinct_registers", oracle=_HLL_ORACLE)
def q_hll_distinct_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL over l_partkey: the full 64-register relation (the
    mergeable partial an engine would persist per shard) plus the
    linear-counting-corrected estimate it implies.  One shuffle with
    map-side-combined MAX; the estimate's harmonic sum is an exact BIGINT
    (bit shifts, no libm) — only the small-range ln is 6dp-snapped."""
    li = load_table(spark, sf_dir, "lineitem")
    regs = SK.hll_registers(li, F.col("l_partkey").cast("string"), p_bits=HLL_P)
    full = SK.hll_full_registers(regs, p_bits=HLL_P)
    est = SK.hll_estimate(full, p_bits=HLL_P)
    return full.crossJoin(F.broadcast(est.select("est6"))).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rho").cast("long").alias("rho"),
        F.col("est6"),
    )


# ---------------------------------------------------------------------------
# 3. Apriori association rules over order baskets of part brands —
# MADlib assoc_rules analog, support-pruned before the pair join.

APRIORI_ITEM_PCT = 5  # item support: >= 5% of baskets
APRIORI_PAIR_PCT = 2  # pair support: >= 2% of baskets

_APRIORI_ORACLE = f"""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM bi),
isup AS (SELECT item, CAST(count(*) AS BIGINT) AS icnt FROM bi GROUP BY item),
fitems AS (
  SELECT item, icnt FROM isup CROSS JOIN nb
  WHERE icnt * 100 >= {APRIORI_ITEM_PCT} * n
),
bif AS (SELECT basket, item FROM bi WHERE item IN (SELECT item FROM fitems)),
pairs AS (
  SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS pcnt
  FROM bif a JOIN bif b ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
),
fpairs AS (
  SELECT i1, i2, pcnt FROM pairs CROSS JOIN nb
  WHERE pcnt * 100 >= {APRIORI_PAIR_PCT} * n
),
directed AS (
  SELECT i1 AS ante, i2 AS cons, pcnt FROM fpairs
  UNION ALL
  SELECT i2 AS ante, i1 AS cons, pcnt FROM fpairs
)
SELECT d.ante, d.cons, d.pcnt AS pair_n,
  CAST(round(CAST(d.pcnt AS DOUBLE) / fa.icnt, 6) AS DOUBLE) AS conf6,
  CAST(round((CAST(d.pcnt AS DOUBLE) * CAST(nb.n AS DOUBLE))
             / (CAST(fa.icnt AS DOUBLE) * CAST(fc.icnt AS DOUBLE)), 6) AS DOUBLE) AS lift6
FROM directed d
JOIN fitems fa ON d.ante = fa.item
JOIN fitems fc ON d.cons = fc.item
CROSS JOIN nb
ORDER BY ante, cons
"""


@gate("assoc_rules_apriori", oracle=_APRIORI_ORACLE)
def q_assoc_rules_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair association rules (Apriori, MADlib assoc_rules
    analog): baskets = orders, items = part brands.  Support thresholds
    are RELATIVE (integer cross-multiply — no float ratio) so the gate is
    meaningful at every scale point; the Apriori property prunes the
    basket relation to frequent items (broadcast semi join) BEFORE the
    per-basket pair self-join, which is bounded by basket size — the
    standard linear-in-baskets shape, no all-pairs over items² · baskets.
    Confidence and lift are 6dp-rounded doubles from exact BIGINT counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bi = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    nbr = bi.agg(F.countDistinct("basket").cast("long").alias("n"))
    isup = bi.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("icnt"))
    fitems = isup.crossJoin(F.broadcast(nbr)).where(
        F.col("icnt") * 100 >= F.lit(APRIORI_ITEM_PCT) * F.col("n")
    ).select("item", "icnt")
    bif = bi.join(F.broadcast(fitems.select("item")), "item", "semi")
    a, b = bif.alias("a"), bif.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i1"), F.col("b.item").alias("i2"))
        .agg(F.count(F.lit(1)).cast("long").alias("pcnt"))
    )
    fpairs = pairs.crossJoin(F.broadcast(nbr)).where(
        F.col("pcnt") * 100 >= F.lit(APRIORI_PAIR_PCT) * F.col("n")
    )
    directed = fpairs.select(
        F.col("i1").alias("ante"), F.col("i2").alias("cons"), "pcnt"
    ).unionAll(
        fpairs.select(F.col("i2").alias("ante"), F.col("i1").alias("cons"), "pcnt")
    )
    fa = fitems.select(F.col("item").alias("ante"), F.col("icnt").alias("ca"))
    fc = fitems.select(F.col("item").alias("cons"), F.col("icnt").alias("cb"))
    return (
        directed.join(F.broadcast(fa), "ante")
        .join(F.broadcast(fc), "cons")
        .crossJoin(F.broadcast(nbr))
        .select(
            "ante",
            "cons",
            F.col("pcnt").alias("pair_n"),
            F.round(F.col("pcnt").cast("double") / F.col("ca"), 6)
            .cast("double")
            .alias("conf6"),
            F.round(
                (F.col("pcnt").cast("double") * F.col("n").cast("double"))
                / (F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            )
            .cast("double")
            .alias("lift6"),
        )
    )


# ---------------------------------------------------------------------------
# 4. sample autocorrelation (lags 1-3) of the daily event-value series per
# event_type — floor-centered so numerator/denominator are exact BIGINTs.

_ACF_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS xc
  FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
),
st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nd, SUM(xc) AS sx
  FROM daily GROUP BY event_type
),
cen AS (
  SELECT daily.event_type, daily.d,
         daily.xc - CAST(floor(CAST(st.sx AS DOUBLE) / st.nd) AS BIGINT) AS dv
  FROM daily JOIN st ON daily.event_type = st.event_type
),
lagd AS (
  SELECT event_type, dv,
         lead(dv, 1) OVER w AS v1,
         lead(dv, 2) OVER w AS v2,
         lead(dv, 3) OVER w AS v3
  FROM cen WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
agg AS (
  SELECT event_type, SUM(dv * dv) AS den,
         SUM(dv * v1) AS n1, SUM(dv * v2) AS n2, SUM(dv * v3) AS n3
  FROM lagd GROUP BY event_type
)
SELECT agg.event_type, st.nd,
  CAST(round(CAST(n1 AS DOUBLE) / den, 6) AS DOUBLE) AS acf1,
  CAST(round(CAST(n2 AS DOUBLE) / den, 6) AS DOUBLE) AS acf2,
  CAST(round(CAST(n3 AS DOUBLE) / den, 6) AS DOUBLE) AS acf3
FROM agg JOIN st ON agg.event_type = st.event_type
ORDER BY agg.event_type
"""


@gate("autocorrelation_acf", oracle=_ACF_ORACLE)
def q_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample ACF at lags 1-3 of each event type's daily value series.
    The series is centered on the FLOORED mean (an integer), so every
    residual, product, and sum is an exact BIGINT under any partitioning;
    the only float op is the final ratio (6dp).  Plan: one groupBy to the
    per-day relation, per-type windows over day counts (bounded partitions
    — at 100 TB the per-day relation is tiny relative to the raw events),
    one broadcast join for the centering stats.  BIGINT products are safe
    to ~1e9 daily cents × 1e5 days; DECIMAL(38,0) widening is the
    documented path beyond (CLAUDE.md cookbook)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("xc")
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("xc").cast("long").alias("sx"),
    )
    cen = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "d",
        "nd",
        (
            F.col("xc")
            - F.floor(F.col("sx").cast("double") / F.col("nd")).cast("long")
        ).alias("dv"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagd = cen.select(
        "event_type",
        "nd",
        "dv",
        F.lead("dv", 1).over(w).alias("v1"),
        F.lead("dv", 2).over(w).alias("v2"),
        F.lead("dv", 3).over(w).alias("v3"),
    )
    agg = lagd.groupBy("event_type", "nd").agg(
        F.sum(F.col("dv") * F.col("dv")).alias("den"),
        F.sum(F.col("dv") * F.col("v1")).alias("n1"),
        F.sum(F.col("dv") * F.col("v2")).alias("n2"),
        F.sum(F.col("dv") * F.col("v3")).alias("n3"),
    )
    return agg.select(
        "event_type",
        "nd",
        F.round(F.col("n1").cast("double") / F.col("den"), 6)
        .cast("double")
        .alias("acf1"),
        F.round(F.col("n2").cast("double") / F.col("den"), 6)
        .cast("double")
        .alias("acf2"),
        F.round(F.col("n3").cast("double") / F.col("den"), 6)
        .cast("double")
        .alias("acf3"),
    )


# ---------------------------------------------------------------------------
# 5. Poisson-bootstrap confidence interval for the mean order value —
# B=32 replicas in ONE pass (64 aggregate columns), no data blow-up.

BOOT_B = 32
# Poisson(1) CDF thresholds, computed ONCE in Python and embedded as
# identical literals on both engines (repr round-trips doubles exactly).
_POIS_CDF = [
    sum(math.exp(-1.0) / math.factorial(k) for k in range(j + 1)) for j in range(6)
]
_H52_SPACE_F = float(1 << 52)


def _boot_w_sql(b: int) -> str:
    key = "CAST(o_orderkey AS VARCHAR) || '|" + str(b) + "'"
    u = f"({duckdb_h52(key)} / {_H52_SPACE_F!r})"
    whens = " ".join(
        f"WHEN {u} < {t!r} THEN {j}" for j, t in enumerate(_POIS_CDF)
    )
    return f"CAST(CASE {whens} ELSE 6 END AS BIGINT)"


_BOOT_MEANS_SQL = ", ".join(
    f"round(CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE), 6)"
    for b in range(BOOT_B)
)
_BOOT_ORACLE = (
    "WITH base AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, "
    "o_orderkey FROM orders), "
    "s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(cents) AS sx, "
    + ", ".join(
        f"SUM({_boot_w_sql(b)} * cents) AS swx{b}, SUM({_boot_w_sql(b)}) AS sw{b}"
        for b in range(BOOT_B)
    )
    + " FROM base) "
    "SELECT n, CAST(round(CAST(sx AS DOUBLE) / n, 6) AS DOUBLE) AS point6, "
    f"CAST(list_sort([{_BOOT_MEANS_SQL}])[2] AS DOUBLE) AS lo6, "
    f"CAST(list_sort([{_BOOT_MEANS_SQL}])[{BOOT_B - 1}] AS DOUBLE) AS hi6 "
    "FROM s"
)


def _boot_w_sql_spark(b: int) -> str:
    """Replica-b Poisson weight as an assembled Spark-SQL string — the
    textual twin of the original Column-chain form (same CASE/md5/
    division tree, bit-identical values).  32 replicas built
    Column-by-Column cost ~1.8 s of py4j round trips per bench run; all
    32 strings now parse JVM-side in ONE selectExpr call (guide §1
    measure-first: construction, not execution, dominated this gate)."""
    from inferdb_spark.functions.hashing import spark_h52_sql

    key = f"concat(CAST(o_orderkey AS STRING), '|{b}')"
    u = f"({spark_h52_sql(key)} / {_H52_SPACE_F!r}D)"
    whens = " ".join(f"WHEN {u} < {t!r}D THEN {j}" for j, t in enumerate(_POIS_CDF))
    return f"CAST(CASE {whens} ELSE 6 END AS BIGINT)"


@gate("poisson_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap CI for the mean order value, the
    cluster-native bootstrap (resample weights are independent per row, so
    NO resample shuffle and NO B-fold data blow-up): each row's 32 replica
    weights come from the portable h52 hash through the Poisson inverse
    CDF (thresholds are Python literals shared with the oracle), and ALL
    replicas aggregate in ONE pass as 64 BIGINT sums.  The CI is the
    [2nd, 31st] order statistic of the 32 replica means (6dp) — sorting
    32 doubles driver-free via sort_array.  At 100 TB: still one scan, one
    combiner row per partition."""
    from inferdb_spark.scale import spread

    od = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "o_orderkey",
    )
    # The single-row-group parquet scans as ONE task, which would put all
    # 32 md5 trees per row on one core; spreading the 2-column base first
    # is a ~2 MB round-robin shuffle that buys cores-x parallelism for the
    # hash work (guide §2.2 via scale.spread; no-op once the scan itself
    # is multi-split).  Every aggregate below is an exact BIGINT sum, so
    # the layout cannot affect values (isolated A/B: exec 4.4 s -> 1.0 s).
    od = spread(od)
    # weights materialize ONCE per row in this projection: the previous
    # form repeated each replica's md5 tree inside both of its aggregate
    # children (sum(w*cents), sum(w)) — 64 md5 evaluations per row where
    # 32 suffice.  Identical values, half the hash work (guide §2.3:
    # project before the aggregate).  ONE selectExpr call parses all 32
    # replica expressions JVM-side (the per-replica F.expr form still
    # paid 32 py4j round trips of construction — guide §1, same textual
    # SQL so the parsed trees are identical).
    wod = od.selectExpr(
        "cents",
        *[f"{_boot_w_sql_spark(b)} AS w{b}" for b in range(BOOT_B)],
    )
    # the aggregate and order-statistic projections are textual twins of
    # the previous Column chains (~550 py4j construction calls between
    # them): one parse per agg column + ONE selectExpr for the final row
    aggs = [
        F.expr("CAST(count(1) AS BIGINT) AS n"),
        F.expr("sum(cents) AS sx"),
    ]
    for b in range(BOOT_B):
        aggs.append(F.expr(f"sum(w{b} * cents) AS swx{b}"))
        aggs.append(F.expr(f"sum(w{b}) AS sw{b}"))
    s = wod.agg(*aggs)
    means_sql = (
        "sort_array(array("
        + ", ".join(
            f"round(CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE), 6)"
            for b in range(BOOT_B)
        )
        + "))"
    )
    return s.selectExpr(
        "n",
        "CAST(round(CAST(sx AS DOUBLE) / n, 6) AS DOUBLE) AS point6",
        f"CAST(element_at({means_sql}, 2) AS DOUBLE) AS lo6",
        f"CAST(element_at({means_sql}, {BOOT_B - 1}) AS DOUBLE) AS hi6",
    )


# ---------------------------------------------------------------------------
# 6. retrieval ranking metrics — NDCG@10 / MRR / MAP@10 per query, with
# integer micro-unit discount tables so no float accumulates.

from inferdb_spark.operators.rank_metrics import RANK_K

assert RANK_K == 10  # oracle literals below are generated from this
EMB_DIM = 64
# micro-unit DCG discounts 1/log2(i+1), their prefix sums (for IDCG), and
# the 1/rank MRR literals — all computed once in Python, shared verbatim.
_DISC_MICRO = [
    int(math.floor(1_000_000.0 / math.log2(i + 1) + 0.5)) for i in range(1, RANK_K + 1)
]
_IDCG_CUM = [sum(_DISC_MICRO[: j + 1]) for j in range(RANK_K)]
_MRR_LIT = [round(1.0 / r, 6) for r in range(1, RANK_K + 1)]

_RANK_DISC_SQL = (
    "CASE rnk "
    + " ".join(f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_DISC_MICRO))
    + " END"
)
_RANK_IDCG_SQL = (
    "CASE LEAST(n_rel, 10) "
    + " ".join(f"WHEN {j + 1} THEN {c}" for j, c in enumerate(_IDCG_CUM))
    + " ELSE 0 END"
)
_RANK_MRR_SQL = (
    "CASE frank "
    + " ".join(f"WHEN {r + 1} THEN {m!r}" for r, m in enumerate(_MRR_LIT))
    + " ELSE 0.0 END"
)

_RANK_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nb AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM base
),
q AS (SELECT * FROM nb WHERE vec_id % 25 = 0),
c AS (SELECT * FROM nb WHERE vec_id % 25 <> 0),
p AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
         round(CASE WHEN q.nrm > 0 AND c.nrm > 0
               THEN list_sum(list_transform(generate_series(1, {EMB_DIM}),
                    i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm)
               ELSE 0.0 END, 6) AS cos6
  FROM q CROSS JOIN c
),
rr AS (SELECT qid, CAST(SUM(rel) AS BIGINT) AS n_rel FROM p GROUP BY qid),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, cid ASC) AS rnk
  FROM p
),
top AS (
  SELECT qid, cid, rel, rnk,
         SUM(rel) OVER (PARTITION BY qid ORDER BY rnk) AS cum
  FROM rk WHERE rnk <= {RANK_K}
),
m AS (
  SELECT qid,
         CAST(SUM(rel * ({_RANK_DISC_SQL})) AS BIGINT) AS dcg,
         MIN(CASE WHEN rel = 1 THEN rnk END) AS frank,
         CAST(SUM(CASE WHEN rel = 1
              THEN CAST(floor((1000000.0 * cum) / rnk) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS ap_num
  FROM top GROUP BY qid
)
SELECT rr.qid, rr.n_rel,
  CAST(CASE WHEN rr.n_rel = 0 THEN 0.0
       ELSE round(CAST(m.dcg AS DOUBLE) / ({_RANK_IDCG_SQL}), 6) END AS DOUBLE) AS ndcg6,
  CAST({_RANK_MRR_SQL} AS DOUBLE) AS mrr6,
  CAST(CASE WHEN rr.n_rel = 0 THEN 0.0
       ELSE round(CAST(m.ap_num AS DOUBLE)
                  / (CAST(LEAST(rr.n_rel, 10) AS DOUBLE) * 1000000.0), 6)
       END AS DOUBLE) AS ap6
FROM rr JOIN m ON rr.qid = m.qid
ORDER BY rr.qid
"""


@gate("ranking_eval_metrics", oracle=_RANK_ORACLE)
def q_ranking_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / MAP@10 per query for cosine retrieval over the
    embedding corpus (relevance = matching label) — the evaluation half of
    the ANN family, computed by the FACTORED metric relations
    (operators/rank_metrics.ranking_metrics) that the IVF-shortlisted
    corpus path (rank_metrics.ivf_shortlisted_eval) also feeds.
    Determinism: the (cos6 DESC, cid ASC) total order is identical on
    both engines; DCG uses an integer MICRO-UNIT discount table (Python
    literals), IDCG a prefix-sum literal CASE, MRR a 1/rank literal
    CASE, and AP exact integer precision terms — so the only float
    division per metric is the final 6dp ratio.  Exact evaluation is
    quadratic in queries x corpus BY CONSTRUCTION (sf1: 800 queries x
    19k candidates = 136 s), so the probe side carries the brute-force
    size guard — at corpus scale rank_metrics.ivf_shortlisted_eval
    generates the candidate lists with the IVF coarse quantizer and
    normalizes n_rel by a LINEAR label-count join (tested equal to this
    exact path at full probe width in tests/test_rank_metrics.py)."""
    from inferdb_spark.operators.rank_metrics import ranking_metrics, scored_pairs
    from inferdb_spark.scale import assert_small_side

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        as_double_array(F.col("embedding")).alias("v"),
    )
    nb = e.withColumn("nrm", l2_norm(F.col("v")))
    qs = assert_small_side(
        nb.where(F.col("vec_id") % 25 == 0),
        1000,
        "ranking_eval_metrics",
        "an IVF-shortlisted candidate stage feeding the same metric relations",
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cs = nb.where(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    p = scored_pairs(F.broadcast(qs), cs)
    rr = p.groupBy("qid").agg(F.sum("rel").cast("long").alias("n_rel"))
    return ranking_metrics(p, rr, k=RANK_K).select(
        "qid", "n_rel", "ndcg6", "mrr6", F.col("map6").alias("ap6")
    )

# ---------------------------------------------------------------------------
# 7. isotonic (PAV) probability calibration — full fit replayed as an
# unrolled leftmost-merge CTE chain (operators/calibrate.py).

ISO_BINS = 32
ISO_CENTS_SQL = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
ISO_LABEL_SQL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"


@gate(
    "isotonic_pav_replay",
    oracle=CAL.pav_oracle_sql(ISO_CENTS_SQL, ISO_LABEL_SQL, ISO_BINS),
)
def q_isotonic_pav_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of P(returnflag='R') against the price score
    (operators/calibrate.py): 32 fixed integer score bins (one map-side
    groupBy — the only data-sized work), PAV on the 32-row summary with
    exact BIGINT cross-multiply pooling, fitted step function joined back
    broadcast.  The oracle replays the ENTIRE fit: bin counts, then 31
    unrolled leftmost-violator merge rounds — the trainer-replay standard
    applied to calibration."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    y = (F.col("l_returnflag") == "R").cast("long")
    mm = li.agg(
        F.min(cents).alias("mn"), F.max(cents).alias("mx")
    ).collect()[0]
    bins = CAL.bin_counts(li, cents, y, ISO_BINS, int(mm["mn"]), int(mm["mx"]))
    fitted = CAL.fit_isotonic(bins)
    return fitted.select(
        "bin",
        "n_b",
        "y_b",
        F.round(F.col("block_y").cast("double") / F.col("block_n"), 6)
        .cast("double")
        .alias("calib6"),
    )


# ---------------------------------------------------------------------------
# 8. grid-blocked DBSCAN over label-shifted embedding blobs — density
# clustering with noise, composed from cell-join + connected components
# (operators/dbscan.py).

DBSCAN_EPS_Q = 30  # cents
DBSCAN_MIN_PTS = 4

_DBSCAN_PTS_SQL = """
  SELECT vec_id,
    CAST(floor((CAST(embedding[1] AS DOUBLE) + (1.5 * (CAST(label AS BIGINT) % 5)))
               * 100.0 + 0.5) AS BIGINT) AS px,
    CAST(floor((CAST(embedding[2] AS DOUBLE)
               + (1.5 * CAST(floor(CAST(label AS DOUBLE) / 5) AS BIGINT)))
               * 100.0 + 0.5) AS BIGINT) AS py
  FROM embeddings
"""

_DBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS ({_DBSCAN_PTS_SQL}),
pairs AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi
  FROM pts a JOIN pts b
    ON (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
       <= {DBSCAN_EPS_Q * DBSCAN_EPS_Q}
),
deg AS (SELECT ai, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY ai),
core AS (SELECT ai FROM deg WHERE c >= {DBSCAN_MIN_PTS}),
eedges AS (
  SELECT p.ai AS src, p.bi AS dst FROM pairs p
  WHERE p.ai IN (SELECT ai FROM core) AND p.bi IN (SELECT ai FROM core)
),
labels(node, lbl) AS (
  SELECT ai, ai FROM core
  UNION
  SELECT e.dst, l.lbl FROM labels l JOIN eedges e ON e.src = l.node
),
comp AS (SELECT node, CAST(min(lbl) AS BIGINT) AS cluster FROM labels GROUP BY node),
border AS (
  SELECT p.ai AS node, CAST(min(c2.cluster) AS BIGINT) AS cluster
  FROM pairs p JOIN comp c2 ON p.bi = c2.node
  WHERE p.ai NOT IN (SELECT ai FROM core)
  GROUP BY p.ai
)
SELECT pts.vec_id,
  CAST(CASE WHEN pts.vec_id IN (SELECT ai FROM core) THEN 1 ELSE 0 END AS BIGINT)
    AS is_core,
  CAST(COALESCE(comp.cluster, border.cluster, -1) AS BIGINT) AS cluster
FROM pts
LEFT JOIN comp ON pts.vec_id = comp.node
LEFT JOIN border ON pts.vec_id = border.node
ORDER BY pts.vec_id
"""


@gate("dbscan_grid", oracle=_DBSCAN_ORACLE)
def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps=30 cents, minPts=4) over 10 well-separated gaussian
    blobs derived from the embeddings (first two dims shifted onto a 5x2
    label grid — the entity_resolution deterministic-derived-input
    pattern).  Candidate pairs come from a 3x3 cell EQUI-join (never
    all-pairs); core test, core-core connected components, and lowest-
    label border adoption are exact integer relations.  The oracle
    replays the chain with a recursive-CTE min-label fixpoint — which is
    quadratic in clique size (every node accumulates every reachable
    label), so the ORACLE is gate-scale-only; the Spark side's
    path-halving CC runs sf1 (20k points, ~22M eps-pairs) in 47 s and is
    the form that scales."""
    from inferdb_spark.operators.dbscan import dbscan

    e = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    px = F.floor(
        (F.element_at(v, 1) + F.lit(1.5) * (F.col("label").cast("long") % 5))
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    py = F.floor(
        (
            F.element_at(v, 2)
            + F.lit(1.5)
            * F.floor(F.col("label").cast("double") / F.lit(5.0)).cast("long")
        )
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    pts = e.select(
        F.col("vec_id").alias("pid"), px.alias("px"), py.alias("py")
    )
    out = dbscan(pts, eps_q=DBSCAN_EPS_Q, min_pts=DBSCAN_MIN_PTS, id_col="pid")
    return out.select(
        F.col("pid").alias("vec_id"), "is_core", "cluster"
    )
