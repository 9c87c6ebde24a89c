"""Round-11 gate queries, batch c.

Sparse-regression and survey-weighting trainers, replayed exactly:

- lasso_cd_replay    — L1-penalized regression via coordinate descent
                       (4 full cycles of soft-threshold updates from
                       exact Gram moments; the feature-selection
                       trainer the ridge/OLS family lacks)
- raking_ipf_weights — iterative proportional fitting (3 rounds of
                       row/column scaling) raking the customer
                       (nation x segment) table to uniform margins —
                       the classic survey/mixture reweighting operator
                       (for an LLM pipeline: hitting a target
                       source-mix composition with minimal distortion)

Determinism: both fits quantize their state to micro BIGINTs after
EVERY update step, so the full iteration replays bit-identically as a
MATERIALIZED-CTE chain in DuckDB; Gram moments and cell counts are
exact BIGINTs; every denominator is nullif-guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Lasso via coordinate descent on exact Gram moments
# ---------------------------------------------------------------------------

_LCD_CYCLES = 4

# lam: a moment-relative penalty (shared closed form, so both engines
# compute the identical number at any SF — the ridge-gate _RR_LAM rule)
_LCD_LAM = "(0.1 * least(abs(CAST(c1y AS DOUBLE)), abs(CAST(c2y AS DOUBLE))))"


def _lcd_soft(z: str, lam: str) -> str:
    """soft-threshold S(z, lam) = sign(z) * max(|z| - lam, 0)."""
    return f"(sign({z}) * greatest(abs({z}) - {lam}, 0.0))"


def _lcd_z1(b2_m: str) -> str:
    return (
        f"(CAST(c1y AS DOUBLE) - CAST(c12 AS DOUBLE)"
        f" * CAST({b2_m} AS DOUBLE) / 1000000.0)"
    )


def _lcd_z2(b1_m: str) -> str:
    return (
        f"(CAST(c2y AS DOUBLE) - CAST(c12 AS DOUBLE)"
        f" * CAST({b1_m} AS DOUBLE) / 1000000.0)"
    )


def _lcd_b(z: str) -> str:
    """micro-quantized coefficient update S(z, lam)/q — q1/q2 filled by
    the caller via format."""
    return (
        f"CAST(round(1000000.0 * {_lcd_soft(z, _LCD_LAM)}"
        f" / nullif(CAST({{q}} AS DOUBLE), 0.0)) AS BIGINT)"
    )


_LCD_OUT = [
    "n",
    f"CAST(round({_LCD_LAM} / 1000000.0, 6) AS DOUBLE) AS lam_m6",
    "CAST(round(CAST(b1_m AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS b1_lasso6",
    "CAST(round(CAST(b2_m AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS b2_lasso6",
    "CAST(CASE WHEN b1_m <> 0 THEN 1 ELSE 0 END AS BIGINT) AS b1_active",
    "CAST(CASE WHEN b2_m <> 0 THEN 1 ELSE 0 END AS BIGINT) AS b2_active",
]


def _lcd_rounds_sql() -> str:
    """The unrolled CD chain: b0 = (0,0); each cycle updates b1 then b2
    from the CURRENT partner value, micro-quantized — MATERIALIZED so
    DuckDB cannot re-expand the upstream chain combinatorially."""
    ctes = ["b0 AS MATERIALIZED (SELECT mom.*, CAST(0 AS BIGINT) AS b1_m,"
            " CAST(0 AS BIGINT) AS b2_m FROM mom)"]
    for r in range(_LCD_CYCLES):
        h = _lcd_b(_lcd_z1("b2_m")).format(q="q1")
        ctes.append(
            f"h{r + 1} AS MATERIALIZED (SELECT * REPLACE ({h} AS b1_m)"
            f" FROM b{r})"
        )
        b = _lcd_b(_lcd_z2("b1_m")).format(q="q2")
        ctes.append(
            f"b{r + 1} AS MATERIALIZED (SELECT * REPLACE ({b} AS b2_m)"
            f" FROM h{r + 1})"
        )
    return ",\n    ".join(ctes)


@gate(
    "lasso_cd_replay",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_tax * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1 * x1) AS BIGINT) AS q1,
             CAST(sum(x2 * x2) AS BIGINT) AS q2,
             CAST(sum(x1 * x2) AS BIGINT) AS c12,
             CAST(sum(x1 * y) AS BIGINT) AS c1y,
             CAST(sum(x2 * y) AS BIGINT) AS c2y
      FROM base
    ),
    {_lcd_rounds_sql()}
    SELECT {", ".join(_LCD_OUT)} FROM b{_LCD_CYCLES}
    """,
)
def q_lasso_cd_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-intercept lasso over (quantity, tax) -> price, fitted with
    {_LCD_CYCLES} full coordinate-descent cycles: b_k <- S(c_ky -
    c_12 b_other, lam) / q_k with the soft-threshold S and a
    moment-relative lam — the L1 feature-selection trainer beside
    gate:ridge_regression_gram's closed form (lasso has no closed form;
    CD is how glmnet fits it, and each update touches only Gram
    moments, never rows).

    Exactness: the six Gram moments are exact BIGINT sums in ONE pass;
    every half-step re-quantizes its coefficient to micro, so the
    oracle replays the identical {2 * _LCD_CYCLES}-step chain as
    MATERIALIZED CTEs.  Scale: the fit is O(cycles) driver-free
    arithmetic over a 1-row relation; only the moment pass reads
    data."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_tax") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("q2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("c12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("c1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("c2y"),
    )
    cur = mom.selectExpr(
        "*", "CAST(0 AS BIGINT) AS b1_m", "CAST(0 AS BIGINT) AS b2_m"
    )
    # the state is ONE row — selectExpr chains keep the whole unrolled
    # fit in a single projection over the single moment aggregation
    for _ in range(_LCD_CYCLES):
        h = _lcd_b(_lcd_z1("b2_m")).format(q="q1")
        cur = cur.selectExpr("n", "q1", "q2", "c12", "c1y", "c2y",
                             f"{h} AS b1_m", "b2_m")
        b = _lcd_b(_lcd_z2("b1_m")).format(q="q2")
        cur = cur.selectExpr("n", "q1", "q2", "c12", "c1y", "c2y",
                             "b1_m", f"{b} AS b2_m")
    return cur.selectExpr(*_LCD_OUT)


# ---------------------------------------------------------------------------
# Raking (iterative proportional fitting) to uniform margins
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 3


def _ipf_rounds_sql() -> str:
    """3 IPF rounds; each = a row (nation) scaling then a column
    (segment) scaling, weights micro-quantized per step."""
    ctes = [
        "w0 AS MATERIALIZED (SELECT nat, seg, c,"
        " CAST(c * 1000000 AS BIGINT) AS w_m FROM cells)"
    ]
    for r in range(_IPF_ROUNDS):
        ctes.append(
            f"""rs{r} AS (
      SELECT nat, CAST(sum(w_m) AS BIGINT) AS rsum FROM w{r} GROUP BY nat
    ),
    wr{r} AS MATERIALIZED (
      SELECT w.nat, w.seg, w.c,
             CAST(round(CAST(w.w_m AS DOUBLE) * tgt.row_t
                  / nullif(CAST(rs{r}.rsum AS DOUBLE) / 1000000.0, 0.0))
                  AS BIGINT) AS w_m
      FROM w{r} w JOIN rs{r} ON w.nat = rs{r}.nat CROSS JOIN tgt
    ),
    cs{r} AS (
      SELECT seg, CAST(sum(w_m) AS BIGINT) AS csum FROM wr{r} GROUP BY seg
    ),
    w{r + 1} AS MATERIALIZED (
      SELECT w.nat, w.seg, w.c,
             CAST(round(CAST(w.w_m AS DOUBLE) * tgt.col_t
                  / nullif(CAST(cs{r}.csum AS DOUBLE) / 1000000.0, 0.0))
                  AS BIGINT) AS w_m
      FROM wr{r} w JOIN cs{r} ON w.seg = cs{r}.seg CROSS JOIN tgt
    )"""
        )
    return ",\n    ".join(ctes)


_IPF_OUT = [
    "nat",
    "seg",
    "c",
    "CAST(round(CAST(w_m AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS weight6",
]


@gate(
    "raking_ipf_weights",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS c
      FROM customer GROUP BY nat, seg
    ),
    dims AS (
      SELECT CAST(count(DISTINCT nat) AS DOUBLE) AS n_nat,
             CAST(count(DISTINCT seg) AS DOUBLE) AS n_seg,
             CAST(sum(c) AS DOUBLE) AS total
      FROM cells
    ),
    tgt AS (
      SELECT total / n_nat AS row_t, total / n_seg AS col_t FROM dims
    ),
    {_ipf_rounds_sql()}
    SELECT {", ".join(_IPF_OUT)} FROM w{_IPF_ROUNDS}
    ORDER BY nat, seg
    """,
)
def q_raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rake the customer (nation x segment) contingency table to
    UNIFORM nation and segment margins with {_IPF_ROUNDS} rounds of
    iterative proportional fitting — the survey-weighting operator
    (Deming-Stephan 1940), and for a training-data pipeline the
    minimal-distortion reweighting that hits a target source-mix
    composition (gate:temperature_mixing resamples; raking reweights).

    Exactness: cell counts are exact; each row/column scaling
    re-quantizes every cell weight to micro BIGINT, so margin sums stay
    exact BIGINTs and the oracle replays the identical
    {2 * _IPF_ROUNDS}-scaling chain as MATERIALIZED CTEs.  Scale: one
    groupBy over the scan; the IPF loop runs on the 125-cell domain
    (margins are domain-bounded aggregations, never row scans)."""
    from inferdb_spark.scale import rotate_local_checkpoint

    cu = load_table(spark, sf_dir, "customer")
    cells = (
        cu.groupBy(
            F.col("c_nationkey").cast("long").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    dims = cells.agg(
        F.countDistinct("nat").cast("double").alias("n_nat"),
        F.countDistinct("seg").cast("double").alias("n_seg"),
        F.sum("c").cast("double").alias("total"),
    )
    tgt = dims.selectExpr(
        "total / n_nat AS row_t", "total / n_seg AS col_t"
    )
    w = cells.selectExpr("nat", "seg", "c",
                         "CAST(c * 1000000 AS BIGINT) AS w_m")
    last_ckpt = None
    for _ in range(_IPF_ROUNDS):
        # cells enter each scaling twice (margin agg + join) — cut the
        # lineage per round or the plan doubles 6 times over
        rs = w.groupBy("nat").agg(F.sum("w_m").cast("long").alias("rsum"))
        w = (
            w.join(rs, "nat")
            .crossJoin(F.broadcast(tgt))
            .selectExpr(
                "nat", "seg", "c",
                "CAST(round(CAST(w_m AS DOUBLE) * row_t"
                " / nullif(CAST(rsum AS DOUBLE) / 1000000.0, 0.0))"
                " AS BIGINT) AS w_m",
            )
        )
        cs = w.groupBy("seg").agg(F.sum("w_m").cast("long").alias("csum"))
        w = rotate_local_checkpoint(
            w.join(cs, "seg")
            .crossJoin(F.broadcast(tgt))
            .selectExpr(
                "nat", "seg", "c",
                "CAST(round(CAST(w_m AS DOUBLE) * col_t"
                " / nullif(CAST(csum AS DOUBLE) / 1000000.0, 0.0))"
                " AS BIGINT) AS w_m",
            ),
            last_ckpt,
        )
        last_ckpt = w
    return w.selectExpr(*_IPF_OUT).orderBy("nat", "seg")
