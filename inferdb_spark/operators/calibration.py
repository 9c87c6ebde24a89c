"""Isotonic regression / calibration as a relational operator.

The reference ships calibration-free scores; its metrics SQL
(sql_scripts/lr_class_test.sql) stops at confusion counts.  Production
scoring pipelines calibrate, so this extension implements exact isotonic
regression (PAVA solution) RELATIONALLY, with no sequential driver loop:

    iso[i] = max_{j<=i} min_{k>=i}  mean(y over pooled bins j..k)

— the minimax characterization of the L2 projection onto the monotone
cone (Robertson/Wright/Dykstra, "Order Restricted Statistical
Inference", §1.4; equals PAVA's output exactly).  Over B score bins the
triple (j, i, k) join is B^3 rows of TINY aggregated data (B<=~100 after
pre-binning), independent of table size: the big table is touched once by
the pre-aggregation groupBy.  That is the correct 100 TB split — the
sequential-looking PAVA pass happens on the bin relation, not the data.

Weighted: pass n_col as the per-bin weight (count) and s_col the weighted
target sum.

Companion: operators/calibrate.py fits the SAME model with a driver-side
stack PAV over the bin summary (exact-integer arithmetic, full-fit SQL
replay oracle) — see its module docstring for the side-by-side
unification table; the two fits are value-identical (unique projection),
cross-checked by tests/test_calibration.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def isotonic_fit(
    bins: DataFrame,
    bin_col: str = "bin",
    n_col: str = "n",
    s_col: str = "s",
    ascending: bool = True,
) -> DataFrame:
    """Exact isotonic fit over pre-aggregated (bin, n, s) rows.

    Returns (bin_col, n, rate, iso_rate) with iso_rate non-decreasing in
    bin order (non-increasing when ascending=False — implemented by
    negating the bin order, not the values).
    """
    order = F.col(bin_col) if ascending else -F.col(bin_col)
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        F.col(bin_col).alias("b"),
        F.col(n_col).cast("double").alias("n"),
        F.col(s_col).cast("double").alias("s"),
        (F.sum(F.col(n_col)).over(w) - F.col(n_col)).cast("double").alias("cn0"),
        (F.sum(F.col(s_col)).over(w) - F.col(s_col)).cast("double").alias("cs0"),
        F.sum(F.col(n_col)).over(w).cast("double").alias("cn1"),
        F.sum(F.col(s_col)).over(w).cast("double").alias("cs1"),
    )
    lo = pref.select(
        F.col("b").alias("j"), F.col("cn0").alias("jn0"), F.col("cs0").alias("js0")
    )
    hi = pref.select(
        F.col("b").alias("k"), F.col("cn1").alias("kn1"), F.col("cs1").alias("ks1")
    )
    mid = pref.select("b", "n", "s")
    cmp_le = (lambda a, c: a <= c) if ascending else (lambda a, c: a >= c)
    # j <= i <= k triples over the tiny bin relation (B^3 rows)
    tri = (
        mid.join(lo, cmp_le(F.col("j"), F.col("b")))
        .join(hi, cmp_le(F.col("b"), F.col("k")))
        .withColumn(
            "pool_avg",
            (F.col("ks1") - F.col("js0")) / (F.col("kn1") - F.col("jn0")),
        )
    )
    inner = tri.groupBy("b", "n", "s", "j").agg(F.min("pool_avg").alias("min_k"))
    iso = inner.groupBy("b", "n", "s").agg(F.max("min_k").alias("iso_rate"))
    return iso.select(
        F.col("b").alias(bin_col),
        F.col("n"),
        (F.col("s") / F.col("n")).alias("rate"),
        "iso_rate",
    )
