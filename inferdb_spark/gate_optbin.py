"""Round-3 gates: the distributed halves of optimal binning's new
variants (multi-class, categorical, IQR-range prefilter — reference
/root/reference/src/encoder.py:38-97).

The DP segmentation itself is driver-side over <= pre_bins aggregate rows
(pytest-pinned against brute-force enumeration in
tests/test_binning_quality.py); these gates pin the relational
sufficient-statistics collection that feeds it — the part that touches
the full table and must scale.  Shared-literal rule: bin edges and
cutoffs are Python constants formatted into BOTH dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.operators.binning import BinSpec

# fixed literal pre-bin edges for the multiclass stats gate (BinSpec maps
# x <= 10 -> 0, 10 < x <= 20 -> 1, ... via strict `>` counting)
MC_EDGES = [10.0, 20.0, 30.0, 40.0]
CAT_CUTOFF = 0.05
CAT_PRICE_SPLIT = 1400.0

_MC_BIN_SQL = " + ".join(
    f"CASE WHEN l_quantity > {e!r} THEN 1 ELSE 0 END" for e in MC_EDGES
)


@gate(
    "multiclass_prebin_stats",
    oracle=f"""
    SELECT CAST({_MC_BIN_SQL} AS INT) AS b,
           l_returnflag AS y,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY b, y
    """,
)
def q_multiclass_prebin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(prebin, class) counts — the ONE aggregation
    MulticlassOptimalBinning's fit ships through the shuffle
    (operators/binning._prebin_stats, the stack groupBy behind every
    numeric fit; reference fits MulticlassOptimalBinning at
    src/encoder.py:49-55).  Output is <= pre_bins x n_classes rows
    whatever the table size."""
    from inferdb_spark.operators.binning import _prebin_stats

    li = load_table(spark, sf_dir, "lineitem")
    pre = BinSpec(column="l_quantity", kind="numeric", splits=MC_EDGES)
    return _prebin_stats(
        li, {0: pre.expr_sql()}, F.col("l_returnflag").cast("string"), [F.count("*").alias("n")], by_class=True
    ).select(
        F.col("b").cast("int").alias("b"),
        F.col("y"),
        F.col("n").cast("long").alias("n"),
    )


@gate(
    "optbin_categorical_stats",
    oracle=f"""
    WITH s AS (
      SELECT p_brand AS v,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN p_retailprice > {CAT_PRICE_SPLIT!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM part GROUP BY p_brand
    ), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM s)
    SELECT v, n, n_pos,
           CAST(CASE WHEN CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                          < {CAT_CUTOFF!r}
                THEN 1 ELSE 0 END AS INT) AS rare
    FROM s, t
    """,
)
def q_optbin_categorical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category support/event stats + cat_cutoff rare flag — the
    distributed half of categorical optimal binning
    (operators/optimal_binning.categorical_stats_relation; optbinning's
    'others' pooling, reference src/encoder.py:58-97 with
    cat_cutoff=0.05).  One groupBy + broadcast 1-row total."""
    from inferdb_spark.operators.optimal_binning import (
        categorical_stats_relation,
    )

    part = load_table(spark, sf_dir, "part")
    part = part.withColumn(
        "_event",
        F.when(F.col("p_retailprice") > F.lit(CAT_PRICE_SPLIT), 1.0).otherwise(0.0),
    )
    return categorical_stats_relation(part, "p_brand", "_event", CAT_CUTOFF)


@gate(
    "iqr_range_prefilter",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q3
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_c
    FROM lineitem, q
    WHERE l_quantity >= q1 - 1.5 * (q3 - q1)
      AND l_quantity <= q3 + 1.5 * (q3 - q1)
    """,
)
def q_iqr_range_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """optbinning outlier_detector='range' as a relation
    (operators/optimal_binning.iqr_range_filter; the reference passes it
    on every optbinning call, src/encoder.py:38-44): exact interpolated
    Q1/Q3 (same (n-1)*p rule as quantile_cont), then a pushed-down
    range predicate; integer-cents sum pins the surviving mass."""
    from inferdb_spark.operators.optimal_binning import iqr_range_filter

    li = load_table(spark, sf_dir, "lineitem")
    kept = iqr_range_filter(li, "l_quantity", 1.5)
    return kept.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_c"),
    )
