"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship learned-index pipeline (fit supervised
bins → IV-greedy feature selection → kv build with every prefix level →
scoring as one lookup into the index's filled table) on sf0.001.
`queries()`/`oracle_sql()` expose one named query per implemented operator
family (SURVEY.md §2) with DuckDB oracles — see inferdb_spark/gate.py for
the cross-engine determinism engineering.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# make the sibling package importable even if the driver imports this file
# from another working directory
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end learned-index regression on sf0.001 lineitem.

    Mirrors the reference's Standalone entry point (src/transpiler.py:
    2999-3115) through `api.fit_index_pipeline`: encode features with
    target-aware bins, select index features greedily by IV, build the kv
    index + prefix aggregates, score the held-out split, and return
    per-row predictions.
    """
    from inferdb_spark.api import fit_index_pipeline
    from inferdb_spark.catalog import load_table
    from inferdb_spark.session import ensure_session_conf

    ensure_session_conf(spark)
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li = li.withColumn(
        "row_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    ).withColumn("target", F.col("l_extendedprice"))
    train = li.filter(F.col("l_orderkey") % 5 != 0)
    test = li.filter(F.col("l_orderkey") % 5 == 0)

    features = ["l_quantity", "l_discount", "l_tax", "l_linenumber"]
    scored = fit_index_pipeline(
        train, features, "target", task="regression", max_bins=6
    ).score(test)
    return scored.select("row_id", "prediction", F.col("target").alias("actual"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from inferdb_spark import gate

    return gate.queries()


def oracle_sql() -> dict[str, str]:
    from inferdb_spark import gate

    return gate.oracle_sql()
