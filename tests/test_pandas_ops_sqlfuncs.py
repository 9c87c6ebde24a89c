"""Python UDTF and SQL-defined functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from inferdb_spark.functions.sqlfuncs import register_sql_functions
from inferdb_spark.operators.pandas_ops import register_udtfs


def test_udtf_key_prefixes(spark):
    register_udtfs(spark)
    spark.createDataFrame(
        [("3.1.4",), ("7",), (None,)], "key string"
    ).createOrReplaceTempView("keys_t")
    rows = sorted(
        (r["key"], r["prefix_len"], r["prefix"])
        for r in spark.sql(
            "SELECT key, p.* FROM keys_t, LATERAL key_prefixes(key) p"
        ).collect()
    )
    assert rows == [
        ("3.1.4", 1, "3"),
        ("3.1.4", 2, "3.1"),
        ("3.1.4", 3, "3.1.4"),
        ("7", 1, "7"),
    ]


def test_sql_defined_functions_match_column_exprs(spark):
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.functions.math_fns import crazy_exp, sigmoid

    register_sql_functions(spark)
    df = spark.createDataFrame(
        [(-5.0, "a"), (0.0, "bc"), (3.5, "def"), (800.0, "x")], "x double, s string"
    )
    df.createOrReplaceTempView("sqlfn_t")
    got = spark.sql(
        "SELECT round(sigmoid(x), 9) AS sg, round(crazy_exp(x), 6) AS ce,"
        " relu(x) AS rl, h52(s) AS h FROM sqlfn_t ORDER BY x"
    ).collect()
    want = (
        df.select(
            F.round(sigmoid("x"), 9).alias("sg"),
            F.round(crazy_exp("x"), 6).alias("ce"),
            F.greatest(F.lit(0.0), F.col("x")).alias("rl"),
            h52(F.col("s")).alias("h"),
        )
        .orderBy("x")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sql_defined_functions_inline_into_codegen(spark):
    register_sql_functions(spark)
    plan = (
        spark.sql("SELECT sigmoid(CAST(id AS DOUBLE)) FROM range(10)")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # inlined expression (codegen'd Project shows the raw formula), not a
    # BatchEvalPython / ArrowEvalPython node
    assert "Python" not in plan
    assert "*(1) Project" in plan and "EXP(" in plan
