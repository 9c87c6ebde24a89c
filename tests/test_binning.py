import math
import random

import pytest
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.operators.binning import (
    BinSpec,
    apply_bins,
    fit_categorical_bins,
    fit_quantile_bins,
    fit_supervised_bins,
    key_expr,
)


def test_numeric_binspec_semantics(spark):
    df = spark.createDataFrame([(x,) for x in [-5.0, 0.0, 10.0, 10.5, 25.0, 99.0]], "x double")
    spec = BinSpec(column="x", splits=[0.0, 10.0, 20.0])
    got = [r[0] for r in df.select(spec.expr()).collect()]
    # bin = #{s : x > s}: -5->0, 0->0 (not >0), 10->1, 10.5->2, 25->3, 99->3
    assert got == [0, 0, 1, 2, 3, 3]
    assert spec.n_bins == 4


def test_numeric_binspec_nulls(spark):
    df = spark.createDataFrame([(None,), (5.0,)], "x double")
    spec = BinSpec(column="x", splits=[1.0], null_bin=0)
    assert [r[0] for r in df.select(spec.expr()).collect()] == [0, 1]


def test_expr_sql_quotes_names_and_keeps_split_literals_exact(spark):
    """Odd column names, exponent and infinite splits: the SQL text must
    bin exactly as #{s : x > s} over the same doubles."""
    splits = [-2.5e-07, 0.1 + 0.2, 1e16, float("inf")]
    xs = [None, -1e-7, -2.5e-07, 0.3, 0.30000000000000004, 1e16, 1.0000000000000002e16, float("inf")]
    df = spark.createDataFrame([(x,) for x in xs], "`a b``c` double")
    spec = BinSpec(column="a b`c", splits=splits, null_bin=2)
    got = [r[0] for r in df.select(spec.expr()).collect()]
    assert got == [2 if x is None else sum(x > s for s in splits) for x in xs]
    assert dict(df.select(spec.expr().alias("b")).dtypes)["b"] == "int"


def test_categorical_binspec_unseen_goes_to_extra_bin(spark):
    df = spark.createDataFrame([("a",), ("b",), ("zz",), (None,)], "c string")
    spec = BinSpec(column="c", kind="categorical", groups=[["a"], ["b", "x"]])
    got = [r[0] for r in df.select(spec.expr()).collect()]
    assert got == [0, 1, 2, 0]  # unseen 'zz' -> extra bin 2 (src/encoder.py:123-126)


def test_fit_quantile_bins(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = fit_quantile_bins(li, "l_extendedprice", 4)
    assert 1 <= len(q.splits) <= 3
    mx = apply_bins(li, [q]).agg(
        F.max("l_extendedprice_bin"), F.min("l_extendedprice_bin")
    ).first()
    assert mx[0] <= len(q.splits) and mx[1] >= 0


def test_fit_supervised_bins_monotone_target(spark):
    # y strongly depends on x: supervised bins should separate low/high x
    rows = [(float(i), 0.0 if i < 500 else 100.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "x double, y double")
    (spec,) = fit_supervised_bins(df, ["x"], "y", max_bins=4, pre_bins=16)
    assert 1 <= len(spec.splits) <= 3
    # some split must separate the two regimes near 500
    assert any(400 <= s <= 600 for s in spec.splits)


def test_fit_categorical_bins_orders_by_target(spark):
    rows = [("lo", 0.0)] * 50 + [("mid", 5.0)] * 50 + [("hi", 10.0)] * 50
    df = spark.createDataFrame(rows, "c string, y double")
    spec = fit_categorical_bins(df, "c", "y", max_groups=3)
    assert spec.kind == "categorical"
    flat = [v for g in spec.groups for v in g]
    assert set(flat) == {"lo", "mid", "hi"}
    # groups contiguous in target order
    assert spec.groups[0] == ["lo"]


def test_fit_categorical_bins_sorts_as_spark_does(spark):
    """The driver sort keeps Spark's ascending (mean, value) order: a NULL
    mean (all-NULL target) first, NaN last, a NULL category first among
    equal means, strings by code point."""
    nan = float("nan")
    rows = (
        [("b", 1.0), ("a", 1.0), (None, 1.0), ("Z", 0.5), ("é", 0.5), ("e", 0.5)]
        + [("nul", None), ("nan", nan), ("-z", -0.0), ("+z", 0.0), ("lo", -2.0)]
    ) * 3
    df = spark.createDataFrame(rows, "c string, y double")
    spark_order = [
        r.v
        for r in df.groupBy(F.col("c").cast("string").alias("v"))
        .agg(F.count("*").alias("n"), F.avg(F.col("y").cast("double")).alias("m"))
        .orderBy("m", "v")
        .collect()
    ]
    spec = fit_categorical_bins(df, "c", "y", max_groups=len(spark_order))
    assert [v for g in spec.groups for v in g] == spark_order
    assert spark_order[0] == "nul" and spark_order[-1] == "nan"
    groups = fit_categorical_bins(df, "c", "y", max_groups=4).groups
    assert len(groups) == 4 and [v for g in groups for v in g] == spark_order


def test_fit_categorical_bins_job_count(spark, job_count):
    """One groupBy and a collect: 2 jobs, no sort job."""
    rows = [(f"c{i % 37}", float(i % 5)) for i in range(2000)]
    df = spark.createDataFrame(rows, "c string, y double").cache()
    df.count()
    try:
        assert job_count(lambda: fit_categorical_bins(df, "c", "y")) == 2
    finally:
        df.unpersist()


def test_key_expr_format(spark):
    df = spark.createDataFrame([(1.0, 30.0)], "a double, b double")
    specs = [BinSpec(column="a", splits=[0.5]), BinSpec(column="b", splits=[10.0, 20.0])]
    out = apply_bins(df, specs).select(key_expr(specs).alias("key")).first()
    assert out.key == "1.2"


def test_wide_schema_binning_784_columns(spark):
    """SURVEY §7 known-hard 3: MNIST-width tables (784 features) must
    translate without blowing whole-stage-codegen's 64KB method limit
    (Spark falls back to interpreted eval per-expression if codegen
    overflows); every bin id must equal #{s : x > s}."""
    n_cols = 784
    cols = [f"f_{i}" for i in range(n_cols)]
    df = spark.range(0, 50).select(
        "id", *[((F.col("id") * (i + 3)) % 97).cast("double").alias(c) for i, c in enumerate(cols)]
    )
    splits = [20.0, 40.0, 60.0, 80.0]
    specs = [BinSpec(column=c, splits=splits) for c in cols]
    got = sorted(
        map(tuple, apply_bins(df, specs).select("id", *[c + "_bin" for c in cols]).collect())
    )
    want = [
        (i, *[sum(float((i * (j + 3)) % 97) > s for s in splits) for j in range(n_cols)])
        for i in range(50)
    ]
    assert got == want


def _null_frame(spark):
    # `a` is 40% NULL, and its NULL rows carry target 1
    rows = []
    for i in range(1000):
        a = float(i % 100) if i % 5 >= 2 else None
        b = float((i * 37) % 1000)
        rows.append((a, b, 1.0 if a is None or a >= 50 else 0.0))
    return spark.createDataFrame(rows, "a double, b double, y double")


def test_fit_supervised_bins_list_ignores_nulls_per_column(spark):
    df = _null_frame(spark)
    a, b = fit_supervised_bins(df, ["a", "b"], "y", max_bins=8, pre_bins=8)
    (b_alone,) = fit_supervised_bins(df, ["b"], "y", max_bins=8, pre_bins=8)
    assert b.splits == b_alone.splits
    # no merge at max_bins == pre_bins: the splits are a's own pre-bins
    assert a.splits == fit_quantile_bins(df, "a", 8).splits
    assert len(a.splits) == 7


def test_fit_supervised_bins_counts_null_rows_in_null_bin(spark):
    df = _null_frame(spark)
    pre = fit_quantile_bins(df, "a", 4).splits
    a, _ = fit_supervised_bins(df, ["a", "b"], "y", max_bins=3, pre_bins=4)
    # the NULL rows (target 1) lift pre-bin 0's mean, so the two pure-1
    # upper pre-bins merge first; without them the two pure-0 lower ones do
    assert a.splits == pre[:2]
    (a_non_null,) = fit_supervised_bins(df.where("a IS NOT NULL"), ["a"], "y", max_bins=3, pre_bins=4)
    assert a_non_null.splits == pre[1:]


@pytest.mark.parametrize("n_cols", [1, 2, 4])
def test_fit_supervised_bins_job_count(spark, job_count, n_cols):
    """Two jobs for the pre-bin quantiles and two for the one stats groupBy,
    whatever the column count.  A constant column has one pre-bin split; an
    all-NULL one has none and stays out of the stats job."""
    xs = [f"x{j}" for j in range(n_cols)]
    df = spark.createDataFrame(
        [(*(float((i * (j + 7)) % 101) for j in range(n_cols)), 3.0, None, float(i % 2)) for i in range(400)],
        ", ".join(f"{c} double" for c in [*xs, "k", "z", "y"]),
    )
    cols = [*xs, "k", "z"]
    n = job_count(lambda: fit_supervised_bins(df, cols, "y", max_bins=4, pre_bins=16))
    assert n <= 4


def _spark_gt(x: float, s: float) -> bool:
    """x > s in Spark's double order: NaN is above +inf and equal to itself,
    and -0.0 equals 0.0."""
    return not math.isnan(s) and (math.isnan(x) or x > s)


def test_numeric_chain_equals_count_of_splits_below(spark):
    """The CASE chain over splits given in any order, with duplicates,
    infinities and NaN, bins every value as #{s : x > s} under Spark's
    comparison; NULL goes to a non-zero null_bin."""
    rng = random.Random(7)
    special = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1e300, -2.5]
    specs = []
    for k in range(60):
        splits = [
            rng.choice(special) if rng.random() < 0.4 else rng.randint(-4, 4) / 2
            for _ in range(rng.randint(0, 9))
        ]
        splits += rng.sample(splits, min(len(splits), k % 3))  # duplicates
        rng.shuffle(splits)
        specs.append(BinSpec(column="x", splits=splits, null_bin=1 + k % 5))
    on_splits = {s for spec in specs for s in spec.splits if not math.isnan(s)}
    xs = [None, *special, *on_splits, *(math.nextafter(s, math.inf) for s in on_splits), 0.3, -7.0]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = df.select("x", *[spec.expr().alias(f"b{i}") for i, spec in enumerate(specs)]).collect()
    for row in got:
        x = row[0]
        want = [spec.null_bin if x is None else sum(_spark_gt(x, s) for s in spec.splits) for spec in specs]
        assert list(row[1:]) == want, x
