"""Bin ids against #{s : x > s}, index persistence, multiclass IV, datetime
imputation, unseen paths, standalone report, CSV source."""

import shutil
import tempfile

from pyspark.sql import functions as F

from inferdb_spark.api import fit_index_pipeline, standalone_report
from inferdb_spark.operators.binning import BinSpec, apply_bins
from inferdb_spark.operators.index import (
    build_index,
    load_index,
    save_index,
    unseen_paths,
)
from inferdb_spark.operators.iv import iv_multiclass
from inferdb_spark.operators.preprocess import (
    fit_datetime_mean_imputer,
    impute_datetime,
    positional_rename,
)
from inferdb_spark.operators.scoring import index_score


def test_apply_bins_matches_python_bin_ids(spark):
    rows = [(float(i % 53), float((i * 7) % 101), None if i % 11 == 0 else float(i % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    specs = [
        BinSpec(column="a", splits=[10.0, 20.0, 30.0, 40.0]),
        BinSpec(column="b", splits=[25.0, 50.0, 75.0]),
        BinSpec(column="c", splits=[5.0, 10.0]),  # has nulls -> null_bin 0
    ]
    got = [tuple(r) for r in apply_bins(df, specs).select("a_bin", "b_bin", "c_bin").collect()]
    want = [
        tuple(0 if x is None else sum(x > s for s in spec.splits) for x, spec in zip(row, specs))
        for row in rows
    ]
    assert got == want


def test_apply_bins_boundary_semantics(spark):
    # boundary values: x == split must land in the LOWER bin (x > s counts)
    df = spark.createDataFrame([(10.0,), (10.000001,)], "a double")
    spec = BinSpec(column="a", splits=[10.0, 20.0])
    got = [r.a_bin for r in apply_bins(df, [spec]).collect()]
    assert got == [sum(x > s for s in spec.splits) for x in (10.0, 10.000001)] == [0, 1]


def test_index_save_load_roundtrip(spark):
    rows = [(float(a), float(b), float(a * 10 + b)) for a in range(5) for b in range(4) for _ in range(3)]
    train = spark.createDataFrame(rows, "x double, z double, y double")
    specs = [BinSpec(column="x", splits=[1.5, 3.5]), BinSpec(column="z", splits=[1.5])]
    idx = build_index(train, specs, "y", task="regression")
    tmp = tempfile.mkdtemp(prefix="idx_")
    try:
        info = save_index(idx, tmp)
        assert info["bytes"] > 0
        idx2 = load_index(spark, tmp)
        test = spark.createDataFrame([(0.0, 0.0), (4.0, 3.0)], "x double, z double")
        p1 = sorted(r.prediction for r in index_score(test, idx).collect())
        p2 = sorted(r.prediction for r in index_score(test, idx2).collect())
        assert p1 == p2
        assert idx2.task == "regression" and len(idx2.specs) == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_unseen_paths(spark, job_count):
    rows = [(0.0, 0.0, 1.0), (4.0, 0.0, 2.0)]  # only 2 of 3*2 paths stored
    train = spark.createDataFrame(rows, "x double, z double, y double")
    specs = [BinSpec(column="x", splits=[1.5, 3.5]), BinSpec(column="z", splits=[1.5])]
    idx = build_index(train, specs, "y")
    missing = {r.key for r in unseen_paths(idx).collect()}
    assert missing == {"0.1", "1.0", "1.1", "2.1"}
    # null_bin = n_bins: the NULL x bin 3 is a path of the domain too
    train = spark.createDataFrame([(0.0, 0.0, 1.0), (None, 0.0, 2.0)], "x double, z double, y double")
    specs[0] = BinSpec(column="x", splits=[1.5, 3.5], null_bin=3)
    idx = build_index(train, specs, "y")
    missing = {r.key for r in unseen_paths(idx).collect()}
    assert missing == {"0.1", "1.0", "1.1", "2.0", "2.1", "3.1"}
    assert job_count(lambda: unseen_paths(idx).collect()) == 0


def test_iv_multiclass_prefers_informative_feature(spark):
    rows = []
    for i in range(600):
        cls = i % 3
        informative = float(cls * 10 + (i % 2))
        noise = float((i * 7) % 5)
        rows.append((informative, noise, cls))
    df = spark.createDataFrame(rows, "good double, bad double, y int")
    specs = [
        BinSpec(column="good", splits=[5.0, 15.0]),
        BinSpec(column="bad", splits=[1.5, 3.0]),
    ]
    enc = apply_bins(df, specs)
    iv_good = iv_multiclass(enc, ["good_bin"], "y")
    iv_bad = iv_multiclass(enc, ["bad_bin"], "y")
    assert iv_good > iv_bad * 5


def test_datetime_imputer(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-03 00:00:00",), (None,)], "s string"
    ).select(F.col("s").cast("timestamp").alias("ts"))
    fill = fit_datetime_mean_imputer(df, ["ts"])
    out = impute_datetime(df, fill)
    assert out.filter(F.col("ts").isNull()).count() == 0
    imputed = out.orderBy(F.desc("ts")).collect()[1].ts  # the mean = Jan 2
    assert imputed.day == 2


def test_positional_rename(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "alpha double, beta double")
    out = positional_rename(df, ["beta", "alpha"])
    assert out.columns == ["f_0", "f_1"]
    assert out.first().f_0 == 2.0


def test_csv_source_roundtrip(spark, sf_dir):
    """S1: CSV scan with explicit schema (the reference's loaders read CSV,
    experiments/standalone/*.py)."""
    from inferdb_spark.catalog import load_table

    li = load_table(spark, sf_dir, "nation")
    tmp = tempfile.mkdtemp(prefix="csv_")
    try:
        li.write.mode("overwrite").option("header", True).csv(tmp)
        back = (
            spark.read.option("header", True).schema(li.schema).csv(tmp)
        )
        assert sorted(r.n_name for r in back.collect()) == sorted(
            r.n_name for r in li.collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_fit_index_pipeline_and_report(spark):
    rows = [
        (float(i % 50), float((i * 3) % 40), float((i * 7) % 30),
         float((i % 50) * 100 + (i * 3) % 40 + 1))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "x double, z double, w double, y double")
    train = df.filter(F.col("x") % 5 != 0)
    test = df.filter(F.col("x") % 5 == 0)
    pipe = fit_index_pipeline(train, ["x", "z", "w"], "y", task="regression")
    assert pipe.index.depth >= 1
    assert set(pipe.timings) == {"encode_s", "solution_s", "index_build_s"}
    scored = pipe.score(test)
    assert scored.filter(F.col("prediction").isNull()).count() == 0
    rep = standalone_report(train, test, ["x", "z", "w"], "y", task="regression")
    rows = {r.method: r for r in rep.collect()}
    assert "index" in rows and any(m.startswith("model:") for m in rows)
    # y spans 3 orders of magnitude and every test x-value is unseen by
    # construction (x%5 split) — assert sanity, not tightness
    assert 0.0 < rows["index"].value < 3.0
    assert rows["index"].build_s > 0 and rows["index"].size_proxy > 0


def test_jsonl_source_roundtrip(spark, sf_dir):
    """S1 widening: JSON-lines scan with explicit schema (no inference
    pass — at 100 TB schema inference is a full extra scan) and
    predicate pushdown intact."""
    from inferdb_spark.catalog import load_table

    n = load_table(spark, sf_dir, "nation")
    tmp = tempfile.mkdtemp(prefix="jsonl_")
    try:
        n.write.mode("overwrite").json(tmp)
        back = spark.read.schema(n.schema).json(tmp).filter(F.col("n_regionkey") >= 2)
        want = sorted(r.n_name for r in n.filter(F.col("n_regionkey") >= 2).collect())
        assert sorted(r.n_name for r in back.collect()) == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_greedy_matches_brute_force_on_small_space(spark):
    """Reference microbenchmark parity (brute_force_fs.py): on a small
    feature space the greedy selection's joint IV reaches the exhaustive
    optimum within the 1.002 improvement tolerance."""
    import random

    from inferdb_spark.operators.binning import BinSpec, apply_bins
    from inferdb_spark.operators.iv import (
        brute_force_select,
        greedy_select,
        iv_classification,
    )

    rng = random.Random(3)
    rows = []
    for _ in range(600):
        x1 = rng.uniform(0, 100)   # informative
        x2 = rng.uniform(0, 100)   # weakly informative
        x3 = rng.uniform(0, 100)   # noise
        y = 1 if (x1 > 60) ^ (x2 > 80 and rng.random() < 0.5) else 0
        rows.append((x1, x2, x3, y))
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, y int")
    specs = [
        BinSpec(column="x1", splits=[30.0, 60.0]),
        BinSpec(column="x2", splits=[40.0, 80.0]),
        BinSpec(column="x3", splits=[50.0]),
    ]
    enc = apply_bins(df, specs).cache()
    greedy = greedy_select(enc, specs, "y")
    best, best_iv = brute_force_select(enc, specs, "y")
    greedy_iv = iv_classification(enc, [s.column + "_bin" for s in greedy], "y")
    assert greedy_iv * 1.002 >= best_iv
    assert {s.column for s in greedy} >= {"x1"}


def test_expect_violation_counts(spark):
    from inferdb_spark.operators.validate import expect

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (4, 200.0)], "id int, v double"
    )
    out = {
        r["check"]: r["n_violations"]
        for r in expect(
            df,
            {
                "v_not_null": F.col("v").isNotNull(),
                # compound check: NULL fails it too (-1, 200, NULL -> 3)
                "v_in_range": F.col("v").isNotNull() & F.col("v").between(0, 100),
                "id_positive": F.col("id") > 0,
            },
        ).collect()
    }
    assert out == {"v_not_null": 1, "v_in_range": 3, "id_positive": 0}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """S1 robustness: reading a dataset whose later files added a column
    (mergeSchema) — the schema-evolution path any long-lived 100 TB
    dataset hits."""
    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id int, s string").write.parquet(p + "/part=0")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, s string, extra double"
    ).write.parquet(p + "/part=1")
    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"id", "s", "extra", "part"}
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_register_pipeline_views_sql_surface(spark):
    """S4/SQL surface: per-stage temp views (the reference's _translated /
    _scored materialized-view naming) queryable and joinable via
    spark.sql."""
    from inferdb_spark.api import fit_index_pipeline, register_pipeline_views

    rows = [(float(i % 40), float(i % 7), float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "x double, z double, y double")
    pipe = fit_index_pipeline(df, ["x", "z"], "y", task="regression")
    names = register_pipeline_views(spark, pipe, df, prefix="t99")
    assert names == ["t99_input", "t99_translated", "t99_scored"]
    assert spark.sql("SELECT count(*) c FROM t99_translated").first()["c"] == 300
    joined = spark.sql(
        "SELECT avg(s.prediction) a FROM t99_scored s"
    ).first()
    assert joined["a"] is not None


def test_pipeline_demo_runs_end_to_end(spark, sf_dir):
    """The composed training-data pipeline (tools/pipeline_demo.py) must
    run every stage at the smallest fixture — guards the demo against
    operator-signature rot."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/pipeline_demo.py", sf_dir.replace("sf0.01", "sf0.001")],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "index-fit+score" in out.stdout
