from pyspark.sql import functions as F

from inferdb_spark import mllib_bridge as MB
from inferdb_spark.functions.datetime_fns import datetime_features
from inferdb_spark.operators import featurize as FZ
from inferdb_spark.operators.scoring import score_linear_dense


def test_datetime_features(spark):
    df = spark.createDataFrame([("2024-01-01 13:45:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    out = df.withColumns(datetime_features(F.col("ts"))).first()
    assert (out.hour, out.minute, out.month) == (13, 45, 1)
    assert out.isodow == 1 and out.day_name == "Monday" and out.is_weekend == 0
    assert out.week_hour == 13


def test_assign_nearest_cluster_ties_to_lowest(spark):
    df = spark.createDataFrame([(0.0, 0.0), (10.0, 10.0)], "lat double, lon double")
    centers = [(0.0, 0.0), (10.0, 10.0), (0.0, 0.0)]  # duplicate center: tie
    out = [r.cluster for r in FZ.assign_nearest_cluster(df, "lat", "lon", centers).collect()]
    assert out == [0, 1]  # tie between centers 0 and 2 -> 0


def test_route_aggregates_and_join(spark):
    train = spark.createDataFrame(
        [(1, "a", 10.0), (1, "a", 20.0), (2, "b", 5.0)], "r int, t string, v double"
    )
    routes = train.groupBy("r", "t").agg(F.avg("v").alias("avg_v"))
    test = spark.createDataFrame([(1, "a"), (9, "z")], "r int, t string")
    out = FZ.join_route_aggregates(test, routes, ["r", "t"], fill={"avg_v": 0.0})
    got = {(r.r, r.t): r.avg_v for r in out.collect()}
    assert got[(1, "a")] == 15.0
    assert got[(9, "z")] == 0.0  # unseen route -> coalesce 0


def test_pca_project_literal(spark):
    df = spark.createDataFrame([(2.0, 4.0)], "a double, b double")
    out = FZ.pca_project(df, ["a", "b"], [1.0, 2.0], [[1.0, 0.0], [0.5, 0.5]]).first()
    assert out.pca_0 == 1.0  # (2-1)*1 + (4-2)*0
    assert out.pca_1 == 1.5  # (2-1)*.5 + (4-2)*.5


def test_fit_pca_and_kmeans_roundtrip(spark):
    import random

    random.seed(42)
    rows = [(random.gauss(0, 1), random.gauss(0, 0.1)) for _ in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    means, comps = FZ.fit_pca(df, ["x", "y"], 1)
    # first PC should be dominated by x (larger variance)
    assert abs(comps[0][0]) > abs(comps[0][1])
    centers = FZ.fit_kmeans_centers(
        spark.createDataFrame([(0.0, 0.0)] * 30 + [(10.0, 10.0)] * 30, "a double, b double"),
        "a", "b", k=2,
    )
    assert len(centers) == 2
    got = sorted(round(c[0]) for c in centers)
    assert got == [0, 10]


def test_mllib_linear_transpile_to_expression(spark):
    rows = [(float(i), float(2 * i + 3) + 0.01 * ((i * 7) % 5 - 2)) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, y double")
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    vec = VectorAssembler(inputCols=["x"], outputCol="_features")
    m = LinearRegression(featuresCol="_features", labelCol="y").fit(vec.transform(df))
    coef, intercept = [float(c) for c in m.coefficients], float(m.intercept)
    assert abs(coef[0] - 2.0) < 0.05 and abs(intercept - 3.0) < 0.2
    scored = score_linear_dense(df, ["x"], coef, intercept)
    r = scored.filter(F.col("x") == 10.0).first()
    assert abs(r.prediction - 23.0) < 0.3
    # the scoring plan must be a pure projection: no MLlib UDF, no shuffle
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mllib_zoo_gbt(spark):
    rows = [(float(i % 10), float(i % 3), 1 if i % 10 > 4 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, "f0 double, f1 double, label int")
    out = MB.fit_predict_mllib(df, df, ["f0", "f1"], "label", "gbt_classifier", maxIter=5)
    acc = out.filter(F.col("prediction") == F.col("label")).count() / out.count()
    assert acc > 0.95
