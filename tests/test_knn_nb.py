"""Unit tests for operators/knn.py and operators/naive_bayes.py against
hand-computable fixtures (the gate queries cover the DuckDB oracle path)."""

import math

from pyspark.sql import functions as F

from inferdb_spark.operators import knn as KNN
from inferdb_spark.operators import naive_bayes as NB
from inferdb_spark.operators import similarity as SIM


def test_knn_classify_tiny(spark):
    # train points on a line; labels flip at x=50
    train = spark.createDataFrame(
        [(i, i * 10, "lo" if i < 5 else "hi") for i in range(10)],
        "tid long, x long, label string",
    )
    test = spark.createDataFrame([(100, 12), (101, 78)], "qid long, x long")
    out = KNN.knn_classify(
        test, train, ["x"], "label", k=3, test_key="qid", train_key="tid"
    )
    got = {r["qid"]: r["predicted"] for r in out.collect()}
    assert got == {100: "lo", 101: "hi"}


def test_knn_majority_tie_breaks_low_label(spark):
    # equidistant neighbors, 1-1 vote split at k=2 -> lowest label wins
    train = spark.createDataFrame(
        [(1, 9, "b"), (2, 11, "a")], "tid long, x long, label string"
    )
    test = spark.createDataFrame([(7, 10)], "qid long, x long")
    out = KNN.knn_classify(
        test, train, ["x"], "label", k=2, test_key="qid", train_key="tid"
    )
    assert out.collect()[0]["predicted"] == "a"


def test_knn_regress_tiny(spark):
    # neighbors of x=12 at k=3 are x in {10, 20, 0} -> targets 100, 200, 0
    # neighbors of x=78 at k=3 are x in {80, 70, 90} -> targets 800, 700, 900
    train = spark.createDataFrame(
        [(i, i * 10, i * 100) for i in range(10)],
        "tid long, x long, y long",
    )
    test = spark.createDataFrame([(100, 12), (101, 78)], "qid long, x long")
    out = KNN.knn_regress(
        test, train, ["x"], "y", k=3, test_key="qid", train_key="tid"
    )
    got = {r["qid"]: r["predicted"] for r in out.collect()}
    assert got == {100: 100.0, 101: 800.0}


def test_topk_per_key_matches_global_sort(spark):
    rows = [(k, (k * 37 + i * 13) % 101, i) for k in range(4) for i in range(50)]
    df = spark.createDataFrame(rows, "key int, d long, rid long")
    cand = df.select(
        "key", F.struct(F.col("d"), F.col("rid")).alias("o")
    )
    got = (
        KNN.topk_per_key(cand, "key", F.col("o"), k=5, salt_col=F.col("o.rid"))
        .select("key", F.col("_nn.d").alias("d"), F.col("_nn.rid").alias("rid"))
        .collect()
    )
    by_key = {}
    for k, d, i in rows:
        by_key.setdefault(k, []).append((d, i))
    expect = {k: sorted(v)[:5] for k, v in by_key.items()}
    got_by_key = {}
    for r in got:
        got_by_key.setdefault(r["key"], []).append((r["d"], r["rid"]))
    assert {k: sorted(v) for k, v in got_by_key.items()} == expect


def test_naive_bayes_matches_hand_computation(spark):
    # 2 features, 2 classes; verify one conditional and the prediction
    rows = [
        ("a", "x", "pos"), ("a", "x", "pos"), ("a", "y", "pos"),
        ("b", "y", "neg"), ("b", "y", "neg"), ("a", "y", "neg"),
    ]
    train = spark.createDataFrame(rows, "f1 string, f2 string, y string")
    priors, cond, defaults = NB.fit_nb(train, ["f1", "f2"], "y", alpha=1.0)
    cond_map = {
        (r["f"], r["v"], r["y"]): r["ll"] for r in cond.collect()
    }
    # P(f1=a | pos) = (3 + 1) / (3 + 1*2) = 0.8
    assert cond_map[("f1", "a", "pos")] == round(math.log(4 / 5) * 1e6)
    # unseen value falls to the default: alpha / (n_y + alpha*|V|)
    d_map = {(r["f"], r["y"]): r["ll"] for r in defaults.collect()}
    assert d_map[("f1", "neg")] == round(math.log(1 / 5) * 1e6)

    test = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "zz", "y")],
        "rid long, f1 string, f2 string",
    )
    out = NB.score_nb(test, "rid", ["f1", "f2"], priors, cond, defaults)
    got = {r["rid"]: r["predicted"] for r in out.collect()}
    assert got[1] == "pos"
    assert got[2] == "neg"
    assert got[3] in ("pos", "neg")  # unseen f1 -> defaults on both classes


def test_knn_classify_ivf_smoke(spark):
    import random

    rng = random.Random(7)
    dim = 8

    def vec(center):
        return [center[j] + rng.uniform(-0.05, 0.05) for j in range(dim)]

    c0 = [1.0] + [0.0] * (dim - 1)
    c1 = [0.0, 1.0] + [0.0] * (dim - 2)
    train_rows = [(i, vec(c0 if i % 2 == 0 else c1), i % 2) for i in range(40)]
    train = spark.createDataFrame(
        train_rows, "vec_id long, embedding array<double>, label int"
    )
    test = spark.createDataFrame(
        [(900, c0), (901, c1)], "vec_id long, embedding array<double>"
    )
    out = KNN.knn_classify_ivf(
        test, train, "embedding", "label",
        centroids=[c0, c1], k=5, n_probe=1,
        test_key="vec_id", train_key="vec_id",
    )
    got = {r["vec_id"]: r["predicted"] for r in out.collect()}
    assert got == {900: 0, 901: 1}


def test_ivf_probe_cells_orders_by_distance(spark):
    cents = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    df = spark.createDataFrame([(1, [9.0, 1.0])], "id long, v array<double>")
    out = df.select(
        F.expr(SIM.ivf_probe_cells_sql("`v`", cents, n_probe=2)).alias("cells")
    ).collect()[0]["cells"]
    assert out == [1, 0]
