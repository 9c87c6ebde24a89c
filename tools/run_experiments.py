"""Experiment-suite driver — the analog of the reference's
experiments/standalone/*.py scripts (SURVEY.md §5): run the model-vs-index
standalone report over dataset shapes derived from the synthetic tables
(FIXTURES.md maps each reference dataset to its testdata analog).

Run: python3 tools/run_experiments.py [sf_dir]
Prints one report table per dataset analog.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from inferdb_spark.api import standalone_report
    from inferdb_spark.catalog import load_table
    from inferdb_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("experiments")

    # 1. creditcard_like: all-numeric binary classification on lineitem
    #    (FIXTURES.md §1: label = l_returnflag == 'R')
    li = load_table(spark, sf, "lineitem").select(
        "l_quantity", "l_discount", "l_tax",
        (F.col("l_partkey") % 97).cast("double").alias("f_part"),
        (F.col("l_returnflag") == "R").cast("int").alias("target"),
        (F.col("l_orderkey") % 5).alias("_fold"),
    )
    print("== creditcard_like (binary classification, lineitem) ==")
    standalone_report(
        li.filter("_fold != 0"), li.filter("_fold = 0"),
        ["l_quantity", "l_discount", "l_tax", "f_part"], "target",
        task="classification",
    ).show(truncate=False)

    # 2. rides_like: regression with datetime features on events
    #    (FIXTURES.md §4 maps rides onto events)
    ev = load_table(spark, sf, "events").select(
        "event_id",
        F.hour("ts").cast("double").alias("hour"),
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("double").alias("isodow"),
        (F.col("user_id") % 20).cast("double").alias("route"),
        (F.col("value") + 1.0).alias("target"),
        (F.col("event_id") % 5).alias("_fold"),
    )
    print("== rides_like (regression w/ datetime features, events) ==")
    standalone_report(
        ev.filter("_fold != 0"), ev.filter("_fold = 0"),
        ["hour", "isodow", "route"], "target", task="regression",
    ).show(truncate=False)

    # 3. hits_like: mixed categorical/numeric classification on orders
    #    (FIXTURES.md §2; categorical priority target-encoded via bins)
    o = load_table(spark, sf, "orders").select(
        (F.col("o_totalprice")).alias("price"),
        F.month("o_orderdate").cast("double").alias("month"),
        (F.col("o_custkey") % 100).cast("double").alias("cust_bucket"),
        (F.col("o_orderstatus") == "F").cast("int").alias("target"),
        (F.col("o_orderkey") % 5).alias("_fold"),
    )
    print("== hits_like (mixed classification, orders) ==")
    standalone_report(
        o.filter("_fold != 0"), o.filter("_fold = 0"),
        ["price", "month", "cust_bucket"], "target", task="classification",
    ).show(truncate=False)

    mnist_like_experiment(spark, sf)
    scalability_experiment(spark, sf)
    generalization_experiment(spark, sf)
    sparsity_experiment(spark, sf)


def mnist_like_experiment(spark, sf: str) -> None:
    """mnist_784 analog (FIXTURES.md: embeddings = vector features +
    int label, the multiclass pixel-vector shape at 64 dims): index with
    multiclass IV selection + majority-vote kv vs MLlib multinomial LR.
    Accuracy = exact-match rate (multiclass_report computes the macro
    P/R variants; exact match is the reference's headline number)."""
    from inferdb_spark.api import fit_index_pipeline
    from inferdb_spark.catalog import load_table
    from inferdb_spark.functions.vector import as_double_array
    from inferdb_spark.mllib_bridge import fit_predict_mllib

    emb = load_table(spark, sf, "embeddings")
    v = as_double_array(F.col("embedding"))
    feats = [f"f_{i}" for i in range(8)]
    df = emb.select(
        *[F.element_at(v, i + 1).alias(f"f_{i}") for i in range(8)],
        F.col("label").cast("int").alias("target"),
        (F.col("vec_id") % 5).alias("_fold"),
    )
    train, test = df.filter("_fold != 0"), df.filter("_fold = 0")
    pipe = fit_index_pipeline(train, feats, "target", task="multiclass")
    idx_acc = (
        pipe.score(test)
        .select((F.col("prediction") == F.col("target")).cast("int").alias("hit"))
        .agg(F.avg("hit")).first()[0]
    )
    lr = fit_predict_mllib(train, test, feats, "target", "logistic_regression")
    lr_acc = (
        lr.select((F.col("prediction") == F.col("target")).cast("int").alias("hit"))
        .agg(F.avg("hit")).first()[0]
    )
    print("== mnist_like (multiclass, embeddings 8-dim slice) ==")
    print(f"index accuracy={idx_acc:.4f}   model:multinomial_lr accuracy={lr_acc:.4f}")


def generalization_experiment(spark, sf: str) -> None:
    """Temporal-generalization microbenchmark — the analog of
    experiments/microbenchmarks/generalization/generalization.py: fit on
    the first half of the month, score the unseen second half (vs the
    random-fold split of the main reports).  Distribution shift shows up
    as the gap between the two test errors."""
    from inferdb_spark.api import standalone_report
    from inferdb_spark.catalog import load_table

    ev = load_table(spark, sf, "events").select(
        F.hour("ts").cast("double").alias("hour"),
        (F.col("user_id") % 20).cast("double").alias("route"),
        (F.col("value") + 1.0).alias("target"),
        F.dayofmonth("ts").alias("_day"),
    )
    print("== generalization (train days 1-15, test days 16-30, events) ==")
    standalone_report(
        ev.filter(F.col("_day") <= 15),
        ev.filter(F.col("_day") > 15),
        ["hour", "route"], "target", task="regression",
    ).show(truncate=False)


def sparsity_experiment(spark, sf: str) -> None:
    """Index filling-degree analysis — the analog of experiments/
    microbenchmarks/sparsity/sparsity_analysis.py (src/optimizer.py:
    250-276): stored paths vs the full bin-domain product; low filling
    degree means the prefix-fallback path does real work on unseen
    keys."""
    from inferdb_spark.api import fit_index_pipeline
    from inferdb_spark.catalog import load_table
    from inferdb_spark.operators.index import index_size_info

    li = load_table(spark, sf, "lineitem").select(
        "l_quantity", "l_discount", "l_tax",
        (F.col("l_extendedprice")).alias("target"),
    )
    pipe = fit_index_pipeline(
        li, ["l_quantity", "l_discount", "l_tax"], "target", task="regression"
    )
    info = index_size_info(pipe.index)
    print("== sparsity / filling degree (lineitem index) ==")
    print(info)


def scalability_experiment(spark, sf: str) -> None:
    """Growing-temporal-window scalability microbenchmark — the analog of
    experiments/microbenchmarks/scalability/pm25.py:100-185 (train on an
    expanding history, measure index build + scoring time and error as
    the window grows).  Prints one row per window; build time should grow
    ~linearly with rows (one scan + map-side-combined groupBy) and score
    time should stay flat (broadcast probe)."""
    import time

    from inferdb_spark.api import fit_index_pipeline
    from inferdb_spark.catalog import load_table
    from inferdb_spark.operators.metrics import rmsle
    from inferdb_spark.operators.scoring import index_score

    ev = load_table(spark, sf, "events").select(
        F.hour("ts").cast("double").alias("hour"),
        (F.col("user_id") % 20).cast("double").alias("route"),
        (F.col("value") + 1.0).alias("target"),
        F.dayofmonth("ts").alias("_day"),
    )
    test = ev.filter(F.col("_day") > 24).cache()
    test.count()
    print("== scalability (growing train window, events) ==")
    print("window_days  train_rows  build_s  score_s  rmsle")
    for cutoff in (6, 12, 18, 24):
        train = ev.filter(F.col("_day") <= cutoff).cache()
        n = train.count()
        t0 = time.time()
        pipe = fit_index_pipeline(
            train, ["hour", "route"], "target", task="regression"
        )
        build_s = time.time() - t0
        t0 = time.time()
        scored = index_score(test, pipe.index)
        err = float(rmsle(scored, "prediction", "target").first()["rmsle"])
        score_s = time.time() - t0
        print(f"{cutoff:>11}  {n:>10}  {build_s:7.2f}  {score_s:7.2f}  {err:.4f}")
        train.unpersist()


if __name__ == "__main__":
    main()
