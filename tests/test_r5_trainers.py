"""Round-5 trainer + sketch tests: softmax GD, matrix factorization,
Misra-Gries heavy hitters."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators import mf as MF
from inferdb_spark.operators import softmax as SM
from inferdb_spark.operators.sketch import mg_heavy_hitters, mg_shard_summaries


@pytest.fixture(scope="module")
def sm_df(spark):
    rows = []
    for i in range(300):
        x0 = (i % 17) / 17.0
        x1 = ((i * 7) % 13) / 13.0
        y = 0 if x0 + x1 < 0.7 else (1 if x0 < 0.5 else 2)
        rows.append((i, x0, x1, y))
    return spark.createDataFrame(rows, "row_id long, x0 double, x1 double, y long")


def test_softmax_numpy_parity(spark, sm_df):
    """Spark fit == numpy twin bit-for-bit (same snapping + ordering)."""
    pdf = sm_df.toPandas()
    model = SM.fit_softmax_gd(
        sm_df, ["x0", "x1"], "y", n_classes=3, n_steps=4, learning_rate=1.0
    )
    np_coefs, np_b = SM.fit_softmax_numpy(
        pdf[["x0", "x1"]].values, pdf["y"].values, n_classes=3, n_steps=4,
        learning_rate=1.0,
    )
    assert model.intercepts == np_b
    assert model.coefs == np_coefs


def test_softmax_partitioning_invariance(spark, sm_df):
    m1 = SM.fit_softmax_gd(
        sm_df.repartition(1), ["x0", "x1"], "y", n_classes=3, n_steps=3
    )
    m13 = SM.fit_softmax_gd(
        sm_df.repartition(13), ["x0", "x1"], "y", n_classes=3, n_steps=3
    )
    assert m1.coefs == m13.coefs and m1.intercepts == m13.intercepts


def test_softmax_divergence_raises_diagnosis(spark):
    """An oversized learning rate drives a coefficient to inf after one
    step; the next step must fail with the diagnosis, not a parse error."""
    df = spark.createDataFrame([(3.0, 0)] * 8, "x0 double, y long")
    with pytest.raises(ValueError, match="fit diverged"):
        SM.fit_softmax_gd(
            df, ["x0"], "y", n_classes=3, n_steps=3, learning_rate=1e308
        )


def test_softmax_improves_accuracy(spark, sm_df):
    """Enough GD steps beat the majority-class baseline (0.43 on this
    fixture) decisively on training accuracy."""
    m = SM.fit_softmax_gd(
        sm_df, ["x0", "x1"], "y", n_classes=3, n_steps=16, learning_rate=4.0
    )
    acc = (
        sm_df.select((m.prediction() == F.col("y")).cast("long").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > 0.8


def test_mf_numpy_parity(spark):
    triples = [
        (u, i, ((u * 3 + i * 5) % 11) / 11.0)
        for u in range(6)
        for i in range(8)
        if (u + i) % 3 != 0
    ]
    df = spark.createDataFrame(triples, "u long, i long, r double")
    model = MF.fit_mf_gd(df, "u", "i", "r", k=2, n_steps=3, learning_rate=1.0)
    U, V = MF.fit_mf_numpy(triples, k=2, n_steps=3, learning_rate=1.0)
    got_u = {
        row["u"]: [row["uq0"], row["uq1"]]
        for row in model.user_factors.collect()
    }
    got_v = {
        row["i"]: [row["vq0"], row["vq1"]]
        for row in model.item_factors.collect()
    }
    assert got_u == U
    assert got_v == V


def test_mf_training_reduces_sse(spark):
    triples = [
        (u, i, ((u * 3 + i * 5) % 11) / 11.0)
        for u in range(6)
        for i in range(8)
    ]

    def sse(n_steps: int) -> float:
        U, V = MF.fit_mf_numpy(triples, k=2, n_steps=n_steps, learning_rate=1.0)
        s = 0.0
        for u, i, r in triples:
            pred = sum(U[u][f] * V[i][f] for f in range(2)) / 1e12
            s += (r - pred) ** 2
        return s

    assert sse(3) < sse(0)


def test_mg_heavy_hitters_bounds(spark):
    """MG estimates never exceed true counts and undercount by at most the
    reported err_bound; with capacity >= distinct terms the sketch is
    EXACT (every t_s = 0)."""
    words = (
        ["alpha"] * 50 + ["beta"] * 30 + ["gamma"] * 20 + ["delta"] * 5
        + [f"noise{i}" for i in range(40)]
    )
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "rid long, term string")
    s = mg_shard_summaries(df, F.col("rid"), F.col("term"), n_shards=4, capacity=3)
    hh = mg_heavy_hitters(s, s, top_k=5).collect()
    true = {"alpha": 50, "beta": 30, "gamma": 20, "delta": 5}
    err = hh[0]["err_bound"]
    for row in hh:
        t = true.get(row["term"], 1)
        assert row["est"] <= t
        assert row["est"] >= t - err
    assert [r["term"] for r in hh[:2]] == ["alpha", "beta"]

    # exact mode: capacity large enough to hold every distinct term
    s_big = mg_shard_summaries(
        df, F.col("rid"), F.col("term"), n_shards=4, capacity=1000
    )
    hh_big = {
        r["term"]: r["est"] for r in mg_heavy_hitters(s_big, s_big, top_k=4).collect()
    }
    assert hh_big == {"alpha": 50, "beta": 30, "gamma": 20, "delta": 5}
    assert mg_heavy_hitters(s_big, s_big, top_k=1).collect()[0]["err_bound"] == 0


def test_mg_merge_is_summation(spark):
    """Summaries merge by plain residual summation — splitting the corpus
    into two shard groups and merging matches the one-shot merge."""
    words = ["a"] * 20 + ["b"] * 10 + [f"n{i}" for i in range(20)]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "rid long, term string"
    )
    s = mg_shard_summaries(df, F.col("rid"), F.col("term"), n_shards=6, capacity=2)
    one = {
        r["term"]: r["est"] for r in mg_heavy_hitters(s, s, top_k=2).collect()
    }
    lo = s.filter(F.col("shard") < 3)
    hi = s.filter(F.col("shard") >= 3)
    merged = lo.unionByName(hi)
    two = {
        r["term"]: r["est"]
        for r in mg_heavy_hitters(merged, merged, top_k=2).collect()
    }
    assert one == two
