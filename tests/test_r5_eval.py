"""Round-5 evaluation-relation tests: leave-fold-out CV identity,
conformal coverage, PSI drift direction."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from inferdb_spark.gate_r5 import (
    q_conformal_interval,
    q_cv_leave_fold_out,
    q_psi_drift,
)

SF_DIR = "/root/testdata/sf0.001"


def test_cv_lofo_equals_brute_force_refit(spark):
    """The total-minus-fold identity == actually refitting without the
    fold, checked per (key, fold) on a small synthetic relation."""
    rows = [
        (i % 4, i % 3, (i * 37) % 100)  # (key, fold, y_cents)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "key long, fold long, y_cents long")
    kf = df.groupBy("key", "fold").agg(
        F.sum("y_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tot = kf.groupBy("key").agg(F.sum("s").alias("ts"), F.sum("n").alias("tn"))
    lofo = {
        (r["key"], r["fold"]): math.floor(
            (r["ts"] - r["s"]) / (r["tn"] - r["n"]) + 0.5
        )
        for r in kf.join(tot, "key").collect()
    }
    for (key, fold), pred in lofo.items():
        held_in = [y for k, f, y in rows if k == key and f != fold]
        assert pred == math.floor(sum(held_in) / len(held_in) + 0.5)


def test_cv_gate_shape(spark):
    out = q_cv_leave_fold_out(spark, SF_DIR).collect()
    assert [r["fold"] for r in out] == [0, 1, 2, 3, 4]
    for r in out:
        assert r["n"] > 0 and r["sse"] >= 0
        assert abs(r["rmse_cents"] - math.sqrt(r["sse"] / r["n"])) < 1e-5


def test_conformal_coverage_near_nominal(spark):
    """Split conformal at α=0.1 guarantees ≥ 90% expected coverage on
    exchangeable data; allow small-sample slack on the sf0.001 test split."""
    out = q_conformal_interval(spark, SF_DIR)
    agg = out.agg(
        F.avg("covered").alias("cov"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert agg["n"] > 500
    assert agg["cov"] >= 0.85
    # intervals are symmetric and non-degenerate
    row = out.limit(1).collect()[0]
    assert row["hi"] - row["pred_cents"] == row["pred_cents"] - row["lo"]
    assert row["hi"] > row["lo"]


def test_psi_identical_distributions_near_zero(spark):
    """PSI of a distribution against itself is ~0 (only the 0.5
    adjustment's asymmetry when counts differ); a location shift shows a
    clearly positive total."""
    same = spark.createDataFrame(
        [((i * 13) % 100, i % 2) for i in range(2000)], "v long, period int"
    )
    adj = 2.5

    def psi_total(df):
        cnts = (
            df.withColumn("bin", F.least(F.floor(F.col("v") / 20), F.lit(4)))
            .groupBy("bin")
            .agg(
                F.sum(F.when(F.col("period") == 0, 1)).alias("e"),
                F.sum(F.when(F.col("period") == 1, 1)).alias("a"),
            )
        )
        tots = cnts.agg(F.sum("e").alias("ne"), F.sum("a").alias("na"))
        pe = (F.col("e") + 0.5) / (F.col("ne") + adj)
        pa = (F.col("a") + 0.5) / (F.col("na") + adj)
        return (
            cnts.crossJoin(tots)
            .agg(F.sum((pe - pa) * F.log(pe / pa)).alias("psi"))
            .collect()[0]["psi"]
        )

    assert abs(psi_total(same)) < 1e-3
    shifted = spark.createDataFrame(
        [((i * 13) % 100 if i % 2 == 0 else ((i * 13) % 100) // 2, i % 2)
         for i in range(2000)],
        "v long, period int",
    )
    assert psi_total(shifted) > 0.05


def test_psi_gate_terms_finite_and_sum_positive(spark):
    out = q_psi_drift(spark, SF_DIR).collect()
    assert len(out) == 10
    # add-0.5 keeps every term finite even for empty bins
    for r in out:
        assert r["psi_term_micro"] is not None
    # each per-bin PSI contribution (p−q)ln(p/q) is individually ≥ 0 up to
    # micro-unit rounding
    assert all(r["psi_term_micro"] >= -1 for r in out)


def test_quantile_regression_numpy_parity_and_coverage(spark):
    """fit_quantile_gd == numpy twin bit-for-bit, and at convergence the
    under-fraction approaches tau."""
    from inferdb_spark.operators import logreg as LG

    rows = [(i, (i % 23) / 23.0, ((i * 11) % 19) / 19.0) for i in range(400)]
    df = spark.createDataFrame(rows, "rid long, x0 double, y double")
    m = LG.fit_quantile_gd(
        df, ["x0"], "y", tau_micro=900_000, n_steps=20, learning_rate=1.0
    )
    import numpy as np

    coefs, b = LG.fit_quantile_numpy(
        np.array([[r[1]] for r in rows]), np.array([r[2] for r in rows]),
        tau_micro=900_000, n_steps=20, learning_rate=1.0,
    )
    assert m.coefs == coefs and m.intercept == b
    under = (
        df.select((F.col("y") <= m.prediction()).cast("long").alias("u"))
        .agg(F.avg("u"))
        .collect()[0][0]
    )
    assert 0.8 <= under <= 1.0  # converging toward tau=0.9 from above


def test_quantile_regression_no_transcendentals_in_plan(spark, monkeypatch):
    """The step aggregates fit_quantile_gd submits contain no exp/log calls."""
    from inferdb_spark.operators import logreg as LG

    steps = []
    real_step = LG._gd_step

    def capture(*args):
        steps.append(real_step(*args))
        return steps[-1]

    monkeypatch.setattr(LG, "_gd_step", capture)
    df = spark.createDataFrame([(0.1, 0.2), (0.3, 0.1)], "x0 double, y double")
    LG.fit_quantile_gd(df, ["x0"], "y", n_steps=2)
    assert len(steps) == 2
    for rel in steps:
        plan = rel._jdf.queryExecution().executedPlan().toString().lower()
        assert "hashaggregate" in plan and "_gq" in plan
        assert "exp(" not in plan and "log(" not in plan


def test_entity_resolution_twins_resolve(spark):
    """Every dirty twin lands in the same cluster as its source record:
    no cluster that contains a twin (rec_id > 1e6) may be a singleton."""
    from inferdb_spark.gate_r5 import q_entity_resolution

    out = q_entity_resolution(spark, SF_DIR).collect()
    comp_size = {r["component"]: r["size"] for r in out}
    # twins exist and every twin-bearing cluster has >= 2 records
    twin_clusters = [c for c in comp_size if c >= 1000000]
    # a twin's component label can only exceed 1e6 if the cluster contains
    # ONLY twins — impossible when its source record matched; so none.
    assert twin_clusters == []
    assert sum(comp_size.values()) > len(comp_size)  # some clusters merged
