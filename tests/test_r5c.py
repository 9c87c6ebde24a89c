"""Round-5 batch-3 tests: linear-SVM GD, portable HLL registers, Apriori
rules, Poisson bootstrap, ranking metrics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators import logreg as LR
from inferdb_spark.operators import sketch as SK


@pytest.fixture(scope="module")
def svm_df(spark):
    rows = []
    for i in range(400):
        x0 = (i % 19) / 19.0
        x1 = ((i * 11) % 23) / 23.0
        y = 1 if 0.8 * x0 + 0.6 * x1 > 0.65 else 0
        rows.append((i, x0, x1, y))
    return spark.createDataFrame(rows, "row_id long, x0 double, x1 double, y long")


def test_svm_numpy_parity(spark, svm_df):
    """Spark fit == numpy twin bit-for-bit (same snapping + ordering)."""
    pdf = svm_df.toPandas()
    model = LR.fit_svm_gd(
        svm_df, ["x0", "x1"], "y", lam=0.01, n_steps=6, learning_rate=1.0
    )
    np_coefs, np_b = LR.fit_svm_numpy(
        pdf[["x0", "x1"]].values, pdf["y"].values, lam=0.01, n_steps=6,
        learning_rate=1.0,
    )
    assert model.intercept == np_b
    assert model.coefs == np_coefs


def test_svm_partitioning_invariance(spark, svm_df):
    m1 = LR.fit_svm_gd(svm_df.repartition(1), ["x0", "x1"], "y", n_steps=4)
    m13 = LR.fit_svm_gd(svm_df.repartition(13), ["x0", "x1"], "y", n_steps=4)
    assert m1.coefs == m13.coefs and m1.intercept == m13.intercept


def test_svm_beats_majority(spark, svm_df):
    """Enough subgradient steps beat the majority baseline on a linearly
    separable fixture."""
    base = max(
        r["c"]
        for r in svm_df.groupBy("y").agg(F.count(F.lit(1)).alias("c")).collect()
    ) / 400.0
    m = LR.fit_svm_gd(svm_df, ["x0", "x1"], "y", n_steps=24, learning_rate=2.0)
    acc = (
        svm_df.select((m.prediction() == F.col("y")).cast("long").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > base + 0.1


def test_svm_hinge_loss_decreases(spark, svm_df):
    """More steps do not worsen training hinge loss (fixed small lr)."""

    def hinge(model):
        s = 2.0 * F.col("y").cast("double") - 1.0
        h = F.greatest(F.lit(0.0), F.lit(1.0) - s * model.margin())
        return svm_df.agg(F.avg(h)).collect()[0][0]

    l2 = hinge(LR.fit_svm_gd(svm_df, ["x0", "x1"], "y", n_steps=2, learning_rate=0.5))
    l12 = hinge(LR.fit_svm_gd(svm_df, ["x0", "x1"], "y", n_steps=12, learning_rate=0.5))
    assert l12 <= l2 + 1e-12


def test_svm_divergence_releases_fit_input(spark):
    """A diverging fit raises the diagnosis and leaves nothing cached."""
    df = spark.createDataFrame(
        [(3.0, 1)] * 8, "x0 double, y long"
    )
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="fit diverged"):
        LR.fit_svm_gd(df, ["x0"], "y", n_steps=3, learning_rate=1e308)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# portable HLL


@pytest.fixture(scope="module")
def hll_keys(spark):
    return spark.createDataFrame(
        [(i, f"key-{i % 700}") for i in range(5000)], "i long, k string"
    )


def test_hll_merge_equals_oneshot(spark, hll_keys):
    """max-merge of per-half register relations == whole-data registers
    (the parquet-partials pattern)."""
    whole = SK.hll_registers(hll_keys, F.col("k")).orderBy("bucket").collect()
    h1 = SK.hll_registers(hll_keys.where(F.col("i") % 2 == 0), F.col("k"))
    h2 = SK.hll_registers(hll_keys.where(F.col("i") % 2 == 1), F.col("k"))
    merged = SK.hll_merge(h1.unionAll(h2)).orderBy("bucket").collect()
    assert whole == merged


def test_hll_estimate_accuracy(spark, hll_keys):
    """Estimate within 4 standard errors (1.04/sqrt(m)) of the true 700."""
    full = SK.hll_full_registers(SK.hll_registers(hll_keys, F.col("k")), 6)
    est = SK.hll_estimate(full, 6).collect()[0]["est6"]
    rel_err = abs(est - 700.0) / 700.0
    assert rel_err < 4 * 1.04 / math.sqrt(64)


def test_hll_rho_matches_python(spark):
    """hll_rho CASE chain == python bit_length on edge values."""
    vals = [0, 1, 2, 3, 4, (1 << 45), (1 << 46) - 1]
    df = spark.createDataFrame([(v,) for v in vals], "rem long")
    got = [
        r["rho"]
        for r in df.select(SK.hll_rho(F.col("rem"), 46).alias("rho")).collect()
    ]
    want = [46 - v.bit_length() + 1 for v in vals]
    assert got == want


# ---------------------------------------------------------------------------
# Poisson bootstrap sanity (gate covers cross-engine equality)


def test_poisson_bootstrap_ci_brackets_mean(spark, sf_dir):
    from inferdb_spark.gate_r5c import q_poisson_bootstrap_ci

    row = q_poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    assert row["lo6"] <= row["point6"] <= row["hi6"]
    # Poisson weights average 1, so the CI should be tight around the mean
    assert (row["hi6"] - row["lo6"]) / row["point6"] < 0.2


# ---------------------------------------------------------------------------
# ranking metrics sanity: hand-checked micro example through the same
# literal tables as the gate


def test_ranking_literals_hand_example():
    from inferdb_spark.gate_r5c import _DISC_MICRO, _IDCG_CUM, _MRR_LIT

    # rank 1 discount is exactly 1.0 in micro units; discounts decrease
    assert _DISC_MICRO[0] == 1_000_000
    assert all(a > b for a, b in zip(_DISC_MICRO, _DISC_MICRO[1:]))
    assert _IDCG_CUM[0] == _DISC_MICRO[0]
    assert _MRR_LIT[0] == 1.0 and _MRR_LIT[1] == 0.5


def test_ranking_metrics_bounds(spark, sf_dir):
    from inferdb_spark.gate_r5c import q_ranking_eval_metrics

    rows = q_ranking_eval_metrics(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["ndcg6"] <= 1.0 + 1e-9
        assert 0.0 <= r["mrr6"] <= 1.0
        assert 0.0 <= r["ap6"] <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Apriori sanity: confidence consistent with brute-force counts on a tiny
# constructed basket set


def test_apriori_brute_force(spark):
    baskets = {
        1: {"a", "b"},
        2: {"a", "b"},
        3: {"a", "b", "c"},
        4: {"a", "c"},
        5: {"b", "c"},
        6: {"a"},
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    bi = spark.createDataFrame(rows, "basket long, item string")
    pairs = (
        bi.alias("x")
        .join(
            bi.alias("y"),
            (F.col("x.basket") == F.col("y.basket"))
            & (F.col("x.item") < F.col("y.item")),
        )
        .groupBy(F.col("x.item").alias("i1"), F.col("y.item").alias("i2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {(r["i1"], r["i2"]): r["n"] for r in pairs}
    want = {}
    for items in baskets.values():
        for i1 in items:
            for i2 in items:
                if i1 < i2:
                    want[(i1, i2)] = want.get((i1, i2), 0) + 1
    assert got == want


# ---------------------------------------------------------------------------
# isotonic calibration (PAV)


def test_pav_textbook():
    from inferdb_spark.operators.calibrate import pav_blocks

    # means [1, 0, 1] -> pool first two into 0.5, keep the 1
    blocks = pav_blocks([(0, 1, 1), (1, 0, 1), (2, 1, 1)])
    assert blocks == [(0, 1, 2), (2, 1, 1)]
    # already monotone input is untouched
    assert pav_blocks([(0, 0, 2), (1, 1, 2), (2, 2, 2)]) == [
        (0, 0, 2), (1, 1, 2), (2, 2, 2),
    ]


def test_pav_monotone_and_mass_preserving():
    from inferdb_spark.operators.calibrate import pav_blocks

    bins = [(i, (7 * i) % 11, 10 + (i % 3)) for i in range(20)]
    blocks = pav_blocks(bins)
    means = [y / n for _, y, n in blocks]
    assert all(a <= b + 1e-15 for a, b in zip(means, means[1:]))
    assert sum(y for _, y, _ in blocks) == sum(y for _, y, _ in bins)
    assert sum(n for _, _, n in blocks) == sum(n for _, _, n in bins)


def test_isotonic_fit_spark(spark):
    from inferdb_spark.operators.calibrate import fit_isotonic

    bins = spark.createDataFrame(
        [(0, 4, 3), (1, 4, 1), (2, 4, 2), (5, 4, 4)],
        "bin long, n_b long, y_b long",
    )
    out = {
        r["bin"]: (r["block_y"], r["block_n"])
        for r in fit_isotonic(bins).collect()
    }
    # means 3/4, 1/4, 2/4, 4/4 -> PAV pools the first two into 4/8 = 0.5;
    # bin 2 (mean 0.5) ties the pooled block and stays separate (strict >)
    assert out[0] == (4, 8) and out[1] == (4, 8)
    assert out[2] == (2, 4)
    assert out[5] == (4, 4)


# ---------------------------------------------------------------------------
# grid DBSCAN


def test_dbscan_toy(spark):
    from inferdb_spark.operators.dbscan import dbscan

    rows = []
    # dense cluster A around (0, 0): 6 points within eps of each other
    for i, (x, y) in enumerate([(0, 0), (5, 0), (0, 5), (5, 5), (2, 2), (7, 3)]):
        rows.append((i, x, y))
    # dense cluster B around (1000, 1000)
    for i, (x, y) in enumerate([(1000, 1000), (1005, 1000), (1000, 1005), (1005, 1005), (1002, 1002)]):
        rows.append((100 + i, x, y))
    # border point: within eps of cluster A's core at (7,3) but with few
    # neighbors of its own (only itself + that one core)
    rows.append((50, 30, 3))
    # noise far away
    rows.append((99, 5000, 5000))
    pts = spark.createDataFrame(rows, "pid long, px long, py long")
    out = {r["pid"]: (r["is_core"], r["cluster"]) for r in
           dbscan(pts, eps_q=25, min_pts=4).collect()}
    # cluster A: all 6 are cores, lowest id 0
    for i in range(6):
        assert out[i] == (1, 0)
    # cluster B: all 5 cores, lowest id 100
    for i in range(100, 105):
        assert out[i] == (1, 100)
    # border adopts cluster A without being core
    assert out[50] == (0, 0)
    # noise
    assert out[99] == (0, -1)


# ---------------------------------------------------------------------------
# streaming HLL: the register build is a plain streaming MAX aggregation —
# incrementally-maintained registers equal the batch rebuild bit-for-bit
# (the test_streaming_hist_sketch pattern applied to the new sketch)


def test_streaming_hll_registers_match_batch(spark):
    import shutil
    import tempfile

    from inferdb_spark.streaming import scoring_stream as SS

    tmp = tempfile.mkdtemp(prefix="inferdb_hll_stream_")
    try:
        rows = [(i, f"key-{(i * 13) % 900}") for i in range(3000)]
        batch = spark.createDataFrame(rows, "i long, k string")
        batch.coalesce(4).write.mode("overwrite").parquet(tmp)
        stream = SS.stream_from_parquet_dir(spark, tmp, batch.schema, 2)
        regs = SK.hll_registers(stream, F.col("k"))
        q = (
            regs.writeStream.outputMode("complete")
            .format("memory")
            .queryName("hll_stream_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["bucket"], r["rho"])
            for r in spark.sql("select * from hll_stream_out").collect()
        }
        want = {
            (r["bucket"], r["rho"])
            for r in SK.hll_registers(batch, F.col("k")).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# gate registry collision guard (regression for the shadowed-gate bug)


def test_gate_name_collision_raises():
    import pytest as _pt

    import inferdb_spark.gate as G

    G._ensure_registered()

    with _pt.raises(ValueError, match="already registered"):
        @G.gate("isotonic_calibration")
        def q_imposter(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    # idempotent re-registration of the SAME function is allowed
    fn = G._QUERIES["dedup_exact"]
    assert G.gate("dedup_exact")(fn) is fn


def test_gate_module_import_error_propagates(monkeypatch):
    """A listed gate module that fails to import must raise, not silently
    drop all of its gates from queries()/oracle_sql()."""
    import importlib

    import pytest as _pt

    import inferdb_spark.gate as G

    real = importlib.import_module
    broken = "inferdb_spark.gate_r11c"

    def fake_import(name, *args, **kwargs):
        if name == broken:
            raise ModuleNotFoundError(f"No module named {name!r}", name=name)
        return real(name, *args, **kwargs)

    monkeypatch.setattr(importlib, "import_module", fake_import)
    with _pt.raises(ModuleNotFoundError, match="gate_r11c"):
        G._ensure_registered()
