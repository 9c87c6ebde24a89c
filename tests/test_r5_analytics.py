"""Round-5 batch-2 analytics tests: SCD2, item-item CF, Kaplan-Meier,
EWMA, A/B z-test, jackknife."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_scd2_collapses_and_covers(spark):
    """Consecutive duplicates collapse; intervals tile the timeline per
    user; exactly one current row per user."""
    from inferdb_spark.gate_r5b import q_scd2_intervals

    rows = q_scd2_intervals(spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        # contiguity: each valid_to == next valid_from; exactly one open
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["is_current"] == 0
            # collapse: consecutive intervals hold DIFFERENT values
            assert a["val"] != b["val"]
        assert ivs[-1]["is_current"] == 1 and ivs[-1]["valid_to"] is None


def test_item_item_matches_numpy_cosine(spark):
    """Top-k cosine neighbors on a tiny explicit matrix == numpy."""
    import numpy as np
    from inferdb_spark.gate_r5b import II_CAP  # noqa: F401 (doc link)

    # 4 users x 5 items count matrix
    M = np.array(
        [
            [2, 1, 0, 0, 1],
            [1, 2, 1, 0, 0],
            [0, 1, 2, 1, 0],
            [1, 0, 0, 2, 2],
        ],
        dtype=np.int64,
    )
    rows = [
        (u, i, int(M[u, i]))
        for u in range(4)
        for i in range(5)
        if M[u, i] > 0
    ]
    df = spark.createDataFrame(rows, "u long, it long, cnt long")
    from pyspark.sql import Window

    norms = df.groupBy("it").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("nrm"))
    a, b = df.alias("a"), df.alias("b")
    pairs = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.it") < F.col("b.it")))
        .groupBy(F.col("a.it").alias("i"), F.col("b.it").alias("j"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("num"))
    )
    got = {
        (r["i"], r["j"]): r["num"] for r in pairs.collect()
    }
    G = M.T @ M  # item x item co-count gram
    for i in range(5):
        for j in range(i + 1, 5):
            if G[i, j] > 0:
                assert got.get((i, j)) == G[i, j]
            else:
                assert (i, j) not in got
    # cosine check for one pair
    if (0, 1) in got:
        want = G[0, 1] / math.sqrt(G[0, 0] * G[1, 1])
        nrm = {r["it"]: r["nrm"] for r in norms.collect()}
        have = got[(0, 1)] / math.sqrt(nrm[0] * nrm[1])
        assert abs(want - have) < 1e-12


def test_kaplan_meier_hand_example(spark):
    """KM on the textbook example: subjects with durations/censoring →
    S(t) matches the hand-computed product-limit curve."""
    # durations: death at 1,1,2; censored at 2; death at 3
    rows = [(0, 1, 1), (1, 1, 1), (2, 2, 1), (3, 2, 0), (4, 3, 1)]
    df = spark.createDataFrame(rows, "sid long, t long, obs long")
    per_t = df.groupBy("t").agg(
        F.sum("obs").alias("d"), F.sum(1 - F.col("obs")).alias("c")
    )
    from pyspark.sql import Window

    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_t.withColumn(
        "n_risk",
        F.lit(5) - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
    ).collect()
    by_t = {r["t"]: r for r in risk}
    assert by_t[1]["n_risk"] == 5 and by_t[1]["d"] == 2
    assert by_t[2]["n_risk"] == 3 and by_t[2]["d"] == 1 and by_t[2]["c"] == 1
    assert by_t[3]["n_risk"] == 1 and by_t[3]["d"] == 1
    # S(1) = 3/5; S(2) = 3/5 * 2/3 = 2/5; S(3) = 0 (n=d at t=3)
    s1 = (5 - 2) / 5
    s2 = s1 * (3 - 1) / 3
    assert abs(s1 - 0.6) < 1e-12 and abs(s2 - 0.4) < 1e-12


def test_kaplan_meier_gate_monotone(spark):
    from inferdb_spark.gate_r5b import q_kaplan_meier

    rows = q_kaplan_meier(spark, SF_DIR).collect()
    assert rows, "KM curve must be non-empty"
    survs = [r["surv6"] for r in rows]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    assert all(0.0 <= s <= 1.0 for s in survs)
    # at-risk strictly decreases
    risks = [r["n_risk"] for r in rows]
    assert all(a > b for a, b in zip(risks, risks[1:]))


def test_ewma_matches_python_recurrence(spark):
    from inferdb_spark.gate_r5b import q_ewma_smoothing
    import duckdb

    rows = q_ewma_smoothing(spark, SF_DIR).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    py = {}
    for uid, ts, eid, v in con.execute(
        "SELECT user_id, epoch_us(ts), event_id, value FROM events "
        "ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall():
        x = round(v * 100) / 100.0
        py[uid] = x if uid not in py else 0.5 * x + 0.5 * py[uid]
    for r in rows:
        assert abs(r["ewma6"] - round(py[r["user_id"]], 6)) < 1e-9


def test_ab_ztest_formula(spark):
    from inferdb_spark.gate_r5b import q_ab_test_ztest

    r = q_ab_test_ztest(spark, SF_DIR).collect()[0]
    pa, pb = r["x_a"] / r["n_a"], r["x_b"] / r["n_b"]
    pp = (r["x_a"] + r["x_b"]) / (r["n_a"] + r["n_b"])
    z = (pa - pb) / math.sqrt(pp * (1 - pp) * (1 / r["n_a"] + 1 / r["n_b"]))
    assert abs(r["z6"] - round(z, 6)) < 1e-9
    assert r["n_a"] + r["n_b"] > 0 and abs(r["n_a"] - r["n_b"]) < 0.3 * (
        r["n_a"] + r["n_b"]
    )


def test_jackknife_se_direct(spark):
    """Gate arithmetic == direct jackknife on the collected group stats."""
    from inferdb_spark.gate_r5b import JK_GROUPS, q_jackknife_variance

    rows = q_jackknife_variance(spark, SF_DIR).collect()
    assert len(rows) == JK_GROUPS
    thetas = [r["theta_c"] for r in rows]
    G = JK_GROUPS
    tbar = sum(thetas) / G
    var = (G - 1) / G * sum((t - tbar) ** 2 for t in thetas)
    assert abs(rows[0]["se_jack6"] - round(math.sqrt(var), 6)) < 1e-6


def test_power_iteration_matches_numpy(spark):
    """Relational power iteration == numpy replay with identical
    quantization on a small gram."""
    import numpy as np

    rows = [
        (0, 0, 4), (1, 1, 5), (2, 2, 3),
        (0, 1, 2), (1, 0, 2), (1, 2, 1), (2, 1, 1),
    ]
    gram = spark.createDataFrame(rows, "i long, j long, w long")
    v = (
        gram.select(F.col("i").alias("it"))
        .distinct()
        .withColumn("vq", F.lit(1_000_000).cast("long"))
    )
    for _ in range(3):
        w = (
            gram.join(v, gram["j"] == v["it"])
            .groupBy(F.col("i").alias("nit"))
            .agg(F.sum(F.col("w") * F.col("vq")).cast("long").alias("wq"))
        )
        m = w.agg(F.max("wq").alias("m"))
        v = w.crossJoin(m).select(
            F.col("nit").alias("it"),
            F.floor(
                F.col("wq").cast("double") * 1000000.0 / F.col("m").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("vq"),
        )
    got = {r["it"]: r["vq"] for r in v.collect()}

    A = np.zeros((3, 3), dtype=np.int64)
    for i, j, w_ in rows:
        A[i, j] = w_
    vq = np.full(3, 1_000_000, dtype=np.int64)
    import math

    for _ in range(3):
        wq = A @ vq
        mm = wq.max()
        vq = np.array(
            [math.floor(float(x) * 1000000.0 / float(mm) + 0.5) for x in wq],
            dtype=np.int64,
        )
    assert got == {i: int(vq[i]) for i in range(3)}
    # dominant direction: item 1 (largest diagonal + couplings) leads
    assert got[1] == 1_000_000 and got[1] >= got[0] >= got[2]
