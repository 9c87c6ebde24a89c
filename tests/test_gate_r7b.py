"""Round-7 batch-2 gate math vs independent references (sf0.001)."""

from __future__ import annotations

import math

import pytest

from inferdb_spark.gate_r7b import (
    _CMH_PRICE,
    _PERM_R,
    q_changepoint_sse_scan,
    q_cmh_stratified_test,
    q_cohens_kappa,
    q_cuped_adjusted_ab,
    q_gini_grouped_revenue,
    q_page_hinkley_drift,
    q_permutation_test_signflip,
)


def test_cmh_matches_bruteforce(spark, sf_dir):
    row = q_cmh_stratified_test(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    data = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .select("c_nationkey", "o_totalprice", "o_orderstatus")
        .collect()
    )
    strata = {}
    for r in data:
        e = 1 if r["o_totalprice"] > _CMH_PRICE else 0
        o = 1 if r["o_orderstatus"] == "F" else 0
        s = strata.setdefault(r["c_nationkey"], [0, 0, 0, 0])  # n, n1, m1, a
        s[0] += 1
        s[1] += e
        s[2] += o
        s[3] += e * o
    sum_a = sum_e_u = sum_v_u = 0
    k = 0
    for n, n1, m1, a in strata.values():
        if n <= 1:
            continue
        k += 1
        sum_a += a
        sum_e_u += round(n1 * m1 / n * 1_000_000)
        sum_v_u += round(n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1)) * 1_000_000)
    assert row["k"] == k and row["sum_a"] == sum_a
    dev = sum_a - sum_e_u / 1e6
    assert row["cmh_stat"] == pytest.approx(dev * dev / (sum_v_u / 1e6), abs=1e-6)


def test_permutation_pvalue_bounds_and_obs(spark, sf_dir):
    row = q_permutation_test_signflip(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    g1 = [
        int(round(r["o_totalprice"] * 100))
        for r in od.filter("o_orderpriority = '1-URGENT'").collect()
    ]
    g2 = [
        int(round(r["o_totalprice"] * 100))
        for r in od.filter("o_orderpriority = '5-LOW'").collect()
    ]
    obs = abs(sum(g1) / len(g1) - sum(g2) / len(g2)) / 100.0
    assert row["n"] == len(g1) + len(g2)
    assert row["obs_diff"] == pytest.approx(obs, abs=1e-6)
    lo, hi = 1.0 / (_PERM_R + 1), 1.0
    assert lo - 5e-7 <= row["p_value"] <= hi + 5e-7  # p is 6dp-rounded


def test_cohens_kappa_matches_sklearnless_reference(spark, sf_dir):
    from collections import Counter

    from inferdb_spark.functions import text as TXT
    from pyspark.sql import functions as F

    row = q_cohens_kappa(spark, sf_dir).first()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rated = docs.select(
        "n_chars", F.size(F.expr(TXT.tokens_sql("`text`"))).alias("tc")
    ).collect()
    pairs = []
    for r in rated:
        ra = 0 if r["n_chars"] < 150 else (1 if r["n_chars"] < 300 else 2)
        rb = 0 if r["tc"] < 25 else (1 if r["tc"] < 50 else 2)
        pairs.append((ra, rb))
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    ca, cb = Counter(a for a, _ in pairs), Counter(b for _, b in pairs)
    chance_x = sum(ca[k] * cb.get(k, 0) for k in ca)
    kappa = (agree * n - chance_x) / (n * n - chance_x)
    assert row["n"] == n and row["agree"] == agree
    assert row["kappa"] == pytest.approx(kappa, abs=1e-6)


def test_page_hinkley_matches_sequential_reference(spark, sf_dir):
    from inferdb_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = {r["event_type"]: r for r in q_page_hinkley_drift(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").alias("h"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
        .collect()
    )
    series = {}
    for r in hourly:
        series.setdefault(r["event_type"], []).append((r["h"], r["x"]))
    for et, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        d, s = len(xs), sum(xs)
        m = 0
        mn = 0
        max_ph = 0
        alarms = 0
        first = -1
        prefix = 0
        for t, (h, x) in enumerate(pts, start=1):
            prefix += x
            m = d * prefix - t * (s + d * 50)
            mn = min(mn if t > 1 else m, m)
            ph = m - mn
            max_ph = max(max_ph, ph)
            if ph > d * 200_000:
                alarms += 1
                if first < 0:
                    first = h
        assert out[et]["n_hours"] == d
        assert out[et]["max_ph_xd"] == max_ph
        assert out[et]["n_alarms"] == alarms
        assert out[et]["first_alarm_h"] == first


def test_gini_matches_grouped_reference(spark, sf_dir):
    row = q_gini_grouped_revenue(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per = {}
    for r in od.collect():
        # HALF_UP like Spark F.round / DuckDB round (python round() is
        # half-to-even and disagrees on .5 boundaries)
        per[r["o_custkey"]] = per.get(r["o_custkey"], 0) + int(
            math.floor(r["o_totalprice"] + 0.5)
        )
    hist = {}
    for rev in per.values():
        b = rev // 1_000
        c, s = hist.get(b, (0, 0))
        hist[b] = (c + 1, s + rev)
    total = sum(s for _, s in hist.values())
    n = len(per)
    cs = 0
    lorenz_x2 = 0
    for b in sorted(hist):
        c, s = hist[b]
        cs += s
        lorenz_x2 += c * (2 * cs - s)
    gini = 1.0 - lorenz_x2 / (n * total)
    assert row["n"] == n and row["total"] == total
    assert row["gini"] == pytest.approx(gini, abs=1e-6)
    assert 0.0 <= row["gini"] < 1.0


def test_cuped_reduces_variance_and_matches_moments(spark, sf_dir):
    import numpy as np

    from inferdb_spark.functions.hashing import h52
    from pyspark.sql import functions as F

    row = q_cuped_adjusted_ab(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pdf = (
        od.groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(
                    F.year("o_orderdate") < 1998,
                    F.round(F.col("o_totalprice")).cast("long"),
                ).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.year("o_orderdate") >= 1998,
                    F.round(F.col("o_totalprice")).cast("long"),
                ).otherwise(0)
            ).alias("y"),
        )
        .select("*", (h52(F.col("o_custkey").cast("string")) % 2).alias("v"))
        .toPandas()
    )
    x, y = pdf.x.to_numpy(float), pdf.y.to_numpy(float)
    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    assert row["theta"] == pytest.approx(theta, abs=1e-4)
    rho2 = np.corrcoef(x, y)[0, 1] ** 2
    assert row["var_reduction"] == pytest.approx(rho2, abs=1e-4)
    m1, m0 = pdf[pdf.v == 1], pdf[pdf.v == 0]
    adj = (m1.y.mean() - m0.y.mean()) - theta * (m1.x.mean() - m0.x.mean())
    assert row["adj_diff"] == pytest.approx(adj, abs=1e-3)


def test_changepoint_matches_bruteforce(spark, sf_dir):
    row = q_changepoint_sse_scan(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    monthly = (
        od.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
        )
        .agg(F.round(F.sum("o_totalprice") / 1000.0).cast("long").alias("v"))
        .collect()
    )
    series = sorted((r["ym"], r["v"]) for r in monthly)
    vs = [v for _, v in series]
    tn = len(vs)
    best = None
    for t in range(6, tn - 6 + 1):
        p1, q1 = sum(vs[:t]), sum(v * v for v in vs[:t])
        p2, q2 = sum(vs[t:]), sum(v * v for v in vs[t:])
        sse = round(q1 - p1 * p1 / t + q2 - p2 * p2 / (tn - t), 6)
        key = (sse, series[t - 1][0])
        if best is None or key < best:
            best = key
    assert (row["best_sse"], row["change_ym"]) == best
    assert math.isfinite(row["best_sse"])
