"""Third-implementation checks for the round-8 batch-5 gates
(inferdb_spark/gate_r8e.py): numpy/pure-python recomputations of the
regression-diagnostic and time-series statistics off the parquet.
"""

from __future__ import annotations

import math

import duckdb
import pytest


def _weekly(sf_dir):
    return duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()


def _ols6(pts):
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    b = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    a = round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
    return a, b, n, sx, sxx


def test_durbin_watson_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import q_durbin_watson_weekly

    row = q_durbin_watson_weekly(spark, sf_dir).collect()[0]
    pts = _weekly(sf_dir)
    a, b, n, _, _ = _ols6(pts)
    es = [round(y - (a + b * x), 6) for x, y in pts]
    # per-term quantized sums (the gate's shuffle-order-proof form)
    d_sum = sum(round((e2 - e1) ** 2) for e1, e2 in zip(es, es[1:]))
    q_sum = sum(round(e * e) for e in es)
    dw = d_sum / q_sum
    assert row["n"] == n
    assert row["b6"] == pytest.approx(b, abs=1e-9)
    assert row["a6"] == pytest.approx(a, abs=1e-9)
    assert row["dw6"] == pytest.approx(dw, abs=1e-5)
    assert 0.0 < row["dw6"] < 4.0


def test_grubbs_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import q_grubbs_outlier_test

    row = q_grubbs_outlier_test(spark, sf_dir).collect()[0]
    pts = _weekly(sf_dir)
    ys = [y for _, y in pts]
    n = len(ys)
    s = sum(ys)
    q = sum(y * y for y in ys)
    best = min((-abs(n * y - s), wk) for wk, y in pts)
    sd = math.sqrt((n * q - s * s) / (n * (n - 1)))
    g = (-best[0] / n) / sd
    assert row["wk_outlier"] == best[1]
    assert row["n"] == n
    assert row["g6"] == pytest.approx(g, abs=1e-5)
    assert row["g6"] > 1.0  # the max deviation exceeds one sd


def test_runs_test_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import q_runs_test_median

    row = q_runs_test_median(spark, sf_dir).collect()[0]
    pts = _weekly(sf_dir)
    ranked = sorted((y, wk) for wk, y in pts)
    m = ranked[(len(ranked) + 1) // 2 - 1][0]
    signs = [1 if y > m else 0 for _, y in pts]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1, n2 = sum(signs), len(signs) - sum(signs)
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (((n1 + n2) ** 2) * (n1 + n2 - 1.0))
    )
    assert (row["n1"], row["n2"], row["runs"]) == (n1, n2, runs)
    assert row["mu6"] == pytest.approx(mu, abs=1e-5)
    assert row["z6"] == pytest.approx((runs - mu) / math.sqrt(var), abs=1e-4)


def test_mann_kendall_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import q_mann_kendall_trend

    row = q_mann_kendall_trend(spark, sf_dir).collect()[0]
    pts = _weekly(sf_dir)
    ys = [y for _, y in pts]
    n = len(ys)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (ys[j] > ys[i]) - (ys[j] < ys[i])
    from collections import Counter

    ties = Counter(ys)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = ((s - 1) if s > 0 else (s + 1) if s < 0 else 0) / math.sqrt(var)
    assert row["n"] == n and row["s_stat"] == s
    assert row["var6"] == pytest.approx(var, abs=1e-4)
    assert row["z6"] == pytest.approx(z, abs=1e-4)


def test_cooks_distance_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import _COOKS_K, q_cooks_distance_topk

    rows = q_cooks_distance_topk(spark, sf_dir).collect()
    pts = _weekly(sf_dir)
    a, b, n, sx, sxx = _ols6(pts)
    es = {wk: round(y - (a + b * wk), 6) for wk, y in pts}
    s2 = round(sum(round(e * e) for e in es.values()) / (n - 2.0), 6)
    scored = []
    for wk, y in pts:
        h = round(
            1.0 / n + ((n * wk - sx) ** 2) / (n * (n * sxx - sx * sx)), 6
        )
        e = es[wk]
        d = round((e * e) * h / (2.0 * s2 * ((1.0 - h) * (1.0 - h))), 6)
        scored.append((-d, wk, y, round(e, 6), h, d))
    scored.sort()
    top = scored[:_COOKS_K]
    assert len(rows) == _COOKS_K
    for row, (_, wk, y, e6, h6, d6) in zip(rows, top):
        assert row["wk"] == wk and row["y"] == y
        assert row["e6"] == pytest.approx(e6, abs=2e-6)
        assert row["h6"] == pytest.approx(h6, abs=2e-6)
        assert row["cooks_d6"] == pytest.approx(d6, abs=2e-5)
    # influence is concentrated: top week dominates the 5th
    assert rows[0]["cooks_d6"] >= rows[-1]["cooks_d6"]


def test_periodogram_reference(spark, sf_dir):
    from inferdb_spark.gate_r8e import _PG_MAXK, q_periodogram_monthly

    out = {r["k"]: r for r in q_periodogram_monthly(spark, sf_dir).collect()}
    monthly = duckdb.sql(
        f"""select cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint)
                     mkey,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()
    ys = [y for _, y in monthly]
    tt = len(ys)
    for k in range(1, _PG_MAXK + 1):
        c_u = sum(
            y * round(math.cos(6.283185307179586 * k * t / tt) * 1e6)
            for t, y in enumerate(ys)
        )
        s_u = sum(
            y * round(math.sin(6.283185307179586 * k * t / tt) * 1e6)
            for t, y in enumerate(ys)
        )
        row = out[k]
        assert row["n_months"] == tt
        assert row["c6"] == pytest.approx(c_u / 1e6, abs=2e-6)
        assert row["s6"] == pytest.approx(s_u / 1e6, abs=2e-6)
        power = ((c_u / 1e6) ** 2 + (s_u / 1e6) ** 2) / tt
        assert row["power6"] == pytest.approx(power, abs=1e-4)
