"""Third-implementation checks for the round-8 batch-8 gates
(inferdb_spark/gate_r8h.py): a literal sequential Holt-Winters replay
(the fold must equal the textbook loop) and a numpy-free Breusch-Pagan
recomputation.
"""

from __future__ import annotations

import duckdb
import pytest


def _monthly_kd(sf_dir):
    return duckdb.sql(
        f"""select cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint)
                     mkey,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()


def _weekly_kd(sf_dir):
    return duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()


def test_holt_winters_matches_sequential_replay(spark, sf_dir):
    from inferdb_spark.gate_r8h import _HW_H, q_holt_winters_monthly

    out = {r["h"]: r for r in q_holt_winters_monthly(spark, sf_dir).collect()}
    xs = [float(y) for _, y in _monthly_kd(sf_dir)]
    tt = len(xs)
    assert tt >= 25
    level = sum(xs[:12]) / 12.0
    trend = (sum(xs[12:24]) / 12.0 - sum(xs[:12]) / 12.0) / 12.0
    season = [x - level for x in xs[:12]]
    for t in range(13, tt + 1):  # 1-based t
        x = xs[t - 1]
        pos = (t - 1) % 12
        s_old = season[pos]
        l_new = 0.5 * (x - s_old) + 0.5 * (level + trend)
        trend = 0.5 * (l_new - level) + 0.5 * trend
        season[pos] = 0.5 * (x - l_new) + 0.5 * s_old
        level = l_new
    assert set(out) == set(range(1, _HW_H + 1))
    for h in range(1, _HW_H + 1):
        row = out[h]
        s_h = season[(tt + h - 1) % 12]
        assert row["n_months"] == tt
        assert row["level6"] == pytest.approx(level, abs=1e-5)
        assert row["trend6"] == pytest.approx(trend, abs=1e-5)
        assert row["seasonal6"] == pytest.approx(s_h, abs=1e-5)
        assert row["forecast6"] == pytest.approx(level + h * trend + s_h, abs=1e-4)
    # the seasonal profile must not be flat on seasonal revenue data
    seas = [out[h]["seasonal6"] for h in range(1, 13)]
    assert max(seas) - min(seas) > 0.0


def test_breusch_pagan_reference(spark, sf_dir):
    from inferdb_spark.gate_r8h import q_breusch_pagan_weekly

    row = q_breusch_pagan_weekly(spark, sf_dir).collect()[0]
    pts = _weekly_kd(sf_dir)
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    b = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    a = round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
    su = suu = sxu = 0.0
    for x, y in pts:  # week order — matches the gate's ordered fold
        e = round(y - (a + b * x), 6)
        u = e * e
        su += u
        suu += u * u
        sxu += x * u
    r2 = ((n * sxu - sx * su) ** 2) / ((n * sxx - sx * sx) * (n * suu - su * su))
    assert row["n"] == n
    assert row["r2_6"] == pytest.approx(r2, abs=1e-5)
    assert row["lm6"] == pytest.approx(n * r2, abs=1e-3)
    assert 0.0 <= row["r2_6"] <= 1.0
