"""Third-implementation checks for the round-10 gates
(inferdb_spark/gate_r10a.py): pure-python recomputation from the raw
parquet, independent of both the Spark plans and the DuckDB oracles.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest


def _paired_diffs(sf_dir):
    from inferdb_spark.gate_r10a import _ERA_SPLIT

    rows = duckdb.sql(
        f"""select o_custkey,
                   sum(case when o_orderdate < DATE '{_ERA_SPLIT}'
                       then cast(round(o_totalprice) as bigint) else 0 end)
                   - sum(case when o_orderdate >= DATE '{_ERA_SPLIT}'
                         then cast(round(o_totalprice) as bigint) else 0 end)
            from '{sf_dir}/orders.parquet' group by 1"""
    ).fetchall()
    return [d for _, d in rows]


def test_wilcoxon_reference(spark, sf_dir):
    from inferdb_spark.gate_r10a import _WILCOX_BIN, q_wilcoxon_signed_rank_binned

    row = q_wilcoxon_signed_rank_binned(spark, sf_dir).collect()[0]
    ds = [d for d in _paired_diffs(sf_dir) if d != 0]
    binned = [(abs(d) // _WILCOX_BIN, d > 0) for d in ds]
    cnt = Counter(v for v, _ in binned)
    # doubled midranks per bin
    r2 = {}
    acc = 0
    for v in sorted(cnt):
        r2[v] = 2 * acc + cnt[v] + 1
        acc += cnt[v]
    n = len(binned)
    w2 = sum(r2[v] for v, pos in binned if pos)
    ties = sum(t**3 - t for t in cnt.values())
    z = (w2 - n * (n + 1) / 2) / (
        2 * math.sqrt(n * (n + 1) * (2 * n + 1) / 24 - ties / 48)
    )
    assert row["n"] == n and row["w2_pos"] == w2 and row["tie_term"] == ties
    assert row["z6"] == pytest.approx(z, abs=2e-6)


def test_sign_test_reference(spark, sf_dir):
    from inferdb_spark.gate_r10a import q_sign_test_paired

    row = q_sign_test_paired(spark, sf_dir).collect()[0]
    ds = _paired_diffs(sf_dir)
    m = sum(1 for d in ds if d != 0)
    k = sum(1 for d in ds if d > 0)
    assert row["m"] == m and row["k_pos"] == k
    assert row["z6"] == pytest.approx((2 * k - m) / math.sqrt(m), abs=2e-6)
    assert row["z_cc6"] == pytest.approx(
        (abs(2 * k - m) - 1) / math.sqrt(m), abs=2e-6
    )


def _weekly(sf_dir):
    return dict(
        duckdb.sql(
            f"""select cast(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                       as bigint) as wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                        as double) / 1000.0) as bigint)
            from '{sf_dir}/orders.parquet' group by 1"""
        ).fetchall()
    )


def test_ljung_box_reference(spark, sf_dir):
    from inferdb_spark.gate_r10a import q_ljung_box_weekly

    row = q_ljung_box_weekly(spark, sf_dir).collect()[0]
    wk = _weekly(sf_dir)
    ys = [wk[w] for w in sorted(wk)]
    n = len(ys)
    s = sum(ys)
    d = [n * y - s for y in ys]  # exact integer deviations (x W)
    den = sum(x * x for x in d)
    rhos = []
    for lag in (1, 2, 3):
        num = sum(d[i] * d[i - lag] for i in range(lag, n))
        rhos.append(round(num / den, 6))
    assert row["n_weeks"] == n
    assert [row["rho1_6"], row["rho2_6"], row["rho3_6"]] == pytest.approx(
        rhos, abs=2e-6
    )
    q = n * (n + 2) * sum(r * r / (n - k) for k, r in enumerate(rhos, start=1))
    assert row["q3_6"] == pytest.approx(q, abs=1e-4)


def test_granger_reference(spark, sf_dir):
    from inferdb_spark.gate_r10a import q_granger_lag1_weekly

    row = q_granger_lag1_weekly(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select cast(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                       as bigint) as wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                        as double) / 1000.0) as bigint) as y,
                   cast(count(*) as bigint) as x
            from '{sf_dir}/orders.parquet' group by 1"""
    ).fetchall()
    by_wk = {wk: (y, x) for wk, y, x in rows}
    pairs = [
        (by_wk[w + 1][0], by_wk[w + 1][1], by_wk[w][0], by_wk[w][1])
        for w in sorted(by_wk)
        if w + 1 in by_wk
    ]
    n = len(pairs)
    assert row["n"] == n

    def f_stat(dep, own, oth):
        import statistics

        md, mo, mt = (
            sum(dep) / n,
            sum(own) / n,
            sum(oth) / n,
        )
        syy = sum((a - md) ** 2 for a in dep)
        s11 = sum((a - mo) ** 2 for a in own)
        s22 = sum((a - mt) ** 2 for a in oth)
        s12 = sum((a - mo) * (b - mt) for a, b in zip(own, oth))
        s1y = sum((a - mo) * (b - md) for a, b in zip(own, dep))
        s2y = sum((a - mt) * (b - md) for a, b in zip(oth, dep))
        ssr_r = syy - s1y * s1y / s11
        det = s11 * s22 - s12 * s12
        b_ = (s1y * s22 - s2y * s12) / det
        c_ = (s2y * s11 - s1y * s12) / det
        ssr_u = syy - b_ * s1y - c_ * s2y
        return (ssr_r - ssr_u) * (n - 3) / ssr_u

    yt = [p[0] for p in pairs]
    xt = [p[1] for p in pairs]
    y1 = [p[2] for p in pairs]
    x1 = [p[3] for p in pairs]
    assert row["f_orders_to_revenue6"] == pytest.approx(
        f_stat(yt, y1, x1), rel=1e-4
    )
    assert row["f_revenue_to_orders6"] == pytest.approx(
        f_stat(xt, x1, y1), rel=1e-4
    )
    # contemporaneous co-movement, no lagged causality in the generator
    assert row["f_orders_to_revenue6"] < 15.0
    assert row["f_revenue_to_orders6"] < 15.0


def test_quantile_transform_reference(spark, sf_dir):
    from inferdb_spark.gate_r10a import _QT_BIN_CENTS, q_quantile_transform_binned

    got = {r["v"]: r for r in q_quantile_transform_binned(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""select cast(round(o_totalprice * 100) as bigint) // {_QT_BIN_CENTS}
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    cnt = Counter(v for (v,) in rows)
    nt = sum(cnt.values())
    acc = 0
    prev_q = 0.0
    for v in sorted(cnt):
        q = (2 * acc + cnt[v]) / (2 * nt)
        assert got[v]["c"] == cnt[v]
        assert got[v]["q6"] == pytest.approx(q, abs=2e-6)
        assert got[v]["q6"] > prev_q  # strictly monotone map
        prev_q = got[v]["q6"]
        acc += cnt[v]
    assert 0.0 < min(r["q6"] for r in got.values())
    assert max(r["q6"] for r in got.values()) < 1.0
