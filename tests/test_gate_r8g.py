"""Third-implementation checks for the round-8 batch-7 gates
(inferdb_spark/gate_r8g.py): numpy OLS for Chow, a literal cumulative
scan for ABC, and a full-sort quantile replay for RFM (the point: the
gate's count-bisection thresholds equal literal sorted-order ranks).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb
import numpy as np
import pytest


def _weekly(sf_dir):
    return duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()


def test_chow_reference(spark, sf_dir):
    from inferdb_spark.gate_r8g import _CHOW_SPLIT_WK, q_chow_test_break

    row = q_chow_test_break(spark, sf_dir).collect()[0]
    pts = _weekly(sf_dir)

    def sse(seg):
        xs = np.array([x for x, _ in seg], dtype=float)
        ys = np.array([y for _, y in seg], dtype=float)
        b, a = np.polyfit(xs, ys, 1)
        a, b = round(a, 6), round(b, 6)
        es = np.round(ys - (a + b * xs), 6)
        # per-term quantized, the gate's shuffle-order-proof form
        return float(np.round(es * es).sum())

    left = [(x, y) for x, y in pts if x < _CHOW_SPLIT_WK]
    right = [(x, y) for x, y in pts if x >= _CHOW_SPLIT_WK]
    sse_p, sse_1, sse_2 = sse(pts), sse(left), sse(right)
    n = len(pts)
    f = ((sse_p - (sse_1 + sse_2)) / 2.0) / ((sse_1 + sse_2) / (n - 4))
    assert (row["n1"], row["n2"]) == (len(left), len(right))
    assert row["sse_p6"] == pytest.approx(sse_p, rel=1e-6)
    assert row["sse_1_6"] == pytest.approx(sse_1, rel=1e-6)
    assert row["sse_2_6"] == pytest.approx(sse_2, rel=1e-6)
    assert row["f6"] == pytest.approx(f, rel=1e-4)
    # splitting can only reduce SSE
    assert sse_1 + sse_2 <= sse_p + 1e-6


def test_abc_pareto_reference(spark, sf_dir):
    from inferdb_spark.gate_r8g import q_abc_pareto_parts

    out = {r["abc_class"]: r for r in q_abc_pareto_parts(spark, sf_dir).collect()}
    rev = duckdb.sql(
        f"""select cast(l_partkey as bigint),
                   cast(sum(cast(round(l_extendedprice) as bigint)) as bigint)
            from '{sf_dir}/lineitem.parquet' group by 1"""
    ).fetchall()
    rev.sort(key=lambda kv: (-kv[1], kv[0]))
    tot = sum(d for _, d in rev)
    cum = 0
    agg = defaultdict(lambda: [0, 0])
    for _, d in rev:
        cum += d
        cls = "A" if cum * 100 <= tot * 80 else ("B" if cum * 100 <= tot * 95 else "C")
        agg[cls][0] += 1
        agg[cls][1] += d
    assert set(out) == set(agg)
    for cls, (n, d) in agg.items():
        assert out[cls]["n_parts"] == n
        assert out[cls]["dollars"] == d
        assert out[cls]["share6"] == pytest.approx(d / tot, abs=1e-6)
    # Pareto structure: A holds most revenue with fewer parts than C
    assert agg["A"][1] > agg["C"][1]


def test_rfm_matches_full_sort_quantiles(spark, sf_dir):
    from inferdb_spark.gate_r8g import q_rfm_segmentation

    out = {
        (r["r_score"], r["f_score"], r["m_score"]): r["n_customers"]
        for r in q_rfm_segmentation(spark, sf_dir).collect()
    }
    percust = duckdb.sql(
        f"""select o_custkey,
                   cast(datediff('day', max(o_orderdate),
                        (select max(o_orderdate)
                         from '{sf_dir}/orders.parquet')) as bigint) r,
                   cast(count(*) as bigint) f,
                   cast(sum(cast(round(o_totalprice) as bigint)) as bigint) m
            from '{sf_dir}/orders.parquet' group by o_custkey"""
    ).fetchall()
    cols = {"r": [p[1] for p in percust], "f": [p[2] for p in percust],
            "m": [p[3] for p in percust]}
    n = len(percust)
    thr = {}
    for k, vs in cols.items():
        # literal full sort — the gate used count-bisection instead
        s = sorted(vs)
        thr[k] = [s[max(1, (j * n) // 5) - 1] for j in (1, 2, 3, 4)]

    def score(v, ts):
        return 1 + sum(1 for t in ts if v > t)

    seg = Counter()
    for _, r, f, m in percust:
        seg[(score(r, thr["r"]), score(f, thr["f"]), score(m, thr["m"]))] += 1
    assert out == dict(seg)
    assert sum(out.values()) == n
