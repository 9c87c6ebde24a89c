"""Third-implementation checks for the round-8 batch-11 gates
(inferdb_spark/gate_r8k.py): full-rank Dunn replay, a sorted-median
Mood recomputation, numpy partial correlation, and a literal
Durbin-Levinson recursion on brute-force ACF values.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pytest


def test_dunn_matches_full_rank_replay(spark, sf_dir):
    from inferdb_spark.gate_r8k import _DUNN_ZCRIT, q_dunn_posthoc_pairs

    out = {
        (r["g1"], r["g2"]): r for r in q_dunn_posthoc_pairs(spark, sf_dir).collect()
    }
    rows = duckdb.sql(
        f"""select o_orderpriority,
                   cast(round(o_totalprice * 100) as bigint) // 10000
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    counts = Counter(v for _, v in rows)
    start = {}
    acc = 0
    for v in sorted(counts):
        start[v] = acc
        acc += counts[v]
    midrank = {v: start[v] + (counts[v] + 1) / 2.0 for v in counts}
    rsum = defaultdict(float)
    ng = Counter()
    for g, v in rows:
        rsum[g] += midrank[v]
        ng[g] += 1
    n = len(rows)
    tie = sum(t**3 - t for t in counts.values())
    var = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    gs = sorted(ng)
    assert len(out) == len(gs) * (len(gs) - 1) // 2
    for i, g1 in enumerate(gs):
        for g2 in gs[i + 1 :]:
            z = (rsum[g1] / ng[g1] - rsum[g2] / ng[g2]) / math.sqrt(
                var * (1.0 / ng[g1] + 1.0 / ng[g2])
            )
            row = out[(g1, g2)]
            assert (row["n1"], row["n2"]) == (ng[g1], ng[g2])
            assert row["z6"] == pytest.approx(z, abs=1e-5)
            assert row["significant"] == int(abs(round(z, 6)) > _DUNN_ZCRIT)
    # placebo: no pair should reach the Bonferroni boundary
    assert all(r["significant"] == 0 for r in out.values())


def test_mood_median_reference(spark, sf_dir):
    from inferdb_spark.gate_r8k import q_mood_median_test

    out = {r["grp"]: r for r in q_mood_median_test(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""select o_orderpriority, cast(round(o_totalprice) as bigint)
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    ys = sorted(y for _, y in rows)
    m = ys[(len(ys) + 1) // 2 - 1]
    cells = defaultdict(lambda: [0, 0])
    for g, y in rows:
        cells[g][0 if y > m else 1] += 1
    n = len(rows)
    tot_a = sum(v[0] for v in cells.values())
    tot_b = sum(v[1] for v in cells.values())
    chi2_u = 0
    for g, (a, b) in cells.items():
        ngr = a + b
        for o, col in ((a, tot_a), (b, tot_b)):
            chi2_u += round(
                ((o * n - ngr * col) ** 2) / ((float(n) * ngr) * col) * 1e9
            )
        row = out[g]
        assert (row["n_above"], row["n_below_eq"], row["ng"]) == (a, b, ngr)
    for row in out.values():
        assert row["chi2_6"] == pytest.approx(chi2_u / 1e9, abs=1e-4)
        assert row["df"] == len(cells) - 1


def test_partial_correlation_reference(spark, sf_dir):
    from inferdb_spark.gate_r8k import q_partial_correlation

    row = q_partial_correlation(spark, sf_dir).collect()[0]
    data = duckdb.sql(
        f"""select cast(sum(cast(round(l_quantity) as bigint)) as bigint),
                   cast(sum(cast(round(l_extendedprice / 100.0) as bigint))
                        as bigint),
                   cast(count(*) as bigint)
            from '{sf_dir}/lineitem.parquet' group by l_orderkey"""
    ).fetchall()
    arr = np.array(data, dtype=float).T
    c = np.corrcoef(arr)
    r_xy, r_xz, r_yz = (
        round(c[0, 1], 6),
        round(c[0, 2], 6),
        round(c[1, 2], 6),
    )
    part = (r_xy - r_xz * r_yz) / math.sqrt((1 - r_xz**2) * (1 - r_yz**2))
    assert row["n"] == len(data)
    assert row["r_xy6"] == pytest.approx(r_xy, abs=2e-6)
    assert row["r_xz6"] == pytest.approx(r_xz, abs=2e-6)
    assert row["r_yz6"] == pytest.approx(r_yz, abs=2e-6)
    assert row["r_xy_given_z6"] == pytest.approx(part, abs=1e-5)
    # the raw correlation is strong but mostly the shared line-count
    # factor: controlling for z must collapse it substantially
    assert row["r_xy6"] > 0.5
    assert abs(row["r_xy_given_z6"]) < 0.5 * row["r_xy6"]


def test_pacf_matches_literal_durbin_levinson(spark, sf_dir):
    from inferdb_spark.gate_r8k import q_pacf_durbin_levinson

    row = q_pacf_durbin_levinson(spark, sf_dir).collect()[0]
    weekly = duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()
    ys = [y for _, y in weekly]
    w = len(ys)
    s = sum(ys)
    ds = [float(w * y - s) for y in ys]
    den = sum(d * d for d in ds)
    rho = [
        round(sum(ds[t] * ds[t - k] for t in range(k, w)) / den, 6)
        for k in (1, 2, 3)
    ]
    r1, r2, r3 = rho
    p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21 = r1 - p22 * r1
    p33 = (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
    assert row["n_weeks"] == w
    assert row["rho1_6"] == pytest.approx(r1, abs=1e-9)
    assert row["rho2_6"] == pytest.approx(r2, abs=1e-9)
    assert row["rho3_6"] == pytest.approx(r3, abs=1e-9)
    assert row["pacf1_6"] == row["rho1_6"]
    assert row["pacf2_6"] == pytest.approx(p22, abs=1e-5)
    assert row["pacf3_6"] == pytest.approx(p33, abs=1e-5)
