"""Third-implementation checks for the round-8 batch-9 gates
(inferdb_spark/gate_r8i.py): pure-python ANOVA, a literal full-rank
Kruskal-Wallis on the binned variable, and a scipy-free Bartlett
recomputation.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest


def _groups(sf_dir):
    rows = duckdb.sql(
        f"""select o_orderpriority, cast(round(o_totalprice) as bigint)
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    g = defaultdict(list)
    for grp, y in rows:
        g[grp].append(y)
    return g


def test_anova_reference(spark, sf_dir):
    from inferdb_spark.gate_r8i import q_anova_oneway_priority

    row = q_anova_oneway_priority(spark, sf_dir).collect()[0]
    g = _groups(sf_dir)
    k = len(g)
    n = sum(len(v) for v in g.values())
    s = sum(sum(v) for v in g.values())
    q = sum(sum(y * y for y in v) for v in g.values())
    t_sum = sum(round(sum(v) * sum(v) / len(v)) for v in g.values())
    f = ((t_sum - s * s / n) / (k - 1)) / ((q - t_sum) / (n - k))
    assert row["k"] == k and row["n"] == n
    assert row["f6"] == pytest.approx(f, rel=1e-4)
    # priorities are assigned independently of price: placebo F near 1
    assert row["f6"] < 5.0


def test_kruskal_wallis_matches_full_rank_replay(spark, sf_dir):
    from inferdb_spark.gate_r8i import _KW_BIN_CENTS, q_kruskal_wallis_binned

    row = q_kruskal_wallis_binned(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select o_orderpriority,
                   cast(round(o_totalprice * 100) as bigint) // {_KW_BIN_CENTS}
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    # literal midranks over the pooled binned sample
    vals = sorted(v for _, v in rows)
    n = len(vals)
    counts = Counter(vals)
    start = {}
    acc = 0
    for v in sorted(counts):
        start[v] = acc
        acc += counts[v]
    midrank = {v: start[v] + (counts[v] + 1) / 2.0 for v in counts}
    rsum = defaultdict(float)
    ng = Counter()
    for grp, v in rows:
        rsum[grp] += midrank[v]
        ng[grp] += 1
    h = 12.0 / (n * (n + 1)) * sum(
        ng[grp] * (rsum[grp] / ng[grp] - (n + 1) / 2.0) ** 2 for grp in ng
    )
    tie = sum(t**3 - t for t in counts.values())
    c = 1.0 - tie / (float(n) ** 3 - n)
    assert row["n"] == n and row["k"] == len(ng)
    assert row["h6"] == pytest.approx(h, rel=1e-5, abs=1e-5)
    assert row["c6"] == pytest.approx(c, abs=1e-6)
    assert row["h_tied6"] == pytest.approx(h / c, rel=1e-5, abs=1e-5)


def test_bartlett_reference(spark, sf_dir):
    from inferdb_spark.gate_r8i import q_bartlett_variance_test

    row = q_bartlett_variance_test(spark, sf_dir).collect()[0]
    g = _groups(sf_dir)
    k = len(g)
    n = sum(len(v) for v in g.values())
    ssw = 0
    wsum = 0.0
    isum = 0.0
    for grp in sorted(g):
        v = g[grp]
        ngr = len(v)
        sg, qg = sum(v), sum(y * y for y in v)
        var = (ngr * qg - sg * sg) / (ngr * (ngr - 1))
        ssw += qg - round(sg * sg / ngr)
        wsum += (ngr - 1) * math.log(var)
        isum += 1.0 / (ngr - 1)
    sp2 = ssw / (n - k)
    t = ((n - k) * math.log(sp2) - wsum) / (
        1.0 + (isum - 1.0 / (n - k)) / (3.0 * (k - 1))
    )
    assert row["n"] == n and row["k"] == k
    assert row["t6"] == pytest.approx(t, rel=1e-4, abs=1e-3)
    assert row["t6"] >= 0.0
