"""Third-implementation checks for the round-8 batch-10 gates
(inferdb_spark/gate_r8j.py): a literal queue-based BFS, a textbook
Cochran-Armitage recomputation, and a full-resolution (unbinned) KS
bound check for the hash-uniformity gate.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict, deque

import duckdb
import pytest


def test_bfs_matches_queue_bfs(spark, sf_dir):
    from inferdb_spark.gate_r8j import _BFS_MIN_CO, q_bfs_shortest_paths

    out = {r["dist"]: r["n_parts"] for r in q_bfs_shortest_paths(spark, sf_dir).collect()}
    edges = duckdb.sql(
        f"""with li as (select l_orderkey o, cast(l_partkey as bigint) p
                        from '{sf_dir}/lineitem.parquet')
            select a.p, b.p from li a join li b on a.o = b.o and a.p < b.p
            group by a.p, b.p having count(*) >= {_BFS_MIN_CO}"""
    ).fetchall()
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    src = min(adj)
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    hist = Counter(dist.values())
    unreached = len(adj) - len(dist)
    expect = dict(hist)
    if unreached:
        expect[-1] = unreached
    assert out == expect
    # the fixed 12 rounds must cover the true eccentricity at this sf
    assert max(dist.values()) <= 12


def test_cochran_armitage_reference(spark, sf_dir):
    from inferdb_spark.gate_r8j import q_cochran_armitage_trend

    row = q_cochran_armitage_trend(spark, sf_dir).collect()[0]
    li = duckdb.sql(
        f"select l_quantity, l_returnflag from '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    n = len(li)
    r_ev = sr = sn = s2n = 0
    for qty, rf in li:
        s = int(math.floor(round(qty) / 10.0))
        y = 1 if rf == "R" else 0
        r_ev += y
        sr += s * y
        sn += s
        s2n += s * s
    t_scaled = n * sr - r_ev * sn
    p = r_ev / n
    z = (t_scaled / n) / math.sqrt((p * (1.0 - p)) * (s2n - sn * sn / n))
    assert row["n"] == n and row["r_events"] == r_ev
    assert row["t_scaled"] == t_scaled
    assert row["z6"] == pytest.approx(z, abs=1e-4)
    # returnflag is independent of quantity in this data: placebo |z| small
    assert abs(row["z6"]) < 4.0


def test_ks_hash_uniformity_reference(spark, sf_dir):
    from inferdb_spark.gate_r8j import _KSU_BINS, _KSU_MOD, q_ks_hash_uniformity
    import hashlib

    row = q_ks_hash_uniformity(spark, sf_dir).collect()[0]
    keys = duckdb.sql(
        f"select o_orderkey from '{sf_dir}/orders.parquet'"
    ).fetchall()
    us = [
        int(hashlib.md5(str(k).encode()).hexdigest()[:13], 16) % _KSU_MOD
        for (k,) in keys
    ]
    n = len(us)
    width = _KSU_MOD // _KSU_BINS
    counts = Counter(u // width for u in us)
    cum = 0
    d_num = 0
    for b in sorted(counts):
        lo = cum
        cum += counts[b]
        d_num = max(
            d_num,
            abs(cum * _KSU_BINS - (b + 1) * n),
            abs(lo * _KSU_BINS - b * n),
        )
    assert row["n"] == n
    assert row["d_num"] == d_num
    assert row["d6"] == pytest.approx(d_num / (n * _KSU_BINS), abs=1e-6)
    assert row["ks_scaled6"] == pytest.approx(
        d_num / (n * _KSU_BINS) * math.sqrt(n), abs=1e-4
    )
    # the engine's split hash must actually BE uniform (5% critical 1.36)
    assert row["ks_scaled6"] < 1.36
