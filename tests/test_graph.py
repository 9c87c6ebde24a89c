"""Connected components vs a driver-side union-find oracle."""

from __future__ import annotations

import random
import threading

import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators import graph as G
from inferdb_spark.operators.graph import connected_components, dedup_clusters


def _branches(monkeypatch):
    """Both regimes, in turn: the graph solved on the driver, then (edge cap
    at 0) the Spark label-propagation loop.  Yields the branch's name."""
    yield "driver"
    monkeypatch.setattr(G, "_DRIVER_EDGE_CAP", 0)
    yield "spark"


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min node id per component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def test_connected_components_random_graph(spark, monkeypatch):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(nodes, edges + [(n, n) for n in nodes])

    edf = spark.createDataFrame(
        edges + [(n, n) for n in nodes], "src int, dst int"
    )
    for branch in _branches(monkeypatch):
        cc = connected_components(edf, "src", "dst")
        assert cc.dtypes == [("node", "int"), ("component", "int")], branch
        got = {r["node"]: r["component"] for r in cc.collect()}
        assert got == expected, branch


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # path graph 0-1-2-...-63: worst case for naive propagation (diameter 63);
    # path halving must still converge within max_iters=50
    edges = [(i, i + 1) for i in range(63)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    for branch in _branches(monkeypatch):
        got = connected_components(edf, "src", "dst").collect()
        assert len(got) == 64, branch
        assert {r["component"] for r in got} == {0}, branch


def test_dedup_clusters_assigns_singletons(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a int, id_b int")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id int")
    for branch in _branches(monkeypatch):
        got = {
            r["doc_id"]: r["cluster"]
            for r in dedup_clusters(pairs, ids, "doc_id").collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}, branch
        reps = [d for d, c in got.items() if d == c]
        assert sorted(reps) == [1, 10, 99], branch


def test_pagerank_integer_properties(spark):
    # star graph: hub receives all mass; ranks deterministic across runs
    from inferdb_spark.operators.graph import pagerank_integer
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 9)] + [(0, i) for i in range(1, 9)],
        "src long, dst long",
    )
    r1 = {r["node"]: r["rank_micro"] for r in pagerank_integer(edges, 4).collect()}
    r2 = {r["node"]: r["rank_micro"] for r in pagerank_integer(edges, 4).collect()}
    assert r1 == r2  # bit-reproducible
    assert r1[0] > r1[1]  # hub dominates
    assert len({r1[i] for i in range(1, 9)}) == 1  # leaves symmetric


def test_star_cc_matches_label_propagation_random_graphs(spark):
    # property: large-star/small-star and min-label propagation compute the
    # same (node, component) relation on arbitrary graphs
    from inferdb_spark.operators.graph import connected_components_star

    for seed, n_nodes, n_edges in [(3, 60, 30), (11, 80, 120), (23, 50, 200)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        rows = edges + [(n, n) for n in range(n_nodes)]
        edf = spark.createDataFrame(rows, "src int, dst int")
        lp = {
            r["node"]: r["component"]
            for r in connected_components(edf, "src", "dst").collect()
        }
        star = {
            r["node"]: r["component"]
            for r in connected_components_star(edf, "src", "dst").collect()
        }
        assert star == lp, f"seed={seed}"


def test_star_cc_long_chain(spark):
    from inferdb_spark.operators.graph import connected_components_star

    edges = [(i, i + 1) for i in range(63)]
    edf = spark.createDataFrame(edges, "src int, dst int")
    got = connected_components_star(edf, "src", "dst").collect()
    assert len(got) == 64
    assert {r["component"] for r in got} == {0}


@pytest.mark.parametrize("ids", ["long", "string"])
def test_connected_components_shuffled_label_loop(spark, monkeypatch, ids):
    """Over both caps (driver edge cap and the label-map broadcast cap) the
    loop runs its shuffled joins; labels still equal a union-find's, on
    long ids and on string ids (whose order is not numeric: "10" < "9")."""
    monkeypatch.setattr(G, "_DRIVER_EDGE_CAP", 0)
    monkeypatch.setattr(G, "_BROADCAST_LABELS_CAP", 0)
    rng = random.Random(5)
    nodes = list(range(120))
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges += [(i, i + 1) for i in range(40, 70)] + [(n, n) for n in nodes]
    key = (lambda n: n) if ids == "long" else str
    expected = _union_find([key(n) for n in nodes], [(key(a), key(b)) for a, b in edges])
    edf = spark.createDataFrame(
        [(key(a), key(b)) for a, b in edges], f"src {ids}, dst {ids}"
    )
    cc = connected_components(edf, "src", "dst")
    assert "BroadcastHashJoin" not in cc._jdf.queryExecution().executedPlan().toString()
    assert {r["node"]: r["component"] for r in cc.collect()} == expected


def test_connected_components_driver_job_count_is_constant(spark, job_count):
    """Under the edge cap the job count does not grow with the rounds a
    chain's labels need (the Spark loop takes about six jobs a round)."""
    def chain(n):
        edf = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
        return job_count(lambda: connected_components(edf, "src", "dst"))

    assert chain(200) == chain(20) <= 4


def test_connected_components_driver_keeps_string_ids(spark):
    edf = spark.createDataFrame([("b", "a"), ("c", "d"), ("10", "9")], "src string, dst string")
    cc = connected_components(edf, "src", "dst")
    assert cc.dtypes == [("node", "string"), ("component", "string")]
    assert dict(cc.collect()) == {"a": "a", "b": "a", "c": "c", "d": "c", "10": "10", "9": "10"}


def test_connected_components_and_logreg_from_two_threads(spark, monkeypatch):
    """One session, two threads: CC on the driver and on the Spark loop (a
    graph under and one over a lowered edge cap) beside a GD fit; every
    output equals its single-threaded reference."""
    from inferdb_spark.operators.logreg import fit_logreg_gd

    monkeypatch.setattr(G, "_DRIVER_EDGE_CAP", 60)
    rng = random.Random(9)
    small_edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(20)]
    big_edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]

    def sym(es):  # the distinct both-orientation edges CC compares with its cap
        return len(set(es) | {(b, a) for a, b in es})

    assert sym(small_edges) <= 60 < sym(big_edges)
    small = spark.createDataFrame(small_edges, "src long, dst long")
    big = spark.createDataFrame(big_edges, "src long, dst long")
    pts = spark.createDataFrame(
        [(i / 100, (i * 37 % 100) / 100, float(i * 37 % 100 > i)) for i in range(100)],
        "f1 double, f2 double, y double",
    )
    jobs = {
        "cc_driver": lambda: sorted(connected_components(small).collect()),
        "cc_spark": lambda: sorted(connected_components(big).collect()),
        "logreg": lambda: (lambda m: (m.coefs, m.intercept))(
            fit_logreg_gd(pts, ["f1", "f2"], "y", n_steps=4)
        ),
    }
    want = {name: fn() for name, fn in jobs.items()}
    got: dict = {}
    errors: list = []

    def run(names):
        try:
            for name in names:
                got[name] = jobs[name]()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(["cc_spark", "cc_driver"],)),
        threading.Thread(target=run, args=(["logreg"],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors
    assert got == want
