"""IV feature selection against a pure-Python reference over the raw rows.

Every case runs on both branches of `greedy_select`: one collected
key-count table rolled up on the driver (under KEY_TABLE_CAP) and one
collected table per evaluation (over it, reached by lowering the cap to 1).
"""

import math
import random
from itertools import combinations

import pytest
from pyspark import StorageLevel

from inferdb_spark.operators import iv
from inferdb_spark.operators.binning import BinSpec, apply_bins
from inferdb_spark.operators.iv import brute_force_select, greedy_select

# `a` sends NULLs to an extra bin whose rows all have a NULL target; `b`
# sends NULLs to bin 0 alongside values with a target
SPECS = [
    BinSpec(column="a", splits=[30.0, 60.0], null_bin=3),
    BinSpec(column="b", splits=[40.0, 80.0]),
    BinSpec(column="c", splits=[50.0]),
]
TASKS = ["classification", "multiclass", "regression"]
SCHEMA = {
    "classification": "a double, b double, c double, y int",
    "multiclass": "a double, b double, c double, y int",
    "regression": "a double, b double, c double, y double",
}


def _rows(task: str, n: int = 600, seed: int = 7) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        a, b, c = (rng.uniform(0, 100) for _ in range(3))
        if task == "classification":
            y = int(a > 60) if rng.random() < 0.8 else int(b > 80)
        elif task == "multiclass":
            y = int(a > 30) + int(a > 60) if rng.random() < 0.7 else rng.randrange(3)
        else:  # quarter units: every sum is exact in a double
            y = math.floor(a + 0.3 * b + rng.uniform(0, 40)) / 4
        if i % 37 == 0:
            y = None
        if i % 29 == 0:
            b = None
        if i % 31 == 0:
            a, y = None, None
        rows.append((a, b, c, y))
    return rows


def _bin(x, spec: BinSpec) -> int:
    return spec.null_bin if x is None else sum(x > s for s in spec.splits)


def _ref_iv(rows: list[tuple], subset, task: str) -> float:
    """The reference formulas straight over the raw rows, with SQL NULL
    semantics: a NULL target counts in n but not in a sum, and a bin whose
    targets are all NULL has a NULL sum and drops out."""
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault(tuple(_bin(r[i], SPECS[i]) for i in subset), []).append(r[-1])
    ys = [r[-1] for r in rows]
    big_n = len(rows)

    def woe_term(ev, nev, e, ne):
        de, dn = (ev + 0.5) / (e or 1.0), (nev + 0.5) / (ne or 1.0)
        return (de - dn) * math.log(de / dn)

    if task == "classification":
        e = float(sum(y for y in ys if y is not None))
        out = 0.0
        for g in groups.values():
            vals = [y for y in g if y is not None]
            if vals:
                out += woe_term(sum(vals), len(g) - sum(vals), e, big_n - e)
        return out
    if task == "multiclass":
        out = 0.0
        for cls in sorted({y for y in ys if y is not None}):
            e = sum(y == cls for y in ys)
            if e == big_n:
                continue
            for g in groups.values():
                ev = sum(y == cls for y in g)
                out += woe_term(ev, len(g) - ev, e, big_n - e)
        return out
    vals = [y for y in ys if y is not None]
    m = sum(vals) / len(vals)
    out = 0.0
    for g in groups.values():
        gv = [y for y in g if y is not None]
        if gv:
            out += abs(sum(gv) / len(gv) - m) * (len(g) / big_n)
    return out


def _ref_greedy(rows: list[tuple], task: str) -> list[str]:
    solo = sorted(range(len(SPECS)), key=lambda i: -_ref_iv(rows, [i], task))
    selected, best = [], 0.0
    for i in solo:
        joint = _ref_iv(rows, selected + [i], task)
        if not selected or joint > best * 1.002:
            selected, best = selected + [i], joint
    return [s.column for s in sorted((SPECS[i] for i in selected), key=lambda s: s.n_bins)]


@pytest.fixture(params=["table", "per_eval"])
def branch(request, monkeypatch):
    if request.param == "per_eval":
        monkeypatch.setattr(iv, "KEY_TABLE_CAP", 1)
    return request.param


@pytest.mark.parametrize("task", TASKS)
def test_selection_matches_python_reference(spark, branch, task):
    rows = _rows(task)
    enc = apply_bins(spark.createDataFrame(rows, SCHEMA[task]), SPECS)
    subsets = [c for k in (1, 2, 3) for c in combinations(range(len(SPECS)), k)]
    want = {s: _ref_iv(rows, s, task) for s in subsets}
    with iv._subset_iv(enc, SPECS, "y", task, "_bin") as joint_iv:
        for s in subsets:
            assert math.isclose(joint_iv(s), want[s], rel_tol=1e-12), s
    got = greedy_select(enc, SPECS, "y", task=task)
    assert [s.column for s in got] == _ref_greedy(rows, task)
    best, best_iv = brute_force_select(enc, SPECS, "y", task=task)
    top = max(subsets, key=want.get)
    assert [s.column for s in best] == [
        s.column for s in sorted((SPECS[i] for i in top), key=lambda s: s.n_bins)
    ]
    assert math.isclose(best_iv, want[top], rel_tol=1e-12)
    public = {
        "classification": iv.iv_classification,
        "multiclass": iv.iv_multiclass,
        "regression": iv.iv_regression,
    }[task]
    got_iv = public(enc, [s.column + "_bin" for s in SPECS], "y")
    assert math.isclose(got_iv, want[(0, 1, 2)], rel_tol=1e-12)
    # over the cap the search caches `encoded` itself and releases it
    assert enc.storageLevel == StorageLevel.NONE


def test_over_cap_search_keeps_a_caller_cache(spark, monkeypatch):
    monkeypatch.setattr(iv, "KEY_TABLE_CAP", 1)
    enc = apply_bins(spark.createDataFrame(_rows("classification"), SCHEMA["classification"]), SPECS)
    enc.cache()
    try:
        greedy_select(enc, SPECS, "y")
        assert enc.storageLevel != StorageLevel.NONE
    finally:
        enc.unpersist()


def test_selection_needs_a_feature(spark):
    enc = spark.createDataFrame([(1.0, 1)], "a double, y int")
    with pytest.raises(ValueError):
        greedy_select(enc, [], "y")


@pytest.mark.parametrize("n_features", [2, 6])
def test_greedy_select_under_cap_submits_at_most_two_jobs(spark, job_count, n_features):
    rng = random.Random(n_features)
    cols = [f"x{i}" for i in range(n_features)]
    rows = [
        tuple(rng.uniform(0, 100) for _ in cols) + (rng.randrange(2),) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols) + ", y int")
    specs = [BinSpec(column=c, splits=[33.0, 66.0]) for c in cols]
    enc = apply_bins(df, specs)
    assert job_count(lambda: greedy_select(enc, specs, "y")) <= 2
