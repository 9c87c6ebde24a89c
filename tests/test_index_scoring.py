"""Index build + prefix-fallback scoring, checked against a pure-Python
re-implementation of the reference trie semantics (src/inference_trie.py:
60-98): exact key hit -> leaf value; miss -> aggregate over the values of
all keys under the deepest matching prefix; no match at all -> global."""

import math
import random
import struct
from collections import Counter

import pytest

from inferdb_spark.operators import index as IDX
from inferdb_spark.operators.binning import BinSpec
from inferdb_spark.operators.index import build_index, index_size_info, load_index, save_index
from inferdb_spark.operators.scoring import index_score, translate


def _python_trie_predict(kv: dict[str, float], key: str, task: str, global_v: float):
    if key in kv:
        return kv[key]
    parts = key.split(".")
    for depth in range(len(parts) - 1, 0, -1):
        prefix = ".".join(parts[:depth])
        vals = [v for k, v in kv.items() if k.split(".")[:depth] == prefix.split(".")]
        if vals:
            if task == "regression":
                return sum(vals) / len(vals)
            c = Counter(vals)
            top = max(c.items(), key=lambda t: (t[1], -t[0]))
            return top[0]
    return global_v


def _mk_train(spark):
    rows = []
    for a in range(4):
        for b in range(3):
            if (a, b) == (3, 2):
                continue  # unseen combination -> fallback path in test
            for i in range(5):
                rows.append((float(a * 10 + 1), float(b * 100 + 1), float(a * 2 + b * 3 + i)))
    return spark.createDataFrame(rows, "x double, z double, y double")


SPECS = [
    BinSpec(column="x", splits=[5.0, 15.0, 25.0]),
    BinSpec(column="z", splits=[50.0, 150.0]),
]


def test_regression_index_matches_python_trie(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression", agg_mode="keys")
    kv = {r.key: r.value for r in idx.kv.collect()}
    test = spark.createDataFrame(
        [(31.0, 201.0), (1.0, 1.0), (31.0, 999.0)], "x double, z double"
    )
    scored = {
        (r.x, r.z): r.prediction for r in index_score(test, idx).collect()
    }
    t = translate(test, idx.specs).select("x", "z", "key").collect()
    for r in t:
        expected = _python_trie_predict(kv, r.key, "regression", idx.global_value)
        assert abs(scored[(r.x, r.z)] - expected) < 1e-9, r.key


def test_classification_index_majority_and_tiebreak(spark):
    rows = []
    # key (0): classes 1,1,2 -> majority 1 ; key (1): tie 1/2 -> lowest=1
    for y in [1, 1, 2]:
        rows.append((1.0, float(y)))
    for y in [1, 2]:
        rows.append((10.0, float(y)))
    train = spark.createDataFrame(rows, "x double, y double")
    spec = [BinSpec(column="x", splits=[5.0])]
    idx = build_index(train, spec, "y", task="classification")
    kv = {r.key: r.value for r in idx.kv.collect()}
    assert kv == {"0": 1.0, "1": 1.0}


def test_unseen_key_falls_back_to_prefix_then_global(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression", agg_mode="keys")
    # (3,2) unseen -> prefix '3' exists -> avg of kv values under '3'
    test = spark.createDataFrame([(31.0, 201.0)], "x double, z double")
    pred = index_score(test, idx).first().prediction
    kv = {r.key: r.value for r in idx.kv.collect()}
    under3 = [v for k, v in kv.items() if k.startswith("3.")]
    assert abs(pred - sum(under3) / len(under3)) < 1e-9


def test_index_size_info(spark):
    train = _mk_train(spark)
    idx = build_index(train, SPECS, "y", task="regression")
    info = index_size_info(idx)
    assert info["possible_paths"] == 4 * 3
    assert info["stored_paths"] == 11  # one combination held out
    assert 0 < info["filling_degree"] < 1
    # null_bin = n_bins: NULL x is a bin of its own, stored and possible
    train = spark.createDataFrame([(1.0, 1.0), (10.0, 2.0), (None, 3.0)], "x double, y double")
    idx = build_index(train, [BinSpec(column="x", splits=[5.0], null_bin=2)], "y")
    assert index_size_info(idx) == {"stored_paths": 3, "possible_paths": 3, "filling_degree": 1.0}


# ---------------------------------------------------------------------------
# both scoring branches: the dense lookup table (one projection) and, over
# the dense cap, the broadcast-join chain — each against the trie
# ---------------------------------------------------------------------------


@pytest.fixture(params=["dense", "joins"])
def branch(request, monkeypatch):
    if request.param == "joins":
        monkeypatch.setattr(IDX, "DENSE_CAP", 1)
    return request.param


def _build(train, specs, target, branch, **kw):
    idx = build_index(train, specs, target, **kw)
    assert (idx.table is None) == (branch == "joins")
    return idx


def _py_bin(spec: BinSpec, v) -> int:
    if v is None:
        return spec.null_bin
    if spec.kind == "numeric":
        return sum(1 for s in spec.splits if v > s)
    return next((i for i, g in enumerate(spec.groups) if v in g), len(spec.groups))


def _same(a: float, b: float) -> bool:
    return a == b or (math.isnan(a) and math.isnan(b)) or abs(a - b) <= 1e-9 * max(1.0, abs(b))


def _assert_trie(idx, test) -> list:
    """Score `test` and check every row against the trie walk; a NULL kv
    value counts as a missing key, as coalesce treats it."""
    kv = {r.key: r.value for r in idx.kv.collect() if r.value is not None}
    rows = index_score(test, idx).collect()
    assert len(rows) == test.count()
    for r in rows:
        key = ".".join(str(_py_bin(s, r[s.column])) for s in idx.specs)
        want = _python_trie_predict(kv, key, idx.task, idx.global_value)
        assert _same(r.prediction, want), (key, r.prediction, want)
    return rows


SPECS3 = [
    BinSpec(column="x", splits=[5.0, 15.0, 25.0]),
    BinSpec(column="z", splits=[50.0, 150.0]),
    BinSpec(column="w", splits=[0.5]),
]
XS, ZS, WS = [1.0, 10.0, 20.0, 30.0], [1.0, 100.0, 200.0], [0.0, 1.0]


def _grid(spark, extra=()):
    """Every bin tuple of SPECS3 once, plus `extra` (x, z, w) rows."""
    rows = [(x, z, w) for x in XS for z in ZS for w in WS] + list(extra)
    return spark.createDataFrame(rows, "x double, z double, w double")


def _mk_train3(spark, task):
    """Three rows per stored key; x bin 3 never stored (global fallback),
    other keys held out so both prefix levels serve misses.  Equal counts
    and class-pure keys make the "rows" aggregates equal the trie's."""
    rows = []
    for a, x in enumerate(XS[:3]):
        for b, z in enumerate(ZS):
            for c, w in enumerate(WS):
                if (a * 7 + b * 3 + c) % 4 == 0 or (a, b) == (1, 2):
                    continue
                for i in range(3):
                    y = (a + 2 * b + c) % 3 if task == "classification" else a * 2 + b * 3 + c * 0.5 + i
                    rows.append((x, z, w, float(y)))
    return spark.createDataFrame(rows, "x double, z double, w double, y double")


@pytest.mark.parametrize("task", ["regression", "classification"])
@pytest.mark.parametrize("agg_mode", ["keys", "rows"])
def test_index_score_matches_trie_on_whole_domain(spark, branch, task, agg_mode):
    idx = _build(_mk_train3(spark, task), SPECS3, "y", branch, task=task, agg_mode=agg_mode)
    rows = _assert_trie(idx, _grid(spark, [(None, 100.0, 1.0), (20.0, None, None)]))
    assert len({r.prediction for r in rows}) > 2


def _vote(counts: Counter):
    """Majority with the lowest-class tiebreak; a NULL class loses ties,
    as it sorts first in Spark's struct(cnt, -class) order."""
    return max(counts.items(), key=lambda t: (t[1], -math.inf if t[0] is None else -t[0]))[0]


def _py_levels(rows, specs, task, agg_mode) -> dict[int, dict[str, float | None]]:
    """Every level of the index from the raw (features..., y) rows, as a
    plain roll-up: level L maps each L-bin prefix to the aggregate of the
    keys under it (L = len(specs) the keys, L = 0 the global value)."""
    keys: dict[tuple, list] = {}
    for *xs, y in rows:
        keys.setdefault(tuple(_py_bin(s, x) for s, x in zip(specs, xs)), []).append(y)

    def key_value(ys):
        if task == "classification":
            return _vote(Counter(None if y is None else int(y) for y in ys))
        ys = [y for y in ys if y is not None]
        return sum(ys) / len(ys) if ys else None

    out = {}
    for L in range(len(specs) + 1):
        under: dict[str, list] = {}
        for key, ys in keys.items():
            under.setdefault(".".join(map(str, key[:L])), []).append(ys)
        if agg_mode == "rows" or L == len(specs):
            out[L] = {p: key_value([y for ys in yss for y in ys]) for p, yss in under.items()}
        elif task == "classification":
            out[L] = {p: _vote(Counter(key_value(ys) for ys in yss)) for p, yss in under.items()}
        else:
            means = {p: [m for m in map(key_value, yss) if m is not None] for p, yss in under.items()}
            out[L] = {p: sum(ms) / len(ms) if ms else None for p, ms in means.items()}
    return out


def _rollup_rows(task):
    """Random rows over SPECS3 (NULL x and NULL targets included), plus a
    class tie under x bin 3 and a key whose targets are all NULL."""
    rng = random.Random(5)
    ys = [None, 0, 1, 2] if task == "classification" else [None, 0.5, 1.0, 3.0, 7.5]
    rows = [
        (rng.choice(XS[:3] + [None]), rng.choice(ZS), rng.choice(WS), rng.choice(ys))
        for _ in range(120)
    ]
    return rows + [(30.0, 1.0, 0.0, 2), (30.0, 1.0, 0.0, 1), (30.0, 100.0, 1.0, None)]


@pytest.mark.parametrize("task", ["regression", "classification"])
@pytest.mark.parametrize("agg_mode", ["keys", "rows"])
def test_every_level_matches_python_rollup(spark, branch, task, agg_mode):
    rows = _rollup_rows(task)
    train = spark.createDataFrame(
        [(x, z, w, None if y is None else float(y)) for x, z, w, y in rows],
        "x double, z double, w double, y double",
    )
    idx = _build(train, SPECS3, "y", branch, task=task, agg_mode=agg_mode)
    want = _py_levels(rows, SPECS3, task, agg_mode)
    got = {3: dict(idx.kv.collect()), **{L: dict(df.collect()) for L, df in idx.prefix_aggs.items()}}
    assert sorted(got) == [1, 2, 3]
    for L, level in got.items():
        assert level.keys() == want[L].keys(), L
        for key, v in level.items():
            w = want[L][key]
            assert (v is None and w is None) or _same(v, w), (L, key, v, w)
    g = want[0][""]
    assert _same(idx.global_value, 0.0 if g is None else g)
    if task == "classification":
        assert got[3]["3.0.0"] == 1.0  # the tie goes to the lowest class
    assert got[3]["3.1.1"] is None


@pytest.mark.parametrize("k", [2, 4])
@pytest.mark.parametrize("task,agg_mode", [
    ("regression", "keys"), ("regression", "rows"),
    ("classification", "keys"), ("classification", "rows"),
])
def test_build_index_job_count(spark, job_count, k, task, agg_mode):
    """Every level is rolled up on the driver from one collected key table,
    so the build is one groupBy job whatever the number of levels."""
    rng = random.Random(k)
    rows = [tuple(float(rng.randrange(8)) for _ in range(5)) for _ in range(400)]
    train = spark.createDataFrame(rows, "a double, b double, c double, d double, y double")
    specs = [BinSpec(column=c, splits=[1.5, 3.5, 5.5]) for c in "abcd"][:k]
    assert job_count(lambda: build_index(train, specs, "y", task=task, agg_mode=agg_mode)) <= 2


def test_build_index_leaves_no_cache(spark, branch):
    """The build caches nothing: no relation in the cache manager and no
    RDD left in block storage, on both scoring branches."""
    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    idx = _build(_mk_train3(spark, "regression"), SPECS3, "y", branch)
    _assert_trie(idx, _grid(spark))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {i.id() for i in sc.getRDDStorageInfo()} == before


@pytest.mark.parametrize("null_bin", [0, 4])
def test_null_feature_scores_through_null_bin(spark, branch, null_bin):
    # x last: its domain (5 with null_bin 4) is the stride of the z bin
    specs = [SPECS3[1], BinSpec(column="x", splits=[5.0, 15.0, 25.0], null_bin=null_bin)]
    rows = [(x, z, float(i + 10 * j)) for i, x in enumerate([None, 1.0, 10.0]) for j, z in enumerate(ZS)]
    train = spark.createDataFrame(rows, "x double, z double, y double")
    idx = _build(train, specs, "y", branch)
    assert any(r.key.endswith(f".{null_bin}") for r in idx.kv.collect())
    test = spark.createDataFrame([(None, z) for z in ZS] + [(30.0, 1.0)], "x double, z double")
    _assert_trie(idx, test)


def test_null_target_key_falls_through_to_prefix(spark, branch):
    rows = [(1.0, 1.0, None), (1.0, 1.0, None), (1.0, 100.0, 4.0), (1.0, 200.0, 9.0), (10.0, 1.0, 2.0)]
    train = spark.createDataFrame(rows, "x double, z double, y double")
    specs = SPECS3[:2]
    idx = _build(train, specs, "y", branch, agg_mode="rows")
    assert {r.key: r.value for r in idx.kv.collect()}["0.0"] is None
    test = spark.createDataFrame([(1.0, 1.0)], "x double, z double")
    assert index_score(test, idx).first().prediction == 6.5  # prefix "0": (4 + 9) / 2
    _assert_trie(idx, test)


def test_categorical_spec_unseen_and_escaped_values(spark, branch):
    quote, backslash = "it's", "b\\c"
    spec = BinSpec(column="s", kind="categorical", groups=[["a", quote], [backslash, "d"]])
    rows = [("a", 1.0), (quote, 3.0), (backslash, 10.0), ("d", 20.0), ("zz", 100.0)]
    train = spark.createDataFrame(rows, "s string, y double")
    idx = _build(train, [spec], "y", branch)
    assert {r.key: r.value for r in idx.kv.collect()} == {"0": 2.0, "1": 15.0, "2": 100.0}
    test = spark.createDataFrame([(v,) for v in [quote, backslash, "a", "unseen", None]], "s string")
    got = {r.s: r.prediction for r in _assert_trie(idx, test)}
    assert got == {quote: 2.0, backslash: 15.0, "a": 2.0, "unseen": 100.0, None: 2.0}


def test_special_kv_values_bit_equal_on_both_branches(spark, monkeypatch):
    r17 = random.Random(7).random() * 1e3
    targets = [[float("nan")], [float("inf")], [float("-inf")], [-5e-324, 0.0], [r17]]
    rows = [(float(10 * i), y) for i, ys in enumerate(targets) for y in ys]
    train = spark.createDataFrame(rows, "x double, y double")
    spec = [BinSpec(column="x", splits=[5.0, 15.0, 25.0, 35.0])]
    test = spark.createDataFrame([(float(10 * i),) for i in range(len(targets))], "x double")

    def bits(idx):
        pred = [r.prediction for r in index_score(test, idx).orderBy("x").collect()]
        return [struct.pack("<d", p) for p in pred]

    dense = build_index(train, spec, "y")
    monkeypatch.setattr(IDX, "DENSE_CAP", 1)
    joins = build_index(train, spec, "y")
    assert dense.table is not None and joins.table is None
    want = [float("nan"), float("inf"), float("-inf"), -0.0, r17]
    assert bits(dense) == bits(joins)
    assert bits(dense)[1:] == [struct.pack("<d", v) for v in want[1:]]
    assert math.isnan(struct.unpack("<d", bits(dense)[0])[0])


def test_save_load_roundtrip_scores_identically(spark, branch, tmp_path):
    idx = _build(_mk_train3(spark, "regression"), SPECS3, "y", branch)
    save_index(idx, str(tmp_path / "idx"))
    loaded = load_index(spark, str(tmp_path / "idx"))
    assert loaded.table == idx.table
    test = _grid(spark)
    assert sorted(index_score(test, loaded).collect()) == sorted(index_score(test, idx).collect())
    _assert_trie(loaded, test)


def test_input_columns_survive_scoring(spark, branch):
    """Scoring adds only the prediction column; over the cap, an input
    column that would clash with a join helper is an error, not a silent
    overwrite."""
    train = _mk_train(spark)
    idx = _build(train, SPECS, "y", branch)
    test = spark.createDataFrame([(31.0, 201.0, "mine")], "x double, z double, key string")
    if branch == "joins":
        with pytest.raises(ValueError, match="'key'"):
            index_score(test, idx)
        return
    out = index_score(test, idx)
    assert out.columns == ["x", "z", "key", "prediction"]
    assert out.first().key == "mine"


def test_index_score_plan_shape(spark, branch):
    """Scale check: the dense lookup is a projection (no join, no shuffle);
    over the cap every probe is a broadcast hash join, so the big side
    streams map-only either way."""
    idx = _build(_mk_train(spark), SPECS, "y", branch)
    test = spark.createDataFrame([(31.0, 201.0)], "x double, z double")
    plan = index_score(test, idx)._jdf.queryExecution().executedPlan().toString()
    if branch == "dense":
        assert "Join" not in plan and "Exchange" not in plan
    else:
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
