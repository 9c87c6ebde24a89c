"""The learned key→value index, Spark-native.

Reference design: kv table (key TEXT, value NUMERIC) + SP-GiST index probed
per row, with a plpgsql loop that repeatedly truncates the key and rescans
on a miss (src/transpiler.py:1004-1099, sql_scripts/prefix_search.sql).

Spark redesign: the per-row fallback loop is replaced by BUILD-TIME prefix
aggregates — for every prefix length L the aggregated value over keys
sharing that prefix, so a lookup is coalesce(exact, prefix_{k-1}, ...,
prefix_1, global).  The build is one groupBy job that collects the
per-key table the feature selection uses (`iv.key_table`); the driver
rolls it up (`iv.rollup`) into every level: level k the keys, level L the
prefix_L values, level 0 the global value.  The build then goes one step
further, as the reference's populate_paths does (src/transpiler.py:
930-938): when the bin domain is small (at most DENSE_CAP tuples) it
evaluates the coalesce for EVERY bin tuple on the driver and stores the
result as `KVIndex.table`, a dense row-major array.  Scoring is then one
projection, `element_at(<table literal>, <mixed-radix bin index> + 1)` — no
join, no per-row control flow, no Spark job beyond the scan.  Larger
domains probe the kv and prefix relations as broadcast join sides.
Nothing is cached: those relations are local relations over the driver
levels.

Fallback semantics follow the reference TRIE (component-wise prefixes,
aggregate over the values of keys under the node — src/inference_trie.py:
84-98), not prefix_search.sql's truncate-2-chars loop, which mis-handles
bin ids ≥ 10 (SURVEY.md §7 known-hard 1 documents the reference bug).

Two aggregation modes for prefix values:
- "keys" (default, reference parity): unweighted over distinct keys' values
  (what Trie.query DFS and prefix_search's avg-over-kv-rows both compute);
- "rows": weighted by training-row counts (exact integer arithmetic end to
  end — used by the correctness-gate queries because it is reproducible
  bit-for-bit by any engine).
"""

from __future__ import annotations

import itertools
import json
import math
from dataclasses import dataclass, field
from functools import cached_property

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from inferdb_spark.operators.binning import BinSpec, apply_bins
from inferdb_spark.operators.iv import key_table, rollup

BIN_SUFFIX = "_bin"
# Largest bin domain stored as a dense table.  Per 2,000-key lookup on
# sf0.1 lineitem (4 vCPU), table vs broadcast joins: 336 vs 733 ms at 4,096
# tuples, 638 vs 925 at 65,536, 764 vs 825 at 131,072, 1,039 vs 1,096 at
# 262,144.  Past 2**16 the gain falls under 10% while the plan literal and
# the driver-side fill keep growing with the domain.
DENSE_CAP = 1 << 16


@dataclass
class KVIndex:
    """Built index artifacts.

    `kv` (key, value) and `prefix_aggs` (L -> (prefix_L, value)) are local
    relations, collected with no Spark job; keys are dot-joined bin ids.
    `table` holds the lookup result of every bin tuple of the domain in
    row-major order — the exact value, else the deepest non-NULL prefix
    value, else `global_value` — or None when the domain exceeds DENSE_CAP.
    """

    specs: list[BinSpec]
    task: str  # "regression" | "classification"
    kv: DataFrame  # (key, value)
    prefix_aggs: dict[int, DataFrame] = field(default_factory=dict)  # L -> (prefix_L, value)
    global_value: float = 0.0
    table: list[float] | None = None

    @property
    def depth(self) -> int:
        return len(self.specs)

    @cached_property
    def lookup_sql(self) -> str:
        """The whole lookup as one SQL expression over the raw feature
        columns; requires `table`.  The from_json text is constant-folded
        into a single array literal by the optimizer."""
        terms, stride = [], 1
        for s in reversed(self.specs):
            terms.append(f"({s.expr_sql()}) * {stride}")
            stride *= s.domain
        arr = f"from_json('{json.dumps(self.table)}', 'array<double>')"
        return f"element_at({arr}, {' + '.join(reversed(terms))} + 1)"


def _domain_size(specs: list[BinSpec]) -> int:
    """Number of bin tuples the specs can produce, null bins included."""
    return math.prod(s.domain for s in specs)


def _domain_keys(specs: list[BinSpec]):
    """Dot-joined key of every bin tuple of the domain, row-major."""
    return (".".join(map(str, bins)) for bins in itertools.product(*(range(s.domain) for s in specs)))


def _fill_table(
    specs: list[BinSpec], levels: dict[int, dict[str, float | None]], global_value: float
) -> list[float]:
    """Dense lookup table over the bin domain from the per-level
    {key: value} dicts (L = len(specs) the keys, 1..L-1 the prefixes).
    Levels are tried deepest first; a NULL value falls through to the next
    level, as coalesce does."""
    maps = [
        {key: v for key, v in levels[L].items() if v is not None}
        for L in range(len(specs), 0, -1)
    ]
    table = []
    for key in _domain_keys(specs):
        v = global_value
        for m in maps:
            if key in m:
                v = m[key]
                break
            key = key.rpartition(".")[0]
        table.append(float(v))
    return table


def _level(rows: list, L: int, k: int, task: str) -> dict[tuple, float | None]:
    """Value of every L-bin prefix of a `key_table` over k bins: Σs / Σc
    for regression, else the majority class — the lowest on a tie, a NULL
    class losing every tie."""
    if task == "regression":
        groups = rollup(rows, list(range(L)), k)
        return {p: s / c if c else None for p, (_, c, s) in groups.items()}
    best: dict[tuple, tuple] = {}
    for (*p, cls), (n,) in rollup(rows, [*range(L), k], k + 1).items():
        rank = (n, -math.inf if cls is None else -cls, cls)
        best[tuple(p)] = max(best.get(tuple(p), rank), rank)
    return {p: rank[2] for p, rank in best.items()}


def _from_levels(
    spark: SparkSession,
    specs: list[BinSpec],
    task: str,
    levels: dict[int, dict[str, float | None]],
    global_value: float,
) -> KVIndex:
    """KVIndex over the per-level {key: value} dicts (L = len(specs) the
    keys, 1..L-1 the prefixes): `kv` and `prefix_aggs` as local relations
    (an Arrow table becomes a LocalRelation: no job to create or collect,
    nothing cached), `table` filled under DENSE_CAP."""

    def local(L: int, name: str) -> DataFrame:
        cols = {name: pa.array(list(levels[L]), pa.string()),
                "value": pa.array(list(levels[L].values()), pa.float64())}
        return spark.createDataFrame(pa.table(cols))

    k, dense = len(specs), _domain_size(specs) <= DENSE_CAP
    return KVIndex(
        specs=specs,
        task=task,
        kv=local(k, "key"),
        prefix_aggs={L: local(L, f"prefix_{L}") for L in range(1, k)},
        global_value=global_value,
        table=_fill_table(specs, levels, global_value) if dense else None,
    )


def build_index(
    train: DataFrame,
    specs: list[BinSpec],
    target: str,
    task: str = "regression",
    agg_mode: str = "keys",
) -> KVIndex:
    """kv build (src/transpiler.py:986-996: mean for regression, majority
    for classification) with every prefix level.  One groupBy job collects
    the per-key table — (*bins, n, count(y), sum(y)) for regression,
    (*bins, class, n) for classification; count(y), not count(*), so null
    targets do not dilute the mean (pandas .mean() semantics,
    src/transpiler.py:993-996).  The driver rolls it up into levels k..0.
    In "keys" mode each key first becomes one unit row carrying its own
    value, so the same formula averages, or votes, over keys (trie
    semantics).
    """
    k = len(specs)
    bins = [s.column + BIN_SUFFIX for s in specs]
    shape = "regression" if task == "regression" else "multiclass"
    rows = key_table(apply_bins(train, specs, BIN_SUFFIX), bins, target, shape)
    if agg_mode == "keys":
        keyed = _level(rows, k, k, task).items()
        if shape == "regression":  # a NULL mean counts in n only, as avg() skips it
            rows = [(*p, 1, int(v is not None), v) for p, v in keyed]
        else:
            rows = [(*p, v, 1) for p, v in keyed]
    levels = {
        L: {".".join(map(str, p)): v for p, v in _level(rows, L, k, task).items()}
        for L in range(k + 1)
    }
    g = levels.pop(0).get("")
    return _from_levels(train.sparkSession, specs, task, levels, 0.0 if g is None else float(g))


def save_index(index: KVIndex, path: str) -> dict:
    """Persist the index artifacts (S5 model-artifact sink analog,
    src/transpiler.py:2244-2250: joblib dump + size measurement).

    Layout: <path>/spec.json (bin specs + task + global), <path>/kv/ and
    <path>/prefix_L/ parquet.  Returns {'bytes': total_on_disk} — the
    rebuild's `pg_total_relation_size` equivalent.
    """
    import os
    from dataclasses import asdict

    os.makedirs(path, exist_ok=True)
    spec = {
        "task": index.task,
        "global_value": index.global_value,
        "specs": [asdict(s) for s in index.specs],
        "prefix_lengths": sorted(index.prefix_aggs),
    }
    with open(os.path.join(path, "spec.json"), "w") as f:
        json.dump(spec, f)
    index.kv.write.mode("overwrite").parquet(os.path.join(path, "kv"))
    for L, df in index.prefix_aggs.items():
        df.write.mode("overwrite").parquet(os.path.join(path, f"prefix_{L}"))
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, fn)) for fn in files)
    return {"bytes": total}


def load_index(spark: SparkSession, path: str) -> KVIndex:
    import os

    with open(os.path.join(path, "spec.json")) as f:
        spec = json.load(f)
    specs = [BinSpec(**s) for s in spec["specs"]]
    names = {len(specs): "kv", **{L: f"prefix_{L}" for L in spec["prefix_lengths"]}}
    levels = {L: dict(spark.read.parquet(os.path.join(path, n)).collect()) for L, n in names.items()}
    return _from_levels(spark, specs, spec["task"], levels, spec["global_value"])


def unseen_paths(index: KVIndex) -> DataFrame:
    """All bin-id combinations NOT present in the kv relation — the
    reference's populate_paths set difference (src/transpiler.py:930-938,
    J10/U1): the driver walks the bin domain (null bins included) minus
    the stored keys, and returns a local relation (no Spark job)."""
    stored = {r.key for r in index.kv.collect()}
    keys = [key for key in _domain_keys(index.specs) if key not in stored]
    return index.kv.sparkSession.createDataFrame(pa.table({"key": pa.array(keys, pa.string())}))


def index_size_info(index: KVIndex) -> dict:
    """Stored paths / possible paths / filling degree
    (src/optimizer.py:225-231, 268-276); the possible paths count the
    null bins, as the dense table does.  A built or loaded `kv` is a local
    relation, so the count runs no Spark job."""
    stored = len(index.kv.collect())
    possible = _domain_size(index.specs)
    return {
        "stored_paths": stored,
        "possible_paths": possible,
        "filling_degree": stored / possible if possible else 0.0,
    }
