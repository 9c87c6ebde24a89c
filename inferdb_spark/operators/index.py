"""The learned key→value index, Spark-native.

Reference design: kv table (key TEXT, value NUMERIC) + SP-GiST index probed
per row, with a plpgsql loop that repeatedly truncates the key and rescans
on a miss (src/transpiler.py:1004-1099, sql_scripts/prefix_search.sql).

Spark redesign: the per-row fallback loop is replaced by BUILD-TIME prefix
aggregates — for every prefix length L we precompute the aggregated value
over keys sharing that prefix, so a lookup is coalesce(exact, prefix_{k-1},
..., prefix_1, global).  The build then goes one step further, as the
reference's populate_paths does (src/transpiler.py:930-938): when the bin
domain is small (at most DENSE_CAP tuples) it evaluates that coalesce for
EVERY bin tuple on the driver and stores the result as `KVIndex.table`, a
dense row-major array.  Scoring is then one projection,
`element_at(<table literal>, <mixed-radix bin index> + 1)` — no join, no
per-row control flow, no Spark job beyond the scan.  Larger domains keep
the kv and prefix relations as broadcast join sides.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.operators.binning import BinSpec, apply_bins, key_expr

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

    `kv` (key, value) and `prefix_aggs` (L -> (prefix_L, value)) are small
    cached DataFrames; keys are dot-joined bin ids.  `table` holds the
    lookup result of every bin tuple of the domain in row-major order — the
    exact value, else the deepest non-NULL prefix value, else
    `global_value` — or None when the domain exceeds DENSE_CAP.
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


def _fill_table(
    specs: list[BinSpec],
    kv: DataFrame,
    prefix_aggs: dict[int, DataFrame],
    global_value: float,
) -> list[float] | None:
    """Dense lookup table over the bin domain, or None over DENSE_CAP.
    Levels are tried deepest first; a NULL value falls through to the next
    level, as coalesce does."""
    dims = [s.domain for s in specs]
    if math.prod(dims) > DENSE_CAP:
        return None
    levels = [kv, *(prefix_aggs[L] for L in sorted(prefix_aggs, reverse=True))]
    maps = [{k: v for k, v in df.collect() if v is not None} for df in levels]
    table = []
    for bins in itertools.product(*map(range, dims)):
        key, v = ".".join(map(str, bins)), global_value
        for m in maps:
            if key in m:
                v = m[key]
                break
            key = key.rpartition(".")[0]
        table.append(float(v))
    return table


def build_index(
    train: DataFrame,
    specs: list[BinSpec],
    target: str,
    task: str = "regression",
    agg_mode: str = "keys",
) -> KVIndex:
    """kv build = one groupBy over the encoded training rows
    (src/transpiler.py:986-996: mean for regression, majority for
    classification), plus one tiny groupBy per prefix length.

    The encoded frame is aggregated once into per-key stats; prefix
    aggregates derive from that small result, never rescanning the base
    table — at 100 TB the base data is read exactly once.
    """
    k = len(specs)
    enc = apply_bins(train, specs, BIN_SUFFIX)
    bin_cols = [s.column + BIN_SUFFIX for s in specs]
    y = F.col(target).cast("double")

    if task == "regression":
        # count(y), not count(*): null targets must not dilute the mean
        # (pandas .mean() semantics, src/transpiler.py:993-996)
        per_key = enc.groupBy(*bin_cols).agg(
            F.sum(y).alias("s"), F.count(y).alias("c")
        )
        per_key.cache()
        kv = per_key.select(
            key_expr(specs, BIN_SUFFIX).alias("key"),
            (F.col("s") / F.col("c")).alias("value"),
        )
        prefix_aggs: dict[int, DataFrame] = {}
        for L in range(1, k):
            pcols = bin_cols[:L]
            pkey = key_expr(specs[:L], BIN_SUFFIX)
            if agg_mode == "rows":
                agg = per_key.groupBy(*pcols).agg(
                    (F.sum("s") / F.sum("c")).alias("value")
                )
            else:  # unweighted over keys (trie semantics)
                agg = per_key.groupBy(*pcols).agg(
                    F.avg(F.col("s") / F.col("c")).alias("value")
                )
            prefix_aggs[L] = agg.select(pkey.alias(f"prefix_{L}"), "value")
        if agg_mode == "rows":
            g = per_key.agg((F.sum("s") / F.sum("c")).alias("g")).first()["g"]
        else:
            g = per_key.agg(F.avg(F.col("s") / F.col("c")).alias("g")).first()["g"]
    else:
        per_key_cls = enc.groupBy(*bin_cols, y.cast("long").alias("value")).agg(
            F.count("*").alias("cnt")
        )
        per_key_cls.cache()
        # majority per key, lowest-class tiebreak
        kv_bins = per_key_cls.groupBy(*bin_cols).agg(
            F.max_by(F.col("value"), F.struct(F.col("cnt"), -F.col("value"))).alias(
                "value"
            )
        )
        kv = kv_bins.select(
            key_expr(specs, BIN_SUFFIX).alias("key"),
            F.col("value").cast("double").alias("value"),
        )
        prefix_aggs = {}
        for L in range(1, k):
            pcols = bin_cols[:L]
            pkey = key_expr(specs[:L], BIN_SUFFIX)
            if agg_mode == "rows":
                src = per_key_cls.groupBy(*pcols, "value").agg(
                    F.sum("cnt").alias("cnt")
                )
            else:  # majority over per-key majority values (trie semantics)
                src = kv_bins.groupBy(*pcols, "value").agg(F.count("*").alias("cnt"))
            agg = src.groupBy(*pcols).agg(
                F.max_by(F.col("value"), F.struct(F.col("cnt"), -F.col("value"))).alias(
                    "value"
                )
            )
            prefix_aggs[L] = agg.select(
                pkey.alias(f"prefix_{L}"), F.col("value").cast("double").alias("value")
            )
        if agg_mode == "rows":
            counts = per_key_cls.groupBy("value").agg(F.sum("cnt").alias("cnt"))
        else:
            counts = kv_bins.groupBy("value").agg(F.count("*").alias("cnt"))
        g = counts.select(
            F.max_by(F.col("value"), F.struct(F.col("cnt"), -F.col("value")))
        ).first()[0]

    g = float(g) if g is not None else 0.0
    # cached first, so the collect that fills the table also materializes
    # them; a collect of uncached relations re-runs their AQE stages later
    rels = [kv, *prefix_aggs.values()]
    for df in rels:
        df.cache()
    table = _fill_table(specs, kv, prefix_aggs, g)
    if table is None:  # over the cap they are the broadcast join sides
        for df in rels:
            df.count()
    return KVIndex(
        specs=specs, task=task, kv=kv, prefix_aggs=prefix_aggs, global_value=g, table=table
    )


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
    kv = spark.read.parquet(os.path.join(path, "kv"))
    prefix_aggs = {
        L: spark.read.parquet(os.path.join(path, f"prefix_{L}"))
        for L in spec["prefix_lengths"]
    }
    return KVIndex(
        specs=specs,
        task=spec["task"],
        kv=kv,
        prefix_aggs=prefix_aggs,
        global_value=spec["global_value"],
        table=_fill_table(specs, kv, prefix_aggs, spec["global_value"]),
    )


def unseen_paths(index: KVIndex) -> DataFrame:
    """All bin-id combinations NOT present in the kv relation — the
    reference's populate_paths set difference (src/transpiler.py:930-938,
    J10/U1): cross join of the tiny per-feature bin domains, then an
    anti join against the stored keys."""
    spark = index.kv.sparkSession
    domain = None
    for s in index.specs:
        d = spark.createDataFrame(
            [(b,) for b in range(s.n_bins)], f"`{s.column}{BIN_SUFFIX}` int"
        )
        domain = d if domain is None else domain.crossJoin(d)
    all_keys = domain.select(key_expr(index.specs, BIN_SUFFIX).alias("key"))
    return all_keys.join(index.kv.select("key"), "key", "left_anti")


def index_size_info(index: KVIndex, spark: SparkSession) -> dict:
    """Stored paths / possible paths / filling degree
    (src/optimizer.py:225-231, 268-276)."""
    stored = index.kv.count()
    possible = 1
    for s in index.specs:
        possible *= s.n_bins
    return {
        "stored_paths": stored,
        "possible_paths": possible,
        "filling_degree": stored / possible if possible else 0.0,
    }
