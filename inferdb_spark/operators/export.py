"""Deterministic sharded export for training-data releases.

A pretraining corpus ships as a fixed set of shards (WebDataset /
Megatron-style: consumers address `shard-00042`), so the writer must be
(a) deterministic — shard membership a pure function of the row, stable
under retries, repartitioning, and re-runs — and (b) auditable — a
manifest row per shard with counts and an order-independent content
checksum, so a re-run (or the consumer) can verify integrity without
re-reading everything.  The reference has no export surface (it emits
SQL strings); this is beyond-reference pipeline completion.

Spark-first: shard id is the repo's portable 52-bit md5-prefix hash
(functions/hashing.h52 — identical in DuckDB, so the manifest is
oracle-checkable) mod n_shards, and the manifest is ONE aggregation.  A
release writes `shard_assign` as the partition column of a
hash-repartition + partitionBy parquet write, which scales to any corpus
(each executor writes only its shard slice, no global sort, no driver
traffic).

Checksum: bit_xor of per-doc h52(text) — commutative/associative (so
partition- and retry-order-independent) and overflow-free at any row
count, the classic content-fingerprint aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.hashing import h52


def shard_assign(id_col: Column, n_shards: int) -> Column:
    """Deterministic shard id in [0, n_shards): h52(id) % n_shards — a
    pure projection, identical under any partitioning or engine."""
    return (h52(id_col.cast("string")) % F.lit(int(n_shards))).cast("int")


def sharded_export_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """(shard_id, n_docs, n_tokens, checksum): the release manifest.
    One map-side-combinable aggregation; every column is exact-integer
    (counts, token counts, XOR fingerprint), so the manifest replays
    bit-identically cross-engine and across retries."""
    from inferdb_spark.functions.text import tokens_sql

    return (
        df.select(
            shard_assign(F.col(id_col), n_shards).alias("shard_id"),
            F.size(F.expr(tokens_sql(f"`{text_col}`"))).cast("long").alias("_tok"),
            h52(F.col(text_col)).alias("_h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_tok").cast("long").alias("n_tokens"),
            F.expr("bit_xor(_h)").cast("long").alias("checksum"),
        )
    )
