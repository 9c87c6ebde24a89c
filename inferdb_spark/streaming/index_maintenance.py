"""Incremental learned-index maintenance on a stream — beyond the
reference (whose index is rebuilt offline): the kv relation's sufficient
statistics (sum, count per key) are decomposable, so a stateful streaming
aggregation maintains them exactly as training rows arrive.

Design: keys are bounded (≤ ∏ bins), so state is bounded; the running
(sum, count) per key IS the regression kv value (sum/count), and prefix
aggregates roll up from it at read time.  `foreachBatch` variants can
upsert into a serving store; here the memory/state-store path demonstrates
the operator semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators.binning import BinSpec, apply_bins, key_expr


def incremental_kv_stats(
    stream_df: DataFrame,
    specs: list[BinSpec],
    target: str,
) -> DataFrame:
    """Streaming aggregation maintaining per-key (sum, count, value).

    Output mode must be `update`/`complete` (aggregation state).  Exactly
    the batch kv-build groupBy — Structured Streaming turns it into an
    incrementally-maintained state store; integer-exact sums mean the
    maintained value equals a from-scratch rebuild bit-for-bit.
    """
    enc = apply_bins(stream_df, specs)
    return (
        enc.withColumn("key", key_expr(specs))
        .groupBy("key")
        .agg(
            F.sum(F.col(target).cast("double")).alias("s"),
            F.count("*").alias("c"),
        )
        .withColumn("value", F.col("s") / F.col("c"))
    )
