"""Gate queries: Structured Streaming operators, validated against batch
semantics.

A streaming query over a FINITE source run to completion must produce the
same result as the equivalent batch query — that equivalence is exactly
what the DuckDB oracle checks: the Spark side really executes a streaming
query (readStream → window agg → memory sink); the oracle is plain
GROUP BY time_bucket over the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate
from inferdb_spark.streaming.scoring_stream import (
    run_stream_to_memory,
    stream_from_parquet_dir,
)

_counter = 0


def _stage_events(spark: SparkSession, sf_dir: str):
    """Stage ts-normalized events into a /tmp directory (file stream
    sources need a directory); returns (stage_path, schema)."""
    import hashlib
    import os

    ev = load_table(spark, sf_dir, "events")
    stage = os.path.join(
        "/tmp", "inferdb_stream_stage_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        ev.repartition(4).write.mode("overwrite").parquet(stage)
    return stage, ev.schema


@gate(
    "stream_windowed_agg",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling-window aggregation executed as a REAL
    streaming query (file source, complete mode, run to completion), then
    compared against the batch GROUP BY — the streaming-equals-batch
    contract."""
    global _counter
    _counter += 1
    name = f"gate_stream_out_{_counter}"
    stage, schema = _stage_events(spark, sf_dir)
    stream = stream_from_parquet_dir(spark, stage, schema, 2)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    run_stream_to_memory(agg, name, "complete")
    out = spark.sql(f"select * from {name}")
    return out.select(
        (F.unix_timestamp(F.col("window.start")) / 3600).cast("long").alias("hour_bucket"),
        "event_type",
        F.col("n"),
        F.col("cents"),
    )


VAL_SPLITS = [200.0, 400.0, 600.0, 800.0]
# strict > to match BinSpec's #{s : x > s} exactly (>= would flip boundary rows)
HOUR_SPLITS_SQL = "CAST(hour(ts) > 5 AS INT) + CAST(hour(ts) > 11 AS INT) + CAST(hour(ts) > 17 AS INT)"


@gate(
    "stream_index_score",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(value > 200.0 AS INT) + CAST(value > 400.0 AS INT)
           + CAST(value > 600.0 AS INT) + CAST(value > 800.0 AS INT) AS b1,
             {HOUR_SPLITS_SQL} AS b2,
             CAST(round(value*100) AS BIGINT) AS cents,
             event_id % 3 <> 0 AS is_train
      FROM events
    ),
    kvstats AS (
      SELECT b1, b2, CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      FROM base WHERE is_train GROUP BY b1, b2
    ),
    p1 AS (SELECT b1, CAST(sum(s) AS DOUBLE)/sum(c) AS v FROM kvstats GROUP BY b1),
    gl AS (SELECT CAST(sum(s) AS DOUBLE)/sum(c) AS g FROM kvstats)
    SELECT t.event_id,
           coalesce(CAST(k.s AS DOUBLE)/k.c, p1.v, gl.g) / 100 AS prediction
    FROM base t
    LEFT JOIN kvstats k ON t.b1 = k.b1 AND t.b2 = k.b2
    LEFT JOIN p1 ON t.b1 = p1.b1
    CROSS JOIN gl
    WHERE NOT t.is_train
    """,
)
def q_stream_index_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-index scoring applied to a REAL STREAM: the kv index +
    prefix aggregates are built in batch, the test rows arrive as a
    streaming DataFrame, and the identical operator (one projection over
    the index's dense lookup table) scores them microbatch by
    microbatch.  Oracle = the batch semantics — streaming must not change
    a single prediction."""
    from inferdb_spark.operators.binning import BinSpec
    from inferdb_spark.operators.index import build_index
    from inferdb_spark.operators.scoring import index_score

    global _counter
    _counter += 1
    name = f"gate_stream_score_{_counter}"

    ev = load_table(spark, sf_dir, "events")
    # hour-of-day spec expressed as a plain numeric BinSpec over hour(ts)
    ev2 = ev.withColumn("hour_f", F.hour("ts").cast("double")).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    specs = [
        BinSpec(column="value", splits=VAL_SPLITS),
        BinSpec(column="hour_f", splits=[5.0, 11.0, 17.0]),  # >=6/>=12/>=18 == >5/>11/>17 for integer hours
    ]
    train = ev2.filter(F.col("event_id") % 3 != 0)
    index = build_index(train, specs, "cents", task="regression", agg_mode="rows")

    stage, schema = _stage_events(spark, sf_dir)
    stream = (
        stream_from_parquet_dir(spark, stage, schema, 2)
        .filter(F.col("event_id") % 3 == 0)
        .withColumn("hour_f", F.hour("ts").cast("double"))
    )
    scored = index_score(stream, index)
    run_stream_to_memory(
        scored.select("event_id", (F.col("prediction") / 100).alias("prediction")),
        name,
        "append",
    )
    return spark.sql(f"select event_id, prediction from {name}")


@gate(
    "session_window_batch",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    """,
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window (batch mode) vs the classic lag+cumsum
    construction as the oracle: a new session opens when the gap since
    the previous event is >= 30 min (session end is exclusive:
    prev_ts + gap).  Pins the native operator's merge semantics — the
    same operator streams with a watermark
    (streaming.session_window_aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count("*").alias("n"))
    return sess.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count("*").alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
    )


@gate(
    "stream_dedup_exact",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_bucket
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup run as a REAL streaming query
    (streaming.dedup_stream, bounded_state=False — the finite-backfill
    path): readStream -> dropDuplicates on (user_id, event_type, day) ->
    memory sink, run to completion; the emitted KEY SET must equal batch
    DISTINCT no matter how files/triggers interleave (the survivor row's
    other columns are first-seen and arrival-dependent, so only keys are
    compared — the deterministic part of the contract).  The production
    bounded-state variant (dropDuplicatesWithinWatermark) shares the
    code path and is pytest-covered."""
    from inferdb_spark.streaming.scoring_stream import dedup_stream

    global _counter
    _counter += 1
    name = f"gate_stream_dedup_{_counter}"
    stage, schema = _stage_events(spark, sf_dir)
    keyed = stream_from_parquet_dir(spark, stage, schema).withColumn(
        "day_bucket", F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    )
    dd = dedup_stream(
        keyed, ["user_id", "event_type", "day_bucket"], bounded_state=False
    )
    run_stream_to_memory(dd, name, "append")
    out = spark.sql(f"select * from {name}")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.col("day_bucket"),
    )
