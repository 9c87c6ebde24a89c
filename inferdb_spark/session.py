"""SparkSession construction with scale-aware defaults.

Local mode is the test harness; the configs are chosen so the same code is
correct on a real cluster: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), shuffle partitions sized to the lane, UTC session
timezone (required for DuckDB-oracle comparison — DuckDB timestamps are
UTC-naive), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "inferdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r11): spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # was trialed here (it let AQE coalesce cached plans: bm25 median
        # 3.58 -> 1.92 s, kneser_ney 2.44 -> 1.99 s in isolation) and
        # REVERTED: it also lets AQE coalesce the persisted spread()
        # projections the GD/ANN paths rely on (byte-small, CPU-dense),
        # and the full-sweep A/B showed the persist-heavy tier inflating
        # (ivf_pq +11%, softmax outliers, index/semantic/bpe all up).
        # The two wins are taken IN-GATE instead (scale.right_size_cached).
        # long-running shuffle-heavy apps must drive the ContextCleaner:
        # shuffle files and tracker state are released only when the
        # driver GCs, which a large quiet heap never does (default
        # interval 30min; r11 diagnosis: query times degraded 4x over a
        # single-JVM sweep from cleaner backlog)
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized parquet
        # reader rejects; read as long and convert (see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _half_of_physical_memory()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _half_of_physical_memory() -> str:
    """Default driver heap: half the host's physical memory, so a long
    local run cannot grow its heap past what the machine holds."""
    return f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 2 >> 20}m"


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable configs this engine depends on to an
    externally-created session (e.g. the verification driver's)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
