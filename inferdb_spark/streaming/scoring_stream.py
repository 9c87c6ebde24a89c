"""Structured Streaming extensions (SURVEY.md §2.9: the reference has no
streaming; these are the declared stretch goals, built Spark-native).

Index scoring is STATELESS, so the exact same operator from
operators/scoring.py runs unchanged on a streaming DataFrame.  For an index
with a dense lookup table it is one projection whose table is an array
literal in the plan: no stream-batch join and no per-microbatch broadcast.
An index over the dense cap scores through stream-batch broadcast joins
against its kv/prefix relations, which Structured Streaming re-broadcasts
per microbatch.

Also provided: a custom stateful operator (running per-key mean via
applyInPandasWithState), exact and watermark-bounded dedup, session
windows, idempotent foreachBatch sinks and drift monitors, plus the
file-source/memory-sink pair (`stream_from_parquet_dir`,
`run_stream_to_memory`) every streaming gate runs through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_from_parquet_dir(
    spark: SparkSession, path_glob_dir: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream (for smoke tests real sources are kafka/socket;
    the operator graph is source-agnostic)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path_glob_dir)
    )


def running_mean_per_key(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator: exact running mean per key via
    applyInPandasWithState — the template for reference-style incremental
    model state on a stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = f"{key_col} long, n long, mean double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "mean": [s / n if n else 0.0]})

    timeout_conf = getattr(GroupStateTimeout, timeout, GroupStateTimeout.NoTimeout)
    return stream_df.groupBy(key_col).applyInPandasWithState(
        update, output_schema, state_schema, "update", timeout_conf
    )


def dedup_stream(
    stream_df: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    bounded_state: bool = True,
) -> DataFrame:
    """Streaming exact deduplication.  With `bounded_state` (the
    always-on production path), dropDuplicatesWithinWatermark keeps
    state only for ids seen inside the watermark horizon, so state is
    BOUNDED — the requirement for an ingest dedup at 100 TB/day; ids
    recurring further apart than the horizon re-emit (by design — the
    horizon is the dedup contract).  `bounded_state=False` uses plain
    dropDuplicates: exact GLOBAL key dedup with state that grows with
    |distinct keys| — correct for finite backfills and replays, where
    run-to-completion output must equal batch DISTINCT regardless of
    file/trigger arrival order (the gate checks exactly that contract;
    the surviving row's non-key columns are first-seen and therefore
    arrival-order-dependent — consumers needing a deterministic survivor
    should pick it with an explicit argmin downstream)."""
    if bounded_state:
        return stream_df.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(id_cols)
    return stream_df.dropDuplicates(id_cols)


def foreach_batch_parquet_sink(
    out_df: DataFrame, path: str, checkpoint: str
):
    """Idempotent parquet sink via foreachBatch: each microbatch overwrites
    its own batch_id partition, so a replayed batch (failure between write
    and checkpoint commit) lands in the same partition instead of
    duplicating rows — exactly-once output on top of an at-least-once
    trigger.  Returns the started StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        out_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def run_stream_to_memory(
    out_df: DataFrame, query_name: str, output_mode: str = "update"
) -> None:
    """Drive a streaming query to completion synchronously (memory sink) —
    the smoke-test harness; production sinks are kafka/parquet/foreachBatch."""
    q = (
        out_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def session_window_aggregate(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows (F.session_window): dynamic-length windows
    that close after `gap` of inactivity per key — the streaming twin of
    relational_ext.sessionize's batch lag+cumsum construction.  State per
    key is one open session; watermark expiry emits and evicts closed
    sessions, so state stays bounded by ACTIVE keys, not history."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total",
        )
    )


def curation_stream(
    stream_df: DataFrame,
    eval_gram_lists: list[list[int]],
    min_tokens: int = 20,
    n: int = 5,
    min_shared: int = 3,
    text_col: str = "text",
    bounded_state: bool = False,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The e2e curation chain (gate:e2e_curation_pipeline stages 1-3) as a
    CONTINUOUS streaming job: quality length filter (stateless) →
    eval-suite decontamination (stateless — the eval suite is a fixed
    benchmark set, so its per-doc distinct gram hashes are burned into the
    plan as literal arrays and each incoming doc checks
    |distinct shared n-grams with ANY eval doc| >= min_shared as a pure
    Column expression) → exact content dedup (stateful dropDuplicates on
    md5(text); bounded_state=True switches to the watermark-bounded
    variant for unbounded ingest, the dedup_stream contract).

    Streaming-equals-batch: stages 1-2 are per-row functions of content,
    and dedup keys on content, so the emitted DISTINCT CONTENT SET equals
    the batch chain's regardless of file/trigger interleaving — exactly
    what gate:stream_curation_chain hash-checks against a DuckDB replay
    of the batch chain.  (Per-source token budgets are a periodic batch
    finalization over the curated sink, not a per-event decision — see
    textprep.token_budget_per_source.)

    100 TB shape: stages 1-2 are map-only; dedup state is one compact
    md5 key per distinct content (bounded by the watermark horizon in the
    bounded_state variant).  The eval-literal plan grows with the suite
    (fine for benchmark suites of ~1e2..1e4 grams; beyond that, use
    curation_stream_foreach_batch, which broadcast-joins the suite as a
    posting relation per microbatch — suite-size-independent)."""
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.functions.text import bind_once, word_ngrams_sql

    s1 = stream_df.where(
        F.size(F.split(F.col(text_col), " ")) >= min_tokens
    )
    if eval_gram_lists:
        lits = F.array(
            *[
                F.array(*[F.lit(int(g)).cast("long") for g in grams])
                for grams in eval_gram_lists
            ]
        )
        doc_grams = F.array_distinct(
            F.transform(
                F.expr(word_ngrams_sql(f"`{text_col}`", n)), lambda g: h52(g)
            )
        )
        contaminated = bind_once(
            doc_grams,
            lambda dg: F.exists(
                lits,
                lambda eg: F.size(F.array_intersect(dg, eg))
                >= F.lit(min_shared),
            ),
        )
        s2 = s1.where(~contaminated)
    else:
        s2 = s1
    keyed = s2.withColumn("content_h", F.md5(F.col(text_col)))
    return dedup_stream(
        keyed, ["content_h"], ts_col=ts_col, watermark=watermark,
        bounded_state=bounded_state,
    )


def curation_stream_foreach_batch(
    stream_df: DataFrame,
    eval_postings: DataFrame,
    path: str,
    checkpoint: str,
    min_tokens: int = 20,
    n: int = 5,
    min_shared: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bounded_state: bool = False,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
):
    """The curation chain with UNCAPPED decontamination: the eval suite
    is a posting DATAFRAME (eval_id, gh — textprep.ngram_hash_postings
    output) broadcast-joined against each microbatch inside foreachBatch,
    instead of being compiled into the stream plan as literal arrays
    (curation_stream's stateless form, which is the right call only for
    small fixed suites — an sf1 suite of ~1000 docs made the literal
    plan pathological).  Nothing here scales with the suite except the
    broadcast payload, so the suite can be 10 docs or 10M grams.

    Chain: stateless quality length filter → stateful exact content
    dedup IN THE STREAMING GRAPH (state = one md5 key per distinct
    content; bounded_state=True switches to the watermark-bounded
    variant) → per-microbatch decontamination: batch doc grams joined to
    the broadcast eval postings, pairs sharing ≥ min_shared distinct
    grams dropped by anti join → idempotent per-batch_id parquet
    partitions (the foreach_batch_parquet_sink overwrite discipline, so
    a replayed batch lands in its own partition instead of duplicating).

    Dedup-BEFORE-decon is safe because both stages are pure functions of
    content: filtering a deduplicated stream by a content predicate
    yields exactly the batch chain's distinct content set (dedup
    commutes with content filters) — gate:stream_decon_foreachbatch
    hash-checks that equality against a DuckDB replay with NO cap on
    the eval suite.

    Returns the started StreamingQuery.
    """
    from inferdb_spark.operators.textprep import ngram_hash_postings

    s1 = stream_df.where(
        F.size(F.split(F.col(text_col), " ")) >= min_tokens
    )
    keyed = s1.withColumn("content_h", F.md5(F.col(text_col)))
    deduped = dedup_stream(
        keyed, ["content_h"], ts_col=ts_col, watermark=watermark,
        bounded_state=bounded_state,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        grams = ngram_hash_postings(batch_df, id_col, text_col, n)
        hits = (
            grams.join(F.broadcast(eval_postings), "gh")
            .groupBy(id_col, "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
            .select(id_col)
            .distinct()
        )
        (
            batch_df.join(hits, id_col, "left_anti")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        deduped.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def page_hinkley_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    mu0_cents: int,
    delta_cents: int,
    lambda_cents: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
):
    """Streaming Page-Hinkley drift monitor against a FIXED baseline mean
    mu0 (the production deployment of gate:page_hinkley_drift — online
    monitors compare against TRAINING-TIME statistics, not the stream's
    own final mean, which no streaming job can know).  With mu0/delta
    integer-cent literals the per-hour increment
    term_h = x_h - cnt_h*(mu0 + delta) is an exact BIGINT, so the running
    minimum and the alarm compare need no cross-multiplication at all.

    State discipline: each microbatch writes its per-(type, hour)
    partial aggregates into a batch_id-partitioned parquet state dir
    (dynamic-overwrite => a REPLAYED batch overwrites its own partition
    instead of double-counting), then the monitor re-scans the merged
    hourly relation — which is BOUNDED (types x hours), never
    event-sized — and overwrites the per-type PH summary at `path`.
    Microbatch boundaries may split an hour across batches; the merge
    groupBy re-adds the partials, so the emitted summary equals the
    batch computation over everything seen so far, for ANY interleaving.

    Returns the started StreamingQuery.
    """
    from pyspark.sql import Window

    state = path + "_state"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hourly = (
            batch_df.groupBy(
                F.col(type_col).alias("event_type"),
                F.expr(
                    f"CAST(unix_micros({ts_col}) div 3600000000 AS BIGINT)"
                ).alias("h"),
            )
            .agg(
                F.sum(F.round(F.col(value_col) * 100).cast("long"))
                .cast("long")
                .alias("x"),
                F.count("*").cast("long").alias("cnt"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            hourly.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state)
        )
        merged = (
            spark.read.parquet(state)
            .groupBy("event_type", "h")
            .agg(
                F.sum("x").cast("long").alias("x"),
                F.sum("cnt").cast("long").alias("cnt"),
            )
        )
        wc = (
            Window.partitionBy("event_type")
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pre = merged.select(
            "event_type",
            "h",
            F.sum(F.col("x") - F.col("cnt") * F.lit(mu0_cents + delta_cents))
            .over(wc)
            .cast("long")
            .alias("m"),
        )
        ph = pre.select(
            "event_type",
            "h",
            (F.col("m") - F.min("m").over(wc)).cast("long").alias("ph"),
        )
        out = ph.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_hours"),
            F.max("ph").cast("long").alias("max_ph"),
            F.sum(F.when(F.col("ph") > lambda_cents, 1).otherwise(0))
            .cast("long")
            .alias("n_alarms"),
            F.coalesce(
                F.min(F.when(F.col("ph") > lambda_cents, F.col("h"))),
                F.lit(-1),
            )
            .cast("long")
            .alias("first_alarm_h"),
        )
        out.write.mode("overwrite").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def cusum_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    mu0_cents: int,
    k_cents: int,
    h_cents: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
):
    """Streaming two-sided CUSUM monitor against a FIXED baseline mean
    mu0 with reference slack k and decision interval h (all integer-cent
    training-time literals — the production deployment shape of the
    cusum_control_chart gate, exactly as page_hinkley_stream deploys
    gate:page_hinkley_drift: an online monitor compares against
    TRAINING-TIME statistics, never the stream's own final mean).

    The sequential recursions C+_t = max(0, C+ + (x_t - cnt_t*(mu0+k)))
    and C-_t = max(0, C- + (cnt_t*(mu0-k) - x_t)) are replaced by their
    exact prefix-sum-minus-running-min closed forms, so each trigger
    recomputes both sides with two stacked windows over the BOUNDED
    (type, hour) relation — never a sequential loop, never event-sized
    state.  With integer-cent literals every increment is an exact
    BIGINT and the h boundary compares integers.

    State discipline (identical to page_hinkley_stream): per-microbatch
    hourly partials land in a batch_id-partitioned parquet state dir
    with dynamic overwrite, so a REPLAYED batch overwrites its own
    partition instead of double-counting; the merge groupBy re-adds
    partials split across microbatches, so the emitted per-type summary
    equals the batch computation over everything seen so far, for ANY
    trigger interleaving.

    Returns the started StreamingQuery.
    """
    from pyspark.sql import Window

    state = path + "_state"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hourly = (
            batch_df.groupBy(
                F.col(type_col).alias("event_type"),
                F.expr(
                    f"CAST(unix_micros({ts_col}) div 3600000000 AS BIGINT)"
                ).alias("h"),
            )
            .agg(
                F.sum(F.round(F.col(value_col) * 100).cast("long"))
                .cast("long")
                .alias("x"),
                F.count("*").cast("long").alias("cnt"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            hourly.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state)
        )
        merged = (
            spark.read.parquet(state)
            .groupBy("event_type", "h")
            .agg(
                F.sum("x").cast("long").alias("x"),
                F.sum("cnt").cast("long").alias("cnt"),
            )
        )
        out = cusum_over_hours(merged, mu0_cents, k_cents, h_cents)
        out.write.mode("overwrite").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def cusum_over_hours(
    merged: DataFrame, mu0_cents: int, k_cents: int, h_cents: int
) -> DataFrame:
    """Two-sided CUSUM summary per event_type over an (event_type, h,
    x, cnt) relation — the shared core of cusum_stream and its batch
    twin, so the stream == batch test compares the SAME code path fed
    two ways."""
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = merged.select(
        "event_type",
        "h",
        F.sum(F.col("x") - F.col("cnt") * F.lit(mu0_cents + k_cents))
        .over(wc)
        .cast("long")
        .alias("p_hi"),
        F.sum(F.col("cnt") * F.lit(mu0_cents - k_cents) - F.col("x"))
        .over(wc)
        .cast("long")
        .alias("p_lo"),
    )
    cus = pre.select(
        "event_type",
        "h",
        (F.col("p_hi") - F.least(F.lit(0).cast("long"), F.min("p_hi").over(wc)))
        .cast("long")
        .alias("c_hi"),
        (F.col("p_lo") - F.least(F.lit(0).cast("long"), F.min("p_lo").over(wc)))
        .cast("long")
        .alias("c_lo"),
    )
    return cus.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.max("c_hi").cast("long").alias("max_c_hi"),
        F.max("c_lo").cast("long").alias("max_c_lo"),
        F.sum(
            F.when((F.col("c_hi") > h_cents) | (F.col("c_lo") > h_cents), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_alarm_hours"),
        F.coalesce(
            F.min(
                F.when(
                    (F.col("c_hi") > h_cents) | (F.col("c_lo") > h_cents),
                    F.col("h"),
                )
            ),
            F.lit(-1),
        )
        .cast("long")
        .alias("first_alarm_h"),
    )
