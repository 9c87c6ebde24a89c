from pyspark.sql import functions as F

from inferdb_spark.scale import salted_aggregate, stage_to_parquet


def test_salted_aggregate_matches_plain(spark):
    rows = [("hot", float(i)) for i in range(5000)] + [
        (f"k{i % 50}", float(i)) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    plain = {
        (r.k): (r["sum(v)"], r["count(v)"])
        for r in df.groupBy("k").agg(F.sum("v"), F.count("v")).collect()
    }
    salted = {
        r.k: (r.sum_v, r.count_v)
        for r in salted_aggregate(df, ["k"], {"v": "sum"}).join(
            salted_aggregate(df, ["k"], {"v": "count"}), "k"
        ).collect()
    }
    assert plain == salted


def test_salted_aggregate_mean(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double")
    out = {r.k: r.mean_v for r in salted_aggregate(df, ["k"], {"v": "mean"}).collect()}
    assert out == {"a": 2.0, "b": 10.0}


def test_stage_to_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    out = stage_to_parquet(df, str(tmp_path / "stage"))
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "b")]


def test_bucketed_join_no_shuffle(spark):
    """write_bucketed pays one shuffle at write time; every subsequent join
    on the bucket key must then plan with ZERO Exchange (co-located
    bucket-to-bucket join) — the property that amortizes at 100 TB."""
    from inferdb_spark.scale import write_bucketed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        right = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        write_bucketed(left, "bkt_left_t", ["k"], 8)
        write_bucketed(right, "bkt_right_t", ["k"], 8)
        joined = spark.table("bkt_left_t").join(spark.table("bkt_right_t"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left_t")
        spark.sql("DROP TABLE IF EXISTS bkt_right_t")


def test_partition_pruned_scan(spark, tmp_path):
    """Partition-column filters must prune at planning time (the
    data-skipping property the IVF/LSH persisted layouts rely on: a probe
    reads n_probe/n_lists of the corpus, not all of it)."""
    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("part"), F.col("id").alias("v")
    )
    path = str(tmp_path / "pp")
    df.write.partitionBy("part").parquet(path)
    rd = spark.read.parquet(path).filter(F.col("part") == 3)
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "= 3" in plan, plan
    assert rd.count() == 100


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: with one hot key dominating a sort-merge
    join, adaptive execution splits the skewed partition (isSkew=true in
    the final plan) instead of leaving one straggler task — the runtime
    half of the salting strategy (salting covers groupBy skew, AQE covers
    join skew)."""
    import pyspark.sql.functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 95, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(5_000).select(
            F.when(F.col("id") % 100 < 95, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        # global agg (no hash-partitioning requirement downstream — a
        # keyed groupBy right after the join would veto the skew split)
        j = left.join(right, "k").agg(F.count(F.lit(1)).alias("n"))
        j.collect()  # AQE finalizes the plan only after execution
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_exchange_reuse_for_shared_subplan(spark):
    """A self-join over one aggregated subquery must shuffle it ONCE
    (ReusedExchange in the final plan) — the exchange-reuse property that
    keeps diamond-shaped pipelines (compare-to-baseline, share-of-total)
    from paying double scans at 100 TB."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = spark.range(100_000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v")
        )
        agg = base.groupBy("k").agg(F.sum("v").alias("s"))
        # identical aggregation subtree on both sides (a k+1 shift would
        # need a DIFFERENT partitioning and legitimately re-shuffle)
        j = agg.join(agg.withColumnRenamed("s", "s2"), "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_approx_aggregates_track_exact(spark, sf_dir):
    """The 100-TB substitutions (approx_count_distinct HLL, approxQuantile
    GK sketch) stay within their documented error of the exact answers
    they replace in gates — the sanity bound behind every 'approx at
    scale' note in COVERAGE.md."""
    import pyspark.sql.functions as F

    from inferdb_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact_d = li.select(F.countDistinct("l_partkey")).first()[0]
    approx_d = li.select(F.approx_count_distinct("l_partkey", rsd=0.02)).first()[0]
    assert abs(approx_d - exact_d) / exact_d < 0.06  # 3x rsd

    exact_q = li.select(
        F.percentile(F.col("l_extendedprice"), F.lit(0.5))
    ).first()[0]
    (approx_q,) = li.approxQuantile("l_extendedprice", [0.5], 0.01)
    # 1% relative-RANK error -> value gap bounded by the local density;
    # assert the rank of the approx answer is within 2% of the median rank
    n = li.count()
    rank = li.filter(F.col("l_extendedprice") <= approx_q).count()
    assert abs(rank - n / 2) / n < 0.02


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a selective dimension filter must prune FACT PARTITIONS at
    runtime when joining on the partition column — at 100 TB this is the
    difference between scanning one date partition and scanning the
    table.  The executed plan carries a dynamicpruning expression inside
    the fact scan's PartitionFilters."""
    fact = spark.range(0, 20000).select(
        (F.col("id") % 50).alias("pdate"), F.col("id").alias("v")
    )
    path = str(tmp_path / "dpp_fact")
    fact.write.partitionBy("pdate").parquet(path)
    fact_rd = spark.read.parquet(path)
    dim = spark.range(0, 50).select(
        F.col("id").alias("pdate"),
        F.when(F.col("id") == 7, "keep").otherwise("drop").alias("tag"),
    )
    joined = fact_rd.join(dim.filter(F.col("tag") == "keep"), "pdate")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 400


def test_runtime_bloom_filter_pruning(spark):
    """Runtime Bloom-filter injection: for a shuffle join with a selective
    build side, Spark plants a bloom_filter_agg on the build side and a
    might_contain probe on the stream side, cutting shuffle volume before
    the join — the non-partition-column analog of DPP.  Verify the rewrite
    fires (plan) and preserves the result (count)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("attr")
        )
        joined = fact.join(dim.filter(F.col("attr") == 3), "k")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower(), plan
        assert joined.count() == 200 * 11
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# brute-force size guards (round-5: parity-only variants must refuse
# corpus-scale probe sides instead of silently going O(n*m))
# ---------------------------------------------------------------------------


def test_assert_small_side_passes_and_raises(spark):
    import pytest

    from inferdb_spark.scale import assert_small_side

    small = spark.range(10)
    assert assert_small_side(small, 100, "x", "y").count() == 10
    big = spark.range(500)
    with pytest.raises(ValueError, match="use the-ivf-path"):
        assert_small_side(big, 100, "caller", "the-ivf-path")


def test_hard_negative_mining_guard(spark):
    import pytest
    from pyspark.sql import functions as F

    from inferdb_spark.operators.similarity import hard_negative_mining

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        (F.col("id") % 2).alias("label"),
    )
    with pytest.raises(ValueError, match="hard_negative_mining_ivf"):
        hard_negative_mining(emb, emb, max_anchor_rows=100)
    # under the bound it still runs
    out = hard_negative_mining(emb.limit(5), emb, k=2, max_anchor_rows=100)
    assert out.count() == 10


def test_knn_probe_guard(spark):
    import pytest
    from pyspark.sql import functions as F

    from inferdb_spark.operators.knn import knn_classify

    pts = spark.range(300).select(
        F.col("id").alias("k_"),
        (F.col("id") % 7).alias("f1"),
        (F.col("id") % 3).alias("lbl"),
    )
    with pytest.raises(ValueError, match="knn_classify_ivf"):
        knn_classify(pts, pts, ["f1"], "lbl", 3, "k_", "k_", max_probe_rows=100)
