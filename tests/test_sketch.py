"""KMV sketch properties: exactness below k, merge == direct, idempotence.

Scale twin of the reference's exact distinct-key accounting
(src/optimizer.py:225-231); see operators/sketch.py for the design notes.
"""

import pytest
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import h52
from inferdb_spark.operators.sketch import kmv_estimate, kmv_merge, kmv_sketch

K = 16


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _rows(df):
    return sorted(
        (r["lang"], tuple(r["kmv"]), r["n_kept"]) for r in df.collect()
    )


def test_exact_below_k(spark):
    # 5 distinct values < k=16 -> sketch holds all hashes, estimate exact
    df = spark.range(50).select(
        F.lit("g").alias("g"), (F.col("id") % 5).cast("string").alias("v")
    )
    est = kmv_estimate(kmv_sketch(df, ["g"], F.col("v"), K), K).collect()[0]
    assert est["n_kept"] == 5
    assert est["est_distinct"] == 5.0
    assert est["kth_hash"] is None


def test_merge_equals_direct(docs):
    direct = kmv_sketch(docs, ["lang"], F.col("text"), K)
    partial = kmv_sketch(docs, ["lang", "source"], F.col("text"), K)
    merged = kmv_merge(partial, ["lang"], K)
    assert _rows(direct) == _rows(merged)


def test_merge_idempotent(docs):
    sk = kmv_sketch(docs, ["lang"], F.col("text"), K)
    assert _rows(sk) == _rows(kmv_merge(sk, ["lang"], K))


def test_estimate_within_error_bound(docs):
    # relative error ~ 1/sqrt(k-1) -> 4 sigma bound at k=16 is ~103%;
    # use k=64 for a meaningful 50% assertion window on real data
    k = 64
    est = kmv_estimate(kmv_sketch(docs, ["lang"], F.col("text"), k), k)
    exact = (
        docs.select("lang", h52(F.col("text")).alias("h"))
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").alias("nd"))
    )
    for r in est.join(exact, "lang").collect():
        if r["n_kept"] < k:
            assert r["est_distinct"] == float(r["nd"])
        else:
            assert abs(r["est_distinct"] - r["nd"]) / r["nd"] < 0.5


def test_pairwise_overlap_estimates(docs, spark):
    # estimator vs exact set overlap on per-lang 5-gram hash sets
    from inferdb_spark.functions.text import word_ngrams_sql
    from inferdb_spark.operators.sketch import kmv_pairwise_overlap

    k = 64
    grams = docs.select(
        "lang", F.explode(F.expr(word_ngrams_sql("`text`", 5))).alias("g")
    )
    sk = kmv_sketch(grams, ["lang"], F.col("g"), k)
    est = {
        (r["lang_a"], r["lang_b"]): r
        for r in kmv_pairwise_overlap(sk, "lang", k).collect()
    }
    exact = {
        r["lang"]: set(r["hs"])
        for r in grams.select("lang", h52(F.col("g")).alias("h"))
        .groupBy("lang")
        .agg(F.collect_set("h").alias("hs"))
        .collect()
    }
    assert est
    for (la, lb), r in est.items():
        A, B = exact[la], exact[lb]
        true_j = len(A & B) / len(A | B)
        true_u = len(A | B)
        if r["n_union_kept"] < k:
            assert r["jaccard_est"] == pytest.approx(true_j, abs=1e-6)
        else:
            # k=64 union sample: generous 4-sigma-ish windows
            assert abs(r["jaccard_est"] - true_j) < 0.35
            assert abs(r["union_est"] - true_u) / true_u < 0.6


def test_hist_quantile_error_bound(spark, sf_dir):
    # estimate within one bin width of the exact interpolated percentile
    from inferdb_spark.operators.sketch import (
        hist_quantile_estimate,
        hist_quantile_merge,
        hist_quantile_sketch,
    )

    lo, hi, bins = 0.0, 110000.0, 220
    width = (hi - lo) / bins
    li = load_table(spark, sf_dir, "lineitem").cache()
    sk = hist_quantile_sketch(
        li, ["l_returnflag"], F.col("l_extendedprice"), lo, hi, bins
    )
    est = hist_quantile_estimate(sk, ["l_returnflag"], [0.5, 0.9], lo, hi, bins)
    exact = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
    )
    ex = {r["l_returnflag"]: r for r in exact.collect()}
    rows = est.collect()
    assert rows
    for r in rows:
        truth = ex[r["l_returnflag"]]["p50" if r["q"] == 0.5 else "p90"]
        assert abs(r["est"] - truth) <= width + 1e-6

    # additive merge of partials == direct build (same relation)
    partials = hist_quantile_sketch(
        li, ["l_returnflag", "l_linestatus"], F.col("l_extendedprice"), lo, hi, bins
    )
    merged = hist_quantile_merge(partials, ["l_returnflag"])
    direct = {(r["l_returnflag"], r["bin"]): r["cnt"] for r in sk.collect()}
    rolled = {(r["l_returnflag"], r["bin"]): r["cnt"] for r in merged.collect()}
    assert direct == rolled


def test_streaming_hist_sketch_matches_batch(spark):
    # the histogram sketch build is a plain streaming aggregation: the
    # incrementally-maintained state equals the batch rebuild bit-for-bit
    import shutil, tempfile
    from inferdb_spark.operators.sketch import hist_quantile_sketch
    from inferdb_spark.streaming import scoring_stream as SS

    tmp = tempfile.mkdtemp(prefix="inferdb_sk_stream_")
    try:
        rows = [(i % 7, float((i * 37) % 1000)) for i in range(500)]
        batch = spark.createDataFrame(rows, "g int, v double")
        batch.coalesce(4).write.mode("overwrite").parquet(tmp)
        stream = SS.stream_from_parquet_dir(spark, tmp, batch.schema, 2)
        sk = hist_quantile_sketch(stream, ["g"], F.col("v"), 0.0, 1000.0, 50)
        q = (
            sk.writeStream.outputMode("complete")
            .format("memory")
            .queryName("sk_stream_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["g"], r["bin"]): r["cnt"]
            for r in spark.sql("select * from sk_stream_out").collect()
        }
        want = {
            (r["g"], r["bin"]): r["cnt"]
            for r in hist_quantile_sketch(
                batch, ["g"], F.col("v"), 0.0, 1000.0, 50
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kmv_incremental_merge_chain(docs, spark):
    # uneven ingest batches merged one at a time (the foreachBatch
    # accumulate pattern) converge to the direct sketch exactly
    from inferdb_spark.operators.sketch import kmv_merge, kmv_sketch

    batches = [
        docs.filter(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    state = kmv_sketch(batches[0], ["lang"], F.col("text"), K)
    for b in batches[1:]:
        part = kmv_sketch(b, ["lang"], F.col("text"), K)
        state = kmv_merge(state.unionByName(part), ["lang"], K)
    direct = kmv_sketch(docs, ["lang"], F.col("text"), K)
    assert _rows(state) == _rows(direct)


def test_bloom_no_false_negatives(spark):
    from inferdb_spark.operators.sketch import bloom_build, bloom_probe

    members = spark.range(0, 200).select(F.col("id").cast("string").alias("k"))
    bloom = bloom_build(members, F.col("k"), 3, 2048)
    probe = spark.range(0, 1000).select(F.col("id").alias("v"))
    kept = {
        r["v"]
        for r in bloom_probe(
            probe, F.col("v").cast("string"), bloom, 3, 2048
        ).collect()
    }
    # every true member survives; false positives allowed but bounded
    assert set(range(200)) <= kept
    assert len(kept) < 450


def test_cms_overestimates_only_and_merges(docs, spark):
    from inferdb_spark.functions.text import tokens_sql
    from inferdb_spark.operators.sketch import cms_build, cms_estimate, cms_merge

    d, w = 4, 512
    tok = docs.select(F.explode(F.expr(tokens_sql("`text`"))).alias("t")).cache()
    cms = cms_build(tok, F.col("t"), d, w)
    probes = tok.select(F.col("t").alias("probe")).distinct()
    est = {
        r["probe"]: r["est"]
        for r in cms_estimate(cms, probes, F.col("probe"), d, w).collect()
    }
    true = {
        r["t"]: r["cnt"]
        for r in tok.groupBy("t").agg(F.count("*").alias("cnt")).collect()
    }
    assert est.keys() == true.keys()
    for k, t in true.items():
        assert est[k] >= t  # CMS never undercounts

    # additive merge of two disjoint halves == direct build
    h1 = cms_build(tok.limit(0).unionByName(tok).filter(F.length("t") <= 4), F.col("t"), d, w)
    h2 = cms_build(tok.filter(F.length("t") > 4), F.col("t"), d, w)
    merged = {
        (r["row"], r["col"]): r["cnt"] for r in cms_merge(h1.unionByName(h2)).collect()
    }
    direct = {(r["row"], r["col"]): r["cnt"] for r in cms.collect()}
    assert merged == direct
