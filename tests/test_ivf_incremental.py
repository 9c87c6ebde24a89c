import shutil
import tempfile

from pyspark.sql import functions as F

from inferdb_spark.operators.binning import BinSpec
from inferdb_spark.operators.index import build_index
from inferdb_spark.operators.similarity import (
    cosine_topk,
    fit_ivf_centroids,
    ivf_build,
    ivf_search,
)
from inferdb_spark.streaming.index_maintenance import incremental_kv_stats
from inferdb_spark.streaming.scoring_stream import (
    run_stream_to_memory,
    stream_from_parquet_dir,
)


def _embeddings(spark, n=300, dim=8):
    # three well-separated clusters along different axes
    rows = []
    for i in range(n):
        c = i % 3
        base = [0.05 * ((i * 7 + j) % 5) for j in range(dim)]
        base[c] += 10.0
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_recall_on_clustered_data(spark):
    df = _embeddings(spark)
    cents = fit_ivf_centroids(df, "embedding", n_lists=3)
    assert len(cents) == 3
    indexed = ivf_build(df, "embedding", cents).cache()
    # lists should be balanced (one per cluster)
    sizes = sorted(r["count"] for r in indexed.groupBy("list_id").count().collect())
    assert sizes == [100, 100, 100]
    q = [0.0] * 8
    q[1] = 10.0  # query inside cluster 1
    exact = [r.vec_id for r in cosine_topk(df, "embedding", q, k=10).collect()]
    approx = [
        r.vec_id
        for r in ivf_search(indexed, "embedding", cents, q, k=10, n_probe=1).collect()
    ]
    assert approx == exact  # single probe suffices on separated clusters


def test_ivf_more_probes_superset(spark):
    df = _embeddings(spark)
    cents = fit_ivf_centroids(df, "embedding", n_lists=3)
    indexed = ivf_build(df, "embedding", cents).cache()
    q = [5.0] * 8  # between clusters
    r1 = {r.vec_id for r in ivf_search(indexed, "embedding", cents, q, k=5, n_probe=1).collect()}
    r3 = [r.vec_id for r in ivf_search(indexed, "embedding", cents, q, k=5, n_probe=3).collect()]
    exact = [r.vec_id for r in cosine_topk(df, "embedding", q, k=5).collect()]
    assert r3 == exact  # probing all lists == exact
    assert len(r1) == 5


def test_incremental_kv_matches_batch_rebuild(spark):
    rows = [(float(i % 40), float((i * 3) % 200), float(i % 97)) for i in range(2000)]
    df = spark.createDataFrame(rows, "x double, z double, y double")
    specs = [
        BinSpec(column="x", splits=[10.0, 20.0, 30.0]),
        BinSpec(column="z", splits=[50.0, 100.0, 150.0]),
    ]
    tmp = tempfile.mkdtemp(prefix="inc_kv_")
    try:
        df.repartition(5).write.mode("overwrite").parquet(tmp)
        stream = stream_from_parquet_dir(spark, tmp, df.schema)
        run_stream_to_memory(
            incremental_kv_stats(stream, specs, "y"), "inc_kv_out", "complete"
        )
        streamed = {
            r.key: (r.s, r.c, r.value)
            for r in spark.sql("select * from inc_kv_out").collect()
        }
        batch_idx = build_index(df, specs, "y", task="regression")
        batch = {r.key: r.value for r in batch_idx.kv.collect()}
        assert set(streamed) == set(batch)
        for k, v in batch.items():
            assert streamed[k][2] == v  # bit-identical: integer-valued sums
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pq_adc_recall_vs_bruteforce(spark, sf_dir):
    """PQ completes the ANN tier list (brute/LSH/IVF/PQ): ADC top-10 over
    16x16 codebooks must recall most of the exact L2 top-10 on the
    embeddings table, and the encode path must stay expression-only."""
    from inferdb_spark.catalog import load_table
    from inferdb_spark.functions.vector import as_double_array
    from inferdb_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_adc_topk,
        pq_encode_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb, "embedding", n_subvectors=8, n_centroids=32)
    codes = emb.select(
        "vec_id", F.expr(pq_encode_sql("`embedding`", books)).alias("codes")
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # encode is pure expressions

    query = [r["v"] for r in emb.select(
        as_double_array(F.col("embedding")).alias("v")
    ).limit(1).collect()][0]

    shortlist = {
        r["vec_id"]
        for r in pq_adc_topk(codes, "codes", query, books, k=100).collect()
    }

    q = F.array(*[F.lit(float(x)) for x in query])
    v = as_double_array(F.col("embedding"))
    exact_d = F.aggregate(
        F.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = {
        r["vec_id"]
        for r in emb.select("vec_id", exact_d.alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id")).limit(10).collect()
    }
    # PQ's production shape is shortlist (ADC) -> exact re-rank: the
    # exact top-10 must survive into the ADC top-100 shortlist
    assert len(shortlist & exact) >= 8


def _labeled_embeddings(spark, n=240, dim=8):
    rows = []
    for i in range(n):
        c = i % 3
        base = [0.05 * ((i * 7 + j) % 5) for j in range(dim)]
        base[c] += 10.0
        rows.append((i, [float(x) for x in base], c % 2))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_hard_negative_ivf_full_probe_equals_exact(spark):
    """n_probe = n_lists must reproduce the exact variant bit-for-bit
    (every candidate survives the shortlist, ranking keys identical)."""
    from inferdb_spark.operators.similarity import (
        fit_ivf_centroids,
        hard_negative_mining,
        hard_negative_mining_ivf,
    )

    df = _labeled_embeddings(spark)
    anchors = df.filter(F.col("vec_id") % 29 == 0)
    cents = fit_ivf_centroids(df, "embedding", n_lists=3)
    exact = hard_negative_mining(
        anchors, df, "embedding", "label", "vec_id", k=5
    ).collect()
    ivf = hard_negative_mining_ivf(
        anchors, df, cents, "embedding", "label", "vec_id", k=5, n_probe=3
    ).collect()
    key = lambda r: (r.anchor_id, r.rnk)
    assert sorted(map(tuple, ivf), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, exact), key=lambda t: (t[0], t[2])
    )
    assert len(exact) > 0


def test_hard_negative_ivf_recall_and_plan(spark):
    """Partial probing: recall vs exact stays high on clustered data, and
    the candidate join is an equi join (no BroadcastNestedLoopJoin)."""
    from inferdb_spark.operators.similarity import (
        fit_ivf_centroids,
        hard_negative_mining,
        hard_negative_mining_ivf,
    )

    df = _labeled_embeddings(spark)
    anchors = df.filter(F.col("vec_id") % 29 == 0)
    cents = fit_ivf_centroids(df, "embedding", n_lists=3)
    out = hard_negative_mining_ivf(
        anchors, df, cents, "embedding", "label", "vec_id", k=5, n_probe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exact = {
        (r.anchor_id, r.cand_id)
        for r in hard_negative_mining(
            anchors, df, "embedding", "label", "vec_id", k=5
        ).collect()
    }
    got = {(r.anchor_id, r.cand_id) for r in out.collect()}
    assert len(got & exact) / len(exact) >= 0.6
