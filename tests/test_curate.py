"""Curation/release operators: perplexity bucketing, sharded export,
l-diversity, cluster-balanced sampling — row-level semantics the gates'
group-level audits don't pin down."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_perplexity_bucket_select_boundaries(spark):
    from inferdb_spark.operators.textprep import perplexity_bucket_select

    # 6 docs in one source, scores chosen so ppl_q order is doc order;
    # one zero-length doc must drop out entirely
    rows = [
        # (doc_id, source, n_trigrams, score_unats) — ppl_q = -s*1000//n
        (1, "s", 10, -1_000_000),   # ppl 100_000_000
        (2, "s", 10, -2_000_000),
        (3, "s", 10, -3_000_000),
        (4, "s", 10, -4_000_000),
        (5, "s", 10, -5_000_000),
        (6, "s", 10, -6_000_000),
        (7, "s", 0, 0),             # unscored: dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id: long, source: string, n_trigrams: long, score_unats: long"
    )
    out = perplexity_bucket_select(df, n_buckets=3, keep_buckets=(1,))
    got = {r["doc_id"]: (r["bucket"], r["kept"]) for r in out.collect()}
    assert 7 not in got
    assert got == {1: (1, 1), 2: (1, 1), 3: (2, 0), 4: (2, 0),
                   5: (3, 0), 6: (3, 0)}


def test_perplexity_bucket_per_source_independent(spark):
    from inferdb_spark.operators.textprep import perplexity_bucket_select

    rows = [(i, f"s{i % 2}", 5, -100_000 * (i + 1)) for i in range(8)]
    df = spark.createDataFrame(
        rows, "doc_id: long, source: string, n_trigrams: long, score_unats: long"
    )
    out = perplexity_bucket_select(df, n_buckets=2, keep_buckets=(1,))
    per_src = (
        out.groupBy("source", "bucket").count().orderBy("source", "bucket")
    ).collect()
    # each source of 4 docs splits 2/2
    assert [(r["source"], r["bucket"], r["count"]) for r in per_src] == [
        ("s0", 1, 2), ("s0", 2, 2), ("s1", 1, 2), ("s1", 2, 2)
    ]


def test_l_diversity_row_level(spark):
    from inferdb_spark.operators.validate import l_diversity_suppress

    rows = [
        ("g1", "a"), ("g1", "b"), ("g1", "c"),   # 3 distinct -> kept
        ("g2", "a"), ("g2", "a"), ("g2", "a"),   # 1 distinct -> dropped
        ("g3", "a"), ("g3", "b"),                # 2 distinct -> dropped
        (None, "a"), (None, "b"), (None, "c"),   # NULL quasi group kept
    ]
    df = spark.createDataFrame(rows, "q: string, s: string")
    out = l_diversity_suppress(df, ["q"], "s", l=3)
    key = lambda t: (t[0] or "", t[1] or "")
    got = sorted(((r["q"], r["s"]) for r in out.collect()), key=key)
    assert got == sorted(
        [("g1", "a"), ("g1", "b"), ("g1", "c"),
         (None, "a"), (None, "b"), (None, "c")],
        key=key,
    )


def test_l_diversity_null_sensitive_ignored(spark):
    from inferdb_spark.operators.validate import l_diversity_suppress

    df = spark.createDataFrame(
        [("g", None), ("g", None), ("g", "a")], "q: string, s: string"
    )
    # countDistinct ignores NULLs: diversity 1 < 2 -> suppressed
    assert l_diversity_suppress(df, ["q"], "s", l=2).count() == 0


def test_cluster_balanced_sample_quota_and_determinism(spark):
    from inferdb_spark.operators.similarity import cluster_balanced_sample

    cents = [[0.0, 0.0], [10.0, 10.0]]
    rows = [(i, [float(i % 3), float(i % 3)]) for i in range(30)] + [
        (100 + i, [10.0 + (i % 2), 10.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = cluster_balanced_sample(df, "embedding", cents, quota=4).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    # cluster 0 capped at quota, cluster 1 keeps all 5? no — quota caps it
    assert len(by_cluster[0]) == 4
    assert len(by_cluster[1]) == 4
    assert all(1 <= r["rk"] <= 4 for r in out)
    # deterministic across reruns
    again = cluster_balanced_sample(df, "embedding", cents, quota=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_char_entropy_ordering_and_twin(spark):
    import math

    from inferdb_spark.operators.textprep import char_entropy

    docs = [
        (1, "abcdefgh"),          # 8 distinct chars: max entropy
        (2, "aabbaabb"),          # 2 symbols
        (3, "aaaaaaaa"),          # constant: ~0
        (4, "  "),                # normalizes to empty: dropped
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert 4 not in got
    assert (
        got[1]["entropy_micro"] > got[2]["entropy_micro"] > got[3]["entropy_micro"]
    )
    assert got[3]["entropy_micro"] in (0, 1)  # integer-division residue

    def twin(text):
        from collections import Counter

        half_up = lambda x: math.floor(x + 0.5)  # HALF_UP like F.round
        c = Counter(text)
        n = sum(c.values())
        sq = sum(half_up(k * math.log(k) * 1e6) for k in c.values())
        return (n, len(c), half_up(math.log(n) * 1e6) - sq // n)

    for doc_id, text in docs[:3]:
        n, nd, e = twin(text)
        r = got[doc_id]
        assert (r["n_chars"], r["n_distinct"], r["entropy_micro"]) == (n, nd, e)


def test_semantic_dedup_incremental_reductions(spark):
    from inferdb_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_incremental,
    )

    cents = [[0.0, 0.0], [10.0, 10.0]]
    # cluster 0: three near-identical vectors + one orthogonal-ish
    batch_rows = [
        (1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.99, 0.02]),
        (4, [0.0, 1.2]),
        (10, [10.0, 10.0]),
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id: long, embedding: array<double>"
    )
    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    # empty kept corpus -> identical to plain semantic_dedup
    inc = sorted(
        map(tuple, semantic_dedup_incremental(
            empty, batch, "embedding", cents, threshold=0.95
        ).collect())
    )
    full = sorted(
        map(tuple, semantic_dedup(
            batch, "embedding", cents, threshold=0.95
        ).collect())
    )
    assert inc == full
    # an existing duplicate of vec 1's group kills ALL its batch dups
    # (existing always wins), but not the dissimilar vec 4 / cluster-1 vec
    existing = spark.createDataFrame(
        [(100, [1.0, 0.001])], "vec_id: long, embedding: array<double>"
    )
    inc2 = {r["vec_id"] for r in semantic_dedup_incremental(
        existing, batch, "embedding", cents, threshold=0.95
    ).collect()}
    assert 1 not in inc2 and 2 not in inc2 and 3 not in inc2
    assert 4 in inc2 and 10 in inc2
