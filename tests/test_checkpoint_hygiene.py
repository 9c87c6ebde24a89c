"""Checkpoint-block hygiene for the iterative fit loops.

The round-9 verdict reproduced a repeat-execution degradation in the
tokenizer trainers (wordpiece_fit 4.7 -> 11.3 -> 37.0 s across three
consecutive executions): every `vocab = vocab.localCheckpoint()` rotation
left the superseded checkpoint's blocks alive until py4j GC, so repeated
fits in one JVM accumulated block-manager pressure.  These tests assert
the DETERMINISTIC invariant behind the fix — the number of persisted RDDs
visible to the block manager returns to its pre-call level after each
fit — rather than wall-clock ratios, which are flaky under parallel test
load.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F


def _cached_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    return {info.id() for info in sc.getRDDStorageInfo()}


def _residual_after(spark, fn, reps: int = 2) -> int:
    """Run `fn` `reps` times; return max #blocks left behind by any run
    (new persisted RDD ids that survive the call, pre-GC)."""
    gc.collect()
    worst = 0
    for _ in range(reps):
        before = _cached_rdd_ids(spark)
        fn()
        after = _cached_rdd_ids(spark)
        worst = max(worst, len(after - before))
    return worst


def _docs(spark, n=60):
    rows = [
        (i, f"the quick brown fox jumps over the lazy dog number {i} "
            f"lowly lower newest widest " * 2)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def test_wordpiece_fit_leaves_at_most_final_checkpoint(spark):
    from inferdb_spark.operators.wordpiece_train import fit_wordpiece_merges

    df = _docs(spark)
    # n_merges=9, checkpoint_every=2 -> 4 in-loop rotations + the seed:
    # pre-fix this leaked 5 checkpoints per run; post-fix only the FINAL
    # vocab checkpoint (returned to the caller) may survive.
    residual = _residual_after(
        spark, lambda: fit_wordpiece_merges(df, "text", n_merges=9,
                                            checkpoint_every=2)
    )
    assert residual <= 1, f"wordpiece fit leaked {residual} checkpoints"


def test_bpe_fit_leaves_at_most_final_checkpoint(spark, monkeypatch):
    from inferdb_spark.operators import bpe_train
    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    # the Spark rounds: the driver rounds checkpoint nothing to leak
    monkeypatch.setattr(bpe_train, "_DRIVER_SYMBOL_CAP", 0)
    df = _docs(spark)
    residual = _residual_after(
        spark, lambda: fit_bpe_merges(df, "text", n_merges=9,
                                      checkpoint_every=2)
    )
    assert residual <= 1, f"bpe fit leaked {residual} checkpoints"


def test_unigram_fit_leaves_nothing(spark):
    from inferdb_spark.operators.unigram_lm import fit_unigram_lm

    df = _docs(spark, n=30)
    # returns a plain Python table — every checkpoint (words + one seg
    # per EM round) must be released.
    residual = _residual_after(
        spark, lambda: fit_unigram_lm(df, "text", n_rounds=3)
    )
    assert residual == 0, f"unigram fit leaked {residual} checkpoints"


def test_connected_components_leaves_at_most_final_labels(spark, monkeypatch):
    from inferdb_spark.operators import graph
    from inferdb_spark.operators.graph import connected_components

    # the Spark loop: the driver solve checkpoints nothing to leak
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 2)] + [(1, 2), (3, 4), (101, 102)],
        ["src", "dst"],
    )

    def run():
        connected_components(edges, max_iters=12).collect()

    residual = _residual_after(spark, run)
    # the final labels checkpoint backs the returned DataFrame; the edge
    # checkpoint and every superseded per-round labels must be freed
    assert residual <= 1, f"CC min-label leaked {residual} checkpoints"


def test_connected_components_star_bounded_residual(spark):
    from inferdb_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 120, 2)] + [(0, 60), (2, 80)],
        ["src", "dst"],
    )

    def run():
        connected_components_star(edges, max_iters=12).collect()

    residual = _residual_after(spark, run)
    # nodes + final edge checkpoint back the returned DataFrame
    assert residual <= 2, f"CC star leaked {residual} checkpoints"


def test_pagerank_leaves_at_most_final_ranks(spark):
    from inferdb_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(i, (i * 7) % 40) for i in range(40)], ["src", "dst"]
    ).filter(F.col("src") != F.col("dst"))

    def run():
        pagerank_integer(edges, n_iters=6).collect()
        spark.catalog.clearCache()  # the ed/nodes .cache() pins

    residual = _residual_after(spark, run)
    assert residual <= 1, f"pagerank leaked {residual} checkpoints"
