"""K-nearest-neighbor classification as relational algebra.

The reference benchmarks an in-database KNN classifier through MADlib
(`madlib.knn`, src/transpiler.py:2650-2700 — invoked per test batch with
k-neighbor majority vote).  Here KNN is a first-class relational operator:

    candidates = test ⨯ train          (broadcast the small probe side)
    top-k      = two-stage per-key top-k (salted partial top-k, then merge —
                 NO global sort, NO full |test|×|train| shuffle on test_key)
    predict    = majority vote with deterministic lowest-label tie-break

All distances are exact integer arithmetic (callers pass integer-scaled
feature columns) so an independent SQL oracle reproduces the result
bit-for-bit — no FP-comparison ambiguity in the rank order.

Scale notes (100 TB): brute-force KNN is O(|test|·|train|) and is only
sane when one side broadcasts (scoring a small probe batch against a big
training relation — the MADlib usage).  For big-probe workloads use the
ANN tiers in operators/similarity.py (LSH buckets / IVF / PQ) to shortlist
candidates, then `majority_vote` over the shortlist — `knn_classify_ivf`
below wires that path for embedding columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators import similarity as SIM


def sq_dist(test_cols: list[Column], train_cols: list[Column]) -> Column:
    """Exact squared euclidean distance over integer-scaled features."""
    d = F.lit(0).cast("long")
    for tc, rc in zip(test_cols, train_cols):
        delta = tc.cast("long") - rc.cast("long")
        d = d + delta * delta
    return d


def topk_per_key(
    df: DataFrame,
    key: str,
    order_struct: Column,
    k: int,
    salt_col: Column | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Bounded top-k rows per key without a global per-key sort.

    Stage 1 groups by (key, salt) and keeps the k smallest `order_struct`
    values inside an array (array_sort + slice — struct fields compare
    lexicographically, so put the ordering columns first).  Stage 2 merges
    the ≤ n_salts·k survivors per key.  State per group is O(k), so a hot
    key with 10^9 candidate rows never materializes a 10^9-row sort
    partition — the skew-safe shape of SQL's `rank() <= k`.
    """
    salt = (salt_col % n_salts) if salt_col is not None else F.lit(0)
    stage1 = (
        df.groupBy(F.col(key), salt.alias("_salt"))
        .agg(F.slice(F.array_sort(F.collect_list(order_struct)), 1, k).alias("_top"))
    )
    merged = (
        stage1.groupBy(key)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("_top"))), 1, k
            ).alias("_top")
        )
    )
    return merged.select(key, F.explode("_top").alias("_nn"))


def majority_vote(neighbors: DataFrame, key: str, label_col: str) -> DataFrame:
    """Majority label per key; ties broken toward the smallest label value
    (the reference's pandas idxmax keeps first occurrence,
    src/transpiler.py:989 — we pin the deterministic lowest-value rule as
    documented in SURVEY.md §7 known-hard 4)."""
    counts = neighbors.groupBy(key, label_col).agg(F.count("*").alias("_votes"))
    return (
        counts.groupBy(key)
        .agg(F.min(F.struct((-F.col("_votes")).alias("_neg"), F.col(label_col).alias("_lbl"))).alias("_w"))
        .select(key, F.col("_w._lbl").alias("predicted"))
    )


def mean_of_neighbors(neighbors: DataFrame, key: str, value_col: str) -> DataFrame:
    """Mean neighbor target per key — the regression counterpart of
    `majority_vote` (MADlib's knn regression averages the k neighbor
    responses, reference src/transpiler.py:2599-2633).  Callers pass
    integer-scaled targets so the sum is exact; the single division is
    rounded to 6dp, matching the cross-engine determinism rules."""
    return neighbors.groupBy(key).agg(
        F.round(
            F.sum(F.col(value_col)).cast("double") / F.count("*").cast("double"), 6
        ).alias("predicted")
    )


def _knn_neighbors(
    test: DataFrame,
    train: DataFrame,
    feature_cols: list[str],
    value_col: str,
    k: int,
    test_key: str,
    train_key: str,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """Shared brute-force neighbor search: broadcast the probe side, exact
    integer distances, two-stage salted top-k.  Returns one row per
    (test key, neighbor) with the neighbor's `value_col` as `_lbl`.

    Guarded: raises if the probe side exceeds `max_probe_rows` — the
    candidate volume is |test| x |train|, so a corpus-scale probe side
    must use knn_classify_ivf (list-pruned shortlist) instead."""
    from inferdb_spark.scale import assert_small_side

    test = assert_small_side(
        test, max_probe_rows, "knn brute-force probe", "knn.knn_classify_ivf"
    )
    t = F.broadcast(
        test.select(
            F.col(test_key).alias("_tk"),
            *[F.col(c).cast("long").alias(f"_t_{c}") for c in feature_cols],
        )
    )
    r = train.select(
        F.col(train_key).alias("_rk"),
        F.col(value_col).alias("_lbl"),
        *[F.col(c).cast("long").alias(f"_r_{c}") for c in feature_cols],
    )
    dist = sq_dist(
        [F.col(f"_t_{c}") for c in feature_cols],
        [F.col(f"_r_{c}") for c in feature_cols],
    )
    cand = r.crossJoin(t).select(
        F.col("_tk"),
        F.struct(
            dist.alias("_d"), F.col("_rk").alias("_rk"), F.col("_lbl").alias("_lbl")
        ).alias("_o"),
    )
    top = topk_per_key(cand, "_tk", F.col("_o"), k, salt_col=F.col("_o._rk"))
    return top.select("_tk", F.col("_nn._lbl").alias("_lbl"))


def knn_classify(
    test: DataFrame,
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    k: int,
    test_key: str,
    train_key: str,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """Brute-force relational KNN: broadcast the probe side, exact integer
    distances, two-stage top-k, majority vote.  Feature columns must be
    integer-scaled (cast-exact) on both relations.  Returns
    (test_key, predicted).  Probe side guarded by `max_probe_rows`
    (scale path: knn_classify_ivf)."""
    neighbors = _knn_neighbors(
        test, train, feature_cols, label_col, k, test_key, train_key,
        max_probe_rows=max_probe_rows,
    )
    return majority_vote(neighbors, "_tk", "_lbl").withColumnRenamed("_tk", test_key)


def knn_regress(
    test: DataFrame,
    train: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k: int,
    test_key: str,
    train_key: str,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """Brute-force relational KNN REGRESSION: identical neighbor search to
    `knn_classify`, but the prediction is the mean of the k neighbors'
    integer-scaled targets (MADlib `madlib.knn` with a response column,
    reference src/transpiler.py:2599-2633) instead of a majority vote.
    Returns (test_key, predicted) with predicted rounded to 6dp."""
    neighbors = _knn_neighbors(
        test, train, feature_cols, target_col, k, test_key, train_key,
        max_probe_rows=max_probe_rows,
    )
    return mean_of_neighbors(neighbors, "_tk", "_lbl").withColumnRenamed(
        "_tk", test_key
    )


def knn_classify_ivf(
    test: DataFrame,
    train: DataFrame,
    vec_col: str,
    label_col: str,
    centroids: list[list[float]],
    k: int,
    n_probe: int,
    test_key: str,
    train_key: str,
) -> DataFrame:
    """ANN-shortlisted KNN over an embedding column: IVF-partition the
    training vectors once (operators/similarity.ivf_build), probe each test
    vector's n_probe nearest cells, exact-cosine rank inside the shortlist,
    majority vote.  The scale path: candidate count per probe is
    |train|·(n_probe/n_cells) instead of |train|."""
    from inferdb_spark.functions.vector import as_double_array, cosine_similarity

    indexed = SIM.ivf_build(train, vec_col, centroids)
    t = test.select(
        F.col(test_key).alias("_tk"), F.col(vec_col).alias("_q")
    )
    probe_cells = F.expr(SIM.ivf_probe_cells_sql("`_q`", centroids, n_probe))
    t = F.broadcast(t.select("_tk", "_q", F.explode(probe_cells).alias("list_id")))
    cand = indexed.join(t, on="list_id")
    cos = cosine_similarity(
        as_double_array(F.col(vec_col)), as_double_array(F.col("_q"))
    )
    scored = cand.select(
        F.col("_tk"),
        F.struct(
            (-cos).alias("_negcos"),
            F.col(train_key).alias("_rk"),
            F.col(label_col).alias("_lbl"),
        ).alias("_o"),
    )
    top = topk_per_key(scored, "_tk", F.col("_o"), k, salt_col=F.col("_o._rk"))
    neighbors = top.select("_tk", F.col("_nn._lbl").alias("_lbl"))
    return majority_vote(neighbors, "_tk", "_lbl").withColumnRenamed("_tk", test_key)
