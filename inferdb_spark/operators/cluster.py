"""Distributed KMeans training (Lloyd's algorithm) as relational algebra.

The reference fits KMeans driver-side in Python and pushes the centers
into the database as a table (src/featurizers/create_featurizer_pg.py:
64-79); featurize.fit_kmeans_centers covers the MLlib-estimator route.
This module is the transpiled-training route: one Lloyd iteration is

    assign  = argmin-distance projection (zero shuffle, centers are
              literals burned into the expression — no join at all)
    update  = groupBy(cluster) -> per-feature sums + count

so a fit is a driver loop of K-row aggregates over the scan (gate:
kmeans_lloyd_step runs one step) — the natural 100 TB plan: each
iteration is one map-side-combined aggregation; nothing wider than k·p
numbers ever crosses the network.

Determinism: features are integer-scaled BIGINTs, distances are exact
integer arithmetic, assignment ties break to the lowest cluster id, and
the update relation carries exact integer sums (division into new centers
happens on the driver, identically everywhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assign_cluster_int(feature_cols: list[Column], centers: list[list[int]]) -> Column:
    """Argmin over literal integer centers: exact BIGINT squared euclidean,
    lowest-id tie-break (struct field order does the tie-breaking)."""
    entries = []
    for cid, center in enumerate(centers):
        d = F.lit(0).cast("long")
        for col, c in zip(feature_cols, center):
            delta = col.cast("long") - F.lit(int(c)).cast("long")
            d = d + delta * delta
        entries.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries))["cid"]


def lloyd_update(
    df: DataFrame, feature_cols: list[str], centers: list[list[int]]
) -> DataFrame:
    """One Lloyd step's sufficient statistics: (cluster, n, sum_0..sum_{p-1})
    with exact BIGINT sums.  New centers = round(sum_i / n) on the driver."""
    cols = [F.col(c) for c in feature_cols]
    assigned = df.select(
        assign_cluster_int(cols, centers).alias("cluster"),
        *[F.col(c).cast("long").alias(f"_f{i}") for i, c in enumerate(feature_cols)],
    )
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[F.sum(f"_f{i}").alias(f"sum_{i}") for i in range(len(feature_cols))],
    )
