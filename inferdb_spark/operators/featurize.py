"""Feature-engineering operators — the reference's featurizer family
(src/featurizers/nyc_rides_featurizer.py, create_featurizer_pg.py) as
DataFrame -> DataFrame functions.

Everything fitted becomes literals in the plan (the Spark analog of the
reference burning PCA means/components and cluster centers into generated
SQL); the applies are projections or broadcast joins — map-only at any
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.geo import euclidean_distance_sq


def assign_nearest_cluster(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    centers: list[tuple[float, float]],
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-center assignment as a projection (kmeans predict).

    The reference cross-joins every row with a 100-row center table and
    window-ranks by distance (create_featurizer_pg.py:104-127).  With
    centers as literals the argmin collapses into array_min over structs —
    no join, no window, no shuffle.  Ties break to the lowest cluster id.
    """
    lat, lon = F.col(lat_col), F.col(lon_col)
    entries = [
        F.struct(
            euclidean_distance_sq(lat, lon, F.lit(float(cy)), F.lit(float(cx))).alias("d"),
            F.lit(i).alias("cid"),
        )
        for i, (cy, cx) in enumerate(centers)
    ]
    best = F.array_min(F.array(*entries))
    return df.withColumn(out_col, best["cid"])


def fit_kmeans_centers(
    df: DataFrame, lat_col: str, lon_col: str, k: int, seed: int = 42,
    max_iter: int = 20,
) -> list[tuple[float, float]]:
    """KMeans fit via MLlib (the PGML/MADlib-training analog, F5); only the
    k centers come back to the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(inputCols=[lat_col, lon_col], outputCol="_features")
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="_features").fit(
        vec.transform(df.select(lat_col, lon_col).na.drop())
    )
    return [(float(c[0]), float(c[1])) for c in model.clusterCenters()]


def join_route_aggregates(
    df: DataFrame,
    routes: DataFrame,
    on: list[str],
    fill: dict[str, float] | None = None,
) -> DataFrame:
    """Composite-key broadcast join + COALESCE(count,0) for unseen routes
    (J6, query_integration_pgml.sql:12)."""
    out = df.join(F.broadcast(routes), on, "left")
    if fill:
        out = out.na.fill(fill)
    return out


def pca_project(
    df: DataFrame,
    cols: list[str],
    means: list[float],
    components: list[list[float]],
    prefix: str = "pca_",
) -> DataFrame:
    """(x - μ) · Kᵀ as literal arithmetic (create_featurizer_pg.py:141-170);
    components[j] is the j-th principal axis."""
    new = {}
    for j, comp in enumerate(components):
        expr = F.lit(0.0)
        for c, m, w in zip(cols, means, comp):
            expr = expr + (F.col(c) - F.lit(float(m))) * F.lit(float(w))
        new[f"{prefix}{j}"] = expr
    return df.withColumns(new)


def fit_pca(
    df: DataFrame, cols: list[str], k: int
) -> tuple[list[float], list[list[float]]]:
    """MLlib PCA fit; returns (means, components) to burn into pca_project."""
    from pyspark.ml.feature import PCA, VectorAssembler

    vec = VectorAssembler(inputCols=cols, outputCol="_features")
    assembled = vec.transform(df.select(cols).na.drop())
    means_row = df.agg(*[F.avg(c).alias(c) for c in cols]).first()
    means = [float(means_row[c]) for c in cols]
    model = PCA(k=k, inputCol="_features", outputCol="_pca").fit(assembled)
    pc = model.pc.toArray()  # (n_features, k)
    components = [[float(pc[i][j]) for i in range(len(cols))] for j in range(k)]
    return means, components


def pca_manhattan(
    df: DataFrame, a_prefix: str, b_prefix: str, k: int, out_col: str = "pca_manhattan"
) -> DataFrame:
    """|Δpca_0| + ... + |Δpca_{k-1}| (create_featurizer_pg.py:160-162)."""
    expr = F.lit(0.0)
    for j in range(k):
        expr = expr + F.abs(F.col(f"{a_prefix}{j}") - F.col(f"{b_prefix}{j}"))
    return df.withColumn(out_col, expr)
