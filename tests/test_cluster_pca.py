"""Unit tests for operators/cluster.py (one relational Lloyd step) and
linreg.fit_pca_exact (moments-based PCA fit)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators import cluster as CL
from inferdb_spark.operators import linreg as LR


def _blobs(spark, centers, n_per=50, spread=20, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for cx, cy in centers:
        for _ in range(n_per):
            rows.append(
                (int(cx + rng.integers(-spread, spread + 1)),
                 int(cy + rng.integers(-spread, spread + 1)))
            )
    return spark.createDataFrame(rows, "x long, y long"), rows


def test_lloyd_matches_python_reference(spark):
    # bit-exact parity of one lloyd_update step with a driver-side
    # re-implementation of the same integer rule (argmin, lowest-id
    # tie-break: the duplicate center 2 never wins a row)
    df, rows = _blobs(spark, [(0, 0), (400, 400)], n_per=30, seed=9)
    centers = [[50, 50], [300, 300], [50, 50]]
    got = {
        r["cluster"]: (r["n"], r["sum_0"], r["sum_1"])
        for r in CL.lloyd_update(df, ["x", "y"], centers).collect()
    }
    want = {}
    for x, y in rows:
        best = min(
            range(len(centers)),
            key=lambda i: ((x - centers[i][0]) ** 2 + (y - centers[i][1]) ** 2, i),
        )
        n, sx, sy = want.get(best, (0, 0, 0))
        want[best] = (n + 1, sx + x, sy + y)
    assert got == want and set(got) == {0, 1}


def test_fit_pca_exact_matches_numpy(spark):
    rng = np.random.default_rng(11)
    n = 400
    # correlated 3-d data on a 0.01 grid
    z = rng.normal(0, 1, n)
    a = np.round(2.0 * z + rng.normal(0, 0.1, n), 2)
    b = np.round(-1.0 * z + rng.normal(0, 0.1, n), 2)
    c = np.round(0.5 * z + rng.normal(0, 0.1, n), 2)
    df = spark.createDataFrame(
        [(float(x), float(y), float(w)) for x, y, w in zip(a, b, c)],
        "a double, b double, c double",
    )
    means, comps = LR.fit_pca_exact(df, ["a", "b", "c"], k=2, scale=100)
    X = np.column_stack([a, b, c]) * 100  # the scaled space the fit sees
    cov = np.cov(X, rowvar=False)
    eigval, eigvec = np.linalg.eigh(cov)
    top = eigvec[:, np.argsort(eigval)[::-1][:2]]
    for k in range(2):
        v = top[:, k]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        assert np.allclose(comps[k], v, atol=1e-9)
    assert np.allclose(means, X.mean(axis=0) / 100, atol=1e-12)


def test_pca_project_roundtrip_with_exact_fit(spark):
    from inferdb_spark.operators.featurize import pca_project

    rng = np.random.default_rng(5)
    pts = np.round(rng.normal(0, 3, (100, 2)), 2)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "a double, b double"
    )
    means, comps = LR.fit_pca_exact(df, ["a", "b"], k=2, scale=100)
    out = pca_project(df, ["a", "b"], means, comps).collect()
    # projection preserves squared norm (orthonormal basis)
    for r in out:
        centered = np.array([r["a"] - means[0], r["b"] - means[1]])
        proj = np.array([r["pca_0"], r["pca_1"]])
        assert float(centered @ centered) == pytest.approx(float(proj @ proj), rel=1e-9)
