"""Isotonic calibration: relational minimax == classic sequential PAVA."""

from __future__ import annotations

import numpy as np
import pytest

from inferdb_spark.operators.calibration import isotonic_fit


def _pava(y: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Reference sequential pool-adjacent-violators (textbook)."""
    y = y.astype(float).copy()
    w = w.astype(float).copy()
    blocks = [[i] for i in range(len(y))]
    vals = list(y)
    wts = list(w)
    i = 0
    while i < len(vals) - 1:
        if vals[i] > vals[i + 1] + 1e-15:
            tw = wts[i] + wts[i + 1]
            vals[i] = (vals[i] * wts[i] + vals[i + 1] * wts[i + 1]) / tw
            wts[i] = tw
            blocks[i] += blocks[i + 1]
            del vals[i + 1], wts[i + 1], blocks[i + 1]
            if i > 0:
                i -= 1
        else:
            i += 1
    out = np.empty(len(y))
    for v, b in zip(vals, blocks):
        out[list(b)] = v
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 7])
def test_isotonic_fit_equals_pava(spark, seed):
    rng = np.random.RandomState(seed)
    B = int(rng.randint(3, 12))
    n = rng.randint(1, 50, B)
    rate = rng.uniform(0, 1, B)
    s = rate * n
    rows = [(int(b), int(n[b]), float(s[b])) for b in range(B)]
    df = spark.createDataFrame(rows, "bin int, n long, s double")
    got = {
        r.bin: r.iso_rate
        for r in isotonic_fit(df, "bin", "n", "s", ascending=True).collect()
    }
    expect = _pava(s / n, n.astype(float))
    for b in range(B):
        assert abs(got[b] - expect[b]) < 1e-9, (b, got[b], expect[b])


def test_isotonic_descending(spark):
    rows = [(0, 10, 2.0), (1, 10, 5.0), (2, 10, 4.0), (3, 10, 9.0)]
    df = spark.createDataFrame(rows, "bin int, n long, s double")
    got = [
        r.iso_rate
        for r in isotonic_fit(df, ascending=False).orderBy("bin").collect()
    ]
    # non-increasing in bin order
    assert all(got[i] >= got[i + 1] - 1e-12 for i in range(len(got) - 1))
    # matches PAVA on the reversed sequence
    expect = _pava(np.array([0.9, 0.4, 0.5, 0.2]), np.full(4, 10.0))[::-1]
    np.testing.assert_allclose(sorted(got), sorted(expect), rtol=1e-9)


def test_pav_replay_equals_relational_minimax(spark):
    """The two isotonic fits in the repo (calibrate.py driver-stack PAV,
    calibration.py relational minimax) are the SAME model: identical
    fitted values on shared binned data (unique L2 projection onto the
    monotone cone) — the unification contract in calibrate.py's
    docstring table."""
    import random

    from inferdb_spark.operators.calibrate import fit_isotonic
    from inferdb_spark.operators.calibration import isotonic_fit

    rng = random.Random(3)
    # (bin, y_sum, n) with deliberate violators and ties
    rows = [(b, rng.randint(0, 40), rng.randint(1, 50)) for b in range(25)]

    bins_pav = spark.createDataFrame(
        [(b, y, n) for b, y, n in rows], "bin long, y_b long, n_b long"
    )
    pav = {
        r["bin"]: r["block_y"] / r["block_n"]
        for r in fit_isotonic(bins_pav).collect()
    }

    bins_mm = spark.createDataFrame(
        [(b, n, y) for b, y, n in rows], "bin long, n long, s long"
    )
    mm = {r["bin"]: r["iso_rate"] for r in isotonic_fit(bins_mm).collect()}

    assert set(pav) == set(mm)
    for b in pav:
        assert abs(pav[b] - mm[b]) < 1e-9, (b, pav[b], mm[b])
    fitted = [pav[b] for b in sorted(pav)]
    assert all(a <= b + 1e-12 for a, b in zip(fitted, fitted[1:]))
