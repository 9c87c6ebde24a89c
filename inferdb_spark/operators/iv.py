"""Information-value feature scoring + greedy index-feature selection.

This is the reference's core "optimizer" (src/optimizer.py): each candidate
feature set is scored by information value computed from per-bin target
aggregates; features are added greedily in IV-descending order and kept only
if joint IV improves by >0.2% (threshold 1.002, src/optimizer.py:175-231),
then reordered by bin count ascending (src/optimizer.py:210-211).

Spark-first: the IV of any subset is a driver roll-up of one key-count
table (per full key over all candidate bins), collected in ONE groupBy job;
over KEY_TABLE_CAP each evaluation collects its own subset table.  The
index build (operators/index.py) uses the same `key_table` and `rollup`.
One definition per formula, on the driver: 0.5-adjusted WoE with safe
division (src/optimizer.py:53, 61-82), its one-vs-rest sum for multiclass
(:83-98), Σ|m_bin − M|·n_bin/N for regression (:99-102).  NULLs follow
SQL: a NULL target counts in n, not in a sum; a bin whose sum is NULL
drops out.
"""

from __future__ import annotations

import math
from collections import Counter
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators.binning import BinSpec

# Largest ∏ bin domains for which the selection rolls one collected full-key
# table up on the driver.  Greedy over 6 features, sf0.1 lineitem, 4 vCPU:
# 46,656 keys 2.1-2.4 s vs 4.9-5.6 s of per-evaluation jobs; ~117k keys a wash.
KEY_TABLE_CAP = 1 << 16


def key_table(encoded: DataFrame, bin_cols: list[str], target: str, task: str) -> list:
    """One groupBy job: rows (*bins, [class,] n, *counts) — classification
    (events), multiclass per class (none), regression (count(y), sum(y))."""
    y = F.col(target).cast("long" if task == "multiclass" else "double")
    keys = [*bin_cols, y] if task == "multiclass" else bin_cols
    counts = {"classification": [F.sum(y)], "multiclass": [], "regression": [F.count(y), F.sum(y)]}
    return encoded.groupBy(*keys).agg(F.count("*"), *counts[task]).collect()


def _add(a, b):
    """SQL sum() of two partial sums: NULL only when both are NULL."""
    return a if b is None else b if a is None else a + b


def rollup(rows: list, keep: list[int], width: int) -> dict[tuple, list]:
    """Sum the counts after the first `width` columns of `rows` onto the key
    columns at positions `keep`."""
    out: dict[tuple, list] = {}
    for r in rows:
        k = tuple(r[i] for i in keep)
        out[k] = list(map(_add, out[k], r[width:])) if k in out else list(r[width:])
    return out


def _woe_term(ev: float, nev: float, e_total: float, ne_total: float) -> float:
    """(dist_ev - dist_nev) * WoE of one bin; a non-positive ratio is a NULL
    log in SQL and contributes nothing."""
    de = (ev + 0.5) / (e_total or 1.0)  # the reference's 0.5 adjustment
    dn = (nev + 0.5) / (ne_total or 1.0)
    ratio = de / dn if dn else 1.0
    return (de - dn) * math.log(ratio) if ratio > 0 else 0.0


def _iv_classification(groups: dict[tuple, list]) -> float:
    n_total = sum(n for n, _ in groups.values())
    e_total = float(sum(e for _, e in groups.values() if e is not None))
    ne_total = n_total - e_total
    return sum(_woe_term(e, n - e, e_total, ne_total) for n, e in groups.values() if e is not None)


def _iv_multiclass(groups: dict[tuple, list]) -> float:
    """Sum of one-vs-rest binary IVs over the observed non-NULL classes;
    NULL-target rows count only as the rest."""
    bin_n, totals = Counter(), Counter()
    for (*b, cls), (n,) in groups.items():
        bin_n[tuple(b)] += n
        totals[cls] += n
    n_total = sum(totals.values())
    iv = 0.0
    for cls, e_total in totals.items():
        if cls is None or e_total == n_total:
            continue
        for b, n in bin_n.items():
            ev = groups.get((*b, cls), [0])[0]
            iv += _woe_term(ev, n - ev, e_total, n_total - e_total)
    return iv


def _iv_regression(groups: dict[tuple, list]) -> float:
    n_total = sum(n for n, _, _ in groups.values())
    c_total = sum(c for _, c, _ in groups.values())
    s_total = sum(s for _, c, s in groups.values() if c)
    m_global = s_total / c_total if c_total else 0.0
    return sum(abs(s / c - m_global) * (n / n_total) for n, c, s in groups.values() if c)


_FORMULAS = {
    "classification": _iv_classification,
    "multiclass": _iv_multiclass,
    "regression": _iv_regression,
}


def _table_iv(rows: list, task: str, idx, width: int) -> float:
    """IV of the bin columns at positions `idx` of a collected table with
    `width` bin columns."""
    keep = [*idx, width] if task == "multiclass" else list(idx)
    return _FORMULAS[task](rollup(rows, keep, width + (task == "multiclass")))


def _iv(encoded: DataFrame, bin_cols: list[str], target: str, task: str) -> float:
    width = len(bin_cols)
    return _table_iv(key_table(encoded, bin_cols, target, task), task, range(width), width)


def iv_classification(encoded: DataFrame, bin_cols: list[str], target: str) -> float:
    """Binary-target IV of the joint bins `bin_cols` (one job)."""
    return _iv(encoded, bin_cols, target, "classification")


def iv_multiclass(encoded: DataFrame, bin_cols: list[str], target: str) -> float:
    """Multi-class IV of the joint bins `bin_cols` (one job)."""
    return _iv(encoded, bin_cols, target, "multiclass")


def iv_regression(encoded: DataFrame, bin_cols: list[str], target: str) -> float:
    """Regression IV analog of the joint bins `bin_cols` (one job)."""
    return _iv(encoded, bin_cols, target, "regression")


@contextmanager
def _subset_iv(encoded: DataFrame, specs: list[BinSpec], target: str, task: str, suffix: str):
    """Yields iv(positions) -> joint IV of the specs at those positions,
    rolled up from one collected table, or over KEY_TABLE_CAP collected per
    call from `encoded`, cached here for the search unless already cached."""
    if not specs:
        raise ValueError("feature selection needs at least one feature")
    cols = [s.column + suffix for s in specs]
    if math.prod(s.domain for s in specs) <= KEY_TABLE_CAP:
        rows = key_table(encoded, cols, target, task)
        yield lambda idx: _table_iv(rows, task, idx, len(cols))
        return
    owned = encoded.storageLevel == StorageLevel.NONE
    if owned:
        encoded.cache()
    try:
        yield lambda idx: _iv(encoded, [cols[i] for i in idx], target, task)
    finally:
        if owned:
            encoded.unpersist()


def greedy_select(
    encoded: DataFrame,
    specs: list[BinSpec],
    target: str,
    task: str = "classification",
    improvement: float = 1.002,
    suffix: str = "_bin",
) -> list[BinSpec]:
    """Greedy feature-subset search (src/optimizer.py:175-231).

    1. score each feature's solo IV; order descending;
    2. add features in that order, keeping one only if joint IV > best *
       `improvement`;
    3. reorder the selection by bin count ascending (storage minimization).

    Returns at least one spec; raises ValueError when `specs` is empty.
    """
    with _subset_iv(encoded, specs, target, task, suffix) as iv:
        selected: list[int] = []
        best = 0.0
        for i in sorted(range(len(specs)), key=lambda i: -iv([i])):
            joint = iv(selected + [i])
            if not selected or joint > best * improvement:
                selected, best = selected + [i], joint
    return sorted((specs[i] for i in selected), key=lambda s: s.n_bins)


def brute_force_select(
    encoded: DataFrame,
    specs: list[BinSpec],
    target: str,
    task: str = "classification",
    suffix: str = "_bin",
    max_features: int | None = None,
) -> tuple[list[BinSpec], float]:
    """Exhaustive feature-subset search — the reference's optimality
    baseline for greedy_select (src/optimizer.py:233-247, exercised by
    experiments/microbenchmarks/feature_selection/brute_force_fs.py:148-180).

    Evaluates every non-empty subset (up to `max_features`) by joint IV —
    under KEY_TABLE_CAP one job plus 2^n - 1 driver roll-ups — and returns
    (best subset ordered by bin count, its IV)."""
    from itertools import combinations

    sizes = range(1, (max_features or len(specs)) + 1)
    with _subset_iv(encoded, specs, target, task, suffix) as iv:
        scored = [(iv(c), c) for k in sizes for c in combinations(range(len(specs)), k)]
    best_iv, best = max(scored, key=lambda t: t[0])  # first maximum wins ties
    return sorted((specs[i] for i in best), key=lambda s: s.n_bins), best_iv
