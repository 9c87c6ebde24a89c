#!/usr/bin/env python3
"""Binning-quality benchmark: greedy merge vs exact-DP optimal binning.

Closes SURVEY.md §7.2 / round-1 VERDICT item 4: the reference fits
optbinning optimal bins (/root/reference/src/encoder.py:35-97); round 1's
`fit_supervised_bins` is a greedy adjacent-merge stand-in.  This tool
measures what that approximation costs END TO END on the two fixtures the
verdict named (creditcard-like binary classification, pm25-like
regression): same pre-bins, same feature set, same index build + scoring —
only the split placement differs.  Writes BINNING_QUALITY.md.

optbinning itself is not installable in this container (no pip), so the
exact-DP solver (operators/optimal_binning.py) IS the optbinning-semantics
implementation: identical objective family (IV max / within-bin SSE min),
identical constraints (min support, monotonic trend).  Its optimality is
property-tested against brute-force partition enumeration in
tests/test_binning_quality.py, which is a stronger guarantee than matching
one library's heuristic output.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def make_creditcard_like(spark: SparkSession, n: int = 20000) -> DataFrame:
    """FIXTURES.md §1: all-numeric, imbalanced binary target, heavy tails,
    deliberately NON-monotonic response on f2/f3 (where greedy merging by
    adjacent-mean similarity loses the most)."""
    rng = np.random.RandomState(42)
    f0 = rng.standard_normal(n)                      # monotone ascending effect
    f1 = rng.standard_exponential(n)                 # heavy tail, descending
    f2 = rng.uniform(-3, 3, n)                       # U-shaped effect
    f3 = rng.standard_normal(n) * 2                  # band effect
    f4 = rng.standard_normal(n)                      # noise
    f5 = rng.lognormal(0, 1, n)                      # heavy tail, weak
    logit = (
        -3.2 + 1.1 * f0 - 0.9 * np.log1p(f1) + 0.8 * (f2**2 - 3)
        + 1.2 * ((np.abs(f3) < 1).astype(float)) + 0.05 * f5
    )
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-logit))).astype(int)
    import pandas as pd

    pdf = pd.DataFrame(
        {"row_id": np.arange(n), "f0": f0, "f1": f1, "f2": f2, "f3": f3,
         "f4": f4, "f5": f5, "target": y}
    )
    return spark.createDataFrame(pdf)


def make_pm25_like(spark: SparkSession, n: int = 12000) -> DataFrame:
    """FIXTURES.md §5: positive continuous target, lagged features, some
    non-monotone (hour-of-day shaped) drivers."""
    rng = np.random.RandomState(42)
    prev = rng.gamma(4.0, 12.0, n)                           # previous_value
    roll = prev * rng.uniform(0.8, 1.2, n)                   # rolling_2
    wk = rng.randint(1, 53, n).astype(float)                 # weekofyear
    lat = rng.uniform(30, 45, n)
    trend = rng.standard_normal(n)
    seasonal = 18 * np.cos((wk - 3) * 2 * np.pi / 52) ** 2   # winter peak, U-shape
    target = (
        8 + 0.55 * prev + 0.25 * roll + seasonal
        + 2.0 * (lat - 37) ** 2 / 10 + 6 * trend + rng.standard_normal(n) * 4
    )
    target = np.maximum(target, 0.5)
    import pandas as pd

    pdf = pd.DataFrame(
        {"row_id": np.arange(n), "previous_value": prev, "rolling_2": roll,
         "weekofyear": wk, "latitude": lat, "trend": trend, "target": target}
    )
    return spark.createDataFrame(pdf)


def compare_binning(
    df: DataFrame,
    features: list[str],
    task: str,
    max_bins: int = 6,
    pre_bins: int = 48,
) -> dict:
    """Fit greedy vs optimal bins on train, build the kv index with each,
    score test, return end metrics + in-sample objective values."""
    from inferdb_spark.operators.binning import _quantile_bins, fit_supervised_bins
    from inferdb_spark.operators.index import build_index
    from inferdb_spark.operators.metrics import rmsle
    from inferdb_spark.operators.optimal_binning import (
        _numeric_stats,
        _segment_cost_sse,
        _segment_gain_iv,
        fit_optimal_bins,
    )
    from inferdb_spark.operators.scoring import index_score

    train = df.filter(F.col("row_id") % 5 != 0).cache()
    test = df.filter(F.col("row_id") % 5 == 0)
    objective_task = "classification" if task == "classification" else "regression"
    # the shared prebin space both fits start from: one quantile pass and
    # one stats job over every feature
    pres = _quantile_bins(train, features, pre_bins)
    stats = _numeric_stats(train, {i: p.expr_sql() for i, p in enumerate(pres)}, "target", objective_task)

    out: dict = {"task": task, "features": features}
    specs = {}
    for method in ("greedy", "optimal"):
        if method == "greedy":
            fitted = fit_supervised_bins(
                train, features, "target", max_bins=max_bins, pre_bins=pre_bins
            )
        else:
            fitted = fit_optimal_bins(
                train, features, "target", task=objective_task,
                max_bins=max_bins, pre_bins=pre_bins,
            )
        specs[method] = fitted
        index = build_index(train, fitted, "target", task=task)
        scored = index_score(test, index)
        if task == "regression":
            m = scored.select(
                F.col("prediction"), F.col("target").alias("label")
            )
            val = rmsle(m, "prediction", "label").first()["rmsle"]
            out[f"{method}_rmsle"] = float(val)
        else:
            acc = scored.select(
                (F.col("prediction") == F.col("target").cast("double"))
                .cast("double").alias("hit")
            ).agg(F.avg("hit")).first()[0]
            out[f"{method}_accuracy"] = float(acc)
        # in-sample objective on the SAME prebin partition space
        obj = 0.0
        for i, (pre, s) in enumerate(zip(pres, fitted)):
            if task == "classification":
                P, gain, _m, _s = _segment_gain_iv(stats[i])
            else:
                P, gain, _m, _s = _segment_cost_sse(stats[i])
            # map each observed prebin to its fitted bin, accumulate spans
            spans: dict[int, list[int]] = {}
            for pos, b in enumerate(stats[i].ids):
                fitted_bin = sum(1 for sp in s.splits if _prebin_upper(pre, b) > sp)
                spans.setdefault(fitted_bin, []).append(pos)
            for poss in spans.values():
                obj += gain(min(poss), max(poss))
        out[f"{method}_objective"] = float(obj)
    out["n_splits"] = {m: [len(s.splits) for s in specs[m]] for m in specs}
    train.unpersist()
    return out


def _prebin_upper(pre, b: int) -> float:
    """Representative value inside prebin b (above split b-1, <= split b)."""
    if b == 0:
        return pre.splits[0] - 1.0 if pre.splits else 0.0
    if b >= len(pre.splits):
        return pre.splits[-1] + 1.0
    return (pre.splits[b - 1] + pre.splits[b]) / 2.0


def _reading(metric: str, greedy: float, optimal: float, higher_better: bool, fmt: str) -> str:
    """One line saying which method the figure favors."""
    if greedy == optimal:
        return f"- {metric}: a tie ({greedy:{fmt}})"
    dp_wins = (optimal > greedy) == higher_better
    win, lose = (optimal, greedy) if dp_wins else (greedy, optimal)
    return f"- {metric} favors {'the DP' if dp_wins else 'greedy'} ({win:{fmt}} vs {lose:{fmt}})"


def main() -> None:
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from inferdb_spark.session import get_spark

    spark = get_spark()
    cc = compare_binning(
        make_creditcard_like(spark), ["f0", "f1", "f2", "f3"], "classification"
    )
    pm = compare_binning(
        make_pm25_like(spark),
        ["previous_value", "weekofyear", "latitude", "trend"],
        "regression",
    )
    lines = [
        "# BINNING_QUALITY — greedy merge vs exact-DP optimal bins",
        "",
        "Protocol: same quantile pre-bins (48), same features, same kv-index",
        "build and scoring; only split placement differs.",
        "`objective` is the in-sample criterion on the shared prebin space",
        "(classification: total IV, higher better; regression: total",
        "within-bin SSE, lower better) — the DP is provably optimal there",
        "(brute-force-checked in tests/test_binning_quality.py).",
        "",
        "## creditcard_like (binary, imbalanced, non-monotone drivers)",
        "",
        f"- greedy  : accuracy={cc['greedy_accuracy']:.4f}  IV={cc['greedy_objective']:.4f}",
        f"- optimal : accuracy={cc['optimal_accuracy']:.4f}  IV={cc['optimal_objective']:.4f}",
        f"- splits per feature: {cc['n_splits']}",
        "",
        "## pm25_like (regression, seasonal U-shape)",
        "",
        f"- greedy  : RMSLE={pm['greedy_rmsle']:.4f}  SSE={pm['greedy_objective']:.1f}",
        f"- optimal : RMSLE={pm['optimal_rmsle']:.4f}  SSE={pm['optimal_objective']:.1f}",
        f"- splits per feature: {pm['n_splits']}",
        "",
        "Reading: the DP solves the optbinning problem (objective under",
        "min-support + monotone/peak/valley trend constraints) EXACTLY —",
        "brute-force-verified; greedy is unconstrained, so its raw SSE can",
        "sit below the trend-constrained optimum while producing",
        "non-monotone bins an optbinning user would never see.  On these",
        "figures:",
        "",
        _reading("creditcard_like accuracy", cc["greedy_accuracy"], cc["optimal_accuracy"], True, ".4f"),
        _reading("creditcard_like IV", cc["greedy_objective"], cc["optimal_objective"], True, ".4f"),
        _reading("pm25_like RMSLE", pm["greedy_rmsle"], pm["optimal_rmsle"], False, ".4f"),
        _reading("pm25_like SSE", pm["greedy_objective"], pm["optimal_objective"], False, ".1f"),
        "",
        "A user porting a reference (optbinning) model should fit with",
        "`fit_optimal_bins` for split-semantics parity, whichever method",
        "the end metric favors on a given fixture.",
        "",
    ]
    with open(os.path.join(repo, "BINNING_QUALITY.md"), "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
