"""Optimal supervised binning — the optbinning-grade path (SURVEY.md §7.2).

The reference fits `optbinning.OptimalBinning` / `ContinuousOptimalBinning`
/ `MulticlassOptimalBinning` per feature (/root/reference/src/encoder.py:
35-97): pre-binning, then an optimal merge under a monotonic-trend
constraint (classification maximizes IV, regression minimizes within-bin
variance).  `binning.fit_supervised_bins` is a greedy adjacent-merge
stand-in; this module closes the quality gap with an EXACT segmentation
over the same distributed front:

- *fit* stays fully distributed and takes every column at once, as
  `fit_supervised_bins` does: one exact multi-column percentile pass for
  the quantile pre-bins, then ONE groupBy over a `stack` of every column's
  pre-bin id producing <= pre_bins rows per column of sufficient
  statistics (n, sum_y, sum_y2, n_pos; per class for multiclass) — table
  size never touches the driver, and the job count does not grow with the
  column count;
- the driver then solves the optimal contiguous-partition problem exactly
  by dynamic programming over those aggregates: O(P^2 * K) states/
  transitions with interval costs from prefix sums (P = pre_bins <= 64,
  K = max_bins <= 16 — microseconds);
- objective: regression = minimal total within-bin SSE (what
  ContinuousOptimalBinning's variance criterion targets); classification =
  maximal Information Value (OptimalBinning's default); multiclass =
  maximal Σ one-vs-rest IV;
- constraints mirrored from optbinning: minimum bin support
  (`min_frac`), and a monotonic bin-mean / event-rate trend with
  'auto' direction (optbinning's monotonic_trend='auto_heuristic'); one
  relaxation ladder (`_solve`) serves numeric, multiclass and categorical
  fits.

Exactness: for the chosen K and the given pre-bins, no partition has
lower SSE / higher IV (property-tested against brute-force enumeration in
tests/test_binning_quality.py).  tests also measure end-model quality
(index RMSLE / accuracy) greedy vs optimal on the creditcard-like and
pm25-like fixtures; figures recorded in BINNING_QUALITY.md.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators.binning import (
    BinSpec,
    _prebin_stats,
    _quantile_bins,
    _sql_double,
    _sql_ident,
)


@dataclass
class _PrebinStats:
    """Sufficient statistics per observed pre-bin, ordered by bin id."""

    ids: list[int]
    n: list[int]
    sum_y: list[float]
    sum_y2: list[float]
    n_pos: list[int]


def _auto_trend(stats: _PrebinStats, task: str) -> int:
    """+1 ascending, -1 descending: support-weighted slope sign of the
    prebin means (auto_heuristic analog)."""
    means = []
    for i in range(len(stats.ids)):
        if task == "classification":
            means.append(stats.n_pos[i] / stats.n[i] if stats.n[i] else 0.0)
        else:
            means.append(stats.sum_y[i] / stats.n[i] if stats.n[i] else 0.0)
    w = stats.n
    tot = sum(w) or 1
    xbar = sum(i * w[i] for i in range(len(w))) / tot
    ybar = sum(means[i] * w[i] for i in range(len(w))) / tot
    slope = sum(w[i] * (i - xbar) * (means[i] - ybar) for i in range(len(w)))
    return 1 if slope >= 0 else -1


def _segment_cost_sse(stats: _PrebinStats):
    """cost(i, j) = within-segment SSE of prebins i..j via prefix sums."""
    import itertools

    P = len(stats.ids)
    cn = [0] + list(itertools.accumulate(stats.n))
    cy = [0.0] + list(itertools.accumulate(stats.sum_y))
    cy2 = [0.0] + list(itertools.accumulate(stats.sum_y2))

    def cost(i: int, j: int) -> float:
        n = cn[j + 1] - cn[i]
        if n == 0:
            return 0.0
        sy = cy[j + 1] - cy[i]
        sy2 = cy2[j + 1] - cy2[i]
        return max(0.0, sy2 - sy * sy / n)

    def mean(i: int, j: int) -> float:
        n = cn[j + 1] - cn[i]
        return (cy[j + 1] - cy[i]) / n if n else 0.0

    def support(i: int, j: int) -> int:
        return cn[j + 1] - cn[i]

    return P, cost, mean, support


def _segment_gain_iv(stats: _PrebinStats):
    """gain(i, j) = IV contribution of a bin spanning prebins i..j.

    IV_bin = (p - q) * ln(p/q), p = pos share, q = neg share, with 0.5
    Laplace smoothing on empty cells (optbinning's convention)."""
    import itertools

    P = len(stats.ids)
    cn = [0] + list(itertools.accumulate(stats.n))
    cp = [0] + list(itertools.accumulate(stats.n_pos))
    tot_pos = cp[-1]
    tot_neg = cn[-1] - tot_pos

    def gain(i: int, j: int) -> float:
        n = cn[j + 1] - cn[i]
        pos = cp[j + 1] - cp[i]
        neg = n - pos
        p = (pos if pos > 0 else 0.5) / max(tot_pos, 1)
        q = (neg if neg > 0 else 0.5) / max(tot_neg, 1)
        return (p - q) * math.log(p / q)

    def mean(i: int, j: int) -> float:
        n = cn[j + 1] - cn[i]
        return (cp[j + 1] - cp[i]) / n if n else 0.0

    def support(i: int, j: int) -> int:
        return cn[j + 1] - cn[i]

    return P, gain, mean, support


def _solve_partition(
    P: int,
    k: int,
    value,
    mean,
    support,
    minimize: bool,
    min_support: int,
    trend: int | None,
) -> tuple[float, list[int]] | None:
    """Exact DP over contiguous partitions of prebins 0..P-1 into <= k
    segments.  State dp[j][i] = best objective for prebins 0..j with the
    LAST segment being i..j (the segment identity is the state, so the
    monotonic-mean constraint between consecutive segments is checkable
    exactly).  Returns (objective, segment-end indices) or None if no
    partition satisfies the constraints.
    """
    sign = 1.0 if minimize else -1.0

    def _phase_step(tr, phase: int, pm: float, m: float) -> int | None:
        """Next phase given previous/current segment means, or None if the
        transition violates the trend.  Monotone trends are single-phase;
        'peak' = non-decreasing then non-increasing, 'valley' = mirror
        (optbinning auto_heuristic's unimodal shapes)."""
        if tr is None:
            return 0
        if tr == 1:
            return 0 if m >= pm else None
        if tr == -1:
            return 0 if m <= pm else None
        if tr == "peak":
            if phase == 0:
                return 0 if m >= pm else 1
            return 1 if m <= pm else None
        if tr == "valley":
            if phase == 0:
                return 0 if m <= pm else 1
            return 1 if m >= pm else None
        raise ValueError(tr)

    # dp[j] maps state (last_start, n_segments, phase) -> (cost, parent);
    # segment count is part of the state so a cheaper-but-longer partition
    # can never shadow a feasible shorter one under the <=k cap; phase
    # tracks which leg of a unimodal trend the partition is on
    dp: list[dict[tuple[int, int, int], tuple[float, tuple[int, int, int] | None]]] = [
        dict() for _ in range(P)
    ]
    for j in range(P):
        for i in range(j + 1):
            if support(i, j) < min_support:
                continue
            v = sign * value(i, j)
            if i == 0:
                st = (0, 1, 0)
                if st not in dp[j] or v < dp[j][st][0]:
                    dp[j][st] = (v, None)
                continue
            m = mean(i, j)
            for (pstart, pk, pph), (pc, _pp) in dp[i - 1].items():
                if pk + 1 > k:
                    continue
                ph = _phase_step(trend, pph, mean(pstart, i - 1), m)
                if ph is None:
                    continue
                st = (i, pk + 1, ph)
                cand = pc + v
                if st not in dp[j] or cand < dp[j][st][0]:
                    dp[j][st] = (cand, (pstart, pk, pph))
    if not dp[P - 1]:
        return None
    # best terminal state over any segment count <= k / either phase
    st, (c, _parent) = min(dp[P - 1].items(), key=lambda kv: kv[1][0])
    # backtrack segment boundaries
    ends = []
    j = P - 1
    while True:
        ends.append(j)
        cost_entry = dp[j][st]
        if cost_entry[1] is None:
            break
        j, st = st[0] - 1, cost_entry[1]
    ends.reverse()
    return sign * c, ends


def _solve(stats, task: str, k: int, min_frac: float, trends: list) -> list[int]:
    """Segment ends of the task's best partition of `stats` at the first
    feasible rung: the candidate `trends` under the min_frac support floor,
    then no trend under it, then neither (a single segment is always
    feasible).  optbinning relaxes before it fails, and a trend
    infeasibility must not silently void min_frac."""
    if task == "multiclass":
        (P, value, mean, support), minimize = _segment_gain_iv_multiclass(stats), False
    elif task == "classification":
        (P, value, mean, support), minimize = _segment_gain_iv(stats), False
    else:
        (P, value, mean, support), minimize = _segment_cost_sse(stats), True
    min_support = max(1, int(math.ceil(min_frac * sum(stats.n))))
    for rung in ([(t, min_support) for t in trends], [(None, min_support)], [(None, 1)]):
        sols = [
            s
            for t, ms in rung
            if (s := _solve_partition(P, k, value, mean, support, minimize, ms, t)) is not None
        ]
        if sols:
            return (min if minimize else max)(sols, key=lambda s: s[0])[1]
    raise AssertionError("a single segment is always feasible")


def _iqr_bounds(df: DataFrame, columns: list[str], k: float = 1.5) -> list[tuple[float, float] | None]:
    """[Q1 - k*IQR, Q3 + k*IQR] of every column from one select of exact
    interpolated percentiles (the (n-1)*p rule of DuckDB's quantile_cont,
    so the bounds are engine-portable); None for an all-NULL column."""
    quartiles = F.array(F.lit(0.25), F.lit(0.75))
    row = df.select(*(F.percentile(F.col(c).cast("double"), quartiles) for c in columns)).first()
    return [None if q is None else (q[0] - k * (q[1] - q[0]), q[1] + k * (q[1] - q[0])) for q in row]


def iqr_range_filter(
    df: DataFrame, column: str, k: float = 1.5
) -> DataFrame:
    """optbinning's `outlier_detector='range'` pre-filter as a relation:
    drop rows outside [Q1 - k*IQR, Q3 + k*IQR] (interquartile-range
    method) with a pushed-down predicate on the scan.  Every reference
    optbinning call passes it (/root/reference/src/encoder.py:38-44)."""
    ((lo, hi),) = _iqr_bounds(df, [column], k)
    return df.where(F.col(column).between(lo, hi))


def categorical_stats_relation(
    df: DataFrame, column: str, target: str, cat_cutoff: float = 0.05
) -> DataFrame:
    """The distributed half of fit_optimal_categorical_bins as a relation:
    per-category support + event count + the cat_cutoff rare flag
    (optbinning's 'others' pooling rule, reference src/encoder.py:58-97).
    One groupBy + a broadcast 1-row total — no second full shuffle."""
    s = df.groupBy(F.col(column).cast("string").alias("v")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col(target).cast("double") > 0, 1).otherwise(0)
        ).alias("n_pos"),
    )
    total = s.agg(F.sum("n").alias("total"))
    return s.crossJoin(F.broadcast(total)).select(
        "v",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.when(
            F.col("n").cast("double") / F.col("total").cast("double")
            < F.lit(float(cat_cutoff)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rare"),
    )


class _MulticlassStats:
    """Per-prebin per-class counts, ordered by bin id."""

    def __init__(self, ids: list[int], n: list[int], cls: list[dict], classes: list):
        self.ids, self.n, self.cls, self.classes = ids, n, cls, classes


def _numeric_stats(df: DataFrame, prebins: dict[int, str], target: str, task: str) -> dict:
    """Every column's pre-bin statistics from ONE groupBy over a `stack` of
    the `prebins` id expressions (`binning._prebin_stats`): <= pre_bins
    rows per column (x n_classes for multiclass) reach the driver, which
    sorts them.  A NULL pre-bin id (a masked row) drops out.  Multiclass: a
    NULL target counts in its bin's n and is never a class (the policy of
    `iv._iv_multiclass`)."""
    if task == "multiclass":
        y, aggs = F.col(target).cast("string"), [F.count("*").alias("n")]
    else:  # a NULL target counts in n and adds 0 to the sums
        y = F.coalesce(F.col(target).cast("double"), F.lit(0.0))
        aggs = [
            F.count("*").alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("sy2"),
            F.sum(F.when(F.col("y") > 0, 1).otherwise(0)).alias("np"),
        ]
    rows: dict[int, list] = {f: [] for f in prebins}
    for r in _prebin_stats(df, prebins, y, aggs, by_class=task == "multiclass").collect():
        if r.b is not None:
            rows[r.f].append(r)
    if task != "multiclass":  # (b, n, sy, sy2, np) rows sorted by b
        return {f: _PrebinStats(*map(list, zip(*(r[1:] for r in sorted(rs))))) for f, rs in rows.items()}
    out = {}
    for f, rs in rows.items():
        by_bin: dict[int, dict] = {}
        for r in rs:
            by_bin.setdefault(r.b, {})[r.y] = r.n
        ids = sorted(by_bin)
        cls = [by_bin[b] for b in ids]
        out[f] = _MulticlassStats(ids, [sum(c.values()) for c in cls], cls, sorted({r.y for r in rs} - {None}))
    return out


def _segment_gain_iv_multiclass(stats: _MulticlassStats):
    """gain(i, j) = Σ_c one-vs-rest IV contribution of a bin spanning
    prebins i..j — the event-rate decomposition MulticlassOptimalBinning
    optimizes (reference fit: /root/reference/src/encoder.py:49-55).  Same
    0.5 Laplace smoothing as the binary objective."""
    import itertools

    P = len(stats.ids)
    cn = [0] + list(itertools.accumulate(stats.n))
    cum_c = {c: [0] for c in stats.classes}
    for i in range(P):
        for c in stats.classes:
            cum_c[c].append(cum_c[c][-1] + stats.cls[i].get(c, 0))
    tot = cn[-1]
    tot_c = {c: cum_c[c][-1] for c in stats.classes}

    def gain(i: int, j: int) -> float:
        n = cn[j + 1] - cn[i]
        v = 0.0
        for c in stats.classes:
            pos = cum_c[c][j + 1] - cum_c[c][i]
            neg = n - pos
            tp, tn_ = tot_c[c], tot - tot_c[c]
            p = (pos if pos > 0 else 0.5) / max(tp, 1)
            q = (neg if neg > 0 else 0.5) / max(tn_, 1)
            v += (p - q) * math.log(p / q)
        return v

    def mean(i: int, j: int) -> float:
        # majority-class share drives the (optional) trend constraint
        n = cn[j + 1] - cn[i]
        if not n:
            return 0.0
        c0 = stats.classes[0]
        return (cum_c[c0][j + 1] - cum_c[c0][i]) / n

    def support(i: int, j: int) -> int:
        return cn[j + 1] - cn[i]

    return P, gain, mean, support


def fit_optimal_bins(
    df: DataFrame,
    columns: list[str],
    target: str,
    task: str = "regression",
    max_bins: int = 8,
    pre_bins: int = 64,
    min_frac: float = 0.01,
    monotonic: str | int | None = "auto",
    outlier_detector: str | None = None,
) -> list[BinSpec]:
    """Fit optbinning-semantics optimal bins of every column, fully scalable:
    one quantile pass and one stats job whatever the column count (one
    more percentile select with `outlier_detector='range'`).

    task='regression' minimizes within-bin SSE (ContinuousOptimalBinning);
    task='classification' maximizes IV (OptimalBinning);
    task='multiclass' maximizes Σ one-vs-rest IV (MulticlassOptimalBinning,
    reference /root/reference/src/encoder.py:49-55 — there the trend
    constraint is per-class, here it is unconstrained by default:
    documented divergence, the split *objective* matches).  monotonic:
    'auto' picks the trend heuristically, +1/-1 force it, None drops the
    constraint.  outlier_detector='range' fits each column only on its
    rows inside the IQR range (src/encoder.py:38-44): the column is masked
    with `CASE WHEN c BETWEEN lo AND hi` in both passes, so a NULL or
    outlying value leaves that column's fit only.  Without it a NULL
    feature counts in pre-bin 0, its null bin.  Falls back to the
    unconstrained optimum if the trend is infeasible under the support
    constraint (again matching optbinning, which relaxes before failing).
    """
    masks = [None] * len(columns)
    if outlier_detector == "range":
        masks = [
            b and f"{_sql_ident(c)} BETWEEN {_sql_double(b[0])} AND {_sql_double(b[1])}"
            for c, b in zip(columns, _iqr_bounds(df, columns))
        ]

    def masked(i: int, expr: str) -> str:
        return f"CASE WHEN {masks[i]} THEN {expr} END" if masks[i] else expr

    quantile_df = df
    if any(masks):
        quantile_df = df.select(*(F.expr(masked(i, _sql_ident(c))).alias(c) for i, c in enumerate(columns)))
    pres = _quantile_bins(quantile_df, columns, pre_bins)
    # columns whose pre-bins have no split stay as they are, out of the stack
    prebins = {i: masked(i, p.expr_sql()) for i, p in enumerate(pres) if p.splits}
    stats = _numeric_stats(df, prebins, target, task) if prebins else {}
    return [
        _optimal_split(p, stats[i], task, max_bins, min_frac, monotonic) if i in stats else p
        for i, p in enumerate(pres)
    ]


def _optimal_split(
    pre: BinSpec, stats, task: str, max_bins: int, min_frac: float, monotonic: str | int | None
) -> BinSpec:
    """Solve one column over its observed pre-bins."""
    if len(stats.ids) <= 1 or task == "multiclass" and not stats.classes:
        return BinSpec(column=pre.column, kind="numeric", splits=[])
    if task == "multiclass":
        # 'auto' = no trend (per-class monotonicity is not a single-sequence
        # constraint); forced +1/-1 constrains the share of classes[0]
        # (lexicographically first — document your class labels accordingly)
        trends: list = [None] if monotonic in ("auto", None) else [int(monotonic)]
    elif monotonic == "auto":
        # auto_heuristic: best feasible unimodal shape by objective.  Peak
        # subsumes ascending (empty falling leg) and valley subsumes
        # descending, so {peak, valley} covers all four monotone shapes.
        trends = ["peak", "valley"]
    else:
        trends = [int(monotonic)] if monotonic in (1, -1) else [None]
    ends = _solve(stats, task, max_bins, min_frac, trends)
    # segment end t (observed-prebin position) -> boundary after prebin id
    # stats.ids[t]; pre.splits index == that prebin id (bin i upper edge is
    # splits[i]) — identical mapping to fit_supervised_bins
    splits = [pre.splits[stats.ids[t]] for t in ends[:-1] if stats.ids[t] < len(pre.splits)]
    return BinSpec(column=pre.column, kind="numeric", splits=sorted(set(splits)))


def fit_optimal_categorical_bins(
    df: DataFrame,
    column: str,
    target: str,
    task: str = "classification",
    max_bins: int = 8,
    min_frac: float = 0.01,
    cat_cutoff: float = 0.05,
) -> BinSpec:
    """Optimal CATEGORICAL binning — optbinning's dtype='categorical'
    strategy (reference fit /root/reference/src/encoder.py:58-97 with
    cat_cutoff=0.05): categories with support share < cat_cutoff pool into
    one 'others' pseudo-category; the rest are ORDERED BY target mean and
    the numeric DP runs over that ordering (optimal contiguous grouping is
    optimal over any mean-ordered sequence for these objectives).

    Distributed part: ONE groupBy(category) -> (n, sum_y, sum_y2, n_pos);
    the driver sees <= |distinct| rows — for high-cardinality columns
    pre-aggregate or cap with approx_count_distinct upstream.  Returns a
    BinSpec(kind='categorical') whose group lists hold the raw category
    values (unseen values at transform -> extra bin, matching
    src/encoder.py:123-126).
    """
    # NULL policy: NULL categories and NULL targets are excluded from the
    # FIT (transform still routes NULL categories via BinSpec.null_bin) —
    # without the guard a NULL in the rare pool breaks the sort and an
    # all-NULL-target category yields sy=None
    rows = (
        df.where(F.col(column).isNotNull() & F.col(target).isNotNull())
        .groupBy(F.col(column).cast("string").alias("v"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(target).cast("double")).alias("sy"),
            F.sum(F.col(target).cast("double") * F.col(target).cast("double")).alias("sy2"),
            F.sum(
                F.when(F.col(target).cast("double") > 0, 1).otherwise(0)
            ).alias("np"),
        )
        .collect()
    )
    rows.sort(key=lambda r: r.v)
    if len(rows) <= 1:
        return BinSpec(
            column=column, kind="categorical", groups=[[r.v for r in rows]] if rows else []
        )
    total = sum(r.n for r in rows)
    frequent = [r for r in rows if r.n / total >= cat_cutoff]
    rare = [r for r in rows if r.n / total < cat_cutoff]
    cats: list[tuple[list[str], int, float, float, int]] = [
        ([r.v], int(r.n), float(r.sy), float(r.sy2), int(r.np)) for r in frequent
    ]
    if rare:
        cats.append((
            sorted(r.v for r in rare),
            sum(int(r.n) for r in rare),
            sum(float(r.sy) for r in rare),
            sum(float(r.sy2) for r in rare),
            sum(int(r.np) for r in rare),
        ))
    # order by target mean (event rate for classification), ties by first
    # member value for determinism
    def _mean(c):
        if task == "classification":
            return c[4] / c[1] if c[1] else 0.0
        return c[2] / c[1] if c[1] else 0.0

    cats.sort(key=lambda c: (_mean(c), c[0][0]))
    stats = _PrebinStats(
        ids=list(range(len(cats))),
        n=[c[1] for c in cats],
        sum_y=[c[2] for c in cats],
        sum_y2=[c[3] for c in cats],
        n_pos=[c[4] for c in cats],
    )
    # mean-ordered sequence => the trend is ascending by construction;
    # no extra constraint needed
    ends = _solve(stats, "classification" if task == "classification" else "regression", max_bins, min_frac, [None])
    groups: list[list[str]] = []
    start = 0
    for e in ends:
        members: list[str] = []
        for c in cats[start : e + 1]:
            members.extend(c[0])
        groups.append(members)
        start = e + 1
    return BinSpec(column=column, kind="categorical", groups=groups)
