"""Feature discretization (the reference's Encoder, src/encoder.py:22-153).

The reference fits target-aware optimal bins per column (optbinning) on the
driver, then discretizes rows with generated CASE-WHEN SQL or a plpgsql
binary search (sql_scripts/binary_search_numeric.sql).  Spark-first design:

- *fit* runs as Spark aggregations (all columns' quantile pre-bins from ONE
  exact multi-column percentile pass, every column's per-prebin target
  stats from ONE groupBy over a `stack` of the pre-bin ids) — only tiny
  aggregate results reach the driver, so fitting scales to arbitrarily
  large tables.
- *apply* is one SQL expression per column, `BinSpec.expr_sql()`: the
  reference's `CASE WHEN c <= s_i THEN i` chain over the sorted splits for
  numeric specs, `IN` lists for categorical ones (half-open intervals,
  unseen categorical values -> extra bin, matching src/encoder.py:113-126).
  `BinSpec.expr()` parses that text, so binning, index build and index
  scoring share the one definition.

A BinSpec is a plain, serializable description, and `expr_sql()` is the
reference's fitted splits burnt into SQL literals (src/transpiler.py:
1122-1166).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class BinSpec:
    """Discretization of one feature.

    Numeric: `splits` are interior thresholds s_0<...<s_{k-2}; value x maps
    to bin i where i = #{s_j : x > s_j} (so x <= s_0 -> 0, x > s_{k-2} ->
    k-1), mirroring the reference's CASE chain (src/transpiler.py:1122-1147).
    NULLs map to `null_bin` (defaults to 0 — the reference imputes before
    encoding; we keep a defined behavior regardless).

    Categorical: `groups` is a list of value-lists; membership in group i ->
    bin i, unseen values -> len(groups) (src/encoder.py:123-126).
    """

    column: str
    kind: str = "numeric"  # "numeric" | "categorical"
    splits: list[float] = field(default_factory=list)
    groups: list[list[str]] = field(default_factory=list)
    null_bin: int = 0

    @property
    def n_bins(self) -> int:
        return len(self.splits) + 1 if self.kind == "numeric" else len(self.groups) + 1

    @property
    def domain(self) -> int:
        """Number of bin ids the spec can produce, its null bin included."""
        return max(self.n_bins, self.null_bin + 1)

    def expr_sql(self) -> str:
        """Bin-id expression as Spark SQL text (INT).

        Numeric: the first i with c <= s_i over the splits in Spark's order
        (NaN last), which is #{s : c > s}.  A chain, not a sum of
        `CAST(c > s AS INT)` terms: at 64 pre-bins the sum's generated code
        outgrows the JIT's method limit and runs ~20x slower."""
        c = _sql_ident(self.column)
        if self.kind == "numeric":
            ordered = sorted(self.splits, key=lambda s: (math.isnan(s), s))
            whens = "".join(f" WHEN {c} <= {_sql_double(s)} THEN {i}" for i, s in enumerate(ordered))
            return f"CASE WHEN {c} IS NULL THEN {self.null_bin}{whens} ELSE {len(ordered)} END"
        whens = "".join(
            f" WHEN CAST({c} AS STRING) IN ({', '.join(map(_sql_string, g))}) THEN {i}"
            for i, g in enumerate(self.groups)
        )  # first matching group wins; unseen -> extra bin
        return f"CASE WHEN {c} IS NULL THEN {self.null_bin}{whens} ELSE {len(self.groups)} END"

    def expr(self) -> Column:
        """Bin-id expression (IntegerType)."""
        return F.expr(self.expr_sql())


def _sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(x: float) -> str:
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _sql_string(v: str | None) -> str:
    """Spark SQL string literal; quotes and backslashes are backslash-escaped."""
    if v is None:
        return "NULL"
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _quantile_bins(
    df: DataFrame, columns: list[str], n_bins: int, relative_error: float = 0.0
) -> list[BinSpec]:
    """Equi-depth bins of each column from one multi-column approxQuantile
    pass; relative_error=0 is exact (distributed exact percentile — a single
    pass + small state).  NULLs are ignored per column."""
    probs = [i / n_bins for i in range(1, n_bins)]
    qs = df.approxQuantile(columns, probs, relative_error)
    return [BinSpec(column=c, splits=sorted(set(q))) for c, q in zip(columns, qs)]


def fit_quantile_bins(
    df: DataFrame, column: str, n_bins: int, relative_error: float = 0.0
) -> BinSpec:
    """Equi-depth bins of one column."""
    return _quantile_bins(df, [column], n_bins, relative_error)[0]


def fit_supervised_bins(
    df: DataFrame,
    columns: list[str],
    target: str,
    max_bins: int = 8,
    pre_bins: int = 64,
    min_frac: float = 0.01,
) -> list[BinSpec]:
    """Target-aware binning — the optbinning stand-in (SURVEY.md §7 item 2).

    1. quantile pre-bin every column into `pre_bins` buckets (one exact
       multi-column percentile pass);
    2. one groupBy(column, prebin) -> (count, mean(target)) over a `stack`
       of every column's pre-bin id — one job, a tiny result to the
       driver; NULL feature values count in the null_bin;
    3. greedily merge the adjacent pair with the most similar target mean
       (count-weighted) until `max_bins` remain; pairs below `min_frac`
       support merge first.

    Only step 3 runs on the driver, over <= pre_bins rows of aggregates per
    column, so the fit is insensitive to table size.
    """
    pres = _quantile_bins(df, columns, pre_bins)
    # columns whose pre-bins have no split stay as they are, out of the stack
    stats: dict[int, list] = {i: [] for i, p in enumerate(pres) if p.splits}
    if stats:
        y = F.col(target).cast("double")
        aggs = [F.count("*").alias("n"), F.avg("y").alias("m")]
        for r in _prebin_stats(df, {i: pres[i].expr_sql() for i in stats}, y, aggs).collect():
            stats[r.f].append([r.b, r.n, r.m])
    return [_merge_prebins(p, stats[i], max_bins, min_frac) if i in stats else p for i, p in enumerate(pres)]


def _prebin_stats(
    df: DataFrame, prebins: dict[int, str], y: Column, aggs: list[Column], by_class: bool = False
) -> DataFrame:
    """`aggs` per (f, b[, y]) over one `stack` of every column's pre-bin id:
    f a key of `prebins`, b the value of its SQL expression, y the target
    `y` (a group key too when `by_class`).  One shuffle for all columns."""
    pairs = ", ".join(f"{f}, {e}" for f, e in prebins.items())
    keys = ["f", "b", "y"] if by_class else ["f", "b"]
    return (
        df.select(F.expr(f"stack({len(prebins)}, {pairs}) AS (f, b)"), y.alias("y"))
        .groupBy(*keys)
        .agg(*aggs)
    )


def _merge_prebins(pre: BinSpec, stats: list[list], max_bins: int, min_frac: float) -> BinSpec:
    """Merge one column's observed pre-bins, `[id, count, mean]` rows."""
    # contiguous runs over observed pre-bins, sorted by id; edges between
    # run i and i+1 correspond to pre.splits boundary indices
    bins = sorted(stats)
    total = sum(b[1] for b in bins)

    def merge_cost(i: int) -> float:
        (_, n1, m1), (_, n2, m2) = bins[i], bins[i + 1]
        if min(n1, n2) < min_frac * total:  # under-supported pairs merge first
            return 0.0
        return abs(m1 - m2)

    while len(bins) > max_bins:
        i = min(range(len(bins) - 1), key=merge_cost)
        b1, b2 = bins[i], bins[i + 1]
        n, m = b1[1] + b2[1], (b1[1] * b1[2] + b2[1] * b2[2]) / (b1[1] + b2[1])
        bins[i] = [b2[0], n, m]  # keep upper pre-bin id as the boundary owner
        del bins[i + 1]
    # boundary between kept bin groups = pre-split at index (first prebin of
    # next group) - 1
    kept_upper = [b[0] for b in bins[:-1]]
    splits = [pre.splits[u] for u in kept_upper if u < len(pre.splits)]
    return BinSpec(column=pre.column, kind="numeric", splits=sorted(set(splits)))


def fit_categorical_bins(
    df: DataFrame, column: str, target: str, max_groups: int = 8
) -> BinSpec:
    """Group categories by target mean (one groupBy; driver merges).

    Categories sorted by mean(target) are sliced into `max_groups` contiguous
    groups of near-equal support — the categorical analog of optimal binning
    (reference: optbinning categorical mode, src/encoder.py:35-97).
    """
    stats = (
        df.groupBy(F.col(column).cast("string").alias("v"))
        .agg(F.count("*").alias("n"), F.avg(F.col(target).cast("double")).alias("m"))
        .collect()
    )
    # Spark's ascending order for (m, v), sorted here rather than by an
    # orderBy job: NULL first, NaN last, strings by code point (UTF-8 order)
    stats.sort(key=lambda r: (
        (0,) if r.m is None else (2,) if math.isnan(r.m) else (1, r.m),
        (0,) if r.v is None else (1, r.v),
    ))
    total = sum(r.n for r in stats) or 1
    groups: list[list[str]] = [[]]
    acc = 0
    per = total / max_groups
    for r in stats:
        if acc >= per * len(groups) and len(groups) < max_groups:
            groups.append([])
        groups[-1].append(r.v)
        acc += r.n
    return BinSpec(column=column, kind="categorical", groups=[g for g in groups if g])


def apply_bins(df: DataFrame, specs: list[BinSpec], suffix: str = "_bin") -> DataFrame:
    """Add one int bin-id column per spec — a single projection, no shuffle."""
    return df.withColumns({s.column + suffix: s.expr() for s in specs})


def key_expr(specs: list[BinSpec], suffix: str = "_bin") -> Column:
    """Dot-separated compound key, the reference's index key format
    (src/transpiler.py:940-950): '0.3.11'."""
    return F.concat_ws(".", *[F.col(s.column + suffix).cast("string") for s in specs])
