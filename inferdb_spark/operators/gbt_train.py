"""Native distributed gradient-boosted-tree TRAINING (XGBoost hist-style).

The reference trains boosted trees in-database via XGBoost-in-PG
(/root/reference/src/transpiler.py:2500-2753) and benchmarks
XGBoost/LightGBM models
(/root/reference/experiments/standalone/credit_card_new_pipeline.py:97-119).
Round-1 parity covered *scoring* (operators/trees.py burns fitted trees
into CASE WHEN projections) and MLlib GBT training (mllib_bridge.py) — an
analog learner, not the same algorithm.  This module closes the gap with a
from-scratch implementation of the histogram algorithm XGBoost/LightGBM
actually use (`tree_method=hist`), expressed Spark-first:

- **One pass per tree level, not per split.**  Each boosting round grows a
  tree level-wise; each level is ONE distributed aggregation
  `groupBy(node, feature, bin) -> (sum g, sum h, count)` with map-side
  partial aggregation.  The shuffle payload is bounded by
  `nodes x features x bins` per partition — independent of row count, so
  the same plan holds at 100 TB.
- **Driver handles only histograms.**  Split search (prefix sums + gain)
  runs on the collected histogram (a few KB); rows never leave executors.
  This is the correct driver/cluster split — identical in spirit to
  XGBoost's rabit allreduce of histograms.
- **Bit-deterministic.**  Per-row gradients/hessians are quantized to
  integer micro-units (BIGINT) *before* aggregation, so histogram sums are
  exact integers — independent of partition order, AQE, or task retries.
  Ties in split search break to (lowest feature index, lowest bin).  The
  numpy twin `fit_hist_gbt_numpy` implements the identical algorithm; the
  test suite asserts tree-for-tree equality (structure, thresholds, leaf
  values) between the Spark fit and the numpy fit.
- **Zero Python on executors.**  Binning, gradient, node routing, and
  margin updates are all Column expressions (whole-stage codegen); the
  only `.collect()` is the per-level histogram.
- **Bounded lineage.**  Each round appends projections to the margin/node
  columns; state is materialized via localCheckpoint every
  `checkpoint_every` rounds (same pattern as operators/graph.py).

The fitted model is returned in the *existing* Node-dict format of
operators/trees.py, so `gbt_expression` / `gbt_sql` score it on either
engine, and thresholds are chosen (`nextafter(edge, -inf)`) so the
real-valued tree routes every row exactly as the binned trainer did.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Node = dict[str, Any]

QUANT = 1_000_000  # micro-unit quantization for gradient/hessian sums


# ---------------------------------------------------------------------------
# binning


def quantile_edges(
    df: DataFrame, feature_cols: list[str], n_bins: int = 32
) -> dict[str, list[float]]:
    """Per-feature interior bin edges from exact percentiles (driver gets
    `features x (n_bins-1)` scalars).  For the 100 TB path substitute
    percentile_approx — split quality degrades gracefully, the algorithm
    is unchanged (XGBoost's own sketch is approximate too)."""
    qs = [i / n_bins for i in range(1, n_bins)]
    row = df.select(
        *[
            F.expr(
                f"percentile({c}, array({','.join(repr(q) for q in qs)}))"
            ).alias(c)
            for c in feature_cols
        ]
    ).collect()[0]
    out: dict[str, list[float]] = {}
    for c in feature_cols:
        vals = [float(v) for v in row[c]]
        # dedupe while preserving order: repeated percentiles collapse
        edges: list[float] = []
        for v in vals:
            if not edges or v > edges[-1]:
                edges.append(v)
        out[c] = edges
    return out


def _bin_expr(col: str, edges: list[float]) -> Column:
    """bin(x) = #{edge : x >= edge}; NULL and NaN -> bin 0 (route left,
    matching the NULL-left convention of operators/trees.py and the numpy
    twin's NaN mask — Spark SQL orders NaN above every value, so without
    the guard `x >= e` would route NaN to the TOP bin and break parity).
    A fold over a literal array stays in codegen for any edge count."""
    c = F.col(col).cast("double")
    arr = F.array(*[F.lit(float(e)) for e in edges])

    def _step(acc: Column, e: Column) -> Column:
        return acc + F.when(c >= e, F.lit(1)).otherwise(F.lit(0))

    return (
        F.when(c.isNull() | F.isnan(c), F.lit(0))
        .otherwise(F.aggregate(arr, F.lit(0), _step))
        .cast("int")
    )


# ---------------------------------------------------------------------------
# model dataclass


@dataclass
class HistGBTModel:
    trees: list[Node]
    base_score: float
    objective: str
    edges: dict[str, list[float]]
    learning_rate: float
    train_rounds: list[dict[str, float]] = field(default_factory=list)
    split_stats: list[tuple[str, float, float]] = field(default_factory=list)

    def expression(self) -> Column:
        from inferdb_spark.operators import trees as T

        link = "sigmoid" if self.objective == "logistic" else None
        return T.gbt_expression(
            self.trees, None, base=self.base_score, link=link
        )

    def importance(self, kind: str = "gain") -> dict[str, float]:
        """Per-feature importance from the executed splits: 'gain'
        (total loss reduction), 'cover' (total hessian mass routed), or
        'weight' (split count) — the XGBoost get_score() triple."""
        out: dict[str, float] = {}
        for feat, gain, cover in self.split_stats:
            v = {"gain": gain, "cover": cover, "weight": 1.0}[kind]
            out[feat] = out.get(feat, 0.0) + v
        return out

    def sql(self) -> str:
        from inferdb_spark.operators import trees as T

        link = "sigmoid" if self.objective == "logistic" else None
        return T.gbt_sql(self.trees, None, base=self.base_score, link=link)


# ---------------------------------------------------------------------------
# shared split search (drives BOTH the Spark fit and the numpy twin)


def _best_splits(
    hist: dict[tuple[int, int, int], tuple[int, int, int]],
    open_nodes: list[int],
    n_features: int,
    n_bins_per_feature: list[int],
    reg_lambda: float,
    gamma: float,
    min_child_weight: float,
) -> dict[int, tuple[int, int, float, float] | None]:
    """Exact greedy split per open node from integer histograms.

    hist maps (node, feature, bin) -> (sum_g_q, sum_h_q, count) in
    micro-units.  Returns node -> (feature_idx, split_bin, gain, cover)
    or None (leaf); cover is the node's hessian mass (XGBoost's cover).
    Pure integer/driver-float math — deterministic on any engine.
    """
    out: dict[int, tuple[int, int, float, float] | None] = {}
    lam_q = reg_lambda * QUANT
    for nid in open_nodes:
        # Node totals from ONE feature's bin slice: every node row lands in
        # exactly one bin of feature 0, so summing feature 0's bins counts
        # each row once.  (Summing over all features would overcount
        # n_features-fold — each row appears once per feature in hist —
        # distorting gr/hr, gamma pruning, min_child_weight on the right
        # child, and gain/cover importances.)
        tg = th = 0
        for b in range(n_bins_per_feature[0] + 1):
            g, h, _ = hist.get((nid, 0, b), (0, 0, 0))
            tg += g
            th += h
        parent = (tg * tg) / (th + lam_q) if (th + lam_q) > 0 else 0.0
        best: tuple[float, int, int] | None = None
        for f in range(n_features):
            gl = hl = 0
            # split_bin sb sends bin <= sb LEFT; last bin can't split
            for sb in range(n_bins_per_feature[f]):
                g, h, _ = hist.get((nid, f, sb), (0, 0, 0))
                gl += g
                hl += h
                gr, hr = tg - gl, th - hl
                if hl < min_child_weight * QUANT or hr < min_child_weight * QUANT:
                    continue
                gain = 0.5 * (
                    (gl * gl) / (hl + lam_q)
                    + (gr * gr) / (hr + lam_q)
                    - parent
                ) / QUANT - gamma
                # strict first-max: identical to SQL's
                # `ORDER BY gain DESC, f ASC, sb ASC LIMIT 1` over
                # candidates with gain > 1e-12 — keeps the split search
                # replayable as a relational query (fit_predict_hist_gbt_sql)
                if gain > 1e-12 and (best is None or gain > best[0]):
                    best = (gain, f, sb)
        out[nid] = (
            None
            if best is None
            else (best[1], best[2], best[0], th / QUANT)
        )
    return out


def _leaf_weight(gq: int, hq: int, reg_lambda: float, lr: float) -> float:
    return float(-gq / (hq + reg_lambda * QUANT) * lr)


def _quantize_expr(x: Column) -> Column:
    # floor(x*Q + 0.5): identical rounding in Spark and numpy (F.round is
    # HALF_UP, np.round is half-even — avoid both).
    return F.floor(x * F.lit(float(QUANT)) + F.lit(0.5)).cast("long")


def _grad_hess(margin: Column, y: Column, objective: str) -> tuple[Column, Column]:
    if objective == "squared":
        return margin - y, F.lit(1.0)
    if objective == "logistic":
        # p is snapped onto the 1e-6 grid BEFORE g/h are formed, so the
        # ONLY libm-sensitive rounding per row is this one: downstream
        # g = p - y and h = p * (1 - p) are pure IEEE arithmetic on
        # identical doubles in every engine and quantize deterministically
        # (removes the second/third flip boundary the raw-p form had).
        p = F.floor(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) * F.lit(1000000.0)
            + F.lit(0.5)
        ) / F.lit(1000000.0)
        return p - y, p * (F.lit(1.0) - p)
    raise ValueError(objective)


# ---------------------------------------------------------------------------
# the distributed inner loop, exposed as a standalone relational operator
# (gate `gbt_grad_histogram` checks it against a DuckDB oracle built from
# the same edge literals)


def gradient_histogram(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    edges: dict[str, list[float]],
    base_score: float = 0.0,
    objective: str = "squared",
) -> DataFrame:
    """Per-(feature, bin) quantized gradient/hessian sums — exactly the
    aggregation one tree level of `fit_hist_gbt` ships through the
    shuffle.  Output is `features x bins` rows regardless of input size;
    integer sums make it bit-deterministic under any partitioning."""
    g, h = _grad_hess(F.lit(float(base_score)), F.col(label_col).cast("double"), objective)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("feature"),
                _bin_expr(c, edges[c]).alias("bin"),
            )
            for c in feature_cols
        ]
    )
    return (
        df.select(
            F.explode(pairs).alias("fb"),
            _quantize_expr(g).alias("_gq"),
            _quantize_expr(h).alias("_hq"),
        )
        .groupBy(F.col("fb.feature").alias("feature"), F.col("fb.bin").alias("bin"))
        .agg(
            F.sum("_gq").alias("grad_sum_q"),
            F.sum("_hq").alias("hess_sum_q"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def gradient_histogram_sql(
    feature_cols: list[str],
    label_col: str,
    edges: dict[str, list[float]],
    base_score: float = 0.0,
    table: str = "lineitem",
) -> str:
    """DuckDB oracle twin of `gradient_histogram` (squared objective),
    generated from the SAME edge literals (shared-literal rule)."""
    parts = []
    for c in feature_cols:
        bin_expr = " + ".join(
            f"CASE WHEN {c} >= {e!r} THEN 1 ELSE 0 END" for e in edges[c]
        )
        parts.append(
            f"SELECT '{c}' AS feature, "
            f"CAST(CASE WHEN {c} IS NULL OR isnan(CAST({c} AS DOUBLE)) "
            f"THEN 0 ELSE {bin_expr} END AS INT) AS bin, "
            f"CAST(floor(({base_score!r} - {label_col}) * 1000000.0 + 0.5) AS BIGINT) AS gq "
            f"FROM {table}"
        )
        # hessian for squared loss is the constant 1.0 -> 1e6 per row
    union = " UNION ALL ".join(parts)
    return (
        "SELECT feature, bin, "
        "CAST(SUM(gq) AS BIGINT) AS grad_sum_q, "
        "CAST(COUNT(*) AS BIGINT) * 1000000 AS hess_sum_q, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows "
        f"FROM ({union}) GROUP BY feature, bin"
    )


def fit_predict_hist_gbt_sql(
    feature_cols: list[str],
    label_col: str,
    edges: dict[str, list[float]],
    row_id_sql: str,
    n_trees: int = 3,
    max_depth: int = 2,
    base_score: float = 0.0,
    learning_rate: float = 0.3,
    reg_lambda: float = 1.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    table: str = "lineitem",
    objective: str = "squared",
    label_sql: str | None = None,
) -> str:
    """Full DuckDB oracle for `fit_hist_gbt` + ensemble scoring — the whole
    training loop unrolled into one CTE chain (squared or logistic
    objective, fixed literal edges).  `label_sql` overrides the label
    expression (e.g. a CASE WHEN for a derived binary target); defaults
    to `label_col`.  Logistic determinism: p = 1/(1+exp(-m)) crosses libm,
    so p is snapped onto the 1e-6 grid immediately (one boundary per row,
    measure ~1e-10); g/h are then pure IEEE arithmetic on identical
    doubles and quantize bit-identically in every engine.  Each tree level is exactly the histogram → prefix-sum
    → gain-argmax → route sequence the Spark fit runs, in the same IEEE
    double arithmetic with the same parenthesization, over the same exact
    integer micro-unit sums — so trees, leaf weights, and predictions are
    bit-identical.  Split candidates enumerate only bins PRESENT in the
    histogram; a split at an absent bin has the same (gl, hl) as the last
    present bin below it, so under strict first-max tie-breaking it can
    never be chosen — equivalent to _best_splits' full range scan.
    Reference anchor: XGBoost-in-PG /root/reference/src/transpiler.py:2500-2753."""
    nf = len(feature_cols)
    lam_q = reg_lambda * QUANT
    mcw_q = min_child_weight * QUANT
    bnames = [f"b{i}" for i in range(nf)]
    bcols = ", ".join(bnames)

    bin_sqls = []
    for c in feature_cols:
        be = " + ".join(
            f"CASE WHEN {c} >= {float(e)!r} THEN 1 ELSE 0 END"
            for e in edges[c]
        )
        bin_sqls.append(
            f"CAST(CASE WHEN {c} IS NULL OR isnan(CAST({c} AS DOUBLE)) "
            f"THEN 0 ELSE {be} END AS INT)"
        )
    nb_case = " ".join(
        f"WHEN {i} THEN {len(edges[c])}" for i, c in enumerate(feature_cols)
    )
    feat_case = " ".join(f"WHEN {i} THEN n.b{i}" for i in range(nf))

    lab = label_sql if label_sql is not None else label_col
    ctes = [
        "b AS MATERIALIZED (SELECT "
        + f"CAST({row_id_sql} AS BIGINT) AS row_id, "
        + ", ".join(f"{bs} AS b{i}" for i, bs in enumerate(bin_sqls))
        + f", CAST({lab} AS DOUBLE) AS y FROM {table})",
        f"g0 AS MATERIALIZED (SELECT row_id, {bcols}, y, "
        f"CAST({float(base_score)!r} AS DOUBLE) AS m FROM b)",
    ]
    if objective == "squared":
        grad_cols = (
            "CAST(floor((m - y) * 1000000.0 + 0.5) AS BIGINT) AS gq, "
            "CAST(1000000 AS BIGINT) AS hq"
        )
    elif objective == "logistic":
        # identical formula shape as _grad_hess: p snapped to the 1e-6
        # grid first, then g = p - y, h = p * (1 - p)
        p = "(floor((1.0 / (1.0 + exp(-m))) * 1000000.0 + 0.5) / 1000000.0)"
        grad_cols = (
            f"CAST(floor(({p} - y) * 1000000.0 + 0.5) AS BIGINT) AS gq, "
            f"CAST(floor(({p} * (1.0 - {p})) * 1000000.0 + 0.5) AS BIGINT) AS hq"
        )
    else:
        raise ValueError(objective)
    for t in range(n_trees):
        ctes.append(
            f"t{t}n0 AS MATERIALIZED (SELECT row_id, {bcols}, y, m, "
            f"{grad_cols}, 0 AS nid FROM g{t})"
        )
        for d in range(max_depth):
            min_nid = 2**d - 1
            unpivot = " UNION ALL ".join(
                f"SELECT nid, {i} AS f, b{i} AS b, gq, hq "
                f"FROM t{t}n{d} WHERE nid >= {min_nid}"
                for i in range(nf)
            )
            ctes.append(
                f"t{t}h{d} AS MATERIALIZED (SELECT nid, f, b, SUM(gq) AS g, "
                f"SUM(hq) AS h FROM ({unpivot}) GROUP BY nid, f, b)"
            )
            ctes.append(
                f"t{t}t{d} AS MATERIALIZED (SELECT nid, SUM(g) AS tg, SUM(h) AS th "
                f"FROM t{t}h{d} WHERE f = 0 GROUP BY nid)"
            )
            ctes.append(
                f"t{t}c{d} AS MATERIALIZED (SELECT h.nid, h.f, h.b AS sb, "
                f"SUM(h.g) OVER (PARTITION BY h.nid, h.f ORDER BY h.b) AS gl, "
                f"SUM(h.h) OVER (PARTITION BY h.nid, h.f ORDER BY h.b) AS hl, "
                f"t.tg, t.th "
                f"FROM t{t}h{d} h JOIN t{t}t{d} t ON h.nid = t.nid "
                f"WHERE h.b < CASE h.f {nb_case} END)"
            )
            # gain with the IDENTICAL parenthesization as _best_splits:
            # ((0.5 * (A + B - parent)) / QUANT) - gamma
            gain = (
                f"0.5 * (CAST(gl * gl AS DOUBLE) / "
                f"(CAST(hl AS DOUBLE) + {lam_q!r}) "
                f"+ CAST((tg - gl) * (tg - gl) AS DOUBLE) / "
                f"(CAST(th - hl AS DOUBLE) + {lam_q!r}) "
                f"- CAST(tg * tg AS DOUBLE) / "
                f"(CAST(th AS DOUBLE) + {lam_q!r})) / 1000000.0 "
                f"- {float(gamma)!r}"
            )
            ctes.append(
                f"t{t}s{d} AS MATERIALIZED (SELECT nid, f, sb FROM ("
                f"SELECT nid, f, sb, row_number() OVER ("
                f"PARTITION BY nid ORDER BY gain DESC, f ASC, sb ASC) AS rk "
                f"FROM (SELECT nid, f, sb, {gain} AS gain FROM t{t}c{d} "
                f"WHERE CAST(hl AS DOUBLE) >= {mcw_q!r} "
                f"AND CAST(th - hl AS DOUBLE) >= {mcw_q!r}) "
                f"WHERE gain > 1e-12) WHERE rk = 1)"
            )
            ctes.append(
                f"t{t}n{d + 1} AS MATERIALIZED (SELECT n.row_id, "
                + ", ".join(f"n.b{i}" for i in range(nf))
                + ", n.y, n.m, n.gq, n.hq, "
                f"CASE WHEN s.nid IS NULL THEN n.nid "
                f"WHEN (CASE s.f {feat_case} END) <= s.sb "
                f"THEN 2 * n.nid + 1 ELSE 2 * n.nid + 2 END AS nid "
                f"FROM t{t}n{d} n LEFT JOIN t{t}s{d} s ON n.nid = s.nid)"
            )
        # leaf weights: Python is ((-gq) / (hq + lam_q)) * lr
        ctes.append(
            f"t{t}lw AS MATERIALIZED (SELECT nid, "
            f"(((- CAST(SUM(gq) AS DOUBLE)) / "
            f"(CAST(SUM(hq) AS DOUBLE) + {lam_q!r})) * "
            f"{float(learning_rate)!r}) AS w "
            f"FROM t{t}n{max_depth} GROUP BY nid)"
        )
        ctes.append(
            f"g{t + 1} AS MATERIALIZED (SELECT n.row_id, "
            + ", ".join(f"n.b{i}" for i in range(nf))
            + ", n.y, n.m + l.w AS m "
            f"FROM t{t}n{max_depth} n JOIN t{t}lw l ON n.nid = l.nid)"
        )
    final = (
        "round(1.0 / (1.0 + exp(-m)), 6)"
        if objective == "logistic"
        else "round(m, 6)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT row_id, {final} AS prediction FROM g{n_trees}"
    )


# ---------------------------------------------------------------------------
# Spark fit


def fit_hist_gbt(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    objective: str = "squared",
    n_trees: int = 10,
    max_depth: int = 3,
    n_bins: int = 32,
    learning_rate: float = 0.3,
    reg_lambda: float = 1.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    base_score: float | None = None,
    edges: dict[str, list[float]] | None = None,
    checkpoint_every: int = 5,
    valid_df: DataFrame | None = None,
    early_stopping_rounds: int | None = None,
    tol: float = 1e-7,
    track_loss: bool = True,
) -> HistGBTModel:
    """Distributed histogram-GBT fit.  See module docstring for the
    scale/determinism contract.

    With `valid_df` + `early_stopping_rounds`, a held-out loss is
    evaluated each round (the fitted tree's real-valued expression scores
    the validation relation — one extra map-only pass); training stops
    after that many rounds without improvement and the model is truncated
    to the best iteration, XGBoost semantics.

    `track_loss=False` skips the per-round train-loss aggregation (one
    cluster job per tree whose only product is the informational
    `train_rounds` log — it never feeds back into the fit); the fitted
    trees, leaf weights and predictions are identical either way."""
    if edges is None:
        edges = quantile_edges(df, feature_cols, n_bins)
    nb = [len(edges[c]) for c in feature_cols]

    if base_score is None:
        if objective == "logistic":
            base_score = 0.0
        else:
            m = df.select(F.avg(F.col(label_col).cast("double"))).collect()[0][0]
            base_score = float(m if m is not None else 0.0)

    # binned working relation: bins + label + margin, cached
    work = df.select(
        *[
            _bin_expr(c, edges[c]).alias(f"_b{i}")
            for i, c in enumerate(feature_cols)
        ],
        F.col(label_col).cast("double").alias("_y"),
        F.lit(float(base_score)).alias("_m"),
    ).localCheckpoint()

    vwork = None
    if valid_df is not None:
        vwork = valid_df.select(
            *feature_cols,
            F.col(label_col).cast("double").alias("_y"),
            F.lit(float(base_score)).alias("_m"),
        ).localCheckpoint()

    trees = []
    rounds_log: list[dict[str, float]] = []
    stats_per_tree: list[list[tuple[str, float, float]]] = []
    best_iter, best_vloss, stall = -1, float("inf"), 0
    for t in range(n_trees):
        split_stats: list[tuple[str, float, float]] = []
        g, h = _grad_hess(F.col("_m"), F.col("_y"), objective)
        cur = work.withColumn("_gq", _quantize_expr(g)).withColumn(
            "_hq", _quantize_expr(h)
        ).withColumn("_nid", F.lit(0))

        # level-wise growth.  node_totals accumulates every open node's
        # exact (sum_gq, sum_hq, count) as it is first seen: the root's
        # from the level-0 histogram, each child's from the parent's
        # prefix sums over the split feature's bins — the SAME integer
        # additions a groupBy over the routed rows would perform, so the
        # final leaf weights are derivable on the driver with no extra
        # cluster job (the former per-tree `groupBy(_nid)` collect).
        splits_by_node: dict[int, tuple[int, int]] = {}
        node_totals: dict[int, tuple[int, int, int]] = {}
        open_nodes = [0]
        for _depth in range(max_depth):
            if not open_nodes:
                break
            # ONE aggregation for the whole level: explode (feature, bin)
            # pairs; partial agg bounds the shuffle at nodes*F*bins/part.
            pairs = F.array(
                *[
                    F.struct(
                        F.lit(i).alias("f"), F.col(f"_b{i}").alias("b")
                    )
                    for i in range(len(feature_cols))
                ]
            )
            hist_rows = (
                cur.where(F.col("_nid").isin(open_nodes))
                .select(
                    F.col("_nid"),
                    F.explode(pairs).alias("fb"),
                    F.col("_gq"),
                    F.col("_hq"),
                )
                .groupBy("_nid", "fb.f", "fb.b")
                .agg(
                    F.sum("_gq").alias("g"),
                    F.sum("_hq").alias("h"),
                    F.count(F.lit(1)).alias("c"),
                )
                .collect()
            )
            hist = {
                (r["_nid"], r["f"], r["b"]): (int(r["g"]), int(r["h"]), int(r["c"]))
                for r in hist_rows
            }
            decided = _best_splits(
                hist, open_nodes, len(feature_cols), nb,
                reg_lambda, gamma, min_child_weight,
            )
            # record each open node's exact totals from feature 0's bin
            # slice (every row lands in exactly one bin of feature 0)
            for nid in open_nodes:
                tg = th = tc = 0
                for b in range(nb[0] + 1):
                    g_, h_, c_ = hist.get((nid, 0, b), (0, 0, 0))
                    tg += g_
                    th += h_
                    tc += c_
                node_totals[nid] = (tg, th, tc)
            # one flat when-chain routes every split node's rows
            next_open: list[int] = []
            route_expr = None
            for nid in open_nodes:
                d = decided[nid]
                if d is None:
                    continue
                f_idx, sb, gain, cover = d
                splits_by_node[nid] = (f_idx, sb)
                # children totals: left = prefix sums over bins <= sb of
                # the split feature, right = node minus left (exact ints)
                lg = lh = lc = 0
                for b in range(sb + 1):
                    g_, h_, c_ = hist.get((nid, f_idx, b), (0, 0, 0))
                    lg += g_
                    lh += h_
                    lc += c_
                tg, th, tc = node_totals[nid]
                node_totals[2 * nid + 1] = (lg, lh, lc)
                node_totals[2 * nid + 2] = (tg - lg, th - lh, tc - lc)
                split_stats.append((feature_cols[f_idx], gain, cover))
                is_n = F.col("_nid") == nid
                goes_left = is_n & (F.col(f"_b{f_idx}") <= F.lit(sb))
                for cond, tgt in (
                    (goes_left, 2 * nid + 1),
                    (is_n, 2 * nid + 2),
                ):
                    route_expr = (
                        F.when(cond, F.lit(tgt))
                        if route_expr is None
                        else route_expr.when(cond, F.lit(tgt))
                    )
                next_open += [2 * nid + 1, 2 * nid + 2]
            if route_expr is None:
                open_nodes = []
                break
            cur = cur.withColumn(
                "_nid", route_expr.otherwise(F.col("_nid")).cast("int")
            )
            open_nodes = next_open

        # leaf weights from final per-node integer sums.  The totals were
        # accumulated level by level above (same BIGINT additions the old
        # `groupBy(_nid)` job performed, zero-count nodes excluded exactly
        # as that collect excluded them); the cluster job is gone.  The
        # degenerate max_depth=0 loop (no histogram ever built) keeps the
        # aggregation fallback.
        if node_totals:
            leaf_w = {
                nid: _leaf_weight(g, h, reg_lambda, learning_rate)
                for nid, (g, h, c) in node_totals.items()
                if nid not in splits_by_node and c > 0
            }
        else:
            leaf_rows = (
                cur.groupBy("_nid")
                .agg(F.sum("_gq").alias("g"), F.sum("_hq").alias("h"))
                .collect()
            )
            leaf_w = {
                int(r["_nid"]): _leaf_weight(
                    int(r["g"]), int(r["h"]), reg_lambda, learning_rate
                )
                for r in leaf_rows
            }
        tree = _assemble_tree(
            0, splits_by_node, leaf_w, feature_cols, edges
        )
        trees.append(tree)
        stats_per_tree.append(split_stats)

        # margin update: nid -> leaf weight (flat when-chain, no join)
        upd = None
        for nid, w in sorted(leaf_w.items()):
            upd = (
                F.when(F.col("_nid") == nid, F.lit(w))
                if upd is None
                else upd.when(F.col("_nid") == nid, F.lit(w))
            )
        work = cur.withColumn(
            "_m", F.col("_m") + upd.otherwise(F.lit(0.0))
        ).drop("_gq", "_hq", "_nid")
        if (t + 1) % checkpoint_every == 0:
            work = work.localCheckpoint()

        entry: dict[str, float] = {"round": t}
        if track_loss:
            if objective == "logistic":
                loss = work.select(
                    F.avg(
                        F.ln(F.lit(1.0) + F.exp(-F.col("_m")))
                        + (F.lit(1.0) - F.col("_y")) * F.col("_m")
                    )
                ).collect()[0][0]
            else:
                loss = work.select(
                    F.avg((F.col("_m") - F.col("_y")) ** 2)
                ).collect()[0][0]
            entry["train_loss"] = float(loss)

        if vwork is not None:
            from inferdb_spark.operators import trees as T

            vwork = vwork.withColumn(
                "_m", F.col("_m") + T.tree_to_expression(tree)
            )
            if (t + 1) % checkpoint_every == 0:
                vwork = vwork.localCheckpoint()
            if objective == "logistic":
                vloss = vwork.select(
                    F.avg(
                        F.ln(F.lit(1.0) + F.exp(-F.col("_m")))
                        + (F.lit(1.0) - F.col("_y")) * F.col("_m")
                    )
                ).collect()[0][0]
            else:
                vloss = vwork.select(
                    F.avg((F.col("_m") - F.col("_y")) ** 2)
                ).collect()[0][0]
            vloss = float(vloss)
            entry["valid_loss"] = vloss
            if vloss < best_vloss - tol:
                best_vloss, best_iter, stall = vloss, t, 0
            else:
                stall += 1
            rounds_log.append(entry)
            if (
                early_stopping_rounds is not None
                and stall >= early_stopping_rounds
            ):
                trees = trees[: best_iter + 1]
                stats_per_tree = stats_per_tree[: best_iter + 1]
                break
        else:
            rounds_log.append(entry)

    return HistGBTModel(
        trees=trees,
        base_score=float(base_score),
        objective=objective,
        edges=edges,
        learning_rate=learning_rate,
        train_rounds=rounds_log,
        split_stats=[st for per_tree in stats_per_tree for st in per_tree],
    )


def _assemble_tree(
    nid: int,
    splits: dict[int, tuple[int, int]],
    leaf_w: dict[int, float],
    feature_cols: list[str],
    edges: dict[str, list[float]],
) -> Node:
    """Binned tree -> real-valued Node dict.  bin(x) <= sb  <=>
    x < edges[sb]  <=>  x <= nextafter(edges[sb], -inf); NULL (bin 0)
    routes left under both encodings, so the emitted tree routes every
    row exactly as training did."""
    if nid in splits:
        f_idx, sb = splits[nid]
        col = feature_cols[f_idx]
        thr = float(np.nextafter(edges[col][sb], -math.inf))
        return {
            "feature": col,
            "threshold": thr,
            "left": _assemble_tree(2 * nid + 1, splits, leaf_w, feature_cols, edges),
            "right": _assemble_tree(2 * nid + 2, splits, leaf_w, feature_cols, edges),
        }
    return {"value": leaf_w.get(nid, 0.0)}


# ---------------------------------------------------------------------------
# numpy twin — the parity oracle for the distributed fit


def fit_hist_gbt_numpy(
    X: "np.ndarray",
    y: "np.ndarray",
    feature_cols: list[str],
    edges: dict[str, list[float]],
    objective: str = "squared",
    n_trees: int = 10,
    max_depth: int = 3,
    learning_rate: float = 0.3,
    reg_lambda: float = 1.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    base_score: float | None = None,
) -> HistGBTModel:
    """Single-node reference implementation of the IDENTICAL algorithm
    (same integer quantization, same tie-breaks).  Tests assert the Spark
    fit returns byte-identical trees."""
    n, nf = X.shape
    nb = [len(edges[c]) for c in feature_cols]
    B = np.zeros((n, nf), dtype=np.int64)
    for j, c in enumerate(feature_cols):
        col = X[:, j]
        b = np.zeros(n, dtype=np.int64)
        mask = ~np.isnan(col)
        for e in edges[c]:
            b[mask] += (col[mask] >= e).astype(np.int64)
        B[:, j] = b
    if base_score is None:
        base_score = 0.0 if objective == "logistic" else float(np.mean(y))
    m = np.full(n, float(base_score))
    trees: list[Node] = []
    for _t in range(n_trees):
        if objective == "squared":
            g, h = m - y, np.ones(n)
        else:
            p = np.floor((1.0 / (1.0 + np.exp(-m))) * QUANT + 0.5) / QUANT
            g, h = p - y, p * (1.0 - p)
        gq = np.floor(g * QUANT + 0.5).astype(np.int64)
        hq = np.floor(h * QUANT + 0.5).astype(np.int64)
        nid = np.zeros(n, dtype=np.int64)
        splits_by_node: dict[int, tuple[int, int]] = {}
        open_nodes = [0]
        for _d in range(max_depth):
            if not open_nodes:
                break
            hist: dict[tuple[int, int, int], tuple[int, int, int]] = {}
            for node in open_nodes:
                rows = nid == node
                for f in range(nf):
                    bcol = B[rows, f]
                    for b in np.unique(bcol):
                        sel = bcol == b
                        hist[(node, f, int(b))] = (
                            int(gq[rows][sel].sum()),
                            int(hq[rows][sel].sum()),
                            int(sel.sum()),
                        )
            decided = _best_splits(
                hist, open_nodes, nf, nb, reg_lambda, gamma, min_child_weight
            )
            next_open: list[int] = []
            for node in open_nodes:
                d = decided[node]
                if d is None:
                    continue
                f_idx, sb, _gain, _cover = d
                splits_by_node[node] = (f_idx, sb)
                rows = nid == node
                goes_left = rows & (B[:, f_idx] <= sb)
                nid[goes_left] = 2 * node + 1
                nid[rows & ~goes_left] = 2 * node + 2
                next_open += [2 * node + 1, 2 * node + 2]
            open_nodes = next_open
        leaf_w = {}
        for node in np.unique(nid):
            rows = nid == node
            leaf_w[int(node)] = _leaf_weight(
                int(gq[rows].sum()), int(hq[rows].sum()), reg_lambda, learning_rate
            )
        trees.append(
            _assemble_tree(0, splits_by_node, leaf_w, feature_cols, edges)
        )
        m = m + np.vectorize(lambda v: leaf_w.get(int(v), 0.0))(nid)
    return HistGBTModel(
        trees=trees,
        base_score=float(base_score),
        objective=objective,
        edges=edges,
        learning_rate=learning_rate,
    )
