"""In-database logistic-regression *training* via fixed-step gradient descent.

The reference trains logistic models inside the database through PGML
(`pgml.train` on 'classification'/logistic, src/transpiler.py:2032-2101)
and MADlib (`madlib.logregr_train`, src/transpiler.py:2382-2466) and then
transpiles the fitted coefficients into a scoring expression.  This module
is the Spark-native twin of that story, completing the in-engine trainer
family (OLS normal equations — linreg.py; hist-GBT — gbt_train.py; kmeans
Lloyd — cluster.py): the ENTIRE fit is expressed as one exact relational
aggregation per gradient step, with only the O(p) coefficient vector ever
reaching the driver.

Scale shape (the 100 TB question): each step is a single map-side-combined
`agg` over the training scan producing p+2 BIGINT sums — no shuffle wider
than one combiner row per partition, no per-row state, nothing driver-side
that grows with the data.  `n_steps` scans of the cached quantized
projection total.

The model has ONE definition: SQL text.  The per-step gradient the fit
submits and the scoring Columns (`F.expr` over the same text) are built
by the same `_margin_sql`; the DuckDB replay (`_replay_ctes`) and the
numpy twins mirror it.  Determinism engineering (the gbt_train.py
playbook, see _grad_hess there):

- features are integer-quantized once: ``xq = floor(x*scale + 0.5)`` as
  BIGINT (floor(+0.5), NOT round(): Spark round is HALF_UP, DuckDB/numpy
  differ — floor-based snapping is identical everywhere);
- the per-row margin is evaluated in written order
  ``((b + c0*t0) + c1*t1) + ...`` with ``t_j = xq_j / scale`` — identical
  parenthesization in the Spark SQL text, the DuckDB CTE chain, and the
  numpy twin, so IEEE doubles agree bit-for-bit;
- the ONLY libm call, ``p = 1/(1+exp(-m))``, is snapped onto the 1e-6 grid
  immediately; the per-row gradient ``gq = floor((p-y)*1e6 + 0.5)`` and the
  products ``gq * xq_j`` are then exact BIGINTs, so the aggregated sums are
  order-independent under any partitioning;
- the coefficient update ``c_j - lr * (sgx_j / (1e6 * scale * n))`` is the
  same correctly-rounded double expression on the driver (Python float),
  in DuckDB, and in numpy — coefficients stay bit-identical step for step.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRID = 1_000_000  # 1e-6 probability grid, the gbt_train.py convention
_GR = f"{float(GRID)!r}D"

# -- the model as Spark SQL text ----------------------------------------------
# Every fragment is fully parenthesized in written order and every double
# literal is spelled `{x!r}D` (repr round-trips, the D suffix keeps it a
# DOUBLE, not a DECIMAL), so the text parses to the same expression tree a
# Column builder would make.  The margin is written over a per-feature
# LEAF holding xq_j: `_xq{j}`, the BIGINT the fit caches once per row
# (`_gd_input`), or `_xq_sql(col)`, the same quantization inline for
# scoring.


def _xq_sql(col: str, scale: int) -> str:
    """floor(x*scale + 0.5) as BIGINT over a feature column."""
    return f"CAST(FLOOR((`{col}` * {float(scale)!r}D) + 0.5D) AS BIGINT)"


def _fit_leaves(p: int) -> list[str]:
    return [f"_xq{j}" for j in range(p)]


def _margin_sql(
    leaves: list[str], coefs: list[float], intercept: float, scale: int
) -> str:
    """((b + c0*t0) + c1*t1) + ... with t_j = CAST(leaf_j AS DOUBLE)/scale."""
    # repr(inf/nan) is not a valid SQL double literal — a diverged fit
    # (oversized learning_rate) must fail with a diagnosis, not a
    # ParseException deep in the step or the scoring projection.
    if not all(math.isfinite(c) for c in [intercept, *coefs]):
        raise ValueError(
            "fit diverged: non-finite coefficient/intercept "
            f"(intercept={intercept!r}, coefs={coefs!r}); lower learning_rate"
        )
    m = f"{float(intercept)!r}D"
    for leaf, c in zip(leaves, coefs):
        m = f"({m} + ({float(c)!r}D * (CAST({leaf} AS DOUBLE) / {float(scale)!r}D)))"
    return m


def _snap_prob(margin: str) -> str:
    """1/(1+exp(-m)) snapped onto the 1e-6 grid."""
    return f"(FLOOR(((1.0D / (1.0D + EXP(-({margin})))) * {_GR}) + 0.5D) / {_GR})"


@dataclass
class _LinearModel:
    feature_cols: list[str]
    coefs: list[float]
    intercept: float
    scale: int

    def _margin_text(self) -> str:
        leaves = [_xq_sql(c, self.scale) for c in self.feature_cols]
        return _margin_sql(leaves, self.coefs, self.intercept, self.scale)

    def margin(self) -> Column:
        return F.expr(self._margin_text())


@dataclass
class LogRegModel(_LinearModel):
    n_steps: int
    learning_rate: float

    def probability(self) -> Column:
        """Snapped-to-1e-6 P(y=1) as a Column over the feature columns."""
        return F.expr(_snap_prob(self._margin_text()))

    def prediction(self) -> Column:
        return F.expr(f"CAST(({_snap_prob(self._margin_text())} > 0.5D) AS BIGINT)")


# -- the fixed-step GD driver loop shared by every Spark fit here -------------


def _gd_input(
    df: DataFrame, feature_cols: list[str], label_col: str, scale: int
) -> DataFrame:
    """The fit input: each feature quantized ONCE into `_xq{j}`, the label
    as `_y`, spread and persisted, so every step aggregates cached BIGINTs
    in parallel instead of re-scanning and re-quantizing the source."""
    from inferdb_spark.scale import spread

    proj = df.selectExpr(
        *[f"{_xq_sql(c, scale)} AS _xq{j}" for j, c in enumerate(feature_cols)],
        f"`{label_col}` AS _y",
    )
    return spread(proj).persist()


def _gd_step(qdf: DataFrame, p: int, gqs: dict[str, str]) -> DataFrame:
    """One step's exact sums over the fit input.  `gqs` maps a tag to a
    per-row BIGINT gradient: each projects ONCE per row as `_gq{tag}`,
    then n, sg[_tag] = SUM gq and sgx[_tag]_j = SUM gq*xq_j aggregate."""
    g = qdf.selectExpr(
        *[f"{sql} AS _gq{t}" for t, sql in gqs.items()], *_fit_leaves(p)
    )
    aggs = [F.expr("count(1) AS n")]
    for t in gqs:
        sfx = f"_{t}" if t else ""
        aggs.append(F.expr(f"sum(_gq{t}) AS sg{sfx}"))
        aggs += [F.expr(f"sum(_gq{t} * _xq{j}) AS sgx{sfx}_{j}") for j in range(p)]
    return g.agg(*aggs)


def _run_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    scale: int,
    n_steps: int,
    state,
    gradient: Callable[..., dict[str, str]],
    update: Callable,
) -> list:
    """Fixed-step full-batch GD: persist the fit input once, then per step
    gradient(state) → one collected aggregate → update(state, row).
    Returns the trajectory [state_0, ..., state_n_steps]; the cached
    input is released on every path, a diverged fit included."""
    p = len(feature_cols)
    qdf = _gd_input(df, feature_cols, label_col, scale)
    states = [state]
    try:
        for _ in range(n_steps):
            row = _gd_step(qdf, p, gradient(states[-1])).collect()[0]
            states.append(update(states[-1], row))
    finally:
        qdf.unpersist()
    return states


def _fit_linear(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_steps: int,
    learning_rate: float,
    scale: int,
    gq_sql: Callable[[str], str],
    lam: float | None = None,
) -> list[tuple[float, list[float]]]:
    """_run_gd for one coefficient vector from beta = 0.  gq_sql maps the
    margin text to the per-row gradient; lam adds the L2 shrink term to
    the coefficient (not the intercept) update.  Returns the
    (intercept, coefs) trajectory."""
    p = len(feature_cols)
    lr = float(learning_rate)
    leaves = _fit_leaves(p)

    def gradient(state):
        intercept, coefs = state
        return {"": gq_sql(_margin_sql(leaves, coefs, intercept, scale))}

    def update(state, row):
        intercept, coefs = state
        n = row["n"]
        g = [row[f"sgx_{j}"] / (1000000.0 * scale * n) for j in range(p)]
        if lam is None:
            coefs = [coefs[j] - lr * g[j] for j in range(p)]
        else:
            coefs = [coefs[j] - lr * (g[j] + lam * coefs[j]) for j in range(p)]
        return intercept - lr * (row["sg"] / (1000000.0 * n)), coefs

    return _run_gd(
        df, feature_cols, label_col, scale, n_steps, (0.0, [0.0] * p),
        gradient, update,
    )


def _logreg_gq_sql(margin: str) -> str:
    return (
        f"CAST(FLOOR((({_snap_prob(margin)} - CAST(_y AS DOUBLE)) * {_GR})"
        " + 0.5D) AS BIGINT)"
    )


def _logreg_trajectory(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_steps: int,
    learning_rate: float,
    scale: int,
) -> list[LogRegModel]:
    """The models beta_0..beta_K of one logreg fit."""
    states = _fit_linear(
        df, feature_cols, label_col, n_steps, learning_rate, scale,
        _logreg_gq_sql,
    )
    return [
        LogRegModel(
            feature_cols=list(feature_cols),
            coefs=coefs,
            intercept=intercept,
            scale=scale,
            n_steps=n_steps,
            learning_rate=float(learning_rate),
        )
        for intercept, coefs in states
    ]


def fit_logreg_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_steps: int = 8,
    learning_rate: float = 1.0,
    scale: int = 10_000,
) -> LogRegModel:
    """Fixed-step full-batch gradient descent from β = 0.  Per step: one
    exact aggregation over the scan (p+2 BIGINT sums collected), then the
    O(p) double update on the driver — the kmeans-Lloyd/hist-GBT driver-loop
    shape, `.collect()` volume independent of row count."""
    return _logreg_trajectory(
        df, feature_cols, label_col, n_steps, learning_rate, scale
    )[-1]


def fit_logreg_gd_history(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_steps: int = 8,
    learning_rate: float = 1.0,
    scale: int = 10_000,
) -> list[LogRegModel]:
    """Like fit_logreg_gd but returns the PER-STEP model snapshots
    beta_1..beta_K (same arithmetic, same step aggregates) — the input to
    dataset-cartography statistics, which need the model's probability
    trajectory across training steps, not just the final fit.  Driver
    traffic is still p+2 BIGINT sums per step."""
    return _logreg_trajectory(
        df, feature_cols, label_col, n_steps, learning_rate, scale
    )[1:]


# ---------------------------------------------------------------------------
# DuckDB oracle: the ENTIRE fit replayed as one CTE chain (the
# fit_predict_hist_gbt_sql standard) + final per-row scoring


def _duck_xq(expr: str, scale: int) -> str:
    return f"CAST(floor(({expr}) * {float(scale)!r} + 0.5) AS BIGINT)"


def _replay_margin(src: str, p: int, scale: int) -> str:
    """((b0 + (c0 * t0)) + (c1 * t1)) + ... over coefficient relation src."""
    m = f"{src}.b0"
    for j in range(p):
        t = f"(CAST(x{j} AS DOUBLE) / {float(scale)!r})"
        m = f"({m} + ({src}.c{j} * {t}))"
    return m


def _replay_prob(m: str) -> str:
    return (
        f"(floor((1.0 / (1.0 + exp(-({m})))) * {float(GRID)!r} + 0.5)"
        f" / {float(GRID)!r})"
    )


def _replay_logreg_gq(m: str) -> str:
    return f"CAST(floor(({_replay_prob(m)} - y) * {float(GRID)!r} + 0.5) AS BIGINT)"


def _replay_ctes(
    feature_sqls: list[str],
    row_id_sql: str,
    label: tuple[str, str],
    gq_sql: Callable[[str], str],
    n_steps: int,
    learning_rate: float,
    scale: int,
    table: str,
    where: str | None = None,
    lam: float | None = None,
) -> list[str]:
    """The CTE chain every linear fit replays: quantize into `b` (row_id,
    x_j, and the label column named label[0] computed as label[1]) →
    (gradient-sum CTE s{k} → coefficient-update CTE beta{k+1}) × n_steps.
    gq_sql maps a margin to the per-row gradient; lam adds the L2 shrink
    term exactly as _fit_linear does.  beta{n_steps} holds the fit."""
    p = len(feature_sqls)
    lr = float(learning_rate)
    name, expr = label
    src_where = f" WHERE {where}" if where else ""
    base_cols = ", ".join(
        f"{_duck_xq(e, scale)} AS x{j}" for j, e in enumerate(feature_sqls)
    )
    xs = ", ".join(f"x{j}" for j in range(p))
    ctes = [
        f"b AS MATERIALIZED (SELECT CAST({row_id_sql} AS BIGINT) AS row_id, "
        f"{base_cols}, {expr} AS {name} FROM {table}{src_where})",
        "beta0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS c{j}" for j in range(p))
        + ")",
    ]
    for k in range(n_steps):
        gq = gq_sql(_replay_margin(f"beta{k}", p, scale))
        sgx = ", ".join(f"SUM(gq * x{j}) AS sgx_{j}" for j in range(p))
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, SUM(gq) AS sg, {sgx} "
            f"FROM (SELECT {name}, {xs}, {gq} AS gq FROM b CROSS JOIN beta{k}))"
        )
        upd = [f"beta{k}.b0 - {lr!r} * (s{k}.sg / (1000000.0 * s{k}.n)) AS b0"]
        for j in range(p):
            g = f"s{k}.sgx_{j} / (1000000.0 * {scale} * s{k}.n)"
            if lam is not None:
                g += f" + {float(lam)!r} * beta{k}.c{j}"
            upd.append(f"beta{k}.c{j} - {lr!r} * ({g}) AS c{j}")
        ctes.append(
            f"beta{k + 1} AS MATERIALIZED (SELECT {', '.join(upd)} FROM beta{k} CROSS JOIN s{k})"
        )
    return ctes


def fit_predict_logreg_sql(
    feature_sqls: list[str],
    label_sql: str,
    row_id_sql: str,
    n_steps: int = 8,
    learning_rate: float = 1.0,
    scale: int = 10_000,
    table: str = "lineitem",
) -> str:
    """Full training replay in DuckDB: quantize → (gradient-sum CTE →
    coefficient-update CTE) × n_steps → score every row with the final
    coefficients.  Generated from the SAME step/lr/scale literals as the
    Spark fit; every arithmetic expression mirrors the Spark SQL text's
    parenthesization so coefficients and probabilities are bit-identical."""
    ctes = _replay_ctes(
        feature_sqls, row_id_sql, ("y", f"CAST({label_sql} AS DOUBLE)"),
        _replay_logreg_gq, n_steps, learning_rate, scale, table,
    )
    final = f"beta{n_steps}"
    prob = _replay_prob(_replay_margin(final, len(feature_sqls), scale))
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT row_id, CAST({prob} AS DOUBLE) AS prob, "
        f"CAST(CASE WHEN {prob} > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred "
        f"FROM b CROSS JOIN {final} ORDER BY row_id"
    )


def cartography_sql(
    feature_sqls: list[str],
    label_sql: str,
    row_id_sql: str,
    n_steps: int = 8,
    learning_rate: float = 1.0,
    scale: int = 10_000,
    table: str = "lineitem",
    where: str | None = None,
) -> str:
    """Dataset-cartography oracle (Swayamdipta et al., EMNLP'20 "Dataset
    Cartography"): replay the full logreg fit (same CTE chain as
    fit_predict_logreg_sql), then for EVERY training step k compute each
    row's snapped true-class probability ptu_k = y*p_k + (1-y)*(1-p_k) in
    integer micro-units, and report confidence sum_k(ptu_k) and the
    variability numerator K*sum(ptu^2) - (sum ptu)^2 — both exact
    BIGINTs (std and mean are monotone in these, so region thresholds
    compare integers, no float tie-break anywhere)."""
    p = len(feature_sqls)
    ctes = _replay_ctes(
        feature_sqls, row_id_sql, ("y", f"CAST({label_sql} AS DOUBLE)"),
        _replay_logreg_gq, n_steps, learning_rate, scale, table, where=where,
    )
    betas = ", ".join(f"beta{k}" for k in range(1, n_steps + 1))
    ptus = []
    for k in range(1, n_steps + 1):
        pk = _replay_prob(_replay_margin(f"beta{k}", p, scale))
        pu = f"CAST(round({pk} * {float(GRID)!r}) AS BIGINT)"
        ptus.append(
            f"(CASE WHEN y = 1.0 THEN {pu} ELSE {GRID} - {pu} END) AS ptu{k}"
        )
    sum_pt = " + ".join(f"ptu{k}" for k in range(1, n_steps + 1))
    sum_pt2 = " + ".join(f"ptu{k} * ptu{k}" for k in range(1, n_steps + 1))
    easy, hard, ambig = cartography_thresholds(n_steps)
    return (
        "WITH "
        + ", ".join(ctes)
        + f", steps AS (SELECT row_id, CAST(y AS BIGINT) AS label, {', '.join(ptus)} "
        f"FROM b CROSS JOIN {betas})"
        f", stats AS (SELECT row_id, label, "
        f"CAST({sum_pt} AS BIGINT) AS conf_u, "
        f"CAST({n_steps} * ({sum_pt2}) - ({sum_pt}) * ({sum_pt}) AS BIGINT)"
        f" AS var_x FROM steps) "
        f"SELECT row_id, label, conf_u, var_x, "
        f"(CASE WHEN var_x >= {ambig} THEN 'ambiguous' "
        f"WHEN conf_u >= {easy} THEN 'easy' "
        f"WHEN conf_u <= {hard} THEN 'hard' "
        f"ELSE 'mid' END) AS region FROM stats ORDER BY row_id"
    )


def cartography_thresholds(n_steps: int) -> tuple[int, int, int]:
    """(easy conf_u >=, hard conf_u <=, ambiguous var_x >=) integer
    thresholds: mean true-class prob 0.75 / 0.25, std 0.15 — the usual
    cartography region cuts, cross-multiplied onto the exact integer
    statistics (conf_u = K*mean*1e6; var_x = K^2*std^2*1e12)."""
    return (
        (3 * n_steps * GRID) // 4,
        (n_steps * GRID) // 4,
        n_steps * n_steps * 22_500_000_000,
    )


# ---------------------------------------------------------------------------
# pure-Python twin (parity tests — the fit_hist_gbt_numpy convention)


def fit_logreg_numpy(
    X, y, n_steps: int = 8, learning_rate: float = 1.0, scale: int = 10_000
):
    """Bit-identical numpy replay of fit_logreg_gd (float64 everywhere,
    same snapping, same update parenthesization).  Returns (coefs,
    intercept)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, p = X.shape
    xq = np.floor(X * float(scale) + 0.5).astype(np.int64)
    coefs = [0.0] * p
    intercept = 0.0
    lr = float(learning_rate)
    for _ in range(n_steps):
        m = np.full(n, intercept, dtype=np.float64)
        for j in range(p):
            t = xq[:, j].astype(np.float64) / float(scale)
            m = m + coefs[j] * t
        prob = np.floor((1.0 / (1.0 + np.exp(-m))) * float(GRID) + 0.5) / float(GRID)
        gq = np.floor((prob - y) * float(GRID) + 0.5).astype(np.int64)
        sg = int(gq.sum())
        intercept = intercept - lr * (sg / (1000000.0 * n))
        coefs = [
            coefs[j] - lr * (int((gq * xq[:, j]).sum()) / (1000000.0 * scale * n))
            for j in range(p)
        ]
    return coefs, intercept


# ---------------------------------------------------------------------------
# QUANTILE regression by the same fixed-step GD harness: pinball loss
# rho_tau(y - f), whose subgradient wrt f is -tau when y > f and (1-tau)
# otherwise (the y == f tie takes the (1-tau) branch on both engines).
# With tau on the 1e-6 grid the per-row gradient is EXACTLY one of two
# integers {-tau*1e6, (1-tau)*1e6} — no libm at all, so the whole fit is
# transcendental-free.  Reference anchor: the reference's regression
# trainers are squared-loss only (PGML regression, src/transpiler.py:
# 2032-2101); quantile regression extends the family to P50/P90 bands.


@dataclass
class QuantRegModel(_LinearModel):
    tau_micro: int  # tau * 1e6, exact
    n_steps: int
    learning_rate: float

    def prediction(self) -> Column:
        return self.margin()


def fit_quantile_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    tau_micro: int = 900_000,
    n_steps: int = 12,
    learning_rate: float = 1.0,
    scale: int = 10_000,
) -> QuantRegModel:
    """Fixed-step full-batch subgradient descent from beta = 0 — the
    fit_logreg_gd loop with the pinball gradient: gq is -tau_micro when
    y > f else GRID - tau_micro."""

    def gq_sql(m: str) -> str:
        return (
            f"CAST(CASE WHEN CAST(_y AS DOUBLE) > {m} THEN {-tau_micro} "
            f"ELSE {GRID - tau_micro} END AS BIGINT)"
        )

    intercept, coefs = _fit_linear(
        df, feature_cols, label_col, n_steps, learning_rate, scale, gq_sql
    )[-1]
    return QuantRegModel(
        feature_cols=list(feature_cols), coefs=coefs, intercept=intercept,
        scale=scale, tau_micro=tau_micro, n_steps=n_steps,
        learning_rate=float(learning_rate),
    )


def fit_predict_quantile_sql(
    feature_sqls: list[str],
    label_sql: str,
    row_id_sql: str,
    tau_micro: int = 900_000,
    n_steps: int = 12,
    learning_rate: float = 1.0,
    scale: int = 10_000,
    table: str = "lineitem",
) -> str:
    """Full quantile-regression training replay in DuckDB (the
    fit_predict_logreg_sql chain with the pinball gradient), scoring every
    row with the final coefficients (6dp-rounded predictions)."""

    def gq_sql(m: str) -> str:
        return (
            f"CAST(CASE WHEN y > {m} THEN {-tau_micro} "
            f"ELSE {GRID - tau_micro} END AS BIGINT)"
        )

    ctes = _replay_ctes(
        feature_sqls, row_id_sql, ("y", f"CAST({label_sql} AS DOUBLE)"),
        gq_sql, n_steps, learning_rate, scale, table,
    )
    final = f"beta{n_steps}"
    m = _replay_margin(final, len(feature_sqls), scale)
    return (
        "WITH "
        + ", ".join(ctes)
        # floor-snap, NOT round(,6): the margin is a raw (unsnapped)
        # double, and on exact-boundary cells Spark's round (exact-decimal
        # HALF_UP) and DuckDB's (float-scaled nearbyint, half-even)
        # disagree by 1e-6 — seen at sf0.001 row 5681.  floor(x*1e6+0.5)
        # is the same float op sequence in both engines, so it cannot.
        + f" SELECT row_id, CAST(floor({m} * 1000000.0 + 0.5) / 1000000.0 "
        "AS DOUBLE) AS qpred, "
        f"CAST(CASE WHEN y <= {m} THEN 1 ELSE 0 END AS BIGINT) AS under "
        f"FROM b CROSS JOIN {final} ORDER BY row_id"
    )


def fit_quantile_numpy(
    X, y, tau_micro: int = 900_000, n_steps: int = 12,
    learning_rate: float = 1.0, scale: int = 10_000,
):
    """Bit-identical numpy replay of fit_quantile_gd."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, p = X.shape
    xq = np.floor(X * float(scale) + 0.5).astype(np.int64)
    coefs = [0.0] * p
    intercept = 0.0
    lr = float(learning_rate)
    for _ in range(n_steps):
        m = np.full(n, intercept, dtype=np.float64)
        for j in range(p):
            t = xq[:, j].astype(np.float64) / float(scale)
            m = m + coefs[j] * t
        gq = np.where(y > m, -tau_micro, GRID - tau_micro).astype(np.int64)
        intercept = intercept - lr * (int(gq.sum()) / (1000000.0 * n))
        coefs = [
            coefs[j] - lr * (int((gq * xq[:, j]).sum()) / (1000000.0 * scale * n))
            for j in range(p)
        ]
    return coefs, intercept


# ---------------------------------------------------------------------------
# LINEAR SVM by the same fixed-step GD harness: L2-regularized hinge loss
# max(0, 1 - s*f) with s = 2y - 1, whose subgradient wrt f is -s when
# s*f < 1 and 0 otherwise (the s*f == 1 boundary takes the 0 branch on both
# engines via a strict <).  The per-row gradient is EXACTLY one of
# {-GRID, 0, +GRID} — like quantile regression the whole fit is
# transcendental-free.  The L2 term enters only the driver-side coefficient
# update (lam * c_j in written-order doubles), so per-step work stays one
# exact BIGINT aggregation.  Reference anchor: the in-DB classifier-training
# family (PGML `pgml.train` on 'classification', src/transpiler.py:
# 2032-2101); SVM extends it past logistic the way MADlib's svm module
# extends logregr_train.


@dataclass
class SVMModel(_LinearModel):
    lam: float
    n_steps: int
    learning_rate: float

    def prediction(self) -> Column:
        return F.expr(f"CAST(({self._margin_text()} > 0.0D) AS BIGINT)")


def fit_svm_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lam: float = 0.01,
    n_steps: int = 12,
    learning_rate: float = 1.0,
    scale: int = 10_000,
) -> SVMModel:
    """Fixed-step full-batch subgradient descent from beta = 0 — the
    fit_logreg_gd driver loop with the hinge gradient and an L2 shrink
    term on the coefficients (intercept unregularized, as usual).  With
    s = 2y - 1, gq = -s*GRID when s*f < 1 else 0."""
    ys = "((2.0D * CAST(_y AS DOUBLE)) - 1.0D)"

    def gq_sql(m: str) -> str:
        return (
            f"CAST(CASE WHEN ({ys} * {m}) < 1.0D "
            f"THEN (-{ys}) * {_GR} ELSE 0.0D END AS BIGINT)"
        )

    intercept, coefs = _fit_linear(
        df, feature_cols, label_col, n_steps, learning_rate, scale, gq_sql,
        lam=float(lam),
    )[-1]
    return SVMModel(
        feature_cols=list(feature_cols), coefs=coefs, intercept=intercept,
        scale=scale, lam=float(lam), n_steps=n_steps,
        learning_rate=float(learning_rate),
    )


def fit_predict_svm_sql(
    feature_sqls: list[str],
    label_sql: str,
    row_id_sql: str,
    lam: float = 0.01,
    n_steps: int = 12,
    learning_rate: float = 1.0,
    scale: int = 10_000,
    table: str = "lineitem",
) -> str:
    """Full linear-SVM training replay in DuckDB (the fit_predict_logreg_sql
    chain with the hinge gradient and L2-shrunk coefficient updates),
    scoring every row with the final hyperplane."""

    def gq_sql(m: str) -> str:
        return (
            f"CAST(CASE WHEN (s * {m}) < 1.0 "
            f"THEN (-s) * {float(GRID)!r} ELSE 0.0 END AS BIGINT)"
        )

    ctes = _replay_ctes(
        feature_sqls, row_id_sql,
        ("s", f"(2.0 * CAST({label_sql} AS DOUBLE) - 1.0)"),
        gq_sql, n_steps, learning_rate, scale, table, lam=float(lam),
    )
    final = f"beta{n_steps}"
    m = _replay_margin(final, len(feature_sqls), scale)
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT row_id, CAST(round({m}, 6) AS DOUBLE) AS margin6, "
        f"CAST(CASE WHEN {m} > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pred "
        f"FROM b CROSS JOIN {final} ORDER BY row_id"
    )


def fit_svm_numpy(
    X, y, lam: float = 0.01, n_steps: int = 12,
    learning_rate: float = 1.0, scale: int = 10_000,
):
    """Bit-identical numpy replay of fit_svm_gd."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, p = X.shape
    xq = np.floor(X * float(scale) + 0.5).astype(np.int64)
    s = 2.0 * y - 1.0
    coefs = [0.0] * p
    intercept = 0.0
    lr = float(learning_rate)
    lamf = float(lam)
    for _ in range(n_steps):
        m = np.full(n, intercept, dtype=np.float64)
        for j in range(p):
            t = xq[:, j].astype(np.float64) / float(scale)
            m = m + coefs[j] * t
        gq = np.where(s * m < 1.0, (-s) * float(GRID), 0.0).astype(np.int64)
        intercept = intercept - lr * (int(gq.sum()) / (1000000.0 * n))
        coefs = [
            coefs[j]
            - lr * (int((gq * xq[:, j]).sum()) / (1000000.0 * scale * n)
                    + lamf * coefs[j])
            for j in range(p)
        ]
    return coefs, intercept
