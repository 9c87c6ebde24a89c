"""In-database *multinomial* (softmax) logistic-regression training.

The reference trains multiclass classifiers in-database through PGML
(`pgml.train` task='classification' generalizes past binary,
src/transpiler.py:2032-2101) and scores MADlib multinomial models
(`madlib.multinom` family is the documented extension of
`madlib.logregr_train`, src/transpiler.py:2382-2466); its own multiclass
surface (IV multiclass, argmax scoring) assumes an externally-fitted
model.  This module closes that gap natively: full-batch fixed-step
gradient descent on the softmax objective, expressed as ONE exact
relational aggregation per step — the operators/logreg.py playbook
lifted to C classes.

Scale shape: each step is a single map-side-combined `agg` over the
training scan producing C*(p+1)+1 BIGINT sums; driver state is the
C*(p+1) coefficient matrix.  Nothing grows with row count.

Determinism (see logreg.py for the full rationale):
- features integer-quantized once via floor(x*scale + 0.5);
- per-class margins evaluated in written order ((b + c0*t0) + c1*t1)...;
- softmax probabilities p_c = exp(m_c) / ((exp(m_0) + exp(m_1)) + ...)
  with the denominator summed in class order, then snapped to the 1e-6
  grid — ONE division per class, identical parenthesization in the
  Spark SQL text (fit steps and scoring alike), the DuckDB CTE chain,
  and the numpy twin;
- per-row gradients gq_c = floor((p_c - y_c)*1e6 + 0.5) and products
  gq_c * xq_j are exact BIGINTs → order-independent sums;
- argmax prediction ties break to the LOWEST class index on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators.logreg import (
    _GR,
    GRID,
    _duck_xq,
    _fit_leaves,
    _margin_sql,
    _run_gd,
    _xq_sql,
)


def _prob_sqls(margins: list[str]) -> list[str]:
    """1e-6-snapped softmax probabilities, denominator folded in class
    order (written-order parenthesization)."""
    denom = f"EXP({margins[0]})"
    for m in margins[1:]:
        denom = f"({denom} + EXP({m}))"
    return [
        f"(FLOOR(((EXP({m}) / {denom}) * {_GR}) + 0.5D) / {_GR})" for m in margins
    ]


@dataclass
class SoftmaxModel:
    feature_cols: list[str]
    n_classes: int
    coefs: list[list[float]]  # [class][feature]
    intercepts: list[float]
    scale: int
    n_steps: int
    learning_rate: float

    def _margin_texts(self) -> list[str]:
        leaves = [_xq_sql(c, self.scale) for c in self.feature_cols]
        return [
            _margin_sql(leaves, self.coefs[c], self.intercepts[c], self.scale)
            for c in range(self.n_classes)
        ]

    def margins(self) -> list[Column]:
        return [F.expr(m) for m in self._margin_texts()]

    def probabilities(self) -> list[Column]:
        return [F.expr(p) for p in _prob_sqls(self._margin_texts())]

    def prediction(self) -> Column:
        """Argmax class, ties to the LOWEST class index: class c wins iff
        p_c >= p_k for every k > c (a strictly greater p_k for k < c is
        already handled by the CASE chain checking class 0 first)."""
        ps = _prob_sqls(self._margin_texts())
        expr = str(self.n_classes - 1)
        # build the chain backwards so class 0's condition is checked first
        for c in range(self.n_classes - 2, -1, -1):
            cond = " AND ".join(
                f"({ps[c]} >= {ps[k]})" for k in range(c + 1, self.n_classes)
            )
            expr = f"CASE WHEN {cond} THEN {c} ELSE {expr} END"
        return F.expr(f"CAST({expr} AS BIGINT)")


def fit_softmax_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_classes: int,
    n_steps: int = 4,
    learning_rate: float = 1.0,
    scale: int = 10_000,
) -> SoftmaxModel:
    """Fixed-step full-batch softmax GD from the zero matrix
    (operators/logreg._run_gd).  Per step one exact aggregation
    (C*(p+1)+1 BIGINT sums) reaches the driver: per class c,
    sg_c = SUM gq_c and sgx_c_j = SUM gq_c * xq_j with
    gq_c = floor((p_c - [y=c])*1e6 + 0.5)."""
    p = len(feature_cols)
    lr = float(learning_rate)
    leaves = _fit_leaves(p)

    def gradient(state):
        intercepts, coefs = state
        ps = _prob_sqls([
            _margin_sql(leaves, coefs[c], intercepts[c], scale)
            for c in range(n_classes)
        ])
        return {
            str(c): f"CAST(FLOOR((({ps[c]} - CAST((CAST(`_y` AS BIGINT) = {c})"
            f" AS DOUBLE)) * {_GR}) + 0.5D) AS BIGINT)"
            for c in range(n_classes)
        }

    def update(state, row):
        intercepts, coefs = state
        n = row["n"]
        return (
            [
                intercepts[c] - lr * (row[f"sg_{c}"] / (1000000.0 * n))
                for c in range(n_classes)
            ],
            [
                [
                    coefs[c][j]
                    - lr * (row[f"sgx_{c}_{j}"] / (1000000.0 * scale * n))
                    for j in range(p)
                ]
                for c in range(n_classes)
            ],
        )

    zero = ([0.0] * n_classes, [[0.0] * p for _ in range(n_classes)])
    intercepts, coefs = _run_gd(
        df, feature_cols, label_col, scale, n_steps, zero, gradient, update
    )[-1]
    return SoftmaxModel(
        feature_cols=list(feature_cols), n_classes=n_classes, coefs=coefs,
        intercepts=intercepts, scale=scale, n_steps=n_steps, learning_rate=lr,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the ENTIRE fit replayed as one CTE chain, then every row
# scored (probabilities + argmax) with the final coefficient matrix.


def fit_predict_softmax_sql(
    feature_sqls: list[str],
    label_sql: str,
    row_id_sql: str,
    n_classes: int,
    n_steps: int = 4,
    learning_rate: float = 1.0,
    scale: int = 10_000,
    table: str = "lineitem",
) -> str:
    """Full softmax training replay in DuckDB, mirroring fit_softmax_gd's
    arithmetic expression-for-expression (same parenthesization, same
    floor-snapping, same argmax tie-break)."""
    p = len(feature_sqls)
    lr = float(learning_rate)

    base_cols = ", ".join(
        f"{_duck_xq(e, scale)} AS x{j}" for j, e in enumerate(feature_sqls)
    )
    beta0_cols = ", ".join(
        [f"CAST(0.0 AS DOUBLE) AS b{c}" for c in range(n_classes)]
        + [
            f"CAST(0.0 AS DOUBLE) AS c{c}_{j}"
            for c in range(n_classes)
            for j in range(p)
        ]
    )
    ctes = [
        f"b AS MATERIALIZED (SELECT CAST({row_id_sql} AS BIGINT) AS row_id, "
        f"{base_cols}, CAST({label_sql} AS BIGINT) AS y FROM {table})",
        f"beta0 AS (SELECT {beta0_cols})",
    ]

    def margin_sql(src: str, c: int) -> str:
        m = f"{src}.b{c}"
        for j in range(p):
            t = f"(CAST(x{j} AS DOUBLE) / {float(scale)!r})"
            m = f"({m} + ({src}.c{c}_{j} * {t}))"
        return m

    def prob_sqls(src: str) -> list[str]:
        ms = [margin_sql(src, c) for c in range(n_classes)]
        denom = f"exp({ms[0]})"
        for m in ms[1:]:
            denom = f"({denom} + exp({m}))"
        return [
            f"(floor(exp({m}) / {denom} * {float(GRID)!r} + 0.5) / {float(GRID)!r})"
            for m in ms
        ]

    for k in range(n_steps):
        ps = prob_sqls(f"beta{k}")
        gq_cols = ", ".join(
            f"CAST(floor(({ps[c]} - CASE WHEN y = {c} THEN 1.0 ELSE 0.0 END) "
            f"* {float(GRID)!r} + 0.5) AS BIGINT) AS gq{c}"
            for c in range(n_classes)
        )
        sums = ["CAST(count(*) AS BIGINT) AS n"]
        for c in range(n_classes):
            sums.append(f"SUM(gq{c}) AS sg_{c}")
            for j in range(p):
                sums.append(f"SUM(gq{c} * x{j}) AS sgx_{c}_{j}")
        xs = ", ".join(f"x{j}" for j in range(p))
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT {', '.join(sums)} FROM "
            f"(SELECT y, {xs}, {gq_cols} FROM b CROSS JOIN beta{k}))"
        )
        upd = []
        for c in range(n_classes):
            upd.append(
                f"beta{k}.b{c} - {lr!r} * (s{k}.sg_{c} / (1000000.0 * s{k}.n)) AS b{c}"
            )
        for c in range(n_classes):
            for j in range(p):
                upd.append(
                    f"beta{k}.c{c}_{j} - {lr!r} * (s{k}.sgx_{c}_{j} / "
                    f"(1000000.0 * {scale} * s{k}.n)) AS c{c}_{j}"
                )
        ctes.append(
            f"beta{k + 1} AS MATERIALIZED (SELECT {', '.join(upd)} FROM beta{k} CROSS JOIN s{k})"
        )

    final = f"beta{n_steps}"
    ps = prob_sqls(final)
    prob_cols = ", ".join(
        f"CAST({ps[c]} AS DOUBLE) AS p{c}" for c in range(n_classes)
    )
    # argmax, ties to lowest class: when-chain checked from class 0 down
    pred = str(n_classes - 1)
    for c in range(n_classes - 2, -1, -1):
        cond = " AND ".join(
            f"{ps[c]} >= {ps[k]}" for k in range(c + 1, n_classes)
        )
        pred = f"CASE WHEN {cond} THEN {c} ELSE {pred} END"
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT row_id, {prob_cols}, CAST({pred} AS BIGINT) AS pred "
        f"FROM b CROSS JOIN {final} ORDER BY row_id"
    )


# ---------------------------------------------------------------------------
# pure-Python twin (parity tests)


def fit_softmax_numpy(
    X, y, n_classes: int, n_steps: int = 4, learning_rate: float = 1.0,
    scale: int = 10_000,
):
    """Bit-identical numpy replay of fit_softmax_gd.  Returns (coefs,
    intercepts) with coefs[class][feature]."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.int64)
    n, p = X.shape
    xq = np.floor(X * float(scale) + 0.5).astype(np.int64)
    coefs = [[0.0] * p for _ in range(n_classes)]
    intercepts = [0.0] * n_classes
    lr = float(learning_rate)
    for _ in range(n_steps):
        ms = []
        for c in range(n_classes):
            m = np.full(n, intercepts[c], dtype=np.float64)
            for j in range(p):
                t = xq[:, j].astype(np.float64) / float(scale)
                m = m + coefs[c][j] * t
            ms.append(m)
        denom = np.exp(ms[0])
        for m in ms[1:]:
            denom = denom + np.exp(m)
        new_b, new_c = [], []
        gqs = []
        for c in range(n_classes):
            pc = np.floor(np.exp(ms[c]) / denom * float(GRID) + 0.5) / float(GRID)
            yc = (y == c).astype(np.float64)
            gqs.append(np.floor((pc - yc) * float(GRID) + 0.5).astype(np.int64))
        for c in range(n_classes):
            new_b.append(intercepts[c] - lr * (int(gqs[c].sum()) / (1000000.0 * n)))
            new_c.append(
                [
                    coefs[c][j]
                    - lr * (int((gqs[c] * xq[:, j]).sum()) / (1000000.0 * scale * n))
                    for j in range(p)
                ]
            )
        intercepts, coefs = new_b, new_c
    return coefs, intercepts
