"""Math scalar functions.

Each reference plpgsql/SQL UDF becomes a pure Column expression — JVM-side,
whole-stage-codegen'd, zero Python in the hot path.

Reference parity notes (cited file:line are in /root/reference):
- crazy_exp: sql_scripts/crazy_exp.sql:1-20 (clamped exp; <0 -> 0, input
  capped at 700 to avoid overflow; reference also caps 6000-batch variant).
- sigmoid: src/transpiler.py:1612,1646; sql_scripts/nn_inference.sql:27,43.
- relu: GREATEST(0, x) — src/transpiler.py:1741-1743,1794.
- WoE safe division + 0.5 adjustment: src/optimizer.py:53,61-71.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sigmoid(x: ColumnOrName) -> Column:
    x = _c(x)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def relu(x: ColumnOrName) -> Column:
    return F.greatest(F.lit(0.0), _c(x))


def crazy_exp(x: ColumnOrName, cap: float = 700.0) -> Column:
    """Overflow-safe exp: negative -> 0, argument clamped at `cap`.

    Exact replica of the reference's crazy_exp (sql_scripts/crazy_exp.sql):
    the clamp is correctness-relevant for transpiled logistic scores.
    """
    x = _c(x)
    return (
        F.when(x < 0, F.lit(0.0))
        .when(x < cap, F.exp(x))
        .otherwise(F.exp(F.lit(float(cap))))
    )


def safe_div(num: ColumnOrName, den: ColumnOrName, default: float = 0.0) -> Column:
    """n/d with d==0 -> default (src/optimizer.py:61-71 pattern)."""
    num, den = _c(num), _c(den)
    return F.when(den != 0, num / den).otherwise(F.lit(default))


def ln1p_compat(x: ColumnOrName) -> Column:
    """ln(1+x) computed literally (NOT log1p).

    The reference's SQL metrics compute ln(p+1) (sql_scripts/lr_reg_test.sql
    :17-20); `F.log1p` is a numerically different function and produces
    different ULPs than DuckDB's ln(1+x) oracle — use the literal form.
    """
    return F.log(F.lit(1.0) + _c(x))
