"""Scoring operators: index probe w/ prefix fallback, linear & NN scorers.

Reference: scoring is a generated SQL function `{x}_score_kv()` doing
translated ⟕ kv ON key, with a plpgsql prefix_search on miss
(src/transpiler.py:1054-1099), plus transpiled linear/NN scorers built from
COO joins and matmul-as-join (src/transpiler.py:1603-1835).

Spark design:
- index_score: ONE projection over the scan side.  The index stores its
  populated bin domain as a dense array (operators/index.py), so the
  prediction is `element_at(<array literal>, <mixed-radix bin index> + 1)`:
  no join, no shuffle, no broadcast, one Spark job per query — the
  reference's fitted values burnt into SQL literals (src/transpiler.py:
  1122-1166), fused into one expression.  An index whose domain is too
  large for a literal keeps the chain of broadcast hash joins (kv + one per
  prefix length) and a single coalesce; both paths are map-only.
- linear: dense path = a literal dot-product projection (no join, no
  shuffle); COO path kept for reference parity with sparse one-hot inputs.
- MLP: relational matmul parity path + a Pandas-UDF numpy fast path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.math_fns import relu, sigmoid
from inferdb_spark.operators.binning import BinSpec, apply_bins, key_expr
from inferdb_spark.operators.index import BIN_SUFFIX, KVIndex


def translate(df: DataFrame, specs: list[BinSpec], key_col: str = "key") -> DataFrame:
    """Bin-encode + compound key — the `{x}_translate()` stage
    (src/transpiler.py:1101-1274) as one narrow projection.  Takes an
    index's `specs`, the only part of it the stage reads."""
    enc = apply_bins(df, specs, BIN_SUFFIX)
    return enc.withColumn(key_col, key_expr(specs, BIN_SUFFIX))


def index_score(
    df: DataFrame, index: KVIndex, prediction_col: str = "prediction"
) -> DataFrame:
    """Exact-key probe with prefix fallback: prediction = coalesce(exact,
    prefix_{k-1}, ..., prefix_1, global), the reference's exact match +
    prefix_search (precomputed prefix aggregates replace the per-miss
    rescan loop).  Adds only `prediction_col`.

    With `index.table` set this is one projection over the dense table.
    Otherwise the bin keys are projected and probed through broadcast hash
    joins; their helper columns must not clash with input columns.
    """
    if index.table is not None:
        return df.withColumn(prediction_col, F.expr(index.lookup_sql))
    k = index.depth
    helpers = ["key", "_v_exact"] + [f"prefix_{L}" for L in range(1, k)] + [
        f"_v_p{L}" for L in range(1, k)
    ] + [s.column + BIN_SUFFIX for s in index.specs]
    taken = {c.lower() for c in df.columns}
    clash = [c for c in helpers if c.lower() in taken]
    if clash:
        raise ValueError(f"index_score: input column {clash[0]!r} clashes with a join helper")
    t = translate(df, index.specs)
    out = t.join(F.broadcast(index.kv.withColumnRenamed("value", "_v_exact")), "key", "left")
    fallback_cols: list[Column] = [F.col("_v_exact")]
    for L in range(k - 1, 0, -1):
        pa = index.prefix_aggs[L].withColumnRenamed("value", f"_v_p{L}")
        prefix = key_expr(index.specs[:L], BIN_SUFFIX)
        out = out.withColumn(f"prefix_{L}", prefix).join(
            F.broadcast(pa), f"prefix_{L}", "left"
        )
        fallback_cols.append(F.col(f"_v_p{L}"))
    fallback_cols.append(F.lit(index.global_value))
    out = out.withColumn(prediction_col, F.coalesce(*fallback_cols))
    return out.drop(*helpers)


# ---------------------------------------------------------------------------
# linear / logistic scoring
# ---------------------------------------------------------------------------


def score_linear_dense(
    df: DataFrame,
    feature_cols: list[str],
    coef: list[float],
    intercept: float,
    link: str = "identity",
    prediction_col: str = "prediction",
) -> DataFrame:
    """Dense linear scorer: Σ w_i·f_i + b as ONE projection expression.

    The Spark-optimal translation of the reference's coefficient-table join
    (src/transpiler.py:1603-1694): with dense features there is no reason to
    shuffle — the weights live in the plan as literals (the same way the
    reference burns them into SQL), the stage is map-only and codegen'd.
    """
    z = F.lit(float(intercept))
    for c, w in zip(feature_cols, coef):
        if w != 0.0:
            z = z + F.col(c) * F.lit(float(w))
    if link == "sigmoid":
        z = sigmoid(z)
    return df.withColumn(prediction_col, z)


def sparsify_coo(
    df: DataFrame, feature_cols: list[str], row_id: str = "row_id"
) -> DataFrame:
    """(row_id, col_id, val) with zeros dropped — the reference's sparse
    input relation (src/transpiler.py:1493-1503: unnest WITH ORDINALITY +
    `where u.val != 0`)."""
    arr = F.array(*[F.col(c).cast("double") for c in feature_cols])
    return (
        df.select(F.col(row_id), F.posexplode(arr).alias("col_id", "val"))
        .filter(F.col("val") != 0)
    )


def score_linear_coo(
    coo: DataFrame,
    coef_df: DataFrame,
    intercept: float,
    link: str = "identity",
    row_id: str = "row_id",
    prediction_col: str = "prediction",
) -> DataFrame:
    """COO ⋈ broadcast(coefficients) → groupBy(row) sum — reference parity
    (src/transpiler.py:1623-1629).  coef_df: (col_id INT, coef DOUBLE).

    Rows whose features are all zero drop out of the COO relation; callers
    needing them must re-join against the row spine (intercept-only rows).
    """
    z = (
        coo.join(F.broadcast(coef_df), "col_id")
        .groupBy(row_id)
        .agg((F.sum(F.col("val") * F.col("coef")) + F.lit(float(intercept))).alias("_z"))
    )
    p = sigmoid(F.col("_z")) if link == "sigmoid" else F.col("_z")
    return z.select(F.col(row_id), p.alias(prediction_col))


def score_multiclass_linear(
    df: DataFrame,
    feature_cols: list[str],
    coef_matrix: list[list[float]],
    intercepts: list[float],
    prediction_col: str = "prediction",
) -> DataFrame:
    """Multi-class linear argmax via max_by over a per-class score array —
    the reference's RANK()=1 window (src/transpiler.py:1652-1663) without
    the shuffle a window would cost: scores for all classes are computed in
    one projection, argmax with lowest-class tiebreak via array sort."""
    scores = []
    for cls, (ws, b) in enumerate(zip(coef_matrix, intercepts)):
        z = F.lit(float(b))
        for c, w in zip(feature_cols, ws):
            if w != 0.0:
                z = z + F.col(c) * F.lit(float(w))
        scores.append(F.struct(z.alias("score"), F.lit(cls).alias("cls")))
    # max over structs: (score, cls) lexicographic — ties pick HIGHEST cls;
    # negate cls for lowest-class tiebreak, then flip back
    best = F.array_max(
        F.array(
            *[
                F.struct(s["score"].alias("score"), (-s["cls"]).alias("negcls"))
                for s in scores
            ]
        )
    )
    return df.withColumn(prediction_col, (-best["negcls"]).cast("int"))


# ---------------------------------------------------------------------------
# MLP scoring
# ---------------------------------------------------------------------------


def score_mlp_relational(
    coo: DataFrame,
    weights: list[list[list[float]]],
    biases: list[list[float]],
    activation: str = "relu",
    out_link: str = "sigmoid",
    row_id: str = "row_id",
    prediction_col: str = "prediction",
) -> DataFrame:
    """NN layers as relational matmul — parity with the reference's
    nn-as-join transpilation (src/transpiler.py:1733-1835,
    sql_scripts/nn_inference.sql:14-47).

    weights[l] is [in_dim][out_dim].  Each layer: COO ⋈ broadcast(W_l) on
    the input index, groupBy (row, out_col) sum, + bias, activation.  The
    weight relations are tiny → broadcast; the only shuffles are the
    per-layer groupBys on (row_id, col) — acceptable for the parity demo;
    use score_mlp_pandas for the fast path.
    """
    spark = coo.sparkSession
    cur = coo
    n_layers = len(weights)
    for layer, (W, b) in enumerate(zip(weights, biases)):
        w_rows = [
            (i, j, float(W[i][j])) for i in range(len(W)) for j in range(len(W[i]))
            if W[i][j] != 0.0
        ]
        w_df = spark.createDataFrame(w_rows, "in_id int, out_id int, w double")
        b_df = spark.createDataFrame(
            [(j, float(v)) for j, v in enumerate(b)], "out_id int, bias double"
        )
        z = (
            cur.join(F.broadcast(w_df), cur["col_id"] == w_df["in_id"])
            .groupBy(row_id, "out_id")
            .agg(F.sum(F.col("val") * F.col("w")).alias("z"))
            .join(F.broadcast(b_df), "out_id")
            .select(
                F.col(row_id),
                F.col("out_id").alias("col_id"),
                (F.col("z") + F.col("bias")).alias("val"),
            )
        )
        last = layer == n_layers - 1
        if not last:
            act = relu(F.col("val")) if activation == "relu" else sigmoid(F.col("val"))
            z = z.withColumn("val", act)
        cur = z
    out = cur
    if out_link == "sigmoid":
        out = out.withColumn("val", sigmoid(F.col("val")))
    if len(biases[-1]) == 1:
        return out.select(F.col(row_id), F.col("val").alias(prediction_col))
    # multi-class: argmax with lowest-class tiebreak
    return out.groupBy(row_id).agg(
        F.max_by(
            F.col("col_id"), F.struct(F.col("val"), -F.col("col_id"))
        ).alias(prediction_col)
    )


def score_mlp_pandas(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[list[list[float]]],
    biases: list[list[float]],
    activation: str = "relu",
    out_link: str = "sigmoid",
    prediction_col: str = "prediction",
) -> DataFrame:
    """Arrow-batched numpy MLP forward pass — the production path.

    One mapInPandas projection: no shuffle, weights ship once per task in
    the closure.  ~10-100× the row-at-a-time UDF and beats the relational
    matmul for ≥2 layers (SURVEY.md §2.3 J5 note).
    """
    import numpy as np
    from pyspark.sql import types as T

    Ws = [np.asarray(w, dtype=np.float64) for w in weights]
    bs = [np.asarray(b, dtype=np.float64) for b in biases]
    cols = list(feature_cols)
    multi = len(bs[-1]) > 1
    out_field = T.StructField(
        prediction_col, T.IntegerType() if multi else T.DoubleType()
    )
    schema = T.StructType(list(df.schema.fields) + [out_field])

    def forward(batches):
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype=np.float64)
            for li, (W, b) in enumerate(zip(Ws, bs)):
                X = X @ W + b
                if li < len(Ws) - 1:
                    X = np.maximum(X, 0.0) if activation == "relu" else 1.0 / (
                        1.0 + np.exp(-X)
                    )
            if out_link == "sigmoid" and not multi:
                X = 1.0 / (1.0 + np.exp(-X))
            pdf = pdf.copy()
            pdf[prediction_col] = X.argmax(axis=1) if multi else X[:, 0]
            yield pdf

    return df.mapInPandas(forward, schema=schema)
