"""Decision-tree and GBT scoring transpiled to relational expressions.

The reference keeps tree models inside the database via MADlib
(`madlib.tree_train` / `madlib.tree_predict`, src/transpiler.py:2382-2499)
and XGBoost-in-PG (src/transpiler.py:2500-2753); its own transpiler covers
only linear/MLP models.  Here trees get the same treatment the reference
gives LR/MLP: the fitted model is *burned into the plan* as a nested
CASE WHEN chain — zero join, zero UDF, fully codegen'd, and embarrassingly
parallel over a 100 TB scan.  A GBT ensemble is the sum of its trees'
expressions (one projection), optionally through a sigmoid link.

Node encoding (plain dicts, JSON-serializable — the model artifact):
    leaf:  {"value": float}
    split: {"feature": str, "threshold": float, "left": node, "right": node}
Split semantics: `feature <= threshold` routes LEFT, NULL routes LEFT
(MLlib's continuous-split convention; pinned identically in the SQL
dialect so both engines agree on every row).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

Node = dict[str, Any]


def tree_to_expression(node: Node) -> Column:
    """Nested F.when chain for one tree: the Spark analog of the
    reference's generated CASE WHEN SQL (src/transpiler.py:1122-1166)."""
    if "value" in node:
        return F.lit(float(node["value"]))
    c = F.col(node["feature"]).cast("double")
    # NULL and NaN route LEFT explicitly: `NULL <= t` is NULL (falsy) and
    # Spark/DuckDB order NaN above every value (`NaN <= t` false), so
    # without the guard both would silently fall to the right branch —
    # contradicting the hist-GBT trainer, which bins NULL/NaN to bin 0
    # (left).  Engine-independent and fit/score-consistent.
    go_left = (
        c.isNull() | F.isnan(c) | (c <= F.lit(float(node["threshold"])))
    )
    return F.when(go_left, tree_to_expression(node["left"])).otherwise(
        tree_to_expression(node["right"])
    )


def tree_to_sql(node: Node) -> str:
    """The identical tree as ANSI SQL — the oracle twin of
    tree_to_expression (shared-literal rule: one Python structure feeds
    both dialects)."""
    if "value" in node:
        return repr(float(node["value"]))
    f, t = node["feature"], float(node["threshold"])
    return (
        f"CASE WHEN {f} IS NULL OR isnan(CAST({f} AS DOUBLE)) "
        f"OR {f} <= {t!r} "
        f"THEN {tree_to_sql(node['left'])} "
        f"ELSE {tree_to_sql(node['right'])} END"
    )


def gbt_expression(
    trees: list[Node],
    weights: list[float] | None = None,
    base: float = 0.0,
    link: str | None = None,
) -> Column:
    """GBT ensemble score: base + Σ w_i · tree_i(x), one flat projection.
    link='sigmoid' for the classification margin → probability map."""
    w = weights or [1.0] * len(trees)
    z = F.lit(float(base))
    for tree, wi in zip(trees, w):
        z = z + F.lit(float(wi)) * tree_to_expression(tree)
    if link == "sigmoid":
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return z


def gbt_sql(
    trees: list[Node],
    weights: list[float] | None = None,
    base: float = 0.0,
    link: str | None = None,
) -> str:
    w = weights or [1.0] * len(trees)
    terms = " + ".join(f"{wi!r} * ({tree_to_sql(t)})" for t, wi in zip(trees, w))
    z = f"({base!r} + {terms})"
    if link == "sigmoid":
        return f"(1.0 / (1.0 + exp(-{z})))"
    return z


def tree_depth(node: Node) -> int:
    if "value" in node:
        return 0
    return 1 + max(tree_depth(node["left"]), tree_depth(node["right"]))


def tree_n_leaves(node: Node) -> int:
    if "value" in node:
        return 1
    return tree_n_leaves(node["left"]) + tree_n_leaves(node["right"])


def from_mllib(model, feature_cols: list[str]) -> Node:
    """Extract the Node structure from a fitted MLlib DecisionTree model
    (the in-DB-training bridge: MLlib plays MADlib's role, then the fitted
    tree is transpiled out of the ML runtime into a plan expression).

    Only continuous splits are supported (categorical splits in MLlib
    carry a category set; the engine one-hot-encodes categoricals before
    tree fit, so they never reach here).
    """
    jroot = model._java_obj.rootNode()
    return _convert_java_node(jroot, feature_cols)


def _convert_java_node(jnode, feature_cols: list[str]) -> Node:
    cls = jnode.getClass().getSimpleName()
    if "LeafNode" in cls:
        return {"value": float(jnode.prediction())}
    split = jnode.split()
    scls = split.getClass().getSimpleName()
    if "ContinuousSplit" not in scls:
        raise ValueError(
            f"categorical split on feature {split.featureIndex()}; "
            "one-hot encode categoricals before tree fit"
        )
    return {
        "feature": feature_cols[split.featureIndex()],
        "threshold": float(split.threshold()),
        "left": _convert_java_node(jnode.leftChild(), feature_cols),
        "right": _convert_java_node(jnode.rightChild(), feature_cols),
    }


def from_mllib_gbt(model, feature_cols: list[str]) -> tuple[list[Node], list[float]]:
    """Extract (trees, weights) from a fitted MLlib GBTRegressor/
    GBTClassifier model for gbt_expression scoring."""
    trees = [from_mllib(t, feature_cols) for t in model.trees]
    weights = [float(w) for w in model.treeWeights]
    return trees, weights
