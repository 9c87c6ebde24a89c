"""MLlib bridge — the analog of the reference's in-database training paths.

The reference benchmarks PGML (`pgml.train/predict_batch`,
src/transpiler.py:2032-2124) and Apache MADlib (`mlp_*`, `tree_*`,
`logregr_*`, `linregr_*`, src/transpiler.py:2338-2753) as in-DB training
engines.  On Spark the idiomatic equivalent is MLlib: fit on a DataFrame,
score with `model.transform`.  A fitted linear model's coefficients
score without MLlib through `operators.scoring.score_linear_dense`, the
Spark twin of the reference's model→SQL codegen (src/transpiler.py:
1529-1694).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# --- estimator zoo (the MADlib/PGML model matrix, src/transpiler.py:2382-2753)


def fit_predict_mllib(
    train: DataFrame,
    test: DataFrame,
    feature_cols: list[str],
    label: str,
    algorithm: str,
    prediction_col: str = "prediction",
    **kw,
) -> DataFrame:
    """Train `algorithm` on `train`, return `test` + prediction column.

    Algorithms mirror the reference's model set: linear/logistic regression,
    decision tree, random forest, GBT (the xgboost/lightgbm stand-in), MLP,
    kmeans, naive bayes.
    """
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        GBTClassifier,
        LogisticRegression,
        MultilayerPerceptronClassifier,
        NaiveBayes,
        RandomForestClassifier,
    )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        LinearRegression,
        RandomForestRegressor,
    )

    zoo = {
        "linear_regression": LinearRegression,
        "logistic_regression": LogisticRegression,
        "dt_classifier": DecisionTreeClassifier,
        "dt_regressor": DecisionTreeRegressor,
        "rf_classifier": RandomForestClassifier,
        "rf_regressor": RandomForestRegressor,
        "gbt_classifier": GBTClassifier,
        "gbt_regressor": GBTRegressor,
        "mlp_classifier": MultilayerPerceptronClassifier,
        "naive_bayes": NaiveBayes,
        "kmeans": KMeans,
    }
    if algorithm not in zoo:
        raise ValueError(f"unknown algorithm {algorithm!r}; choose from {sorted(zoo)}")
    cls = zoo[algorithm]
    kwargs = dict(featuresCol="_features", predictionCol=prediction_col, **kw)
    if algorithm not in ("kmeans",):
        kwargs["labelCol"] = label
    assemble = VectorAssembler(inputCols=feature_cols, outputCol="_features")
    model = cls(**kwargs).fit(assemble.transform(train))
    scored = model.transform(assemble.transform(test))
    return scored.drop("_features", "rawPrediction", "probability")
