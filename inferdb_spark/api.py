"""High-level pipeline API — the analog of the reference's entry points
(`Standalone(...)` / `InferDB(...)` constructors + `create_report*`,
src/transpiler.py:2999-3320, 1392-1448).

`fit_index_pipeline` is the full flagship flow: fit target-aware bins for
all numeric features at once, greedy-select index features by IV from one
collected key-count table, build the kv index (+ prefix aggregates), and
return a scorer.  `standalone_report` additionally fits an
MLlib baseline model and emits the reference-style comparison row: metrics
for model vs index, build runtimes, artifact sizes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.operators.binning import BinSpec, apply_bins, fit_categorical_bins, fit_supervised_bins
from inferdb_spark.operators.index import KVIndex, build_index, index_size_info
from inferdb_spark.operators.iv import greedy_select
from inferdb_spark.operators.metrics import binary_classification_report, rmsle
from inferdb_spark.operators.scoring import index_score


@dataclass
class IndexPipeline:
    index: KVIndex
    specs_all: list[BinSpec]
    task: str
    target: str
    timings: dict[str, float] = field(default_factory=dict)

    def score(self, df: DataFrame, prediction_col: str = "prediction") -> DataFrame:
        return index_score(df, self.index, prediction_col)


def fit_index_pipeline(
    train: DataFrame,
    numeric_features: list[str],
    target: str,
    task: str = "regression",
    categorical_features: list[str] | None = None,
    max_bins: int = 8,
    agg_mode: str = "keys",
) -> IndexPipeline:
    """encode → select → build, with per-stage wall times (the reference
    reports encoding/solution/index-build runtimes, src/transpiler.py:
    3310-3316).  Raises ValueError when no feature is given."""
    timings: dict[str, float] = {}
    t0 = time.perf_counter()
    specs = fit_supervised_bins(train, numeric_features, target, max_bins=max_bins)
    for c in categorical_features or []:
        specs.append(fit_categorical_bins(train, c, target, max_groups=max_bins))
    timings["encode_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    selected = greedy_select(apply_bins(train, specs), specs, target, task=task)
    timings["solution_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    index = build_index(train, selected, target, task=task, agg_mode=agg_mode)
    timings["index_build_s"] = time.perf_counter() - t0
    return IndexPipeline(
        index=index, specs_all=specs, task=task, target=target, timings=timings
    )


def standalone_report(
    train: DataFrame,
    test: DataFrame,
    numeric_features: list[str],
    target: str,
    task: str = "regression",
    model_algorithm: str | None = None,
) -> DataFrame:
    """Model-vs-index comparison report (the reference's create_report,
    src/transpiler.py:3295-3320): one row per method with error metric,
    scoring runtime, and artifact size proxy."""
    from inferdb_spark.mllib_bridge import fit_predict_mllib

    spark = train.sparkSession
    pipe = fit_index_pipeline(train, numeric_features, target, task=task)

    rows = []

    t0 = time.perf_counter()
    idx_scored = pipe.score(test).withColumn("label", F.col(target))
    if task == "regression":
        idx_metric = float(rmsle(idx_scored).first()["rmsle"])
        metric_name = "rmsle"
    else:
        idx_metric = float(
            binary_classification_report(idx_scored).first()["accuracy"]
        )
        metric_name = "accuracy"
    idx_runtime = time.perf_counter() - t0
    info = index_size_info(pipe.index)
    rows.append(
        (
            "index",
            metric_name,
            idx_metric,
            idx_runtime,
            float(info["stored_paths"]),
            pipe.timings["encode_s"],
            pipe.timings["solution_s"],
            pipe.timings["index_build_s"],
        )
    )

    algo = model_algorithm or (
        "linear_regression" if task == "regression" else "logistic_regression"
    )
    t0 = time.perf_counter()
    m_scored = fit_predict_mllib(train, test, numeric_features, target, algo)
    fit_time = time.perf_counter() - t0
    t0 = time.perf_counter()
    m_scored = m_scored.withColumn("label", F.col(target))
    if task == "regression":
        pred_ok = m_scored.withColumn(
            "prediction", F.greatest(F.col("prediction"), F.lit(0.0))
        )
        m_metric = float(rmsle(pred_ok).first()["rmsle"])
    else:
        m_metric = float(binary_classification_report(m_scored).first()["accuracy"])
    m_runtime = time.perf_counter() - t0
    rows.append(("model:" + algo, metric_name, m_metric, m_runtime, 0.0, fit_time, 0.0, 0.0))

    return spark.createDataFrame(
        rows,
        "method string, metric string, value double, score_runtime_s double, "
        "size_proxy double, encode_s double, solution_s double, build_s double",
    )


def register_pipeline_views(
    spark: SparkSession,
    pipe: IndexPipeline,
    df: DataFrame,
    prefix: str = "demo",
) -> list[str]:
    """Expose the scoring pipeline's stages as SQL temp views, mirroring
    the reference's per-stage materialized views (`{x}_translated`,
    `{x}_scored` — src/transpiler.py:1261-1274, 1077-1088) so SQL-surface
    users can SELECT from any stage or join predictions relationally
    (the query-integration pattern).  Views are lazy plans, not copies;
    add .cache() on a stage to pin it like the reference's ANALYZE'd
    materialized views."""
    from inferdb_spark.operators.scoring import translate

    names = []
    stages = {
        f"{prefix}_input": df,
        f"{prefix}_translated": translate(df, pipe.index.specs),
        f"{prefix}_scored": pipe.score(df),
    }
    for name, stage_df in stages.items():
        stage_df.createOrReplaceTempView(name)
        names.append(name)
    return names
