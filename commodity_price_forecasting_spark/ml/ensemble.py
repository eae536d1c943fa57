"""Weighted model ensemble on MLlib (SURVEY.md §2.9 M1–M8, M12).

Reproduces the reference's ``run_ensemble`` semantics
(app.py:115-148): fit LinearRegression + Ridge(α=1.0) +
RandomForest(100 trees, seed 42) on the FULL dataset, score
IN-SAMPLE (deliberate reference fidelity — app.py:129-133), weight
each model by ``max(R², 0.001)`` normalized (app.py:137-140), and
predict the weighted average. Also provides the unweighted top-3 mean
(the app's comparison ensemble) and held-out mode (the statistically
correct variant) — parity defaults to in-sample.

Spark design: each estimator is an MLlib Pipeline
(VectorAssembler → model); the fitted pipelines' ``transform``s are
chained over one frame, each adding its ``pred_<name>`` column, and
the ensemble is a column expression Σ wᵢ·predᵢ — the data never
leaves the cluster; only K weights come to the driver. Metrics take
two aggregate passes: every model and the unweighted mean in one, the
weighted ensemble (whose weights need the first) in the other. The
deployed forest fits with MLlib's node-id cache (``cacheNodeIds``),
which speeds up deep trees and leaves the trees unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.functions.stats import METRICS, regression_metrics

WEIGHT_FLOOR = 0.001  # app.py:137


def default_models(
    n_rows: int | None = None,
    label_std: float | None = None,
) -> dict[str, object]:
    """The deployed trio (app.py:120-123).

    Objective-scaling parity: sklearn ``Ridge(alpha=1.0)`` minimizes
    ``RSS + alpha*||w||²``; MLlib minimizes
    ``RSS/(2n) + regParam*||w||²/2`` (elasticNetParam=0), scales the
    internal objective by the population label std, and standardizes
    features inside the penalty by default — so the exact equivalent
    is ``regParam = alpha * label_std / n_rows`` with
    ``standardization=False`` (verified to machine precision against
    the numpy closed form in tests/test_ml.py). Without
    n_rows/label_std we fall back to regParam=alpha (fine for
    ranking, wrong for exact parity)."""
    reg = (label_std or 1.0) / n_rows if n_rows else 1.0  # alpha = 1
    return {
        "linear": LinearRegression(featuresCol="features", labelCol="label"),
        "ridge": LinearRegression(
            featuresCol="features",
            labelCol="label",
            regParam=reg,
            elasticNetParam=0.0,
            standardization=False,
        ),
        # sklearn RandomForestRegressor defaults: unlimited depth,
        # max_features=1.0 (all), bootstrap — MLlib's defaults
        # (maxDepth=5, onethird features) underfit badly vs the
        # reference; maxDepth=20 covers any node count the reference's
        # frames can produce (2^20 ≫ rows). cacheNodeIds keeps each
        # row's node per tree between levels instead of re-walking the
        # trees from the root (MLlib's speed-up for deep trees); the
        # fitted forest is the same.
        "random_forest": RandomForestRegressor(
            featuresCol="features",
            labelCol="label",
            numTrees=100,
            seed=42,
            maxDepth=20,
            featureSubsetStrategy="all",
            cacheNodeIds=True,
        ),
    }


@dataclass
class EnsembleResult:
    predictions: DataFrame            # _row_id, label, pred_<name>..., pred_ensemble, pred_mean
    model_metrics: dict[str, dict]    # per-model {n, mae, rmse, r2, dir_acc, smape}
    weights: dict[str, float]
    ensemble_metrics: dict = field(default_factory=dict)
    mean_metrics: dict = field(default_factory=dict)
    feature_importances: dict[str, list] = field(default_factory=dict)
    fitted: dict[str, object] = field(default_factory=dict)  # name -> PipelineModel
    # ml.serving's response plan for ``fitted``, built on the first
    # request and reused for every later one; it lives as long as the
    # fitted models it scores with (two racing first requests each
    # build one, and either is valid)
    _response_plan: object = field(default=None, init=False, repr=False, compare=False)

    @property
    def avg_r2(self) -> float:
        """Mean in-sample R² across models (app.py:143's avg_r2)."""
        vals = [m["r2"] for m in self.model_metrics.values()]
        return sum(vals) / len(vals)


def _metrics(df: DataFrame, pred_cols: list[str]) -> dict[str, dict]:
    """``pred_col -> {n, mae, rmse, r2, dir_acc, smape}`` for every
    column in ``pred_cols``, from one aggregate pass."""
    row = regression_metrics(df, "label", pred_cols).first()
    return {c: {k: row[f"{c}_{k}"] for k in METRICS} for c in pred_cols}


def run_ensemble(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    models: dict[str, object] | None = None,
    eval_df: DataFrame | None = None,
) -> EnsembleResult:
    """Fit every model on ``df``; evaluate on ``eval_df`` (defaults to
    ``df`` = the reference's in-sample protocol); weighted + mean
    ensembles as column expressions."""
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")

    base = df.select(
        F.monotonically_increasing_id().alias("_row_id"),
        F.col(label_col).alias("label"),
        *feature_cols,
    ).cache()
    if models is None:
        # one aggregate materializes the cache and supplies (n, σ_y)
        # for the sklearn-equivalent ridge penalty scaling.
        stats = base.agg(
            F.count(F.lit(1)).alias("n"), F.stddev_pop("label").alias("sy")
        ).first()
        models = default_models(n_rows=stats["n"], label_std=stats["sy"])
    eval_base = (
        base
        if eval_df is None
        else eval_df.select(
            F.monotonically_increasing_id().alias("_row_id"),
            F.col(label_col).alias("label"),
            *feature_cols,
        ).cache()
    )

    preds = eval_base.select("_row_id", "label", *feature_cols)
    importances: dict[str, list] = {}
    fitted = {}
    for name, est in models.items():
        pipe = Pipeline(stages=[assembler, est])
        m = pipe.fit(base)
        fitted[name] = m
        scored = m.transform(preds)
        preds = scored.drop("features").withColumnRenamed("prediction", f"pred_{name}")
        last = m.stages[-1]
        if hasattr(last, "featureImportances"):
            importances[name] = [
                (feature_cols[i], float(v))
                for i, v in zip(
                    last.featureImportances.indices, last.featureImportances.values
                )
            ]

    # Two metric passes: every model and the unweighted mean in one,
    # then the weighted ensemble, whose weights need the first.
    mean_expr = sum(F.col(f"pred_{n}") for n in models) / F.lit(float(len(models)))
    preds = preds.withColumn("pred_mean", mean_expr)
    first = _metrics(preds, [f"pred_{n}" for n in models] + ["pred_mean"])
    model_metrics = {n: first[f"pred_{n}"] for n in models}

    # R²-weighted ensemble (app.py:137-142): floor, normalize, dot.
    raw = {n: max(model_metrics[n]["r2"], WEIGHT_FLOOR) for n in models}
    total = sum(raw.values())
    weights = {n: w / total for n, w in raw.items()}
    w_expr = sum(F.col(f"pred_{n}") * F.lit(w) for n, w in weights.items())
    preds = preds.withColumn("pred_ensemble", w_expr)

    return EnsembleResult(
        predictions=preds.select(
            "_row_id", "label", *[f"pred_{n}" for n in models], "pred_ensemble", "pred_mean"
        ),
        model_metrics=model_metrics,
        weights=weights,
        ensemble_metrics=_metrics(preds, ["pred_ensemble"])["pred_ensemble"],
        mean_metrics=first["pred_mean"],
        feature_importances=importances,
        fitted=fitted,
    )


def gbt_model() -> GBTRegressor:
    """GradientBoosting variant (README.md:34, slides 15/20) — not in
    the deployed trio but part of the evaluated surface (M3)."""
    return GBTRegressor(featuresCol="features", labelCol="label", maxIter=50, seed=42)
