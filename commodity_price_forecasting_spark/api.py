"""User-facing facade: the reference's complete serving workflow
(app.py ``main()``, SURVEY.md §3 E3) as one importable API, so a
reference user can switch engines by swapping
``streamlit run app.py`` for three calls:

    from commodity_price_forecasting_spark import api
    df, features, targets = api.load_data(spark, "df_transformed.csv")
    ens = api.run_ensemble(df, features, targets[0])
    signal = api.trade_suggestion(spark, ens, features, targets[0], df=df)

Every stage is the already-tested engine machinery; this module only
composes it with the reference's exact defaults (threshold 0.6, min
confidence 0.6 — app.py:218-228).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from commodity_price_forecasting_spark.ml.ensemble import (
    EnsembleResult,
    run_ensemble as _run_ensemble,
)
from commodity_price_forecasting_spark.ml.serving import (
    default_inputs,
    predict_signal,
)
from commodity_price_forecasting_spark.sources.validation import (
    validate_serving_frame,
)

#: deployed defaults (app.py:218-228, 593-598)
SIGNAL_THRESHOLD = 0.6
MIN_CONFIDENCE = 0.6


def load_data(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[str], list[str]]:
    """The reference's ``load_data()`` (app.py:92-112): CSV scan with
    header + inferred schema, validated (non-empty, has features and
    spread targets), columns classified by the ' - ' name convention.
    Returns ``(df, feature_cols, target_cols)``."""
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return validate_serving_frame(df)


def run_ensemble(
    df: DataFrame,
    feature_cols: list[str],
    target: str,
    eval_df: DataFrame | None = None,
) -> EnsembleResult:
    """The reference's ``run_ensemble`` (app.py:115-148): fit
    Linear + Ridge(α=1, sklearn-objective-exact) + RF(100, seed 42)
    on the full frame, score in-sample (pass ``eval_df`` for the
    statistically-correct held-out variant), weight by
    max(R², 0.001) normalized."""
    return _run_ensemble(df.na.drop(subset=[target]), feature_cols, target, eval_df=eval_df)


def trade_suggestion(
    spark: SparkSession,
    ens: EnsembleResult,
    feature_cols: list[str],
    target: str,
    inputs: dict | None = None,
    df: DataFrame | None = None,
    threshold: float = SIGNAL_THRESHOLD,
    min_confidence: float = MIN_CONFIDENCE,
) -> DataFrame:
    """The reference's signal path (app.py:159-189, 279-296): score
    ``inputs`` (defaults to the latest observed feature values when
    ``df`` is given — app.py:242) through the fitted ensemble and
    apply the threshold/confidence rules. One-row DataFrame with
    prediction, signal, confidence, strength, timestamp."""
    if inputs is None:
        if df is None:
            raise ValueError("provide `inputs` or `df` to derive defaults from")
        inputs = default_inputs(df, feature_cols)
    return predict_signal(
        spark,
        ens,
        feature_cols,
        target,
        inputs,
        threshold=threshold,
        min_confidence=min_confidence,
    )
