"""Model-agnostic feature attribution (SURVEY.md §2.9 M12/M13).

The reference ships RandomForest impurity importances (app.py:566-582)
— covered by ``EnsembleResult.feature_importances`` — and a SHAP
analysis notebook (README.md:53, notebook missing, shap not in this
container). The engine's stand-in is **permutation importance**: the
metric degradation when one feature's values are decoupled from the
rows. Fully distributed and deterministic:

- the "permutation" is a rotation by ``n//2 + 1`` positions over a
  deterministic row numbering — a valid derangement-like permutation
  with no RNG, so results are reproducible across runs/engines;
- each feature costs one join + one model.transform + one aggregate
  over the eval frame; nothing is collected but K scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commodity_price_forecasting_spark.functions.stats import regression_metrics


def _rotated(df: DataFrame, col: str, order_col: str) -> DataFrame:
    """Replace ``col`` with the value from the row ``n//2 + 1``
    positions later (cyclically) in ``order_col`` order.

    Scale note: the global row numbering is a single-partition window
    — fine for evaluation frames (they are sampled/bounded in any
    importance protocol); for full-corpus attribution, rotate within
    a partition key instead (pass a composite order_col)."""
    n = df.count()
    shift = n // 2 + 1
    w = Window.orderBy(order_col)
    base = df.withColumn("_rn", F.row_number().over(w))
    donor = base.select(
        ((F.col("_rn") - 1 + shift) % n + 1).alias("_rn_from"),
        F.col(col).alias("_donated"),
    )
    return (
        base.join(donor, base["_rn"] == donor["_rn_from"], "inner")
        .drop(col, "_rn", "_rn_from")
        .withColumnRenamed("_donated", col)
    )


def permutation_importance(
    model,
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    id_col: str = "_row_id",
) -> list[tuple[str, float]]:
    """``[(feature, importance)]`` sorted descending, where importance
    = rmse(permuted) − rmse(baseline) (higher = more important).
    ``model`` is a fitted PipelineModel whose assembler consumes
    ``feature_cols``."""
    df = df.cache()
    base_row = regression_metrics(
        model.transform(df), label_col, "prediction"
    ).first()
    baseline = base_row["rmse"]
    out = []
    for c in feature_cols:
        scored = model.transform(_rotated(df, c, id_col))
        m = regression_metrics(scored, label_col, "prediction").first()["rmse"]
        out.append((c, float(m - baseline)))
    return sorted(out, key=lambda t: -t[1])


def linear_shap(
    df: DataFrame,
    feature_cols: list[str],
    coefficients: dict[str, float],
    intercept: float,
) -> DataFrame:
    """Exact SHAP values for a LINEAR model (Lundberg & Lee 2017,
    "Linear SHAP": under feature independence the Shapley value of
    feature j at instance x is closed-form, φⱼ = βⱼ·(xⱼ − E[xⱼ]))
    — the true-SHAP path for the reference's missing SHAP notebook
    (README.md:53); permutation_importance above remains the
    model-agnostic stand-in for non-linear models.

    Adds one ``phi_<col>`` column per feature plus ``base_value``
    (= E[f(X)] = intercept + Σ βⱼ·E[xⱼ]), all as pure column
    expressions (one aggregate for the means, no Python in the row
    path; additivity base_value + Σφⱼ = prediction holds exactly).
    """
    row = df.agg(*[F.avg(c).alias(c) for c in feature_cols]).first()
    means = {c: float(row[c]) for c in feature_cols}
    base = float(intercept) + sum(
        float(coefficients[c]) * means[c] for c in feature_cols
    )
    out = df
    for c in feature_cols:
        out = out.withColumn(
            f"phi_{c}", F.lit(float(coefficients[c])) * (F.col(c) - F.lit(means[c]))
        )
    return out.withColumn("base_value", F.lit(base))
