"""Metric expressions (SURVEY.md §2.9 M7–M8) as plain aggregates.

MAE/RMSE/R² exist in MLlib's RegressionEvaluator; directional
accuracy and SMAPE (reference: README.md:44-46) do not — they
are one-line aggregate expressions here, computable over any
``(label, prediction)`` DataFrame in a single map-side-combinable
pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mae(label: Column, pred: Column) -> Column:
    return F.avg(F.abs(label - pred))


def rmse(label: Column, pred: Column) -> Column:
    return F.sqrt(F.avg(F.pow(label - pred, 2)))


def r2(label: Column, pred: Column) -> Column:
    """R² from sufficient statistics — all plain aggregates, so the
    whole expression stays in one map-side-combinable pass:
    ``1 - SS_res / (Σy² - (Σy)²/n)``."""
    ss_res = F.sum(F.pow(label - pred, 2))
    ss_tot = F.sum(F.pow(label, 2)) - F.pow(F.sum(label), 2) / F.count(label)
    return 1 - ss_res / ss_tot


def directional_accuracy(label: Column, pred: Column) -> Column:
    """share of rows where sign(pred) == sign(label)."""
    return F.avg((F.signum(pred) == F.signum(label)).cast("double"))


def smape(label: Column, pred: Column) -> Column:
    return F.avg(2 * F.abs(pred - label) / (F.abs(pred) + F.abs(label)))


METRICS = ("n", "mae", "rmse", "r2", "dir_acc", "smape")


def regression_metrics(df: DataFrame, label_col: str, pred_col: str | list[str]) -> DataFrame:
    """All reference metrics in one aggregate pass; R² computed from
    sufficient statistics (no window needed). One prediction column
    gives the columns ``METRICS``; a list of them gives
    ``<pred_col>_<metric>`` for each, still in one pass."""
    many = not isinstance(pred_col, str)
    preds = list(pred_col) if many else [pred_col]
    y = F.col(label_col)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pow(y, 2)).alias("_ss_y"),
        F.sum(y).alias("_sum_y"),
    ]
    for i, c in enumerate(preds):
        p = F.col(c)
        aggs += [
            mae(y, p).alias(f"_mae{i}"),
            rmse(y, p).alias(f"_rmse{i}"),
            F.sum(F.pow(y - p, 2)).alias(f"_ss_res{i}"),
            directional_accuracy(y, p).alias(f"_dir_acc{i}"),
            smape(y, p).alias(f"_smape{i}"),
        ]
    ss_tot = F.col("_ss_y") - F.pow(F.col("_sum_y"), 2) / F.col("n")
    out = []
    for i, c in enumerate(preds):
        cols = {
            "n": F.col("n"),
            "mae": F.col(f"_mae{i}"),
            "rmse": F.col(f"_rmse{i}"),
            "r2": 1 - F.col(f"_ss_res{i}") / ss_tot,
            "dir_acc": F.col(f"_dir_acc{i}"),
            "smape": F.col(f"_smape{i}"),
        }
        out += [cols[k].alias(f"{c}_{k}" if many else k) for k in METRICS]
    return df.agg(*aggs).select(*out)
