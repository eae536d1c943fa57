"""Walk-forward (expanding-window) evaluation (SURVEY.md §2.9 M9).

The reference evaluates with walk-forward splits (README.md:36;
``TimeSeriesSplit`` import MC:34 (cell 1)); MLlib's CrossValidator
only does random folds, so the splitter is a deterministic driver
loop over ``date_id`` boundaries — each fold is a pair of cheap
filters on the SAME cached DataFrame, so the data is scanned, not
copied, per fold.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Fold:
    train_end: int    # train: time <= train_end
    test_end: int     # test: train_end < time <= test_end


def expanding_folds(min_time: int, max_time: int, n_folds: int, min_train_frac: float = 0.5) -> list[Fold]:
    """Deterministic expanding-window folds: the first
    ``min_train_frac`` of the timeline is always training; the
    remainder splits into ``n_folds`` equal test horizons."""
    span = max_time - min_time
    first_end = min_time + int(span * min_train_frac)
    step = (max_time - first_end) // n_folds
    folds = []
    for i in range(n_folds):
        tr = first_end + i * step
        te = max_time if i == n_folds - 1 else tr + step
        folds.append(Fold(train_end=tr, test_end=te))
    return folds


def walk_forward(
    df: DataFrame,
    time_col: str,
    fit_eval: Callable[[DataFrame, DataFrame], dict],
    n_folds: int = 3,
) -> list[dict]:
    """Run ``fit_eval(train_df, test_df) -> metrics`` over expanding
    folds; returns one metrics dict per fold (with fold bounds)."""
    df = df.cache()
    bounds = df.agg(
        F.min(time_col).alias("lo"), F.max(time_col).alias("hi")
    ).first()
    results = []
    for fold in expanding_folds(bounds["lo"], bounds["hi"], n_folds):
        tr = df.filter(F.col(time_col) <= fold.train_end)
        te = df.filter(
            (F.col(time_col) > fold.train_end) & (F.col(time_col) <= fold.test_end)
        )
        m = fit_eval(tr, te)
        m["train_end"] = fold.train_end
        m["test_end"] = fold.test_end
        results.append(m)
    return results


def walk_forward_grid_search(
    df: DataFrame,
    time_col: str,
    feature_cols: list[str],
    label_col: str,
    n_folds: int = 3,
    metric: str = "rmse",
    parallelism: int = 4,
) -> dict:
    """Hyper-parameter search under walk-forward evaluation (M9: the
    reference's GridSearchCV + TimeSeriesSplit, slide 24's
    "Ridge_Tuned": a ``LinearRegression`` over ``regParam`` ∈ {0, 0.01,
    0.1, 1} × ``elasticNetParam`` ∈ {0, 1}). MLlib's CrossValidator
    shuffles rows randomly —
    leakage for time series — so the grid (built with MLlib's own
    ``ParamGridBuilder``) is evaluated inside the deterministic
    expanding-window split instead: every candidate trains on each
    fold's past and scores on its future.

    ``parallelism`` (r9 VERDICT ask #4 — the MLlib CrossValidator
    ``parallelism`` pattern): the candidate x fold fits are
    independent Spark jobs, so a bounded thread pool submits up to
    ``parallelism`` of them concurrently and Spark's scheduler
    interleaves their stages — a serial driver loop leaves the
    cluster idle between a fit's stages, which at a real grid size
    serializes into the wall-clock bottleneck. Threads are wrapped in
    ``inheritable_thread_target`` (the same device CrossValidator
    uses) so job groups/local properties propagate. Results are
    ordered by (candidate, fold) index regardless of completion
    order, and each task copies its own estimator — selections are
    IDENTICAL to the serial loop (pinned in tests/test_ml.py).

    Returns ``{"best_params", "best_score", "results"}`` where
    results has one row per candidate with per-fold scores. Fold
    filters are cheap predicates over one cached DataFrame — the
    data is scanned, not copied, per fold."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.tuning import ParamGridBuilder

    estimator = LinearRegression(featuresCol="features", labelCol=label_col)
    param_grid = (
        ParamGridBuilder()
        .addGrid(estimator.regParam, [0.0, 0.01, 0.1, 1.0])
        .addGrid(estimator.elasticNetParam, [0.0, 1.0])
        .build()
    )

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    evaluator = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName=metric
    )
    bigger_is_better = evaluator.isLargerBetter()

    df = df.cache()
    bounds = df.agg(
        F.min(time_col).alias("lo"), F.max(time_col).alias("hi")
    ).first()
    folds = expanding_folds(bounds["lo"], bounds["hi"], n_folds)

    def fit_one(params, fold: Fold) -> float:
        tr = df.filter(F.col(time_col) <= fold.train_end)
        te = df.filter(
            (F.col(time_col) > fold.train_end)
            & (F.col(time_col) <= fold.test_end)
        )
        if te.isEmpty():
            return float("nan")
        pipe = Pipeline(stages=[assembler, estimator.copy(params)])
        model = pipe.fit(tr)
        return float(evaluator.evaluate(model.transform(te)))

    tasks = [(params, fold) for params in param_grid for fold in folds]
    if parallelism > 1 and len(tasks) > 1:
        # session-bound form: inherits job tags/local properties into
        # the pool threads (the bare-function form warns and skips tags)
        target = inheritable_thread_target(df.sparkSession)(
            lambda t: fit_one(*t)
        )
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            scores_flat = list(pool.map(target, tasks))
    else:
        scores_flat = [fit_one(*t) for t in tasks]

    results = []
    best = None
    for ci, params in enumerate(param_grid):
        fold_rows = []
        for fi, fold in enumerate(folds):
            fold_rows.append(
                {
                    "score": scores_flat[ci * len(folds) + fi],
                    "train_end": fold.train_end,
                    "test_end": fold.test_end,
                }
            )
        scores = [f["score"] for f in fold_rows if f["score"] == f["score"]]
        mean_score = sum(scores) / len(scores) if scores else float("nan")
        readable = {p.name: v for p, v in params.items()}
        results.append(
            {"params": readable, "mean_score": mean_score, "folds": fold_rows}
        )
        if mean_score == mean_score and (
            best is None
            or (mean_score > best[1] if bigger_is_better else mean_score < best[1])
        ):
            best = (readable, mean_score)

    return {
        "best_params": best[0] if best else None,
        "best_score": best[1] if best else float("nan"),
        "results": results,
    }
