"""ML-layer tests: ensemble semantics (weights, in-sample metrics,
reference parity rules), walk-forward folds, ADF stat correctness,
serving signal rules.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from commodity_price_forecasting_spark.ml.ensemble import (
    WEIGHT_FLOOR,
    run_ensemble,
)
from commodity_price_forecasting_spark.ml.serving import default_inputs, predict_signal
from commodity_price_forecasting_spark.ml.stattests import adf_by_group
from commodity_price_forecasting_spark.ml.walkforward import expanding_folds, walk_forward
from commodity_price_forecasting_spark.plans.reference_pipeline import run_e1
from commodity_price_forecasting_spark.sources.fixtures import make_reference_fixtures


@pytest.fixture(scope="module")
def e1(spark):
    fx = make_reference_fixtures(spark, n_days=120, n_targets=12, seed=42)
    return run_e1(fx["train"], fx["train_labels"], fx["target_pairs"], top_k=6)


@pytest.fixture(scope="module")
def ens(e1):
    target = e1.target_cols[0]
    return run_ensemble(e1.merged, e1.feature_cols, target)


def test_weights_normalized_and_floored(ens):
    assert abs(sum(ens.weights.values()) - 1.0) < 1e-9
    for name, m in ens.model_metrics.items():
        assert ens.weights[name] >= WEIGHT_FLOOR / sum(
            max(mm["r2"], WEIGHT_FLOOR) for mm in ens.model_metrics.values()
        )
        assert m["n"] > 0


def test_metrics_match_numpy(ens):
    """Our aggregate-expression metrics must equal the numpy
    formulas on the collected predictions."""
    pdf = ens.predictions.toPandas()
    y = pdf["label"].to_numpy()
    p = pdf["pred_ensemble"].to_numpy()
    mae = float(np.mean(np.abs(y - p)))
    rmse = float(np.sqrt(np.mean((y - p) ** 2)))
    r2 = float(1 - ((y - p) ** 2).sum() / ((y - y.mean()) ** 2).sum())
    dir_acc = float(np.mean(np.sign(y) == np.sign(p)))
    got = ens.ensemble_metrics
    assert math.isclose(got["mae"], mae, rel_tol=1e-9)
    assert math.isclose(got["rmse"], rmse, rel_tol=1e-9)
    assert math.isclose(got["r2"], r2, rel_tol=1e-6)
    assert math.isclose(got["dir_acc"], dir_acc, rel_tol=1e-9)


def test_metric_passes_equal_single_column_metrics(ens):
    """run_ensemble's two multi-column metric passes give every model,
    the mean and the weighted ensemble exactly the metrics of a
    single-column ``regression_metrics`` over the same predictions."""
    from commodity_price_forecasting_spark.functions.stats import METRICS, regression_metrics

    got = {f"pred_{n}": m for n, m in ens.model_metrics.items()}
    got["pred_mean"], got["pred_ensemble"] = ens.mean_metrics, ens.ensemble_metrics
    for col, metrics in got.items():
        row = regression_metrics(ens.predictions, "label", col).first()
        assert list(row.asDict()) == list(METRICS)  # single-column names
        assert metrics == row.asDict(), col


def test_rf_node_id_cache_fits_the_same_forest(e1):
    """``cacheNodeIds`` on the deployed forest only speeds the fit up:
    with and without it the trees are identical."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler

    from commodity_price_forecasting_spark.ml.ensemble import default_models
    from commodity_price_forecasting_spark.ml.treeshap import extract_trees

    target = e1.target_cols[0]
    df = e1.merged.select(*e1.feature_cols, e1.merged[target].alias("label"))
    assembler = VectorAssembler(inputCols=e1.feature_cols, outputCol="features")
    rf = default_models()["random_forest"]
    assert rf.getCacheNodeIds()
    trees = {
        cache: extract_trees(Pipeline(stages=[assembler, rf.copy({rf.cacheNodeIds: cache})]).fit(df).stages[-1])
        for cache in (True, False)
    }
    assert len(trees[True]) == len(trees[False]) == 100
    assert max(len(t["feature"]) for t in trees[True]) > 3
    for a, b in zip(trees[True], trees[False]):
        assert a.keys() == b.keys()
        for k in a:
            np.testing.assert_array_equal(a[k], b[k])


def test_ensemble_is_weighted_average(ens):
    pdf = ens.predictions.toPandas()
    manual = sum(ens.weights[n] * pdf[f"pred_{n}"] for n in ens.weights)
    assert np.allclose(manual, pdf["pred_ensemble"], atol=1e-12)


def test_rf_in_sample_r2_positive(ens):
    """In-sample RF (100 trees) should fit the training data far
    better than chance — the reference's in-sample protocol."""
    assert ens.model_metrics["random_forest"]["r2"] > 0.3


def test_feature_importances_present(ens):
    imp = ens.feature_importances.get("random_forest")
    assert imp and abs(sum(v for _, v in imp) - 1.0) < 1e-6


def test_expanding_folds_deterministic():
    folds = expanding_folds(0, 100, 3, 0.5)
    assert [f.train_end for f in folds] == [50, 66, 82]
    assert folds[-1].test_end == 100
    folds2 = expanding_folds(0, 100, 3, 0.5)
    assert folds == folds2


def test_walk_forward_runs(e1):
    target = e1.target_cols[0]

    def fit_eval(tr, te):
        if te.count() == 0:
            return {"r2": float("nan")}
        r = run_ensemble(tr, e1.feature_cols, target, eval_df=te)
        return {"r2": r.ensemble_metrics["r2"], "n": r.ensemble_metrics["n"]}

    res = walk_forward(e1.merged, "date_id", fit_eval, n_folds=2)
    assert len(res) == 2
    assert all("train_end" in m for m in res)


def test_adf_distinguishes_stationary_from_random_walk(spark):
    rng = np.random.default_rng(7)
    rows = []
    for t in range(400):
        rows.append((0, t, float(rng.normal())))           # white noise: stationary
    rw = np.cumsum(rng.normal(size=400))
    for t in range(400):
        rows.append((1, t, float(rw[t])))                  # random walk: unit root
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    out = {r["key"]: r for r in adf_by_group(df, "key", "t", "v").collect()}
    assert out[0]["stationary"] is True
    assert out[0]["adf_stat"] < -5
    assert out[1]["stationary"] is False


def test_serving_signal(spark, e1, ens):
    target = e1.target_cols[0]
    inputs = default_inputs(e1.merged, e1.feature_cols)
    row = predict_signal(
        spark, ens, e1.feature_cols, target, inputs, threshold=0.6, min_confidence=0.6
    ).first()
    assert row["signal"] in ("WAIT", "BUY_A_SELL_B", "SELL_A_BUY_B")
    assert row["confidence"] in ("High", "Medium", "Low")
    assert 0.0 <= row["strength"] <= 1.0
    assert row["leg_a"] in target
    # parity rule: WAIT whenever |pred| < threshold or avg R2 < min conf
    if abs(row["prediction"]) < 0.6 or row["avg_r2"] < 0.6:
        assert row["signal"] == "WAIT"


def test_serving_matches_batch_transform(spark, e1, ens):
    """Driver-side ``predict`` must score every model exactly as batch
    ``transform`` does on the same row — including a mostly-zero row,
    which the assembler packs as a sparse vector — and the caller's
    ``feature_cols`` order must not change the result."""
    import random

    import pandas as pd
    from pyspark.ml.linalg import SparseVector

    target = e1.target_cols[0]
    cols = e1.feature_cols
    rows = [r.asDict() for r in e1.merged.select(*cols).limit(3).collect()]
    rows.append({c: rows[0][c] if c == cols[0] else 0.0 for c in cols})
    pdf = pd.DataFrame(rows)[cols]
    pdf.insert(0, "_i", range(len(rows)))
    batch_in = spark.createDataFrame(pdf)
    assembled = ens.fitted["linear"].stages[0].transform(batch_in).orderBy("_i").collect()
    assert isinstance(assembled[-1]["features"], SparseVector)
    batch = {
        name: [r["prediction"] for r in m.transform(batch_in).orderBy("_i").collect()]
        for name, m in ens.fitted.items()
    }

    shuffled = list(cols)
    random.Random(3).shuffle(shuffled)
    assert shuffled != cols
    for i, x in enumerate(rows):
        row = predict_signal(spark, ens, cols, target, x).first().asDict()
        for name in ens.fitted:
            assert row[f"pred_{name}"] == pytest.approx(batch[name][i], rel=1e-9, abs=1e-12)
        again = predict_signal(spark, ens, shuffled, target, x).first().asDict()
        row.pop("generated_at"), again.pop("generated_at")
        assert again == row


def test_serving_rejects_bad_inputs(spark, e1, ens):
    """A missing or NaN feature, ``feature_cols`` that are not the
    fitted features, a threshold that is not finite and > 0, or a
    min_confidence that is not finite raise ``ValueError`` instead of
    scoring."""
    import re

    target = e1.target_cols[0]
    cols = e1.feature_cols
    good = e1.merged.select(*cols).first().asDict()
    missing = {c: v for c, v in good.items() if c != cols[1]}
    with pytest.raises(ValueError, match=re.escape(cols[1])):
        predict_signal(spark, ens, cols, target, missing)
    with pytest.raises(ValueError, match="NaN.*" + re.escape(cols[0])):
        predict_signal(spark, ens, cols, target, {**good, cols[0]: float("nan")})
    with pytest.raises(ValueError, match="feature_cols"):
        predict_signal(spark, ens, cols[:-1], target, good)
    for bad in (0.0, -1.0, float("nan"), float("inf"), -float("inf")):
        with pytest.raises(ValueError, match="threshold"):
            predict_signal(spark, ens, cols, target, good, threshold=bad)
    for bad in (float("nan"), float("inf"), -float("inf")):
        with pytest.raises(ValueError, match="min_confidence"):
            predict_signal(spark, ens, cols, target, good, min_confidence=bad)


def test_linear_and_ridge_match_closed_form(spark):
    """MLlib OLS must equal the numpy normal-equation solution, and
    the n-scaled ridge must equal sklearn's Ridge(alpha=1) objective
    solved in closed form ((Xc'Xc + alpha*I)w = Xc'y on centered
    data, unpenalized intercept) — the reference's exact estimators
    (app.py:120-122)."""
    rng = np.random.default_rng(11)
    n, k = 200, 3
    X = rng.normal(size=(n, k))
    beta = np.array([1.5, -2.0, 0.5])
    y = X @ beta + 0.7 + rng.normal(scale=0.1, size=n)
    pdf = {f"f{i}": X[:, i] for i in range(k)}
    pdf["label"] = y
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(pdf))
    res = run_ensemble(df, [f"f{i}" for i in range(k)], "label")

    # numpy OLS
    A = np.column_stack([np.ones(n), X])
    coef_ols = np.linalg.lstsq(A, y, rcond=None)[0]
    got_lin = res.fitted["linear"].stages[-1]
    assert np.allclose(got_lin.coefficients.toArray(), coef_ols[1:], atol=1e-8)
    assert math.isclose(got_lin.intercept, coef_ols[0], abs_tol=1e-8)

    # numpy ridge, sklearn objective: RSS + alpha*||w||^2, alpha=1
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    w = np.linalg.solve(Xc.T @ Xc + 1.0 * np.eye(k), Xc.T @ yc)
    b0 = y.mean() - X.mean(axis=0) @ w
    got_ridge = res.fitted["ridge"].stages[-1]
    assert np.allclose(got_ridge.coefficients.toArray(), w, atol=1e-6)
    assert math.isclose(got_ridge.intercept, b0, abs_tol=1e-6)


def test_kpss_distinguishes_stationary_from_random_walk(spark):
    from commodity_price_forecasting_spark.ml.stattests import kpss_by_group

    rng = np.random.default_rng(7)
    rows = [(0, t, float(rng.normal())) for t in range(400)]
    rw = np.cumsum(rng.normal(size=400))
    rows += [(1, t, float(rw[t])) for t in range(400)]
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    out = {r["key"]: r for r in kpss_by_group(df, "key", "t", "v").collect()}
    # KPSS null IS stationarity: small stat => stationary
    assert out[0]["stationary"] is True
    assert out[1]["stationary"] is False
    assert out[1]["kpss_stat"] > out[0]["kpss_stat"]


def test_ar_forecast_recovers_ar_process(spark):
    """AR(1) with phi=0.8: the fitted per-group forecaster must
    converge geometrically toward the process mean."""
    from commodity_price_forecasting_spark.ml.stattests import ar_forecast_by_group

    rng = np.random.default_rng(3)
    y = [0.0]
    for _ in range(600):
        y.append(10.0 * 0.2 + 0.8 * y[-1] + rng.normal(scale=0.05))
    rows = [(1, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    fc = {
        r["step"]: r["forecast"]
        for r in ar_forecast_by_group(df, "key", "t", "v", order=1, horizon=5).collect()
    }
    assert len(fc) == 5
    last = y[-1]
    # each step pulls toward mean 10 by factor ~0.8
    for step in range(1, 6):
        expected = 10.0 + (0.8 ** step) * (last - 10.0)
        assert abs(fc[step] - expected) < 0.2


def test_walk_forward_grid_search_picks_sane_params(spark):
    """On a clean linear process, the walk-forward grid must prefer
    low regularization (OLS fits exactly; heavy ridge/lasso bias)."""
    from commodity_price_forecasting_spark.ml.walkforward import (
        walk_forward_grid_search,
    )

    rng = np.random.default_rng(5)
    n = 300
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n)
    y = 2.0 * x1 - 1.0 * x2 + rng.normal(scale=0.01, size=n)
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"t": range(n), "x1": x1, "x2": x2, "label": y})
    )
    out = walk_forward_grid_search(
        df, "t", ["x1", "x2"], "label", n_folds=2, metric="rmse"
    )
    assert out["best_params"]["regParam"] <= 0.01
    assert out["best_score"] < 0.05
    assert len(out["results"]) == 8  # 4 regParam x 2 elasticNet
    for r in out["results"]:
        assert len(r["folds"]) == 2


def test_permutation_importance_ranks_signal_over_noise(spark):
    """A feature with real signal must out-rank a pure-noise feature,
    and permuting noise must barely change the metric."""
    import pandas as pd

    from commodity_price_forecasting_spark.ml.importance import (
        permutation_importance,
    )
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rng = np.random.default_rng(9)
    n = 400
    signal = rng.normal(size=n)
    noise = rng.normal(size=n)
    y = 3.0 * signal + rng.normal(scale=0.05, size=n)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"_row_id": range(n), "f_signal": signal, "f_noise": noise, "label": y}
        )
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["f_signal", "f_noise"], outputCol="features"),
            LinearRegression(featuresCol="features", labelCol="label"),
        ]
    )
    model = pipe.fit(df)
    imp = dict(
        permutation_importance(model, df, ["f_signal", "f_noise"], "label", "_row_id")
    )
    assert imp["f_signal"] > 1.0      # breaking the signal wrecks RMSE
    assert abs(imp["f_noise"]) < 0.05  # noise permutation ~free
    # determinism
    imp2 = dict(
        permutation_importance(model, df, ["f_signal", "f_noise"], "label", "_row_id")
    )
    assert imp == imp2


def test_gbt_variant_fits(e1):
    """M3 (GradientBoosting, README.md:34): the GBT estimator slots
    into the same ensemble machinery and fits in-sample."""
    from commodity_price_forecasting_spark.ml.ensemble import gbt_model

    target = e1.target_cols[0]
    res = run_ensemble(
        e1.merged, e1.feature_cols, target, models={"gbt": gbt_model()}
    )
    assert res.model_metrics["gbt"]["r2"] > 0.5  # boosted trees, in-sample
    assert res.weights == {"gbt": 1.0}


def test_standard_scaler_pipeline_is_ols_invariant(spark):
    """M10: VectorAssembler -> StandardScaler -> LinearRegression.
    OLS is affine-invariant, so scaled and unscaled pipelines must
    produce identical predictions (machine precision) while the
    scaled model's coefficients live in standardized units."""
    import pandas as pd
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rng = np.random.default_rng(13)
    n = 150
    X = rng.normal(loc=5.0, scale=[1.0, 10.0], size=(n, 2))
    y = X @ np.array([2.0, -0.3]) + 1.0 + rng.normal(scale=0.01, size=n)
    df = spark.createDataFrame(
        pd.DataFrame({"f0": X[:, 0], "f1": X[:, 1], "label": y})
    )
    va = VectorAssembler(inputCols=["f0", "f1"], outputCol="raw")
    scaled_pipe = Pipeline(
        stages=[
            va,
            StandardScaler(inputCol="raw", outputCol="features", withMean=True, withStd=True),
            LinearRegression(featuresCol="features", labelCol="label"),
        ]
    ).fit(df)
    plain_pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["f0", "f1"], outputCol="features"),
            LinearRegression(featuresCol="features", labelCol="label"),
        ]
    ).fit(df)
    ps = scaled_pipe.transform(df).select("prediction").toPandas()["prediction"]
    pp = plain_pipe.transform(df).select("prediction").toPandas()["prediction"]
    assert np.allclose(ps, pp, atol=1e-8)
    # scaled coefficients = raw coefficients * feature stds
    stds = X.std(axis=0, ddof=1)
    raw_coef = np.array(plain_pipe.stages[-1].coefficients)
    scaled_coef = np.array(scaled_pipe.stages[-1].coefficients)
    assert np.allclose(scaled_coef, raw_coef * stds, rtol=1e-6)


def test_linear_shap_additivity_and_closed_form(spark):
    """Linear SHAP must satisfy additivity (base_value + Σφⱼ equals
    the model prediction exactly) and match the closed form
    φⱼ = βⱼ·(xⱼ − mean(xⱼ)) computed in numpy."""
    import pandas as pd

    from commodity_price_forecasting_spark.ml.importance import linear_shap

    rng = np.random.default_rng(5)
    n, k = 150, 3
    X = rng.normal(size=(n, k))
    beta = np.array([2.0, -1.0, 0.25])
    y = X @ beta + 3.0 + rng.normal(scale=0.05, size=n)
    cols = [f"f{i}" for i in range(k)]
    pdf = pd.DataFrame({c: X[:, i] for i, c in enumerate(cols)})
    pdf["label"] = y
    df = spark.createDataFrame(pdf)

    coefs = {c: float(beta[i]) for i, c in enumerate(cols)}
    out = linear_shap(df, cols, coefs, 3.0).toPandas()

    mu = X.mean(axis=0)
    phi_np = (X - mu) * beta  # n×k closed form
    got = out[[f"phi_{c}" for c in cols]].to_numpy()
    # row order from toPandas matches input order (narrow plan, no shuffle)
    assert np.allclose(np.sort(got, axis=0), np.sort(phi_np, axis=0), atol=1e-10)
    # additivity: base + Σφ = f(x) for every row
    pred = X @ beta + 3.0
    total = out["base_value"].to_numpy() + got.sum(axis=1)
    assert np.allclose(np.sort(total), np.sort(pred), atol=1e-10)
    assert math.isclose(out["base_value"].iloc[0], 3.0 + mu @ beta, abs_tol=1e-10)


def test_svr_and_mlp_beat_linear_on_nonlinear_target(spark):
    """M4 estimators (numpy SVR/MLP, ml/extra_models) must fit a
    nonlinear signal substantially better than the linear baseline,
    and the MLP must be bit-deterministic for a fixed seed."""
    from commodity_price_forecasting_spark.ml.extra_models import (
        NumpyMLP,
        NumpySVR,
    )

    rng = np.random.default_rng(3)
    n = 300
    X = rng.uniform(-3, 3, size=(n, 2))
    y = np.sin(X[:, 0]) + 0.5 * np.cos(2 * X[:, 1]) + rng.normal(
        scale=0.05, size=n
    )

    def r2(p):
        return 1 - ((y - p) ** 2).sum() / ((y - y.mean()) ** 2).sum()

    A = np.column_stack([np.ones(n), X])
    lin = r2(A @ np.linalg.lstsq(A, y, rcond=None)[0])

    svr_pred = NumpySVR().fit(X, y).predict(X)
    mlp_pred = NumpyMLP(seed=7).fit(X, y).predict(X)
    assert r2(svr_pred) > lin + 0.2
    assert r2(mlp_pred) > lin + 0.1
    assert np.array_equal(mlp_pred, NumpyMLP(seed=7).fit(X, y).predict(X))


def test_numpy_adapter_slots_into_run_ensemble(spark):
    """The duck-typed adapter must run inside run_ensemble next to
    MLlib models, score distributed, and land a sane in-sample R²;
    batch and driver-side scoring both follow the assembler's feature
    order, whatever order the caller lists the features in."""
    import pandas as pd

    from commodity_price_forecasting_spark.ml.extra_models import (
        NumpyRegressorAdapter,
        NumpySVR,
    )

    rng = np.random.default_rng(9)
    n = 200
    X = rng.normal(size=(n, 2))
    y = X[:, 0] ** 2 - X[:, 1] + rng.normal(scale=0.05, size=n)
    pdf = pd.DataFrame({"f0": X[:, 0], "f1": X[:, 1], "label": y})
    df = spark.createDataFrame(pdf)

    from pyspark.ml.regression import LinearRegression

    def models():
        return {
            "linear": LinearRegression(featuresCol="features", labelCol="label"),
            "svr": NumpyRegressorAdapter(NumpySVR),
        }

    res = run_ensemble(df, ["f0", "f1"], "label", models=models())
    assert res.model_metrics["svr"]["r2"] > res.model_metrics["linear"]["r2"]
    assert set(res.weights) == {"linear", "svr"}
    assert abs(sum(res.weights.values()) - 1.0) < 1e-9

    # driver-side serving scores the adapter like its batch transform
    # and like a numpy fit on the assembler's column order — also when
    # the features are listed in the other order
    one = pdf.iloc[:1]
    swapped = run_ensemble(df, ["f1", "f0"], "label", models=models())
    for fit, order, cols in ((res, ["f0", "f1"], [0, 1]), (swapped, ["f1", "f0"], [1, 0])):
        row = predict_signal(spark, fit, order, "label", one.iloc[0].to_dict()).first()
        want = fit.fitted["svr"].transform(spark.createDataFrame(one)).first()["prediction"]
        direct = NumpySVR().fit(X[:, cols], y).predict(X[:1, cols])[0]
        assert row["pred_svr"] == pytest.approx(want, rel=1e-9), order
        assert row["pred_svr"] == pytest.approx(direct, rel=1e-9), order


def test_kpss_dataframe_form_equals_numpy_form(spark):
    """m11_kpss_level (pure JVM DataFrame algebra) must agree with
    ml/stattests.kpss_by_group (numpy applyInPandas) to the output
    rounding — same demeaning, same partial sums, same Bartlett
    window at the same Schwert lag."""
    from commodity_price_forecasting_spark.ml.stattests import kpss_by_group
    from commodity_price_forecasting_spark.plans.e1_pipeline import (
        hourly_as_daily,
    )
    from commodity_price_forecasting_spark.plans.queries_coverage import (
        m11_kpss_level,
    )

    sf_dir = "/root/testdata/sf0.001"
    jvm = {
        r["instrument"]: r["kpss_stat"]
        for r in m11_kpss_level(spark, sf_dir).collect()
    }
    # hourly grain since r12 (r11 ask #8) — the numpy twin reads the
    # same bars the JVM lane now consumes
    daily = hourly_as_daily(spark, sf_dir)
    np_rows = kpss_by_group(daily, "instrument", "day", "px").collect()
    assert len(jvm) == len(np_rows) > 0
    for r in np_rows:
        assert abs(jvm[r["instrument"]] - r["kpss_stat"]) < 2e-6, r["instrument"]


def test_df_statistic_equals_adf_lag0(spark):
    """m11_df_test (closed-form JVM aggregates) must equal the numpy
    ADF machinery at max_lag=0 — same regression, two independent
    implementations."""
    import numpy as np

    from commodity_price_forecasting_spark.ml.stattests import _adf_stat
    from commodity_price_forecasting_spark.plans.e1_pipeline import (
        hourly_as_daily,
    )
    from commodity_price_forecasting_spark.plans.queries_coverage import (
        m11_df_test,
    )

    sf_dir = "/root/testdata/sf0.001"
    jvm = {
        r["instrument"]: r["df_stat"] for r in m11_df_test(spark, sf_dir).collect()
    }
    # hourly grain since r12 (r11 ask #8)
    pdf = hourly_as_daily(spark, sf_dir).toPandas()
    n_checked = 0
    for inst, grp in pdf.groupby("instrument"):
        y = grp.sort_values("day")["px"].to_numpy(dtype=float)
        want = _adf_stat(y, max_lag=0)
        if inst in jvm and want == want:
            assert abs(jvm[inst] - want) < 2e-6, inst
            n_checked += 1
    assert n_checked >= 10  # sf0.001 carries ~15 instruments


def test_isotonic_minimax_equals_spark_ml_pav(spark):
    """m14's relational minimax fit must equal Spark ML's distributed
    IsotonicRegression (pool-adjacent-violators) on the same points —
    two independent algorithms, one answer — and be monotone."""
    from pyspark.sql import functions as F
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    from commodity_price_forecasting_spark.plans.registry import load_all
    from commodity_price_forecasting_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r["bin"]: (r["raw_rate"], r["iso_rate"])
        for r in load_all()["m14_isotonic_calibration"].fn(spark, SF_SMOKE).collect()
    }
    iso_vals = [v[1] for _, v in sorted(got.items())]
    assert iso_vals == sorted(iso_vals)  # monotone non-decreasing

    pts = load_table(spark, SF_SMOKE, "events").select(
        F.floor(F.col("value") / 4).cast("double").alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias(
            "label"
        ),
    )
    assembled = VectorAssembler(
        inputCols=["x"], outputCol="features"
    ).transform(pts)
    model = IsotonicRegression(
        featuresCol="features", labelCol="label"
    ).fit(assembled)
    bins = assembled.select("x", "features").distinct()
    pred = {
        int(r["x"]): round(r["prediction"], 6)
        for r in model.transform(bins).collect()
    }
    assert set(pred) == set(got)
    for b, (_raw, iso) in got.items():
        assert abs(pred[b] - iso) < 1e-6, (b, pred[b], iso)


def test_walk_forward_grid_parallel_equals_serial(spark):
    """r9 VERDICT ask #4: the thread-pooled grid must return the SAME
    per-(candidate, fold) scores, mean scores and selection as the
    serial loop — parallelism is a scheduler change, not a math one."""
    import pandas as pd

    from commodity_price_forecasting_spark.ml.walkforward import (
        walk_forward_grid_search,
    )

    rng = np.random.default_rng(7)
    n = 240
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n)
    y = 1.5 * x1 + 0.5 * x2 + rng.normal(scale=0.05, size=n)
    df = spark.createDataFrame(
        pd.DataFrame({"t": range(n), "x1": x1, "x2": x2, "label": y})
    )
    serial = walk_forward_grid_search(
        df, "t", ["x1", "x2"], "label", n_folds=2, parallelism=1
    )
    par = walk_forward_grid_search(
        df, "t", ["x1", "x2"], "label", n_folds=2, parallelism=4
    )
    assert par["best_params"] == serial["best_params"]
    assert par["best_score"] == serial["best_score"]
    for a, b in zip(par["results"], serial["results"]):
        assert a["params"] == b["params"]
        assert a["mean_score"] == b["mean_score"]
        assert [f["score"] for f in a["folds"]] == [
            f["score"] for f in b["folds"]
        ]
