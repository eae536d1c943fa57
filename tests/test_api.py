"""End-to-end facade test: the reference user's workflow
(load_data → run_ensemble → trade_suggestion) against the reference's
own serving artifact when present, else a synthetic equivalent.
"""

from __future__ import annotations

import os
import uuid

import pytest

from commodity_price_forecasting_spark import api

REFERENCE_ARTIFACT = "/root/reference/Data/df_transformed.csv"


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    if os.path.exists(REFERENCE_ARTIFACT):
        return REFERENCE_ARTIFACT
    # synthetic df_transformed-shaped CSV fallback
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1)
    n = 200
    a = rng.normal(size=n).cumsum() + 50
    b = rng.normal(size=n).cumsum() + 30
    pdf = pd.DataFrame(
        {
            "date_id": range(n),
            "LME_CA_Close": a,
            "US_Stock_HL_adj_close": b,
            "LME_CA_Close - US_Stock_HL_adj_close": a - b + rng.normal(scale=0.1, size=n),
        }
    )
    p = tmp_path_factory.mktemp("art") / "df_transformed.csv"
    pdf.to_csv(p, index=False)
    return str(p)


def test_reference_user_workflow(spark, artifact):
    df, features, targets = api.load_data(spark, artifact)
    assert features and targets
    target = targets[0]

    ens = api.run_ensemble(df, features, target)
    assert set(ens.weights) == {"linear", "ridge", "random_forest"}
    assert abs(sum(ens.weights.values()) - 1.0) < 1e-9
    assert ens.ensemble_metrics["r2"] > 0  # in-sample protocol

    row = api.trade_suggestion(spark, ens, features, target, df=df).first()
    assert row["target"] == target
    assert row["signal"] in ("WAIT", "BUY_A_SELL_B", "SELL_A_BUY_B")
    assert row["confidence"] in ("High", "Medium", "Low")
    assert 0.0 <= row["strength"] <= 1.0
    assert row["generated_at"] is not None


def _sklearn_ols_pred(X, y, x):
    """OLS with intercept, numpy closed form (independent of the engine)."""
    import numpy as np

    A = np.column_stack([np.ones(len(X)), X])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    return float(beta[0] + x @ beta[1:])


def _sklearn_ridge_pred(X, y, x, alpha=1.0):
    """sklearn Ridge(alpha) closed form: intercept unpenalized, features
    centered but not scaled (independent of the engine)."""
    import numpy as np

    xm, ym = X.mean(axis=0), y.mean()
    Xc, yc = X - xm, y - ym
    w = np.linalg.solve(Xc.T @ Xc + alpha * np.eye(X.shape[1]), Xc.T @ yc)
    return float(ym + (x - xm) @ w)


def _reference_signal(pred, avg_r2, threshold=0.6, min_confidence=0.6):
    """app.py:150-189 + 279-296 replicated in plain Python: the deployed
    WAIT/BUY/SELL rule, confidence tiers, strength = min(|pred|/thr, 1)."""
    conf = "High" if avg_r2 >= 0.7 else "Medium" if avg_r2 >= 0.4 else "Low"
    if abs(pred) < threshold or avg_r2 < min_confidence:
        sig = "WAIT"
    elif pred > 0:
        sig = "BUY_A_SELL_B"
    else:
        sig = "SELL_A_BUY_B"
    return sig, conf, round(min(abs(pred) / threshold, 1.0), 6)


def test_deployed_defaults_parity(spark, artifact):
    """VERDICT r3 ask #7: replay the reference's exact deployed defaults
    (threshold 0.6, min-confidence 0.6 — app.py:218-228) over
    df_transformed.csv and check the full signal struct for 3
    hand-picked input rows against independently computed expectations:
    numpy closed forms for the linear/ridge legs, a numpy walk of the
    fitted forest's extracted trees for the RF leg, and a plain-Python
    replica of the app.py:159-189 rule chain for
    signal/confidence/strength."""
    import numpy as np
    import pandas as pd

    from commodity_price_forecasting_spark.ml.treeshap import extract_trees

    df, features, targets = api.load_data(spark, artifact)
    target = targets[0]
    ens = api.run_ensemble(df, features, target)

    pdf = pd.read_csv(artifact).dropna(subset=[target])
    X = pdf[features].to_numpy(dtype=float)
    y = pdf[target].to_numpy(dtype=float)

    # independent weight reconstruction: in-sample R² for the two
    # closed-form legs, the engine's metric only for the RF leg.
    def r2_of(pred_fn):
        yhat = np.array([pred_fn(x) for x in X])
        ss = ((y - yhat) ** 2).sum()
        return 1.0 - ss / ((y - y.mean()) ** 2).sum()

    r2_np = {
        "linear": r2_of(lambda x: _sklearn_ols_pred(X, y, x)),
        "ridge": r2_of(lambda x: _sklearn_ridge_pred(X, y, x)),
        "random_forest": ens.model_metrics["random_forest"]["r2"],
    }
    for name in ("linear", "ridge"):
        assert ens.model_metrics[name]["r2"] == pytest.approx(r2_np[name], abs=1e-6)
    raw = {n: max(r, 0.001) for n, r in r2_np.items()}
    weights = {n: w / sum(raw.values()) for n, w in raw.items()}
    for n in weights:
        assert ens.weights[n] == pytest.approx(weights[n], abs=1e-6)
    avg_r2 = sum(r2_np.values()) / 3.0

    trees = extract_trees(ens.fitted["random_forest"].stages[-1])

    def rf_pred(x):
        """Spark's RF regression: the unweighted mean of leaf values."""
        leaves = []
        for t in trees:
            i = 0
            while t["feature"][i] >= 0:
                i = t["left"][i] if x[t["feature"][i]] <= t["threshold"][i] else t["right"][i]
            leaves.append(t["value"][i])
        return float(np.mean(leaves))

    # hand-picked inputs: the rows holding the max, min, and median
    # observed spread — large-positive / large-negative / small preds.
    picks = [
        int(np.argmax(y)),
        int(np.argmin(y)),
        int(np.argsort(y)[len(y) // 2]),
    ]
    for i in picks:
        inputs = {c: float(pdf[c].iloc[i]) for c in features}
        row = api.trade_suggestion(spark, ens, features, target, inputs=inputs).first()

        x = X[i]
        exp_lin = _sklearn_ols_pred(X, y, x)
        exp_ridge = _sklearn_ridge_pred(X, y, x)
        assert row["pred_linear"] == pytest.approx(exp_lin, rel=1e-5, abs=1e-6)
        assert row["pred_ridge"] == pytest.approx(exp_ridge, rel=1e-5, abs=1e-6)
        exp_rf = rf_pred(x)
        assert row["pred_random_forest"] == pytest.approx(exp_rf, rel=1e-9, abs=1e-12)

        exp_pred = (
            weights["linear"] * exp_lin
            + weights["ridge"] * exp_ridge
            + weights["random_forest"] * exp_rf
        )
        assert row["prediction"] == pytest.approx(exp_pred, rel=1e-6, abs=1e-9)
        assert row["avg_r2"] == pytest.approx(avg_r2, abs=1e-6)

        sig, conf, strength = _reference_signal(row["prediction"], row["avg_r2"])
        assert row["signal"] == sig
        assert row["confidence"] == conf
        assert row["strength"] == pytest.approx(strength, abs=1e-9)


def _jobs_launched(spark, fn) -> int:
    """Spark jobs run by ``fn()``: tagged with a fresh job group and
    counted in the status store once the listener bus has drained.
    (The store keeps only the last ``spark.ui.retainedJobs`` jobs, so a
    before/after size difference reads 0 late in a long session.)"""
    sc = spark.sparkContext
    group = f"job-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serving job guard")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_default_inputs_names_null_features_and_empty_frame(spark):
    """``trade_suggestion(df=...)`` derives its inputs from the latest
    row: a null feature there, or an empty frame, raises a
    ``ValueError`` that says which instead of a raw ``TypeError``."""
    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, None, 3.0)], "date_id int, a double, b double"
    )
    with pytest.raises(ValueError, match=r"null feature columns \['a'\]"):
        api.default_inputs(df, ["a", "b"])
    assert api.default_inputs(df.filter("date_id = 1"), ["a", "b"]) == {
        "a": 1.0,
        "b": 2.0,
    }
    with pytest.raises(ValueError, match="frame is empty"):
        api.default_inputs(df.limit(0), ["a", "b"])


def test_trade_suggestion_runs_no_spark_job(spark, artifact):
    """Serving a request with explicit inputs, ``collect()`` included,
    launches no Spark job; deriving the defaults from ``df`` costs the
    one job of ``default_inputs``."""
    df, features, targets = api.load_data(spark, artifact)
    ens = api.run_ensemble(df, features, targets[0])
    x = api.default_inputs(df, features)

    def serve(**kw):
        return api.trade_suggestion(spark, ens, features, targets[0], **kw).collect()

    assert _jobs_launched(spark, lambda: serve(inputs=x)) == 0
    assert _jobs_launched(spark, lambda: serve(df=df)) == 1


def test_response_plan_reused_across_requests(spark, artifact):
    """One ensemble serves requests with different rule parameters
    from the plan it builds on its first request: every row follows
    the reference rule at its own threshold and min-confidence, the
    schema stays exact, and another ensemble with another model set
    gets its own plan and ``pred_<model>`` columns."""
    import pandas as pd
    from pyspark.ml.regression import LinearRegression
    from pyspark.sql import types as T

    from commodity_price_forecasting_spark.ml.ensemble import run_ensemble
    from commodity_price_forecasting_spark.ml.extra_models import (
        NumpyRegressorAdapter,
        NumpySVR,
    )

    df, features, targets = api.load_data(spark, artifact)
    target = targets[0]
    ens = api.run_ensemble(df, features, target)
    x = api.default_inputs(df, features)

    def schema(models):
        return T.StructType(
            [
                T.StructField("target", T.StringType(), False),
                T.StructField("leg_a", T.StringType(), False),
                T.StructField("leg_b", T.StringType(), True),
                T.StructField("prediction", T.DoubleType(), False),
                T.StructField("avg_r2", T.DoubleType(), False),
                *[T.StructField(f"pred_{n}", T.DoubleType(), False) for n in models],
                T.StructField("signal", T.StringType(), False),
                T.StructField("confidence", T.StringType(), False),
                T.StructField("strength", T.DoubleType(), True),
                T.StructField("generated_at", T.TimestampType(), False),
            ]
        )

    pred = api.trade_suggestion(spark, ens, features, target, inputs=x).first()["prediction"]
    plan = ens._response_plan
    assert plan is not None
    # below, at and above |prediction|; min-confidence below and above avg_r2
    rules = [
        (abs(pred) * 0.5, 0.0),
        (abs(pred), -1.0),
        (abs(pred) * 2.0, 0.0),
        (abs(pred) * 0.5, ens.avg_r2 + 0.01),
        (1e-12, ens.avg_r2),
    ]
    seen = set()
    for thr, min_conf in rules:
        out = api.trade_suggestion(
            spark, ens, features, target, inputs=x, threshold=thr, min_confidence=min_conf
        )
        assert out.schema == schema(ens.fitted)
        row = out.first()
        assert ens._response_plan is plan
        assert row["prediction"] == pred
        sig, conf, strength = _reference_signal(row["prediction"], row["avg_r2"], thr, min_conf)
        assert (row["signal"], row["confidence"]) == (sig, conf), (thr, min_conf)
        assert row["strength"] == pytest.approx(strength, abs=1e-9)
        seen.add(row["signal"])
    assert "WAIT" in seen and len(seen) == 2

    other = run_ensemble(
        df.na.drop(subset=[target]),
        features,
        target,
        models={
            "linear": LinearRegression(featuresCol="features", labelCol="label"),
            "svr": NumpyRegressorAdapter(NumpySVR),
        },
    )
    out = api.trade_suggestion(spark, other, features, target, inputs=x, threshold=0.1)
    assert out.schema == schema(other.fitted)
    want = other.fitted["svr"].transform(spark.createDataFrame(pd.DataFrame([x]))).first()
    assert out.first()["pred_svr"] == pytest.approx(want["prediction"], rel=1e-9)
    assert other._response_plan is not plan
    assert ens._response_plan is plan
    assert api.trade_suggestion(spark, ens, features, target, inputs=x).schema == schema(ens.fitted)
