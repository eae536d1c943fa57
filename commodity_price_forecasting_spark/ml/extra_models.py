"""M4 estimators — SVR and MLPRegressor without sklearn (absent from
this container): pure-numpy implementations matching sklearn's default
hyperparameter shapes, plus a thin PySpark Estimator adapter so they
slot into ``ml/ensemble.run_ensemble`` next to the MLlib trio.

Reference surface: ``MC:34 (cell 1)`` imports ``sklearn.svm.SVR`` and
``sklearn.neural_network.MLPRegressor`` (slide 20 evaluated both;
SURVEY.md §2.9 M4). Both were weak performers there — they exist to
complete the estimator inventory and the "Top-N of a model zoo"
ensemble protocol.

Scale design: these are SINGLE-NODE estimators (kernel SVR is O(n²)
memory by construction), matching the reference's ~1k-row serving
frame. The distributed path is per-group fitting via
``applyInPandas`` (one independent model per instrument/target, each
group a single Arrow batch) — the same pattern as
``ml/stattests.ar_forecast_by_group``; a global kernel SVR over 100 TB
is not a meaningful operation on any engine.

Determinism: SVR has no RNG (fixed cyclic coordinate order); the MLP
seeds ``numpy.random.default_rng``, so fits are bit-reproducible.
"""

from __future__ import annotations

import numpy as np


def _rbf_kernel(A: np.ndarray, B: np.ndarray, gamma: float) -> np.ndarray:
    """exp(-γ·||a−b||²) pairwise, via the expanded square (no n²k
    temporaries beyond the n_a×n_b output)."""
    sq = (
        (A * A).sum(axis=1)[:, None]
        + (B * B).sum(axis=1)[None, :]
        - 2.0 * (A @ B.T)
    )
    np.maximum(sq, 0.0, out=sq)
    return np.exp(-gamma * sq)


class NumpySVR:
    """ε-insensitive support-vector regression, RBF kernel, solved by
    cyclic coordinate descent on the bias-free dual.

    sklearn's ``SVR()`` defaults are mirrored: C=1.0, ε=0.1,
    γ='scale' (=1/(k·Var(X))). One deliberate difference, documented:
    the bias is absorbed by adding a constant 1 to the kernel
    (k'(a,b)=k(a,b)+1) instead of sklearn's equality-constrained
    offset — this drops the Σβ=0 constraint so each dual coordinate
    βᵢ∈[−C,C] has a closed-form soft-threshold update
    (βᵢ ← clip(soft(rᵢ, ε)/k'ᵢᵢ)), a standard SMO-free formulation.
    In-sample behavior tracks sklearn closely at these defaults. The
    solver runs up to 300 sweeps and stops once no coordinate moves
    by 1e-8 or more.
    """

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NumpySVR":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, k = X.shape
        g = 1.0 / (k * X.var())
        if not np.isfinite(g) or g <= 0:
            g = 1.0 / max(k, 1)
        self._gamma = g
        self._X = X
        K = _rbf_kernel(X, X, g) + 1.0  # +1 absorbs the bias term
        beta = np.zeros(n)
        f = np.zeros(n)  # K @ beta, maintained incrementally
        diag = K.diagonal()
        eps, C = 0.1, 1.0
        for _ in range(300):
            delta_max = 0.0
            for i in range(n):
                r = y[i] - f[i] + diag[i] * beta[i]
                b = (np.sign(r) * max(abs(r) - eps, 0.0)) / diag[i]
                b = min(max(b, -C), C)
                d = b - beta[i]
                if d != 0.0:
                    beta[i] = b
                    f += K[:, i] * d
                    delta_max = max(delta_max, abs(d))
            if delta_max < 1e-8:
                break
        self._beta = beta
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        Kq = _rbf_kernel(X, self._X, self._gamma)
        return Kq @ self._beta + self._beta.sum()


class NumpyMLP:
    """One-hidden-layer MLP regressor, numpy Adam — sklearn
    ``MLPRegressor()`` default shapes: hidden=(100,), ReLU, Adam
    lr=1e-3, L2 α=1e-4, batch=min(200,n), 200 epochs, seeded shuffle
    and Glorot-uniform init (bit-reproducible for a fixed seed)."""

    def __init__(self, epochs: int = 200, seed: int = 42) -> None:
        self.epochs = epochs
        self.seed = seed

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NumpyMLP":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, k = X.shape
        h = 100
        rng = np.random.default_rng(self.seed)
        bound1 = np.sqrt(6.0 / (k + h))
        bound2 = np.sqrt(6.0 / (h + 1))
        W1 = rng.uniform(-bound1, bound1, size=(k, h))
        b1 = np.zeros(h)
        W2 = rng.uniform(-bound2, bound2, size=(h, 1))
        b2 = np.zeros(1)
        params = [W1, b1, W2, b2]
        m = [np.zeros_like(p) for p in params]
        v = [np.zeros_like(p) for p in params]
        beta1, beta2, adam_eps = 0.9, 0.999, 1e-8
        alpha, lr = 1e-4, 1e-3
        t = 0
        bs = min(200, n)
        for _ in range(self.epochs):
            order = rng.permutation(n)
            for s in range(0, n, bs):
                idx = order[s : s + bs]
                xb, yb = X[idx], y[idx]
                z1 = xb @ W1 + b1
                a1 = np.maximum(z1, 0.0)
                out = (a1 @ W2 + b2).ravel()
                err = (out - yb) / len(idx)
                gW2 = a1.T @ err[:, None] + alpha * W2
                gb2 = np.array([err.sum()])
                da1 = err[:, None] @ W2.T
                da1[z1 <= 0] = 0.0
                gW1 = xb.T @ da1 + alpha * W1
                gb1 = da1.sum(axis=0)
                t += 1
                for p, g_, mi, vi in zip(params, [gW1, gb1, gW2, gb2], m, v):
                    mi *= beta1
                    mi += (1 - beta1) * g_
                    vi *= beta2
                    vi += (1 - beta2) * g_ * g_
                    mh = mi / (1 - beta1**t)
                    vh = vi / (1 - beta2**t)
                    p -= lr * mh / (np.sqrt(vh) + adam_eps)
        self._params = params
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        W1, b1, W2, b2 = self._params
        a1 = np.maximum(np.asarray(X, dtype=np.float64) @ W1 + b1, 0.0)
        return (a1 @ W2 + b2).ravel()


def fit_predict_by_group(
    df,
    key_col: str,
    feature_cols: list[str],
    label_col: str,
    make_model,
):
    """Distributed per-group fit: one independent model per key, each
    group one Arrow batch via ``applyInPandas`` (the M4 scale path —
    the model zoo runs per instrument/target, never globally).
    Returns (key, n, r2, mae) in-sample rows per group."""
    import pandas as pd

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=feature_cols + [label_col])
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        y = pdf[label_col].to_numpy(dtype=np.float64)
        model = make_model()
        pred = model.fit(X, y).predict(X)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0
        mae = float(np.abs(y - pred).mean())
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n": [len(y)],
                "r2": [r2],
                "mae": [mae],
            }
        )

    schema = f"{key_col} long, n long, r2 double, mae double"
    return (
        df.select(key_col, label_col, *feature_cols)
        .groupBy(key_col)
        .applyInPandas(_per_group, schema=schema)
    )


from pyspark.ml import Estimator, Model  # noqa: E402


class NumpyRegressorModel(Model):
    """Fitted counterpart of :class:`NumpyRegressorAdapter` — scoring
    is distributed: the fitted weights ship inside an Arrow-batched
    pandas UDF closure (vectorized, no row-at-a-time Python). Batch
    and driver-side scoring both read the assembled ``features``
    vector, so both see the assembler's feature order."""

    def __init__(self, model=None) -> None:
        super().__init__()
        self._model = model

    def _transform(self, df):
        import pandas as pd
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql.functions import pandas_udf

        model = self._model

        @pandas_udf("double")
        def _predict(x):
            return pd.Series(model.predict(_as_matrix(x)))

        return df.withColumn("prediction", _predict(vector_to_array("features")))

    def predict(self, features) -> float:
        """One-row score of an assembled ML ``Vector`` — the MLlib
        ``Model.predict`` surface that driver-side serving
        (``ml.serving.predict_signal``) calls."""
        return float(self._model.predict(features.toArray().reshape(1, -1))[0])


def _as_matrix(arrays) -> np.ndarray:
    """Stack a column of equal-length arrays into a float64 matrix."""
    return np.stack(arrays.to_numpy()).astype(np.float64)


class NumpyRegressorAdapter(Estimator):
    """PySpark ``Estimator`` wrapping a numpy regressor so it slots
    into an MLlib ``Pipeline`` after the ``VectorAssembler`` inside
    ``run_ensemble``: ``fit`` collects the assembled ``features``
    vector and the label (a small, serving-scale frame) to the driver
    and fits the numpy estimator — mirroring MLlib's own driver-side
    normal-equation solve — and returns a
    :class:`NumpyRegressorModel` whose ``transform`` scores
    distributed. Kernel SVR is O(n²) memory by nature; the 100 TB
    path is per-group ``fit_predict_by_group`` above, never a global
    collect."""

    def __init__(self, make_model=None):
        super().__init__()
        self._make_model = make_model

    def _fit(self, df) -> NumpyRegressorModel:
        from pyspark.ml.functions import vector_to_array

        pdf = df.select(vector_to_array("features").alias("x"), "label").toPandas()
        y = pdf["label"].to_numpy(dtype=np.float64)
        return NumpyRegressorModel(self._make_model().fit(_as_matrix(pdf["x"]), y))
