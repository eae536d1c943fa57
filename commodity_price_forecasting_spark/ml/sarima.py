"""Seasonal ARIMA per series (SURVEY.md §2.9 M5, slides 21-22).

The reference's hybrid used statsmodels SARIMAX (MC:34 cell 1;
README.md:29); statsmodels is not in this container, so the model is
fit with the Hannan-Rissanen two-stage algorithm (Hannan & Rissanen
1982, "Recursive estimation of mixed autoregressive-moving average
order") in pure numpy:

1. Difference the series: ``d`` regular + ``D`` seasonal (period s).
2. Fit a long AR by OLS to the differenced series; its residuals are
   a consistent proxy for the unobserved MA innovations.
3. Regress the differenced series on p regular + P seasonal AR lags
   and q regular + Q seasonal lagged residuals (one OLS solve).
4. Forecast iteratively with future innovations set to 0 (their
   conditional expectation), then invert the differencing.

Everything is deterministic (least squares only — no random starts),
so the operator is safe for the driver's value-hash determinism
probe. Distribution model: one series = one ``applyInPandas`` group
(Arrow batch) — embarrassingly parallel across executors, no shuffle
beyond the groupBy hash; the per-series state (a few hundred floats)
never touches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _difference(y: np.ndarray, d: int, D: int, s: int) -> np.ndarray:
    for _ in range(d):
        y = np.diff(y)
    for _ in range(D):
        y = y[s:] - y[:-s]
    return y


def _lagmat(y: np.ndarray, lags: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Design matrix of ``y`` shifted by each lag in ``lags`` plus an
    intercept, aligned with the response ``y[m:]`` (m = max lag)."""
    m = max(lags) if lags else 0
    n = len(y) - m
    cols = [np.ones(n)] + [y[m - k : len(y) - k] for k in lags]
    return np.column_stack(cols), y[m:]


def sarima_fit_forecast(
    y: np.ndarray,
    order: tuple[int, int, int] = (1, 0, 0),
    seasonal_order: tuple[int, int, int, int] = (0, 0, 0, 0),
    horizon: int = 3,
) -> np.ndarray:
    """Fit SARIMA(p,d,q)(P,D,Q,s) by Hannan-Rissanen and return the
    ``horizon``-step mean forecast on the ORIGINAL scale."""
    p, d, q = order
    P, D, Q, s = seasonal_order
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]

    w = _difference(y, d, D, s)
    ar_lags = list(range(1, p + 1)) + [s * j for j in range(1, P + 1) if s > 0]
    ma_lags = list(range(1, q + 1)) + [s * j for j in range(1, Q + 1) if s > 0]
    ar_lags = sorted(set(ar_lags))
    ma_lags = sorted(set(ma_lags))
    max_lag = max(ar_lags + ma_lags + [1])
    if len(w) < 2 * max_lag + 10:
        raise ValueError(f"series too short: {len(w)} diffed obs for lag {max_lag}")

    # Stage 1: long AR -> innovation proxies. Long-AR order grows with
    # n^(1/3) (HR's consistency rate), floored to cover every model lag.
    if ma_lags:
        h = max(max_lag + 1, int(round(len(w) ** (1.0 / 3.0))) + max_lag)
        h = min(h, (len(w) - 2) // 2)
        Xh, yh = _lagmat(w, list(range(1, h + 1)))
        beta_h, *_ = np.linalg.lstsq(Xh, yh, rcond=None)
        eps = np.concatenate([np.zeros(h), yh - Xh @ beta_h])
    else:
        eps = np.zeros(len(w))

    # Stage 2: OLS of w_t on AR lags of w and MA lags of eps.
    m = max_lag
    n = len(w) - m
    cols = [np.ones(n)]
    cols += [w[m - k : len(w) - k] for k in ar_lags]
    cols += [eps[m - k : len(eps) - k] for k in ma_lags]
    X = np.column_stack(cols)
    beta, *_ = np.linalg.lstsq(X, w[m:], rcond=None)
    c = beta[0]
    phi = beta[1 : 1 + len(ar_lags)]
    theta = beta[1 + len(ar_lags) :]

    # In-sample innovations under the fitted model (for MA forecasts).
    resid = w[m:] - X @ beta
    eps_full = np.concatenate([np.zeros(m), resid])

    # Iterative forecast on the differenced scale; future eps = 0.
    w_ext = list(w)
    eps_ext = list(eps_full)
    for _ in range(horizon):
        nxt = c
        for k, ph in zip(ar_lags, phi):
            nxt += ph * w_ext[-k]
        for k, th in zip(ma_lags, theta):
            nxt += th * eps_ext[-k]
        w_ext.append(nxt)
        eps_ext.append(0.0)
    w_fc = np.array(w_ext[len(w) :])

    # Invert seasonal then regular differencing (reverse of _difference).
    def _undiff(fc: np.ndarray, hist: np.ndarray, lag: int) -> np.ndarray:
        out, ext = [], list(hist)
        for v in fc:
            nxt = v + ext[-lag]
            out.append(nxt)
            ext.append(nxt)
        return np.array(out)

    # Rebuild the intermediate histories the differencing pass produced.
    levels = [y]
    cur = y
    for _ in range(d):
        cur = np.diff(cur)
        levels.append(cur)
    for _ in range(D):
        cur = cur[s:] - cur[:-s]
        levels.append(cur)
    fc = w_fc
    for i in range(D):
        fc = _undiff(fc, levels[-(i + 2)], s)
    for i in range(d):
        fc = _undiff(fc, levels[d - 1 - i], 1)
    return fc


def sarima_durbin_fit_forecast(
    y: np.ndarray, horizon: int = 6, s: int = 12
) -> tuple[np.ndarray, np.ndarray]:
    """SARIMA(1,1,1)(1,1,1,s) fit by the Durbin-style two-stage least
    squares (Durbin 1959; the restricted-stage-1 cousin of
    Hannan-Rissanen): stage 1 fits the pure seasonal-AR submodel
    w_t ~ [1, w_{t-1}, w_{t-s}] whose residuals are a consistent proxy
    for the MA innovations; stage 2 regresses w_t on
    [1, w_{t-1}, w_{t-s}, e_{t-1}, e_{t-s}]. Unlike the long-AR stage
    1 in ``sarima_fit_forecast``, BOTH stages are 3- and 5-variable
    normal-equation solves — small SPD systems that a SQL oracle can
    replicate exactly (Cramer 3x3 + unpivoted symmetric Gaussian
    elimination, stable without pivoting on SPD matrices), which is
    why the driver-checkable registry query (m5_sarima_forecast) uses
    this variant. Returns (beta = [c, ar1, sar_s, ma1, sma_s],
    horizon-step mean forecast on the ORIGINAL scale); d=1, D=1
    differencing is fixed.
    """
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    u = np.diff(y)  # d = 1
    w = u[s:] - u[:-s]  # D = 1, seasonal
    n = len(w)
    m = s  # max lag in both stages
    if n - m < 15:
        raise ValueError(f"series too short: {n} diffed obs for lag {m}")
    ones = np.ones(n - m)
    w1 = w[m - 1 : n - 1]
    ws = w[0 : n - m]
    t = w[m:]
    X1 = np.column_stack([ones, w1, ws])
    a = np.linalg.solve(X1.T @ X1, X1.T @ t)
    e = np.zeros(n)
    e[m:] = t - X1 @ a
    e1 = e[m - 1 : n - 1]
    es = e[0 : n - m]
    X2 = np.column_stack([ones, w1, ws, e1, es])
    beta = np.linalg.solve(X2.T @ X2, X2.T @ t)
    e2 = np.zeros(n)
    e2[m:] = t - X2 @ beta
    c, p1, ps, t1, ts_ = beta
    w_ext = list(w)
    e_ext = list(e2)
    for _ in range(horizon):
        nxt = c + p1 * w_ext[-1] + ps * w_ext[-s] + t1 * e_ext[-1] + ts_ * e_ext[-s]
        w_ext.append(nxt)
        e_ext.append(0.0)
    w_fc = w_ext[n:]
    u_ext = list(u)
    for v in w_fc:
        u_ext.append(v + u_ext[-s])
    u_fc = np.array(u_ext[len(u) :])
    y_fc = y[-1] + np.cumsum(u_fc)
    return beta, y_fc


def sarima_durbin_forecast_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    horizon: int = 6,
    s: int = 12,
    key_type: str = "string",
) -> DataFrame:
    """Distributed per-series Durbin-fit SARIMA(1,1,1)(1,1,1,s):
    emits one row per forecast step carrying the fitted coefficients
    alongside the forecast (the SQL-oracle-checkable surface —
    VERDICT r3 ask #2). Same applyInPandas distribution model as
    ``sarima_forecast_by_group``."""
    key_np = "int64" if key_type in ("long", "int", "bigint") else "object"
    cols = [key_col, "step", "forecast", "c", "ar1", "sar12", "ma1", "sma12"]

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        key = pdf[key_col].iloc[0]
        try:
            beta, fc = sarima_durbin_fit_forecast(
                pdf[value_col].to_numpy(dtype=float), horizon=horizon, s=s
            )
        except (ValueError, np.linalg.LinAlgError):
            empty = pd.DataFrame({c: [] for c in cols})
            return empty.astype(
                {key_col: key_np, "step": "int64", "forecast": "float64",
                 "c": "float64", "ar1": "float64", "sar12": "float64",
                 "ma1": "float64", "sma12": "float64"}
            )
        return pd.DataFrame(
            {
                key_col: [key] * horizon,
                "step": np.arange(1, horizon + 1, dtype="int64"),
                "forecast": np.asarray(fc, dtype=float),
                "c": beta[0],
                "ar1": beta[1],
                "sar12": beta[2],
                "ma1": beta[3],
                "sma12": beta[4],
            }
        )

    schema = (
        f"{key_col} {key_type}, step long, forecast double, c double, "
        "ar1 double, sar12 double, ma1 double, sma12 double"
    )
    return (
        df.select(key_col, time_col, value_col)
        .groupBy(key_col)
        .applyInPandas(_per_group, schema=schema)
    )


def sarima_one_step_ahead(
    y: np.ndarray,
    n_test: int,
    order: tuple[int, int, int] = (1, 0, 0),
    seasonal_order: tuple[int, int, int, int] = (0, 0, 0, 0),
    return_all: bool = False,
) -> np.ndarray:
    """Held-out ONE-step-ahead predictions for the last ``n_test``
    points: fit Hannan-Rissanen on ``y[:-n_test]``, then predict each
    test point from the ACTUAL history up to t-1 with recursively
    updated innovations (statsmodels' ``dynamic=False`` protocol).
    Returns the ``n_test`` predictions on the original scale; with
    ``return_all`` returns the full-length one-step series instead
    (NaN head where lags are unavailable) — train region included,
    for residual-hybrid second-stage models."""
    p, d, q = order
    P, D, Q, s = seasonal_order
    y = np.asarray(y, dtype=float)
    if n_test <= 0 or n_test >= len(y):
        raise ValueError(f"n_test {n_test} out of range for {len(y)} obs")
    y_train = y[:-n_test]

    ar_lags = sorted(
        set(list(range(1, p + 1)) + [s * j for j in range(1, P + 1) if s > 0])
    )
    ma_lags = sorted(
        set(list(range(1, q + 1)) + [s * j for j in range(1, Q + 1) if s > 0])
    )
    max_lag = max(ar_lags + ma_lags + [1])

    w_train = _difference(y_train, d, D, s)
    if len(w_train) < 2 * max_lag + 10:
        raise ValueError("train series too short")

    # Fit on train only (same two stages as sarima_fit_forecast).
    if ma_lags:
        h = max(max_lag + 1, int(round(len(w_train) ** (1.0 / 3.0))) + max_lag)
        h = min(h, (len(w_train) - 2) // 2)
        Xh, yh = _lagmat(w_train, list(range(1, h + 1)))
        beta_h, *_ = np.linalg.lstsq(Xh, yh, rcond=None)
        eps_tr = np.concatenate([np.zeros(h), yh - Xh @ beta_h])
    else:
        eps_tr = np.zeros(len(w_train))
    m = max_lag
    n = len(w_train) - m
    cols = [np.ones(n)]
    cols += [w_train[m - k : len(w_train) - k] for k in ar_lags]
    cols += [eps_tr[m - k : len(eps_tr) - k] for k in ma_lags]
    X = np.column_stack(cols)
    beta, *_ = np.linalg.lstsq(X, w_train[m:], rcond=None)
    c = beta[0]
    phi = beta[1 : 1 + len(ar_lags)]
    theta = beta[1 + len(ar_lags) :]

    # Recursive one-step pass over the FULL differenced series with
    # frozen coefficients; eps updates from actual w.
    w_full = _difference(y, d, D, s)
    offset = len(y) - len(w_full)  # obs consumed by differencing
    eps = np.zeros(len(w_full))
    pred_w = np.full(len(w_full), np.nan)
    for t in range(m, len(w_full)):
        v = c
        for k, ph in zip(ar_lags, phi):
            v += ph * w_full[t - k]
        for k, th in zip(ma_lags, theta):
            v += th * eps[t - k]
        pred_w[t] = v
        eps[t] = w_full[t] - v

    # One-step undifferencing with actual history: w_t = y_t - g(past y)
    # => ŷ_t = ŵ_t + (y_t - w_t), where (y_t - w_t) is past-only.
    if return_all:
        full = np.full(len(y), np.nan)
        for t in range(offset + m, len(y)):
            wt = t - offset
            full[t] = pred_w[wt] + (y[t] - w_full[wt])
        return full
    test_idx = np.arange(len(y) - n_test, len(y))
    out = np.empty(n_test)
    for i, t in enumerate(test_idx):
        wt = t - offset
        out[i] = pred_w[wt] + (y[t] - w_full[wt])
    return out


def sarima_forecast_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    order: tuple[int, int, int] = (1, 0, 0),
    seasonal_order: tuple[int, int, int, int] = (0, 0, 0, 0),
    horizon: int = 3,
) -> DataFrame:
    """Distributed per-series SARIMA: one group per ``long`` key,
    deterministic ``(key, step, forecast)`` output rows."""

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        key = pdf[key_col].iloc[0]
        try:
            fc = sarima_fit_forecast(
                pdf[value_col].to_numpy(dtype=float),
                order=order,
                seasonal_order=seasonal_order,
                horizon=horizon,
            )
        except (ValueError, np.linalg.LinAlgError):
            return pd.DataFrame({key_col: [], "step": [], "forecast": []}).astype(
                {key_col: "int64", "step": "int64", "forecast": "float64"}
            )
        return pd.DataFrame(
            {
                key_col: [key] * horizon,
                "step": np.arange(1, horizon + 1, dtype="int64"),
                "forecast": fc.astype(float),
            }
        )

    schema = f"{key_col} long, step long, forecast double"
    return (
        df.select(key_col, time_col, value_col)
        .groupBy(key_col)
        .applyInPandas(_per_group, schema=schema)
    )
