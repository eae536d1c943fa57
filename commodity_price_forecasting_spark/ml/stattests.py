"""Stationarity tests (SURVEY.md §2.9 M11): Augmented Dickey-Fuller
per series, distributed with ``applyInPandas``.

The reference imports statsmodels' ``adfuller``/``kpss`` (MC:34
cell 1; README.md:29). statsmodels is not a dependency here, so the
ADF regression is computed directly with numpy least squares —
Δy_t = α + βy_{t-1} + Σ γᵢΔy_{t-i} + ε, test statistic β̂/SE(β̂)
(equivalent to adfuller's 'c' regression without autolag).

Each instrument's series is one pandas group — embarrassingly
parallel across the cluster; the Python boundary is per-group (Arrow
batches), not per-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

#: approximate 5% critical value for the constant-only ADF test
ADF_CRIT_5PCT = -2.86


def _adf_stat(y: np.ndarray, max_lag: int) -> float:
    y = y[~np.isnan(y)]
    if len(y) < max_lag + 10:
        return float("nan")
    dy = np.diff(y)
    ylag = y[:-1]
    rows = len(dy) - max_lag
    X = [np.ones(rows), ylag[max_lag:]]
    for i in range(1, max_lag + 1):
        X.append(dy[max_lag - i : len(dy) - i])
    X = np.column_stack(X)
    t = dy[max_lag:]
    beta, res, rank, _ = np.linalg.lstsq(X, t, rcond=None)
    resid = t - X @ beta
    dof = rows - X.shape[1]
    if dof <= 0:
        return float("nan")
    s2 = resid @ resid / dof
    cov = s2 * np.linalg.inv(X.T @ X)
    return float(beta[1] / np.sqrt(cov[1, 1]))


def adf_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """ADF test statistic per key (4 augmentation lags):
    ``(key, adf_stat, n, stationary)`` where ``stationary`` uses the
    5 % critical value."""

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        stat = _adf_stat(pdf[value_col].to_numpy(dtype=float), 4)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "adf_stat": [stat],
                "n": [len(pdf)],
                "stationary": [bool(stat < ADF_CRIT_5PCT) if stat == stat else False],
            }
        )

    schema = f"{key_col} long, adf_stat double, n long, stationary boolean"
    return df.select(key_col, time_col, value_col).groupBy(key_col).applyInPandas(
        _per_group, schema=schema
    )


#: approximate 5% critical value for the constant-level KPSS test
KPSS_CRIT_5PCT = 0.463


def _kpss_stat(y: np.ndarray) -> float:
    """KPSS level-stationarity statistic (constant regression):
    η = Σ_t S_t² / (n² · σ̂²_lr) with S_t the partial sums of the
    demeaned series and σ̂²_lr the Bartlett/Newey-West long-run
    variance at the Schwert lag — the same formula statsmodels'
    ``kpss(reg='c')`` uses with that fixed lag."""
    y = y[~np.isnan(y)]
    n = len(y)
    if n < 10:
        return float("nan")
    n_lags = int(np.ceil(12.0 * (n / 100.0) ** 0.25))  # Schwert rule
    e = y - y.mean()
    s = np.cumsum(e)
    lrv = e @ e / n
    for lag in range(1, n_lags + 1):
        w = 1.0 - lag / (n_lags + 1.0)
        lrv += 2.0 * w * (e[lag:] @ e[:-lag]) / n
    if lrv <= 0:
        return float("nan")
    return float((s @ s) / (n * n * lrv))


def kpss_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """KPSS test per key: ``(key, kpss_stat, n, stationary)``. Note
    the inverted hypothesis vs ADF: KPSS's null IS stationarity, so
    ``stationary`` means the statistic stays BELOW the critical
    value. Same applyInPandas distribution as :func:`adf_by_group`."""

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        stat = _kpss_stat(pdf[value_col].to_numpy(dtype=float))
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "kpss_stat": [stat],
                "n": [len(pdf)],
                "stationary": [bool(stat < KPSS_CRIT_5PCT) if stat == stat else False],
            }
        )

    schema = f"{key_col} long, kpss_stat double, n long, stationary boolean"
    return df.select(key_col, time_col, value_col).groupBy(key_col).applyInPandas(
        _per_group, schema=schema
    )


def ar_forecast_by_group(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    order: int = 2,
    horizon: int = 3,
) -> DataFrame:
    """Per-series AR(p) forecaster — the engine's stand-in for the
    reference's SARIMAX surface (M5, slides 21-22; statsmodels is not
    in this container). Fits y_t = c + Σ φᵢ y_{t-i} by OLS per group
    and iterates ``horizon`` steps ahead: ``(key, step, forecast)``.
    Deterministic numpy; one Arrow batch per series — the
    embarrassingly-parallel per-instrument layout (SURVEY.md §7)."""

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[value_col].to_numpy(dtype=float)
        y = y[~np.isnan(y)]
        key = pdf[key_col].iloc[0]
        if len(y) < order + 5:
            return pd.DataFrame({key_col: [], "step": [], "forecast": []}).astype(
                {key_col: "int64", "step": "int64", "forecast": "float64"}
            )
        X = np.column_stack(
            [np.ones(len(y) - order)]
            + [y[order - i : len(y) - i] for i in range(1, order + 1)]
        )
        beta, *_ = np.linalg.lstsq(X, y[order:], rcond=None)
        hist = list(y[-order:])
        out = []
        for step in range(1, horizon + 1):
            nxt = beta[0] + sum(
                beta[i] * hist[-i] for i in range(1, order + 1)
            )
            out.append((key, step, float(nxt)))
            hist.append(nxt)
        return pd.DataFrame(out, columns=[key_col, "step", "forecast"])

    schema = f"{key_col} long, step long, forecast double"
    return df.select(key_col, time_col, value_col).groupBy(key_col).applyInPandas(
        _per_group, schema=schema
    )
