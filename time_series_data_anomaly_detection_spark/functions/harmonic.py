"""Harmonic (Fourier-term) regression forecaster — closed-form least
squares on trend + seasonal sinusoids.

The reference's seasonal forecasters all go through iterative
state-space fits (BSTS ``src/bsts_model.py:12-50``, Kalman EM); the
classical closed-form alternative regresses the series on
``[1, t, sin(2πkt/m), cos(2πkt/m)]_{k=1..K}`` — one exact OLS solve
per series, no iteration, no convergence question.  It is the
de-seasonalizing benchmark every state-space model must beat, and the
standard scale fallback when 10⁶ series make per-series EM
unaffordable.

Gate status: rows-only by declared design — ``sin``/``cos`` are not
bit-stable across engines, so no hash oracle; semantics pinned by a
numpy-parity test and an R²-on-planted-seasonality test.

Scale shape: train rows are a positional prefix (P3 semantics); ONE
grouped-map pass per series does the (2K+2)-column OLS via
``numpy.linalg.lstsq`` on its own rows — O(n·K²) per series, K ≤ 4.
Parallelism axis: series count, like every model operator here.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._partition import each_series, per_series

HARMONIC_SCHEMA = (
    "series_id string, rn long, split string, pred double, resid double"
)


def harmonic_forecast_kernel(g: pd.DataFrame, period: int = 48,
                             n_harmonics: int = 3,
                             train_frac: float = 0.7) -> dict:
    """:func:`harmonic_forecast` on one series ``g`` in ``rn`` order."""
    p = float(period)
    y = g["value"].to_numpy(float)
    n = len(y)
    t = np.arange(1, n + 1, dtype=float)
    cols = [np.ones(n), t]
    for k in range(1, int(n_harmonics) + 1):
        w = 2.0 * np.pi * k * t / p
        cols += [np.sin(w), np.cos(w)]
    X = np.column_stack(cols)
    n_tr = int(n * float(train_frac))
    if n_tr < X.shape[1]:
        n_tr = min(n, X.shape[1])
    beta, *_ = np.linalg.lstsq(X[:n_tr], y[:n_tr], rcond=None)
    pred = X @ beta
    return {
        "split": np.where(np.arange(n) < n_tr, "Train", "Test"),
        "pred": pred,
        "resid": y - pred,
    }


def harmonic_forecast(
    df: DataFrame,
    period: int = 48,
    n_harmonics: int = 3,
    train_frac: float = 0.7,
    value_col: str = "value",
) -> DataFrame:
    """Fit ``y ~ 1 + t + Σ_k [sin, cos](2πk·t/period)`` on the first
    ``train_frac`` rows per series, predict every row.

    Returns ``series_id, rn, split ('Train'/'Test'), pred, resid``.
    """
    src = df.select("series_id", "rn", F.col(value_col).alias("value"))
    return per_series(
        src,
        HARMONIC_SCHEMA,
        each_series(partial(harmonic_forecast_kernel, period=period,
                            n_harmonics=n_harmonics, train_frac=train_frac)),
    )
