"""Robust STL-style decomposition (SURVEY §2.9 M1), pure numpy.

Reference: statsmodels ``STL(values, period, robust=True)``
(``src/utils.py:5-29``).  statsmodels is unavailable; this implements
an iterated Cleveland-style decomposition with Tukey-biweight
robustness weights:

  repeat n_outer times:
    trend    = weighted MA of (value − seasonal) over 2·period+1
    seasonal = per-phase subseries smoothed across neighboring
               cycles, low-pass-corrected (drifting seasonal,
               real-STL style)
    resid    = value - trend - seasonal
    weights  = biweight(resid / (6 * median|resid|))

It is not Loess-identical to statsmodels, but is tuned against the
reference's golden artifact on real NAB data (trend R² 0.92,
seasonal corr 0.97 — tests/test_golden_parity.py) and reproduces the
robust spike-resistance the reference relies on for anomaly scoring
(metric-level parity, SURVEY §5).  The non-robust single pass equals
``operators.decompose.classical_decompose``, which IS oracle-checked.

Spark shape: one kernel call per series in the grouped-map shell;
O(T · n_outer) per series.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._partition import each_series, per_series
from ._score import mad_z

STL_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "trend double, seasonal double, resid double"
)


def _wma_flat(y: np.ndarray, w: np.ndarray, length: int) -> np.ndarray:
    """Weighted uniform moving average, edge-padded (partial windows)."""
    kernel = np.ones(length)
    num = np.convolve(y * w, kernel, mode="full")
    den = np.convolve(w, kernel, mode="full")
    center = np.arange(len(y)) + length // 2
    return num[center] / np.maximum(den[center], 1e-12)


def stl_series(
    y: np.ndarray,
    phase: np.ndarray,
    period: int,
    n_outer: int = 3,
    trend_window: int | None = None,
    seasonal_cycles: int = 7,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cleveland-style robust decomposition:

    - trend: weighted MA of the DESEASONALIZED series over
      ``trend_window`` (default 2·period+1 — tuned against the
      reference's statsmodels-Loess golden on NYC taxi: trend R² 0.92
      vs 0.55 for the naive period-wide MA on raw y);
    - seasonal: per-phase subseries smoothed across ``seasonal_cycles``
      neighboring cycles (real-STL style — lets the seasonal drift
      over weeks), low-pass-corrected so trend leakage is removed;
    - robustness: Tukey biweight reweighting on residuals per outer
      iteration.
    """
    n = len(y)
    if trend_window is None:
        trend_window = 2 * period + 1
    w = np.ones(n)
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    phases = np.unique(phase)
    phase_idx = {ph: np.where(phase == ph)[0] for ph in phases}
    for _ in range(n_outer):
        trend = _wma_flat(y - seasonal, w, trend_window)
        detr = y - trend
        seasonal = np.empty(n)
        for ph, idx in phase_idx.items():
            seasonal[idx] = _wma_flat(
                detr[idx], np.maximum(w[idx], 1e-12), seasonal_cycles
            )
        # remove low-frequency leakage so seasonal stays zero-mean-ish
        seasonal = seasonal - _wma_flat(seasonal, np.ones(n), period + 1)
        resid = y - trend - seasonal
        s0 = np.median(np.abs(resid))
        if s0 <= 0:
            break
        u = np.clip(resid / (6 * s0), -1, 1)
        w = (1 - u**2) ** 2
    resid = y - trend - seasonal
    return trend, seasonal, resid


def stl_decompose_kernel(g: pd.DataFrame, period: int = 24, n_outer: int = 3,
                         phase_col: str | None = None,
                         score_col: str | None = None) -> dict:
    """:func:`stl_decompose` on one series ``g`` in ``rn`` order."""
    y = g["value"].to_numpy(float)
    phase = g[phase_col].to_numpy() if phase_col else (g["rn"].to_numpy() % period)
    trend, seasonal, resid = stl_series(y, phase, period, n_outer)
    out = {"trend": trend, "seasonal": seasonal, "resid": resid}
    if score_col:
        out[score_col] = mad_z(resid)
    return out


def stl_decompose(
    df: DataFrame,
    period: int = 24,
    n_outer: int = 3,
    phase_col: str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """M1: robust decomposition columns trend/seasonal/resid per series.

    Phase defaults to ``rn % period`` (positional, like statsmodels);
    pass ``phase_col`` to use e.g. hour-of-day on calendar grids.
    ``score_col`` additionally emits the MAD z-score of the residuals
    (exact ``mad_scores`` math) inside the same pass — zero extra
    stages versus 4 aggregate/join waves for the operator form.
    """
    cols = ["series_id", "timestamp", "value", "rn"] + (
        [phase_col] if phase_col else []
    )
    schema = STL_SCHEMA + (f", {score_col} double" if score_col else "")
    return per_series(
        df.select(*cols),
        schema,
        each_series(partial(stl_decompose_kernel, period=period, n_outer=n_outer,
                            phase_col=phase_col, score_col=score_col)),
    )
