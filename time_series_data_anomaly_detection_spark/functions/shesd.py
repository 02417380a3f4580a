"""Seasonal Hybrid ESD (S-H-ESD) anomaly detection — the Twitter
AnomalyDetection algorithm (Hochenbaum, Vallis, Kejariwal 2017,
arXiv:1704.07706 — public).

Pipeline per series:

1. STL-style decomposition: remove the seasonal component (the
   engine's :func:`functions.stl.stl_decompose` algebra, reused here
   in its pandas form) AND the series median (the paper's "hybrid"
   twist: median, not trend, so a trend-following mean can't mask
   level shifts).
2. Generalized ESD test on the residual: iteratively remove the point
   with the largest robust score ``|x - median| / MAD`` and compare
   against the t-based critical value
   ``λ_i = (n-i) · t_{p,n-i-1} / sqrt((n-i-1+t²)(n-i+1))``,
   p = 1 - α/(2(n-i+1)).  The largest ``i`` with score > λ_i fixes the
   anomaly count — the statistically-grounded "how many anomalies"
   answer that fixed-threshold detectors dodge.

The t quantile uses the classic normal-quantile expansion
(Abramowitz & Stegun 26.7.5 / Hill 1970) over the engine's Acklam
normal PPF — scipy-free, same convention as ``operators/diagnostics``.

Max anomaly fraction defaults to the paper's 2 %; α = 0.05.

Sequential/iterative per series → the grouped-map shell, rows-only gate;
unit tests cross-check the ESD core against a naive reference and
assert planted anomalies (and ONLY those) are found on a clean
seasonal signal.

Scale: one task per series (the same partitioning contract as every
model fit here); the ESD loop is O(k·n) on a capped k = 2 % of n.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._partition import each_series, per_series
from .stl import stl_series

SHESD_SCHEMA = "series_id string, rn long, value double, resid double, anomaly int"


def _norm_ppf(p: np.ndarray | float) -> np.ndarray | float:
    """Acklam's rational approximation (|err| < 1.15e-9)."""
    p = np.asarray(p, dtype=np.float64)
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    out = np.empty_like(p)
    lo = p < plow
    hi = p > phigh
    mid = ~(lo | hi)
    if np.any(lo):
        q = np.sqrt(-2 * np.log(p[lo]))
        out[lo] = (((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) / \
                  ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1)
    if np.any(hi):
        q = np.sqrt(-2 * np.log(1 - p[hi]))
        out[hi] = -(((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) / \
                   ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1)
    if np.any(mid):
        q = p[mid] - 0.5
        r = q * q
        out[mid] = (((((a[0]*r+a[1])*r+a[2])*r+a[3])*r+a[4])*r+a[5])*q / \
                   (((((b[0]*r+b[1])*r+b[2])*r+b[3])*r+b[4])*r+1)
    return out if out.ndim else float(out)


def t_ppf(p: float, df: float) -> float:
    """Student-t quantile via the A&S 26.7.5 normal expansion."""
    if df <= 0:
        return float("nan")
    x = float(_norm_ppf(p))
    g1 = (x**3 + x) / 4.0
    g2 = (5*x**5 + 16*x**3 + 3*x) / 96.0
    g3 = (3*x**7 + 19*x**5 + 17*x**3 - 15*x) / 384.0
    g4 = (79*x**9 + 776*x**7 + 1482*x**5 - 1920*x**3 - 945*x) / 92160.0
    return x + g1/df + g2/df**2 + g3/df**3 + g4/df**4


def esd_test(resid: np.ndarray, max_anoms: int, alpha: float = 0.05) -> list[int]:
    """Generalized ESD with robust (median/MAD) scores — returns the
    indices of the detected outliers (paper's Algorithm 2 core)."""
    n = len(resid)
    active = np.ones(n, dtype=bool)
    candidates: list[int] = []
    n_detected = 0
    for i in range(1, max_anoms + 1):
        vals = resid[active]
        if len(vals) < 3:
            break
        med = np.median(vals)
        mad = 1.4826 * np.median(np.abs(vals - med))
        if mad < 1e-12:
            break
        scores = np.abs(resid - med) / mad
        scores[~active] = -np.inf
        idx = int(np.argmax(scores))
        test_stat = scores[idx]
        active[idx] = False
        candidates.append(idx)

        m = n - i + 1  # points in this round's sample
        p = 1 - alpha / (2 * m)
        t = t_ppf(p, m - 2)
        lam = (m - 1) * t / np.sqrt((m - 2 + t * t) * m)
        if test_stat > lam:
            n_detected = i
    return candidates[:n_detected]


def shesd_kernel(g: pd.DataFrame, period: int = 24,
                 max_anoms_frac: float = 0.02, alpha: float = 0.05) -> dict:
    """:func:`shesd_flags` on one series ``g`` in ``rn`` order."""
    x = g["value"].to_numpy(dtype=np.float64)
    n = len(x)
    if n < 2 * period:
        resid = x - np.median(x)
    else:
        phase = (g["rn"].to_numpy() - 1) % period
        _, seasonal, _ = stl_series(x, phase, period)
        resid = x - seasonal - np.median(x)
    max_anoms = max(1, int(np.floor(n * max_anoms_frac)))
    hits = esd_test(resid, max_anoms, alpha)
    anom = np.zeros(n, dtype=np.int32)
    anom[hits] = 1
    return {"resid": resid, "anomaly": anom}


def shesd_flags(
    df: DataFrame,
    period: int = 24,
    max_anoms_frac: float = 0.02,
    alpha: float = 0.05,
) -> DataFrame:
    """S-H-ESD per series over ``(series_id, rn, value)``."""
    return per_series(
        df.select("series_id", "rn", "value"),
        SHESD_SCHEMA,
        each_series(partial(shesd_kernel, period=period, max_anoms_frac=max_anoms_frac,
                            alpha=alpha)),
    )
