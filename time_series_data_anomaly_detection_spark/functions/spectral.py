"""Spectral Residual saliency detection (Ren et al., KDD 2019 —
"Time-Series Anomaly Detection Service at Microsoft", public paper).

The SR transform treats the log-amplitude spectrum's deviation from
its local average as "saliency": inverse-transforming the residual
spectrum with the original phase yields a saliency map whose spikes
mark visually-salient (anomalous) points.  It is the strongest cheap
unsupervised detector on NAB-style point anomalies and complements the
engine's forecast-residual family (AR1/Kalman/GP flag what models
mis-predict; SR flags what "looks different" with no model at all).

Pipeline per series (one grouped-map kernel call, O(n log n) FFT):

1. ``A = |FFT(x)|``, ``P = phase(FFT(x))``
2. ``L = log(A + eps)``; ``AL = moving-average(L, q)`` (spectrum-side)
3. ``R = L - AL``; ``S = |IFFT(exp(R + iP))|`` — the saliency map
4. score = ``(S - local-mean(S)) / (local-mean(S) + eps)`` over a
   trailing window, flag where score > tau (paper's decision rule).

Sequential FFT per series is inherently non-SQL, so the gate is
rows-only; the unit test plants a synthetic spike in a seasonal signal
and asserts SR ranks it first.

At 100 TB: series are independent tasks (same partitioning contract as
every model fit here); per-series memory is O(n) complex128.  For
streams the paper's estimated-point trick (extend the tail with a
linear extrapolation, score only the last m points) drops straight
into the same helper — ``estimate_tail`` below implements it.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._partition import each_series, per_series

SR_SCHEMA = (
    "series_id string, rn long, value double, saliency double, "
    "sr_score double, flag int"
)

EPS = 1e-8


def _moving_average(x: np.ndarray, w: int) -> np.ndarray:
    """Centered moving average with edge-clamped partial windows."""
    kernel = np.ones(w) / w
    # pad by edge values so the average is defined everywhere
    padded = np.concatenate([np.full(w // 2, x[0]), x, np.full(w - 1 - w // 2, x[-1])])
    return np.convolve(padded, kernel, mode="valid")


def spectral_residual_saliency(
    x: np.ndarray, q: int = 3, score_window: int = 40
) -> tuple[np.ndarray, np.ndarray]:
    """Return (saliency map, relative score) for one series."""
    spec = np.fft.fft(x)
    amp = np.abs(spec)
    log_amp = np.log(amp + EPS)
    resid = log_amp - _moving_average(log_amp, q)
    # rebuild with original phase: exp(resid) carries the magnitude
    sal = np.abs(np.fft.ifft(np.exp(resid) * spec / np.where(amp > EPS, amp, EPS)))
    # trailing local mean (paper uses the preceding-z average)
    w = min(score_window, len(x))
    csum = np.cumsum(np.concatenate([[0.0], sal]))
    idx = np.arange(1, len(x) + 1)
    lo = np.maximum(0, idx - w)
    local = (csum[idx] - csum[lo]) / (idx - lo)
    score = (sal - local) / (local + EPS)
    return sal, score


def estimate_tail(x: np.ndarray, m: int = 5, look: int = 20) -> np.ndarray:
    """Paper's §3.1 tail extension: append m estimated points so the
    last real point is not at the FFT boundary (streaming use)."""
    look = min(look, len(x) - 1)
    if look < 1:
        return np.concatenate([x, np.full(m, x[-1])])
    grads = (x[-1] - x[-1 - look : -1]) / np.arange(look, 0, -1)
    est = x[-1] + grads.mean()
    return np.concatenate([x, np.full(m, est)])


def spectral_residual_kernel(g: pd.DataFrame, q: int = 3,
                             score_window: int = 40, tau: float = 3.0) -> dict:
    """:func:`spectral_residual_scores` on one series ``g`` in ``rn``
    order (all-zero scores below 8 points)."""
    x = g["value"].to_numpy(dtype=np.float64)
    if len(x) < 8:
        sal = np.zeros_like(x)
        score = np.zeros_like(x)
    else:
        sal, score = spectral_residual_saliency(x, q=q, score_window=score_window)
    return {"saliency": sal, "sr_score": score, "flag": (score > tau).astype("int32")}


def spectral_residual_scores(
    df: DataFrame, q: int = 3, score_window: int = 40, tau: float = 3.0
) -> DataFrame:
    """Per-series SR saliency + flags over ``(series_id, rn, value)``."""
    return per_series(
        df.select("series_id", "rn", "value"),
        SR_SCHEMA,
        each_series(partial(spectral_residual_kernel, q=q, score_window=score_window,
                            tau=tau)),
    )
