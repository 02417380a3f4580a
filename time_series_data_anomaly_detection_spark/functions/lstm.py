"""LSTM forecaster (SURVEY §2.9 M5).

Reference: per-series 1→64-hidden ``nn.LSTM`` + Linear head trained on
48-step sliding windows (``src/lstm_model.py:32-91``), built here as a
from-scratch numpy LSTM with full BPTT + Adam
(``functions/_lstm_numpy.py``) implementing the SAME architecture,
loss, optimizer, and window semantics — M5 is a real model, not a
stand-in, and its output does not depend on which optional packages
happen to be installed.

Training is seeded per call and stochastic-by-seed, so parity is
metric-level (SURVEY §5), and the query stays rows-only in the gate.
``max_train_windows`` caps the training set at the tail of the train
region (cost control in the spirit of the GP's P5 subsample — it
changes results and is therefore an explicit, documented knob).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._lstm_numpy import NumpyLSTM
from ._partition import each_series, per_series
from ._score import rolling_sigma_z

LSTM_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "pred_mean double, resid double"
)


def lstm_forecast_kernel(g: pd.DataFrame, seq_len: int = 48, hidden: int = 64,
                         epochs: int = 10, train_frac: float = 1.0,
                         seed: int = 0, max_train_windows: int | None = None,
                         batch: int = 64, lr: float = 1e-3,
                         score_col: str | None = None) -> dict:
    """:func:`lstm_forecast` on one series ``g`` in ``rn`` order."""
    y = g["value"].to_numpy(np.float64)
    n = len(y)
    full = np.full(n, np.nan)
    # shorter than one window: the reference NaN-pads the whole series;
    # without this guard sliding_window_view raises and kills every
    # series in the query
    if n > seq_len:
        full[seq_len:] = _predict(y, seq_len, hidden, epochs, train_frac,
                                  seed, max_train_windows, batch, lr)
    out = {"pred_mean": full, "resid": y - full}
    if score_col:
        out[score_col] = rolling_sigma_z(out["resid"])
    return out


def _predict(y: np.ndarray, seq_len: int, hidden: int, epochs: int,
             train_frac: float, seed: int, max_train_windows: int | None,
             batch: int, lr: float) -> np.ndarray:
    """Train on ``y``'s windows and predict ``y[seq_len:]``."""
    n = len(y)
    mu, sd = float(y.mean()), float(y.std()) or 1.0
    z = (y - mu) / sd
    n_train = max(int(n * train_frac), seq_len + 2)
    X = np.lib.stride_tricks.sliding_window_view(z, seq_len)[:-1]
    t = z[seq_len:]
    lo = 0
    hi = n_train - seq_len
    if max_train_windows is not None:
        lo = max(hi - max_train_windows, 0)
    X_tr, y_tr = X[lo:hi, :, None], t[lo:hi]
    model = NumpyLSTM(hidden, seed=seed)
    model.fit(X_tr, y_tr, epochs=epochs, batch=batch, seed=seed, lr=lr)
    return model.predict(X[:, :, None]) * sd + mu


def lstm_forecast(
    df: DataFrame,
    seq_len: int = 48,
    hidden: int = 64,
    epochs: int = 10,
    train_frac: float = 1.0,
    seed: int = 0,
    max_train_windows: int | None = None,
    batch: int = 64,
    lr: float = 1e-3,
    score_col: str | None = None,
) -> DataFrame:
    """Per-series LSTM one-step-ahead prediction.

    Matches the reference's shapes: windows ``X[i] = y[i:i+seq_len]``,
    target ``y[i+seq_len]``; the first ``seq_len`` rows get null
    predictions (NaN-padding, ``src/run_lstm.py:69-71``); values are
    z-normalized with train moments and predictions inverse-transformed
    (``src/run_lstm.py:36-39,74``).  Training is seeded per series.
    ``score_col`` additionally emits the rolling-σ z-score of the
    residuals in the same pass.
    """
    return per_series(
        df.select("series_id", "timestamp", "value", "rn"),
        LSTM_SCHEMA + (f", {score_col} double" if score_col else ""),
        each_series(partial(lstm_forecast_kernel, seq_len=seq_len, hidden=hidden,
                            epochs=epochs, train_frac=train_frac, seed=seed,
                            max_train_windows=max_train_windows, batch=batch,
                            lr=lr, score_col=score_col)),
    )
