"""Kalman-filter state-space models (SURVEY §2.9 M2/M3), pure numpy.

The reference fits statsmodels ``UnobservedComponents``:
- M2 ``level='local level'`` (``src/kalman_model.py:9-17``): obs noise R,
  level-walk noise Q, MLE-fit, in-sample residuals + out-of-sample
  forecast with confidence intervals.
- M3 BSTS ``level='local linear trend'`` + seasonal
  (``src/bsts_model.py:12-50``).

statsmodels is not available in this environment, so the engine ships
its own Kalman filter with EM (deterministic, fixed iteration count)
for the variance hyperparameters.  Numerics therefore differ from the
reference's L-BFGS MLE — parity is at the metric level, not row level
(SURVEY §5 determinism note).

Spark shape: each model is a module-level kernel run by the package's
one per-series shell (``_partition.per_series``), fanned out across
executors.  The local level takes every series of an Arrow batch in one
call (``kalman_local_level_batch``): series with equal-length training
heads run EM in lockstep, one M-step per iteration over their stack,
while each series' filter and smoother stay scalar recursions.  The
fixed-variance and BSTS kernels take one series at a time
(``_partition.each_series``).  State per group is O(state_dim²) — tiny.
At 100 TB the constraint is rows-per-series, not series count; the
filter is O(T) per series.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ._partition import each_series, per_series
from ._score import rolling_sigma_z
from .shesd import _norm_ppf


def _filter_variances(n: int, p0: float, q: float, r: float):
    """The filter's ``(p_pred, gain, p)`` sequences over ``n`` steps.
    They never read ``y``: once ``p`` repeats exactly, every later step
    repeats the last, so the rest is filled instead of stepped.
    Returns the three lists and the first index from which ``p`` is
    constant."""
    p_pred, gain, p = [], [], []
    pp = p0
    for t in range(n):
        ppp = pp + q
        k_gain = ppp / (ppp + r)
        pn = (1 - k_gain) * ppp
        p_pred.append(ppp)
        gain.append(k_gain)
        p.append(pn)
        if pn == pp:
            rest = n - t - 1
            p_pred += [ppp] * rest
            gain += [k_gain] * rest
            p += [pn] * rest
            return p_pred, gain, p, max(t - 1, 0)
        pp = pn
    return p_pred, gain, p, n - 1


def _smoother_variances(p: list, q: float, fixed_from: int):
    """The RTS smoother's ``(c, p_s)`` sequences from the filtered
    variances ``p``, constant from index ``fixed_from`` on.  Like the
    filter's they never read ``y``; once ``p_s`` repeats exactly inside
    that constant stretch, the rest of the stretch is filled."""
    n = len(p)
    c_s = [0.0] * n
    p_s = p.copy()
    ps = p[-1]
    t = n - 2
    while t >= 0:
        pt = p[t]
        c = pt / (pt + q)
        nps = pt + c * c * (ps - (pt + q))
        c_s[t], p_s[t] = c, nps
        if nps == ps and t > fixed_from:
            c_s[fixed_from:t] = [c] * (t - fixed_from)
            p_s[fixed_from:t] = [nps] * (t - fixed_from)
            t = fixed_from
        ps = nps
        t -= 1
    return c_s, p_s


def _kalman_em_local_level(y: np.ndarray, n_iter: int = 30):
    """EM estimation of (q, r) for the local-level model, then a final
    filter pass.  Returns one-step-ahead predicted mean and variance.

    ``y`` is one series, or a ``(series × n)`` stack of equal-length
    series fitted in lockstep: then every output gains the leading
    series axis and each EM iteration's M-step runs once over the
    stack (row-wise means equal 1-D means bit for bit).

    The filter and smoother recursions run on Python floats, one series
    at a time: the same IEEE double operations in the same order as
    numpy scalars, without the per-element numpy dispatch.  Their
    variance halves never read ``y`` and are stepped only until they
    repeat (:func:`_filter_variances`, :func:`_smoother_variances`);
    only the means are stepped over the whole series.  A training
    slice of fewer than 2 points has nothing to estimate (q) from, so
    it keeps the initial (q, r) and returns one filter pass."""
    ys = np.atleast_2d(y)
    n = ys.shape[1]
    rows = ys.tolist()
    var_y = [float(np.var(v)) or 1.0 for v in ys]
    q = [v * 0.1 for v in var_y]
    r = [v * 0.9 for v in var_y]
    level0 = [v[0] for v in rows]
    for _ in range(n_iter):
        mu_pred, p_pred, mu_s, p_s = [], [], [], []
        for i, yi in enumerate(rows):
            # forward filter
            pp_s, gain, p, fixed_from = _filter_variances(n, var_y[i], q[i], r[i])
            mu = []
            step = mu.append
            m = level0[i]
            for yt, k_gain in zip(yi, gain):
                m = m + k_gain * (yt - m)
                step(m)
            # each step predicts the level the step before it filtered
            mu_pred.append([level0[i], *mu[:-1]])
            p_pred.append(pp_s)
            if n < 2:
                continue
            # RTS smoother
            c_s, ps_i = _smoother_variances(p, q[i], fixed_from)
            ms_i = mu.copy()
            ms = mu[-1]
            for t in range(n - 2, -1, -1):
                mt = mu[t]
                ms = mt + c_s[t] * (ms - mt)
                ms_i[t] = ms
            mu_s.append(ms_i)
            p_s.append(ps_i)
        if n < 2:
            break
        # M-step, every series at once
        mu_s = np.array(mu_s)
        p_s = np.array(p_s)
        r_new = np.mean((ys - mu_s) ** 2 + p_s, axis=1)
        dm = np.diff(mu_s, axis=1)
        q_new = np.mean(dm**2, axis=1) + np.mean(p_s[:, 1:] + p_s[:, :-1], axis=1) * 0.5
        q = np.maximum(q_new, 1e-12).tolist()
        r = np.maximum(r_new, 1e-12).tolist()
        level0 = mu_s[:, 0].tolist()
    mu_pred = np.array(mu_pred)
    var_pred = np.array(p_pred) + np.array(r)[:, None]
    if np.ndim(y) == 1:
        return mu_pred[0], var_pred[0], q[0], r[0]
    return mu_pred, var_pred, np.array(q), np.array(r)


KALMAN_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "pred_mean double, pred_lower double, pred_upper double, resid double"
)


def _band(y: np.ndarray, mean: np.ndarray, var: np.ndarray,
          alpha: float) -> dict:
    """The Kalman-family output columns from the predictive mean and
    variance: the Gaussian 1-alpha interval and the residual."""
    zq = _norm_ppf(1 - alpha / 2)
    sd = np.sqrt(var)
    return {
        "pred_mean": mean,
        "pred_lower": mean - zq * sd,
        "pred_upper": mean + zq * sd,
        "resid": y - mean,
    }


def _forecast_tail(y: np.ndarray, n_train: int, mu_pred: np.ndarray,
                   var_pred: np.ndarray, q: float, r: float,
                   dynamic: bool) -> tuple[np.ndarray, np.ndarray]:
    """Extend one series' in-sample predictions over its ``y[n_train:]``
    tail (see :func:`kalman_local_level`)."""
    n = len(y)
    if n_train >= n:
        return mu_pred, var_pred
    # reconstruct the filtered state at the last train row from
    # the one-step-predicted outputs (p_pred = var_pred - r)
    ppp = var_pred[-1] - r
    k_last = ppp / var_pred[-1]
    last_mu = mu_pred[-1] + k_last * (y[n_train - 1] - mu_pred[-1])
    if dynamic:
        h = np.arange(1, n - n_train + 1, dtype=float)
        fc_mean = np.full(n - n_train, last_mu)
        fc_var = (1 - k_last) * ppp + h * q + r
    else:
        m, pp = last_mu, (1 - k_last) * ppp
        fc_mean = np.empty(n - n_train)
        fc_var = np.empty(n - n_train)
        for t in range(n_train, n):
            pv = pp + q
            fc_mean[t - n_train] = m
            fc_var[t - n_train] = pv + r
            kg = pv / (pv + r)
            m = m + kg * (y[t] - m)
            pp = (1 - kg) * pv
    return (np.concatenate([mu_pred, fc_mean]),
            np.concatenate([var_pred, fc_var]))


def kalman_local_level_batch(cols: dict, offsets: np.ndarray,
                             train_frac: float = 1.0, alpha: float = 0.05,
                             dynamic: bool = True,
                             score_col: str | None = None) -> dict:
    """:func:`kalman_local_level` on the series of ``cols``, back to
    back in ``rn`` order at CSR ``offsets``.  Series whose training
    heads have the same length are fitted in lockstep by one
    :func:`_kalman_em_local_level` call."""
    y = np.asarray(cols["value"], dtype=float)
    spans = list(zip(offsets[:-1].tolist(), offsets[1:].tolist()))
    n_train = [max(int((b - a) * train_frac), 2) for a, b in spans]
    heads = [y[a:b][:k] for (a, b), k in zip(spans, n_train)]
    fits: list = [None] * len(spans)
    by_len: dict[int, list[int]] = {}
    for i, h in enumerate(heads):
        by_len.setdefault(len(h), []).append(i)
    for idx in by_len.values():
        mu_pred, var_pred, q, r = _kalman_em_local_level(
            np.stack([heads[i] for i in idx]))
        for j, i in enumerate(idx):
            fits[i] = mu_pred[j], var_pred[j], q[j], r[j]
    mean = np.empty(len(y))
    var = np.empty(len(y))
    for (a, b), k, (mu_pred, var_pred, q, r) in zip(spans, n_train, fits):
        mean[a:b], var[a:b] = _forecast_tail(y[a:b], k, mu_pred, var_pred,
                                             q, r, dynamic)
    out = _band(y, mean, var, alpha)
    if score_col:
        out[score_col] = np.concatenate(
            [rolling_sigma_z(out["resid"][a:b]) for a, b in spans])
    return out


def kalman_local_level_kernel(g: pd.DataFrame, train_frac: float = 1.0,
                              alpha: float = 0.05, dynamic: bool = True,
                              score_col: str | None = None) -> dict:
    """:func:`kalman_local_level` on one series ``g`` in ``rn`` order."""
    return kalman_local_level_batch(
        {"value": g["value"].to_numpy(float)}, np.array([0, len(g)]),
        train_frac=train_frac, alpha=alpha, dynamic=dynamic,
        score_col=score_col,
    )


def kalman_local_level(
    df: DataFrame,
    train_frac: float = 1.0,
    alpha: float = 0.05,
    dynamic: bool = True,
    score_col: str | None = None,
) -> DataFrame:
    """M2: per-series local-level Kalman one-step-ahead prediction.

    Columns added: ``pred_mean, pred_lower, pred_upper`` (predictive
    interval at 1-alpha via the Gaussian quantile) and ``resid``.
    With ``train_frac < 1`` the filter fits (EM) on the head fraction;
    the tail is forecast per ``dynamic``, mirroring the reference's
    ``predict_with_intervals(..., use_dynamic=...)``
    (``src/kalman_model.py:19-43``):

    - ``dynamic=True``: multi-step forecast — level frozen at the train
      end, variance growing (statsmodels ``get_prediction(dynamic=
      True)``).
    - ``dynamic=False``: one-step-ahead filtering continues through the
      tail with the train-fit ``(q, r)`` — the state updates on each
      observed test value but the hyperparameters never see test data.

    ``score_col`` additionally emits the rolling-σ z-score of the
    residuals (``functions._score.rolling_sigma_z``) inside the same
    pass.
    """
    return per_series(
        df.select("series_id", "timestamp", "value", "rn"),
        KALMAN_SCHEMA + (f", {score_col} double" if score_col else ""),
        partial(kalman_local_level_batch, train_frac=train_frac,
                alpha=alpha, dynamic=dynamic, score_col=score_col),
    )


KALMAN_FIXED_SCHEMA = (
    "series_id string, rn long, pred_mean double, pred_lower double, "
    "pred_upper double, resid double"
)


def kalman_fixed_kernel(g: pd.DataFrame, q: float = 0.1, r: float = 1.0,
                        p0: float = 10.0, alpha: float = 0.05) -> dict:
    """:func:`kalman_fixed` on one series ``g`` in ``rn`` order."""
    qv, rv, pz = float(q), float(r), float(p0)
    y = g["value"].to_numpy(float)
    n = len(y)
    pm = np.empty(n)
    pvp = np.empty(n)
    m, p = float(y[0]), pz
    for t in range(n):
        pp = p + qv
        pm[t] = m
        pvp[t] = pp + rv
        k = pp / (pp + rv)
        m = m + k * (y[t] - m)
        p = (1.0 - k) * pp
    return _band(y, pm, pvp, alpha)


def kalman_fixed(
    df: DataFrame,
    q: float = 0.1,
    r: float = 1.0,
    p0: float = 10.0,
    alpha: float = 0.05,
) -> DataFrame:
    """M2 (oracle-checkable variant): local-level Kalman filter with
    FIXED (q, r) — the scalar recursion of the reference's filter
    (``src/kalman_model.py:9-43``) without the MLE step, so the whole
    model is a closed-form recurrence::

        pv = p + q;  k = pv / (pv + r)
        m' = m + k (y − m);  p' = (1 − k) pv

    initialized at ``m = y_1, p = p0``.  Every step is plain double
    arithmetic, which makes the model expressible as a DuckDB RECURSIVE
    CTE — the hash-gated member of the state-space family (the EM/MLE
    variants stay rows-only).  The expression tree of the kernel is
    kept textually in lockstep with the oracle so outputs are
    bit-identical (same IEEE ops on identical inputs).
    """
    return per_series(
        df.select("series_id", "value", "rn"),
        KALMAN_FIXED_SCHEMA,
        each_series(partial(kalman_fixed_kernel, q=q, r=r, p0=p0, alpha=alpha)),
    )


def bsts_fixed_kernel(g: pd.DataFrame, ql: float = 0.125,
                      qb: float = 0.015625, r: float = 1.0,
                      p0: float = 16.0, alpha: float = 0.05) -> dict:
    """:func:`bsts_fixed` on one series ``g`` in ``rn`` order."""
    QL, QB, RV, PZ = float(ql), float(qb), float(r), float(p0)
    y = g["value"].to_numpy(float)
    n = len(y)
    pm = np.empty(n)
    pvp = np.empty(n)
    l, b = float(y[0]), 0.0
    p11, p12, p22 = PZ, 0.0, PZ
    for t in range(n):
        lp = l + b
        bp = b
        p11p = p11 + 2.0 * p12 + p22 + QL
        p12p = p12 + p22
        p22p = p22 + QB
        f = p11p + RV
        pm[t] = lp
        pvp[t] = f
        k1 = p11p / f
        k2 = p12p / f
        v = y[t] - lp
        l = lp + k1 * v
        b = bp + k2 * v
        p11 = p11p - k1 * p11p
        p12 = p12p - k1 * p12p
        p22 = p22p - k2 * p12p
    return _band(y, pm, pvp, alpha)


def bsts_fixed(
    df: DataFrame,
    ql: float = 0.125,
    qb: float = 0.015625,
    r: float = 1.0,
    p0: float = 16.0,
    alpha: float = 0.05,
) -> DataFrame:
    """M3 (oracle-checkable variant): the local-linear-trend core of the
    reference's BSTS (``src/bsts_model.py:12-50``, ``level='local linear
    trend'``) with FIXED state variances instead of MLE — state
    ``[level, slope]``, transition ``[[1,1],[0,1]]``.  The 2-dim filter
    unrolls into seven scalar recurrences (2 means + 3 covariance
    entries + predicted mean/variance)::

        lp = l + b;  bp = b
        p11' = p11 + 2 p12 + p22 + ql;  p12' = p12 + p22;  p22' = p22 + qb
        f = p11' + r;  k1 = p11'/f;  k2 = p12'/f;  v = y - lp
        l = lp + k1 v;  b = bp + k2 v
        p11 = p11' - k1 p11';  p12 = p12' - k1 p12';  p22 = p22' - k2 p12'

    so the whole model carries a DuckDB RECURSIVE-CTE oracle, upgrading
    the BSTS family from rows-only to hash-gated (the seasonal blocks
    stay rows-only in :func:`bsts_forecast` — a period-``p`` dummy
    seasonal would need O(p²) recursive covariance columns).

    The default variances are DYADIC RATIONALS (0.125, 0.015625, 1.0,
    16.0): every anchor-step constant is then exact in both IEEE-754
    binary AND decimal arithmetic, so the engines' different literal
    handling cannot introduce even a 1-ulp seed difference — the
    recursion is bit-identical end to end (verified in
    ``tests/test_model_queries.py``).  The expression trees of the
    kernel are textually in lockstep with the oracle.
    """
    return per_series(
        df.select("series_id", "value", "rn"),
        KALMAN_FIXED_SCHEMA,
        each_series(partial(bsts_fixed_kernel, ql=ql, qb=qb, r=r, p0=p0, alpha=alpha)),
    )


BSTS_SCHEMA = KALMAN_SCHEMA


def bsts_forecast_kernel(g: pd.DataFrame, period: int = 24,
                         train_frac: float = 0.5, alpha: float = 0.05,
                         seasonal_periods: list[int] | None = None,
                         score_col: str | None = None) -> dict:
    """:func:`bsts_forecast` on one series ``g`` in ``rn`` order."""
    y = g["value"].to_numpy(float)
    n = len(y)
    min_rows = (max(seasonal_periods) if seasonal_periods else period) + 2
    n_train = max(int(n * train_frac), min_rows)
    n_train = min(n_train, n)
    var_y = float(np.var(y[:n_train])) or 1.0
    if seasonal_periods:
        # trigonometric blocks: state pairs (γ_j, γ*_j) per harmonic
        harmonics = [(p, min(int(p / 2), 10)) for p in seasonal_periods]
        dim = 2 + 2 * sum(h for _, h in harmonics)
        T = np.zeros((dim, dim))
        T[0, 0] = T[0, 1] = T[1, 1] = 1.0
        Z = np.zeros(dim)
        Z[0] = 1.0
        Q = np.zeros((dim, dim))
        i = 2
        for p, h in harmonics:
            for j in range(1, h + 1):
                lam = 2.0 * np.pi * j / p
                c, s = np.cos(lam), np.sin(lam)
                T[i, i], T[i, i + 1] = c, s
                T[i + 1, i], T[i + 1, i + 1] = -s, c
                Z[i] = 1.0
                Q[i, i] = Q[i + 1, i + 1] = 1e-5 * var_y
                i += 2
        Q[0, 0] = 1e-3 * var_y
        Q[1, 1] = 1e-5 * var_y
        Rv = 0.3 * var_y
    else:
        m = period - 1
        dim = 2 + m
        # transition
        T = np.zeros((dim, dim))
        T[0, 0] = T[0, 1] = T[1, 1] = 1.0
        T[2, 2:] = -1.0
        for i in range(m - 1):
            T[3 + i, 2 + i] = 1.0
        Z = np.zeros(dim)
        Z[0] = Z[2] = 1.0
        # fixed variance ratios in lieu of MLE; tuned on synthetic
        # trend+daily-seasonal series (test-tail MAE ~= innovation sd)
        Q = np.zeros((dim, dim))
        Q[0, 0] = 1e-3 * var_y
        Q[1, 1] = 1e-5 * var_y
        Q[2, 2] = 1e-4 * var_y
        Rv = 0.3 * var_y
    a = np.zeros(dim)
    a[0] = y[0]
    P = np.eye(dim) * var_y * 10
    pred_mean = np.empty(n)
    pred_var = np.empty(n)
    for t in range(n):
        a_pred = T @ a
        P_pred = T @ P @ T.T + Q
        f_mean = Z @ a_pred
        f_var = Z @ P_pred @ Z + Rv
        pred_mean[t], pred_var[t] = f_mean, f_var
        if t < n_train:  # update only on train rows -> dynamic tail
            v = y[t] - f_mean
            K = (P_pred @ Z) / f_var
            a = a_pred + K * v
            P = P_pred - np.outer(K, K) * f_var
        else:
            a, P = a_pred, P_pred
    out = _band(y, pred_mean, pred_var, alpha)
    if score_col:
        out[score_col] = rolling_sigma_z(out["resid"])
    return out


def bsts_forecast(
    df: DataFrame,
    period: int = 24,
    train_frac: float = 0.5,
    alpha: float = 0.05,
    seasonal_periods: list[int] | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """M3: local-linear-trend + seasonal state space, numpy Kalman.

    Two seasonal representations, matching the reference's
    ``fit_bsts`` (``src/bsts_model.py:12-50``):

    - ``seasonal_periods=None``: single DUMMY seasonal of ``period``
      (state ``[level, slope, s_1..s_{period-1}]``) — the reference's
      ``seasonal=seasonal_period`` branch.
    - ``seasonal_periods=[48, 336]``: TRIGONOMETRIC multi-seasonality
      (``freq_seasonal``) — per period p, ``min(p // 2, 10)`` harmonics
      (the reference's harmonic cap, ``src/bsts_model.py:29``), each a
      2-state rotation block with angle 2πj/p.

    Fixed variance ratios (deterministic in lieu of MLE).  Fits on the
    train fraction, dynamic multi-step forecast over the tail with
    growing variance, as the reference's ``predict_bsts(dynamic=True)``
    (``src/bsts_model.py:52-71``).  ``score_col`` additionally emits
    the rolling-σ z-score of the residuals in the same pass.
    """
    return per_series(
        df.select("series_id", "timestamp", "value", "rn"),
        BSTS_SCHEMA + (f", {score_col} double" if score_col else ""),
        each_series(partial(bsts_forecast_kernel, period=period, train_frac=train_frac,
                            alpha=alpha, seasonal_periods=seasonal_periods,
                            score_col=score_col)),
    )
