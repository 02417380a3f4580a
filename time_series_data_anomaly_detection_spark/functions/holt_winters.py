"""Holt-Winters additive triple exponential smoothing with FIXED
smoothing parameters — the third hash-gated member of the state-space
family (after ``kalman_fixed`` and ``bsts_fixed``).

The reference covers the trend+seasonal forecasting niche with
statsmodels state-space fits (``src/bsts_model.py:12-50``) whose MLE
step forces rows-only gates.  Fixed-(α, β, γ) Holt-Winters captures
the same level/trend/seasonal structure as a pure scalar+vector
recursion, so the whole model carries a DuckDB RECURSIVE-CTE oracle —
the seasonal state rides through the recursion as a length-``p`` list
column (``list_append(sl[2:], s_new)`` is the rotation).

Bit-exactness recipe (see functions/control.py): dyadic smoothing
constants (α=1/4, β=1/16, γ=1/4), initial level from an exact
DECIMAL(38,12) sum of the first period computed SPARK-side and joined
in, update expression trees textually in lockstep with the oracle.

Init convention (documented, deliberately simple): ``l0 = mean(y[1..p])``,
``b0 = 0``, ``s_i = y_i - l0``; one-step-ahead predictions start at
``t = p+1``.  Series shorter than ``p+1`` rows emit nothing.

Scale shape: one tiny per-series aggregate + broadcast join, one
grouped-map pass, O(p) state per series.
"""

from __future__ import annotations

from collections import deque
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._exact import DEC
from ._partition import each_series, per_series

HW_SCHEMA = "series_id string, rn long, pred double, resid double"


def holt_winters_run(y: np.ndarray, state: tuple, a: float = 0.25,
                     bq: float = 0.0625, g: float = 0.25) -> tuple:
    """The :func:`holt_winters_fixed` recursion with ``(a, bq, g) =
    (α, β, γ)``, resumable: advance ``state = (l, b, seasonal terms
    oldest first)`` over ``y``; returns the one-step-ahead predictions
    and the new state.  Shared with ``streaming_holt_winters``."""
    ca, cb, cg = 1.0 - a, 1.0 - bq, 1.0 - g
    l, b, sl = state
    sl = deque(sl)
    preds = np.empty(len(y))
    for i, yt in enumerate(y.tolist()):
        sprev = sl.popleft()
        preds[i] = (l + b) + sprev
        l_new = a * (yt - sprev) + ca * (l + b)
        b_new = bq * (l_new - l) + cb * b
        sl.append(g * (yt - l_new) + cg * sprev)
        l, b = l_new, b_new
    return preds, (l, b, list(sl))


def holt_winters_fixed_kernel(g: pd.DataFrame, period: int = 48,
                               alpha: float = 0.25, beta: float = 0.0625,
                               gamma: float = 0.25) -> pd.DataFrame:
    """:func:`holt_winters_fixed` on one series ``g`` in ``rn`` order,
    ``g["__l0"]`` its initial level: the rows after the first period."""
    p = int(period)
    y = g["value"].to_numpy(float)
    l0 = float(g["__l0"].iloc[0])  # y[p:] is empty at n == p
    st = l0, 0.0, [x - l0 for x in y[:p].tolist()]
    preds = holt_winters_run(y[p:], st, float(alpha), float(beta), float(gamma))[0]
    return pd.DataFrame(
        {
            "series_id": g["series_id"].iloc[p:].to_numpy(),
            "rn": g["rn"].iloc[p:].to_numpy(),
            "pred": preds,
            "resid": y[p:] - preds,
        }
    )


def holt_winters_fixed(
    df: DataFrame,
    period: int = 48,
    alpha: float = 0.25,
    beta: float = 0.0625,
    gamma: float = 0.25,
    value_col: str = "value",
) -> DataFrame:
    """Additive Holt-Winters one-step-ahead forecast with fixed
    (α, β, γ)::

        pred_t = (l + b) + s_{t-p}
        l' = α(y_t - s_{t-p}) + (1-α)(l + b)
        b' = β(l' - l) + (1-β)b
        s' = γ(y_t - l') + (1-γ)s_{t-p}

    Returns ``series_id, rn, pred, resid`` for ``rn > period``.
    """
    p = int(period)
    v = F.col(value_col)
    lvl0 = (
        df.filter(F.col("rn") <= p)
        .groupBy("series_id")
        .agg(
            F.count(value_col).alias("__np"),
            F.sum(v.cast(DEC)).cast("double").alias("__sp"),
        )
        .filter(F.col("__np") == p)
        .select(
            "series_id", (F.col("__sp") / F.lit(p)).alias("__l0")
        )
    )
    src = df.select("series_id", "rn", v.alias("value")).join(
        F.broadcast(lvl0), "series_id"
    )

    return per_series(
        src, HW_SCHEMA,
        each_series(partial(holt_winters_fixed_kernel, period=p, alpha=alpha, beta=beta,
                            gamma=gamma)),
    )


def holt_linear_fixed_kernel(g: pd.DataFrame, alpha: float = 0.25,
                             beta: float = 0.0625) -> pd.DataFrame:
    """:func:`holt_linear_fixed` on one series ``g`` in ``rn`` order:
    the rows from the third on."""
    a, bq = float(alpha), float(beta)
    y = g["value"].to_numpy(float)
    n = len(y)
    if n < 3:
        return pd.DataFrame({"series_id": [], "rn": [], "pred": [], "resid": []})
    lvl = y[0]
    tr = y[1] - y[0]
    # consume y[2:] one step at a time: predict, then update
    preds = np.empty(n - 2)
    for i in range(2, n):
        # state entering step i reflects data through y[i-1]
        if i > 2:
            prev = lvl
            lvl = a * y[i - 1] + (1.0 - a) * (lvl + tr)
            tr = bq * (lvl - prev) + (1.0 - bq) * tr
        preds[i - 2] = lvl + tr
    return pd.DataFrame(
        {
            "series_id": g["series_id"].iloc[2:].to_numpy(),
            "rn": g["rn"].iloc[2:].to_numpy(),
            "pred": preds,
            "resid": y[2:] - preds,
        }
    )


def holt_linear_fixed(
    df: DataFrame,
    alpha: float = 0.25,
    beta: float = 0.0625,
    value_col: str = "value",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing with FIXED
    (α, β) — the trend-only member between theta's SES and the
    seasonal Holt-Winters above::

        pred_t = l + b
        l' = α·y_t + (1-α)(l + b)
        b' = β(l' - l) + (1-β)b

    Init: ``l0 = y_1``, ``b0 = y_2 - y_1``; one-step-ahead predictions
    start at ``t = 3``.  Dyadic α=1/4, β=1/16 keep the recursion
    constants exact, so the grouped-map recursion and its DuckDB
    RECURSIVE-CTE oracle are in bit-lockstep (two scalars of state —
    the simplest recursion in the family).

    Returns ``series_id, rn, pred, resid`` for ``rn >= 3``.

    Scale shape: one grouped-map pass, O(1) state per series; no
    moment pre-aggregate needed (the init is positional).
    """
    src = df.select("series_id", "rn", F.col(value_col).alias("value"))
    return per_series(
        src, HW_SCHEMA, each_series(partial(holt_linear_fixed_kernel, alpha=alpha, beta=beta))
    )
