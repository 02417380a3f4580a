"""PELT — Pruned Exact Linear Time changepoint detection (Killick,
Fearnhead & Eckley, JASA 2012) with the Gaussian mean-shift (L2) cost.

Completes the changepoint family: CUSUM (hash-gated, sequential
control chart), BOCPD (rows-only, online Bayesian), and now PELT —
the OFFLINE exact-optimal segmentation the first two approximate.  The
objective is

    min over segmentations  sum_seg [ sse(seg) ] + beta * (#cp)

where ``sse(seg) = sum x^2 - (sum x)^2 / len`` (the L2 / mean-shift
cost) and PELT's inequality pruning makes the exact dynamic program
expected-linear.  PELT is EXACT: it returns the same optimum as the
O(n^2) optimal-partitioning DP, which is precisely what the parity
test pins (``tests/test_changepoints.py``).

Spark shape: one kernel call per series in the grouped-map shell (one
exchange keyed by series; cumulative-sum arrays make each cost O(1)).
Per-series state must fit a worker — the same contract as matrix_profile/BOCPD; the
documented 100 TB path is the same too: tile long series into bounded
windows and stitch (a changepoint is a local object, tiling loses only
boundary-straddling detections, and SCALING.md carries the note).

Rows-only gate (the DP's argmin recursion has no SQL expression);
correctness is pinned by the optimal-partitioning parity test plus a
planted-shift unit test.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._partition import each_series, per_series


def _l2_cost_arrays(x: np.ndarray):
    """Prefix sums so seg cost [s, t) is O(1): sse = (S2[t]-S2[s]) -
    (S1[t]-S1[s])^2 / (t-s)."""
    s1 = np.concatenate([[0.0], np.cumsum(x)])
    s2 = np.concatenate([[0.0], np.cumsum(x * x)])
    return s1, s2


def pelt_l2(x: np.ndarray, beta: float) -> list[int]:
    """Exact PELT with L2 cost; returns sorted changepoint indices
    (each cp t means a new segment starts at t; 0 < t < n)."""
    n = len(x)
    s1, s2 = _l2_cost_arrays(x)

    f = np.full(n + 1, np.inf)
    f[0] = -beta
    last = np.zeros(n + 1, dtype=int)
    # candidate scan as numpy array ops (the r06 verdict's item #4: the
    # per-t Python list comprehension was the constant-factor hot spot
    # at ~20k iterations/series).  Expression association matches the
    # scalar original — (f + ((S2 - S2[s]) - d^2/m)) + beta — so the
    # optimum (and the optimal-partitioning parity test) is unchanged.
    cand = np.array([0], dtype=np.int64)
    for t in range(1, n + 1):
        m = t - cand
        d = s1[t] - s1[cand]
        vals = f[cand] + ((s2[t] - s2[cand]) - d * d / m) + beta
        best = int(np.argmin(vals))
        f[t] = vals[best]
        last[t] = cand[best]
        # inequality pruning: s stays viable iff f[s] + cost(s,t) <= f[t]
        cand = np.append(cand[vals - beta <= f[t]], t)
    cps = []
    t = n
    while t > 0:
        s = last[t]
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def optimal_partitioning_l2(x: np.ndarray, beta: float) -> list[int]:
    """The unpruned O(n^2) DP — the parity reference for PELT (both
    are exact, so their optima and hence changepoints coincide)."""
    n = len(x)
    s1, s2 = _l2_cost_arrays(x)
    f = np.full(n + 1, np.inf)
    f[0] = -beta
    last = np.zeros(n + 1, dtype=int)
    for t in range(1, n + 1):
        m = np.arange(t, 0, -1, dtype=float)  # t - s for s = 0..t-1
        d = s1[t] - s1[:t]
        c = (s2[t] - s2[:t]) - d * d / m
        tot = f[:t] + c + beta
        s = int(np.argmin(tot))
        f[t] = tot[s]
        last[t] = s
    cps = []
    t = n
    while t > 0:
        s = last[t]
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


PELT_SCHEMA = (
    "series_id string, seg int, start_rn long, end_rn long, "
    "n long, seg_mean double"
)


def pelt_segments_kernel(g: pd.DataFrame, beta: float | None = None) -> pd.DataFrame:
    """:func:`pelt_segments` on one series ``g`` in ``rn`` order: one
    row per segment (a single segment below 3 points)."""
    x = g["value"].to_numpy(float)
    n = len(x)
    bounds = [0, n]
    if n >= 3:
        b = beta if beta is not None else 2.0 * float(x.var()) * np.log(n)
        bounds = [0] + pelt_l2(x, b) + [n]
    rn = g["rn"].to_numpy()
    return pd.DataFrame(
        {
            "series_id": g["series_id"].iloc[0],
            "seg": np.arange(len(bounds) - 1),
            "start_rn": rn[bounds[:-1]],
            "end_rn": rn[np.array(bounds[1:]) - 1],
            "n": np.diff(bounds),
            "seg_mean": [float(x[s:t].mean()) for s, t in zip(bounds, bounds[1:])],
        }
    )


def pelt_segments(
    df: DataFrame,
    value_col: str = "value",
    beta: float | None = None,
) -> DataFrame:
    """One row per optimal segment: ``(series_id, seg, start_rn,
    end_rn, n, seg_mean)``.  ``beta=None`` uses the standard BIC
    penalty ``2 * var(x) * log(n)`` (ruptures' default scaling for
    the L2 model)."""
    return per_series(
        df.select("series_id", "rn", F.col(value_col).alias("value")),
        PELT_SCHEMA,
        each_series(partial(pelt_segments_kernel, beta=beta)),
    )
