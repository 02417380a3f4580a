"""Croston's method (Croston 1972) — intermittent-demand forecasting
over exceedance events.

The reference's forecasters (AR(1)/Kalman/BSTS/GP/LSTM, SURVEY §2.6)
all assume a dense signal; Croston is the classical complement for
SPARSE event streams: separate simple-exponential-smoothing recursions
over the nonzero demand SIZES ``z_k`` and the inter-demand INTERVALS
``p_k``, with the forecast ``z_k / p_k`` held flat until the next
demand.  Here "demand" is the exceedance ``max(value − q90, 0)`` over
the per-series exact 0.90 percentile — i.e. the engine forecasts the
rate-and-size of threshold crossings, the quantity the reference's
event metrics (``src/evaluate.py``) score.

Bit-exactness recipe (same as ``functions/control.py``): α = 1/4 is
dyadic, the demand threshold comes from the exact percentile both
engines share, the recursion runs only over the (sparse) demand points
and is mirrored textually by a DuckDB RECURSIVE CTE, and the
flat-forecast fill is ``last(·, ignorenulls)`` over the one series
window every operator reuses.

Scale shape: one shuffle for the percentile aggregate (tiny,
broadcast), one grouped-map pass per series over the DEMAND POINTS
only (≈10 % of rows), one window fill.  O(n) per series, O(1) state;
the 100 TB axis is series count.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._partition import each_series, per_series

CROSTON_SCHEMA = (
    "series_id string, rn long, demand double, z double, p double, "
    "croston double"
)


def croston_kernel(g: pd.DataFrame, alpha: float = 0.25) -> dict:
    """The Croston recursion of :func:`croston_forecast` over one
    series' demand points ``g`` in ``rn`` order."""
    a = float(alpha)
    d = g["demand"].to_numpy(float)
    rn = g["rn"].to_numpy(np.int64)
    n = len(d)
    z = np.empty(n)
    p = np.empty(n)
    zc = d[0]
    pc = float(rn[0])
    z[0], p[0] = zc, pc
    for k in range(1, n):
        zc = zc + a * (d[k] - zc)
        pc = pc + a * (float(rn[k] - rn[k - 1]) - pc)
        z[k], p[k] = zc, pc
    return {"z": z, "p": p, "croston": z / p}


def croston_forecast(
    df: DataFrame,
    value_col: str = "value",
    q: float = 0.90,
    alpha: float = 0.25,
) -> DataFrame:
    """Croston forecast of exceedance demand for every row.

    Returns ``series_id, rn, demand, croston`` where ``croston`` is
    the forecast in force AT ``rn`` (the smoothed ``z/p`` from the most
    recent demand point at or before ``rn``; null before the first).
    """
    v = F.col(value_col)
    thr = df.groupBy("series_id").agg(
        F.expr(f"percentile({value_col}, {q})").alias("__thr")
    )
    base = df.join(F.broadcast(thr), "series_id").withColumn(
        "demand",
        F.when(v > F.col("__thr"), v - F.col("__thr")).otherwise(F.lit(0.0)),
    )
    pts = base.filter(F.col("demand") > 0).select(
        "series_id", "rn", "demand"
    )
    fitted = per_series(pts, CROSTON_SCHEMA, each_series(partial(croston_kernel, alpha=alpha)))
    w = (
        Window.partitionBy("series_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        base.select("series_id", "rn", "demand")
        .join(
            fitted.select("series_id", "rn", F.col("croston").alias("__f")),
            ["series_id", "rn"],
            "left",
        )
        .withColumn("croston", F.last("__f", ignorenulls=True).over(w))
    )
    return out.select("series_id", "rn", "demand", "croston")
