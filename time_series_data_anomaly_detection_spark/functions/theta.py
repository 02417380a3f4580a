"""Theta-method forecaster (Assimakopoulos & Nikolopoulos 2000 — the
M3-competition winner; Hyndman & Billah 2003 showed it is SES with
drift).  Public algorithm, fixed-parameter variant:

- θ=0 line: the least-squares linear trend ``a + b·t`` of the train
  region (closed form from exact decimal sums).
- θ=2 line: ``ℓ_t = 2·y_t − (a + b·t)`` — curvature-doubled series.
- SES over the θ=2 line with DYADIC α = 1/4 (exact in binary and
  decimal, the same convention as the EWMA chart): ``s_t = s_{t−1} +
  α(ℓ_t − s_{t−1})``, seeded at ``ℓ_1``.
- h-step forecast: the classic equal-weight combination
  ``ŷ(T+h) = ½(a + b·(T+h)) + ½·s_T`` (the SES line is flat).

Execution: the trend fit and the θ=2 line are pure column algebra
(exact decimal sums, broadcast per-series coefficients); only the SES
recursion runs per series in the grouped-map shell, returning ONE row
per series (s_T).  Test-region predictions are then native again.  The
DuckDB oracle replays the recursion as a recursive CTE over the
IDENTICAL ℓ values, so the whole forecaster is hash-gated.

Scale: the recursion state is one double per series; everything else
is the engine's standard broadcast-aggregate shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._exact import DEC
from ._partition import each_series, per_series

ALPHA = 0.25  # dyadic — exact in binary AND decimal


def theta_ses_kernel(g: pd.DataFrame) -> pd.DataFrame:
    """The SES recursion of :func:`theta_forecast` over one series'
    θ=2 line ``g["__l"]`` in ``rn`` order: one row ``series_id, s_T``."""
    l = g["__l"].to_numpy(np.float64)
    s = l[0]
    for i in range(1, len(l)):
        s = s + ALPHA * (l[i] - s)
    return pd.DataFrame({"series_id": [g["series_id"].iloc[0]], "s_T": [float(s)]})


def theta_forecast(
    df: DataFrame, train_frac: float = 0.75
) -> DataFrame:
    """Fixed-parameter Theta forecast of the Test region.

    Input ``(series_id, rn, value)``; output one row per TEST row:
    ``(series_id, rn, value, pred_mean, resid)``.
    """
    nn = df.groupBy("series_id").agg(F.max("rn").alias("__n"))
    nn = nn.withColumn(
        "__T", F.floor(F.col("__n") * F.lit(float(train_frac))).cast("long")
    )
    base = df.join(F.broadcast(nn), "series_id")
    train = base.where(F.col("rn") <= F.col("__T"))

    t = F.col("rn").cast("double")
    y = F.col("value")
    fit = train.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum(t.cast(DEC)).cast("double").alias("st"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((t * t).cast(DEC)).cast("double").alias("stt"),
        F.sum((t * y).cast(DEC)).cast("double").alias("sty"),
    )
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    fit = fit.withColumn("b", b).withColumn(
        "a", (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
    ).select("series_id", "a", "b")

    # θ=2 line on the train region — identical text algebra to the oracle
    lined = train.join(F.broadcast(fit), "series_id").withColumn(
        "__l",
        F.lit(2.0) * F.col("value")
        - (F.col("a") + F.col("b") * F.col("rn").cast("double")),
    )

    ses = per_series(
        lined.select("series_id", "rn", "__l"),
        "series_id string, s_T double",
        each_series(theta_ses_kernel),
    )

    test = base.where(F.col("rn") > F.col("__T"))
    out = (
        test.join(F.broadcast(fit), "series_id")
        .join(F.broadcast(ses), "series_id")
        .withColumn(
            "pred_mean",
            F.lit(0.5) * (F.col("a") + F.col("b") * F.col("rn").cast("double"))
            + F.lit(0.5) * F.col("s_T"),
        )
        .withColumn("resid", F.col("value") - F.col("pred_mean"))
    )
    return out.select("series_id", "rn", "value", "pred_mean", "resid")
