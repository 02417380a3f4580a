"""Autoregressive forecaster — the deterministic stand-in for the
reference's LSTM (SURVEY §2.9 M5).

The reference trains a tiny torch LSTM per series on sliding windows
(``src/lstm_model.py:32-91``).  torch is not available in this
environment; the engine provides:

- ``ar_forecast`` — AR(p) via least squares on lagged features, fully
  deterministic.  AR(1) is also expressible in closed form
  (regr_slope/intercept), which gives the model family a DuckDB oracle.
- a torch-gated LSTM (``lstm.py``) that activates when torch exists.

Spark shape: for AR(1) the ENTIRE model is native SQL algebra (fit =
one aggregate of covariances, predict = column arithmetic) — no UDF,
no per-series loop, scales to any series count in two shuffles.  For
p>1, a numpy lstsq per series in the grouped-map shell.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._partition import each_series, per_series
from ._score import mad_z


def ar1_forecast_native(df: DataFrame, value_col: str = "value") -> DataFrame:
    """AR(1) with intercept, fit per series with native aggregates.

    pred[t] = intercept + slope * x[t-1]  (null at the series head).
    slope/intercept are the OLS estimates over all (x[t-1], x[t])
    pairs — ``regr_slope``/``regr_intercept`` semantics, computed from
    exact decimal sums (slope = (n·Σxy − ΣxΣy)/(n·Σxx − Σx²),
    icept = (Σy − slope·Σx)/n) so they are order/engine-independent and
    bit-match the oracle's identical algebra (see ``_exact.py``).
    """
    from .._exact import DEC

    w = Window.partitionBy("series_id").orderBy("rn")
    lagged = df.withColumn("__prev", F.lag(value_col).over(w))
    x, y = F.col("__prev"), F.col(value_col)
    sums = (
        lagged.filter(x.isNotNull())
        .groupBy("series_id")
        .agg(
            F.count("*").alias("__n"),
            F.sum(x.cast(DEC)).cast("double").alias("__sx"),
            F.sum(y.cast(DEC)).cast("double").alias("__sy"),
            F.sum((x * x).cast(DEC)).cast("double").alias("__sxx"),
            F.sum((y * x).cast(DEC)).cast("double").alias("__sxy"),
        )
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    slope = (n * F.col("__sxy") - sx * sy) / (n * F.col("__sxx") - sx * sx)
    fit = sums.withColumn("__slope", slope).withColumn(
        "__icept", (sy - F.col("__slope") * sx) / n
    )
    return (
        lagged.join(F.broadcast(fit), "series_id")
        .withColumn("pred_mean", F.col("__icept") + F.col("__slope") * F.col("__prev"))
        .withColumn("resid", F.col(value_col) - F.col("pred_mean"))
        .drop("__prev", "__slope", "__icept", "__n", "__sx", "__sy", "__sxx", "__sxy")
    )


AR_SCHEMA = (
    "series_id string, timestamp timestamp, value double, rn long, "
    "pred_mean double, resid double"
)


def ar_forecast_kernel(g: pd.DataFrame, p: int = 24, train_frac: float = 1.0,
                       frac_col: str | None = None,
                       score_col: str | None = None) -> dict:
    """:func:`ar_forecast` on one group ``g`` in ``rn`` order."""
    tf = float(g[frac_col].iloc[0]) if frac_col else train_frac
    y = g["value"].to_numpy(float)
    n = len(y)
    pp = min(p, max(n // 4, 1))
    n_train = max(int(n * tf), pp + 2)
    X = np.column_stack(
        [np.ones(n - pp)] + [y[pp - k - 1 : n - k - 1] for k in range(pp)]
    )
    X_tr = X[: max(n_train - pp, 1)]
    y_tr = y[pp:n_train]
    coef, *_ = np.linalg.lstsq(X_tr, y_tr[: len(X_tr)], rcond=None)
    pred = np.full(n, np.nan)
    pred[pp:] = X @ coef
    out = {"pred_mean": pred, "resid": y - pred}
    if score_col:
        out[score_col] = mad_z(out["resid"])
    return out


def ar_forecast(
    df: DataFrame,
    p: int = 24,
    train_frac: float = 1.0,
    frac_col: str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """AR(p) via numpy lstsq per series (one-step-ahead, in-sample on
    train, recursive-free direct prediction on the tail using actual
    lags — the LSTM-predict analogue of sliding-window inference).

    ``score_col`` additionally emits the MAD z-score of the residuals
    (exact ``mad_scores`` math) computed inside the same pass — zero
    extra stages versus 4 aggregate/join waves for the operator form.

    ``frac_col`` fuses many train fractions into ONE grouped-map pass:
    the input carries a per-row fraction column (e.g. exploded
    walk-forward fold boundaries) and fitting groups on
    ``(series_id, frac_col)`` — one shuffle for all folds instead of
    one full fit DAG per fold.
    """
    keys = ("series_id", frac_col) if frac_col else ("series_id",)
    schema = AR_SCHEMA + (f", {frac_col} double" if frac_col else "")
    if score_col:
        schema += f", {score_col} double"
    return per_series(
        df.select("series_id", "timestamp", "value", "rn", *keys[1:]),
        schema,
        each_series(partial(ar_forecast_kernel, p=p, train_frac=train_frac,
                            frac_col=frac_col, score_col=score_col)),
        keys,
    )


def ar2_forecast_native(df: DataFrame, value_col: str = "value") -> DataFrame:
    """AR(2) via Yule-Walker, fully native — the closed-form step up
    from :func:`ar1_forecast_native` (an AR(1) misses every series
    whose residual autocorrelation lives at lag 2, e.g. half-period
    seasonal echoes).

    Estimation is the textbook Yule-Walker system on the biased
    autocovariances (statsmodels ``yule_walker(method="mle")``
    convention — denominator n, global mean):

        c_k  = sum_{t>k} (x_t - mu)(x_{t-k} - mu) / n
        phi1 = c1 (c0 - c2) / (c0^2 - c1^2)
        phi2 = (c0 c2 - c1^2) / (c0^2 - c1^2)
        pred_t = mu + phi1 (x_{t-1} - mu) + phi2 (x_{t-2} - mu)

    Every sum rides DECIMAL(38,12) (order-independent), the remaining
    algebra is plain double ops spelled identically in the DuckDB
    oracle, so fit AND predictions hash bit-exactly.  A constant
    series (c0 = 0) degenerates the system; its predictions are null
    (the oracle mirrors via NULLIF).  Plan: two tiny per-series
    aggregates broadcast back around one window pass — no UDF, two
    exchanges total, series-count parallelism at any scale.
    """
    from .._exact import DEC

    v = F.col(value_col)
    mo = df.groupBy("series_id").agg(
        F.count(value_col).alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
    )
    mo = mo.select(
        "series_id", "__n", (F.col("__s1") / F.col("__n")).alias("__mu")
    )
    w = Window.partitionBy("series_id").orderBy("rn")
    lagged = (
        df.join(F.broadcast(mo), "series_id")
        .withColumn("__p1", F.lag(value_col, 1).over(w))
        .withColumn("__p2", F.lag(value_col, 2).over(w))
    )
    d0 = v - F.col("__mu")
    d1 = F.col("__p1") - F.col("__mu")
    d2 = F.col("__p2") - F.col("__mu")
    cov = lagged.groupBy("series_id").agg(
        F.sum((d0 * d0).cast(DEC)).cast("double").alias("__g0"),
        F.sum(F.when(F.col("__p1").isNotNull(), (d0 * d1)).cast(DEC))
        .cast("double")
        .alias("__g1"),
        F.sum(F.when(F.col("__p2").isNotNull(), (d0 * d2)).cast(DEC))
        .cast("double")
        .alias("__g2"),
        F.max("__n").alias("__nn"),
    )
    c0 = F.col("__g0") / F.col("__nn")
    c1 = F.col("__g1") / F.col("__nn")
    c2 = F.col("__g2") / F.col("__nn")
    den = c0 * c0 - c1 * c1
    fit = cov.select(
        "series_id",
        (c1 * (c0 - c2) / F.nullif(den, F.lit(0.0))).alias("__phi1"),
        ((c0 * c2 - c1 * c1) / F.nullif(den, F.lit(0.0))).alias("__phi2"),
    )
    return (
        lagged.join(F.broadcast(fit), "series_id")
        .withColumn(
            "pred_mean",
            F.col("__mu")
            + F.col("__phi1") * d1
            + F.col("__phi2") * d2,
        )
        .withColumn("resid", v - F.col("pred_mean"))
        .drop("__p1", "__p2", "__phi1", "__phi2", "__n", "__s1", "__mu")
    )
