"""EWMA and CUSUM control charts — the classical sequential detectors
that complete the changepoint family around BOCPD (SURVEY §2.3 W7).

The reference's only online detector is BOCPD
(``src/bocpd_model.py:50-104``), whose O(T²) posterior is genuinely
non-SQL and therefore rows-only in the gate.  EWMA and CUSUM cover the
same monitoring niche (drift / level-shift detection on a scored
stream) with *scalar* recursions, so — like ``kalman_fixed`` — they
carry DuckDB RECURSIVE-CTE oracles and are fully hash-gated.

Bit-exactness recipe (same as functions/kalman.py):

- per-series mean/std come from exact DECIMAL(38,12) sums computed
  SPARK-side (order/engine-independent, see ``_exact.py``) and ride
  into the recursion as per-group scalars;
- every recursion constant is a dyadic rational (λ = 0.25,
  (1-λ)² = 0.5625, k = 0.5, h = 5.0, L = 3.0) so literal parsing
  cannot introduce a 1-ulp seed difference;
- the update expression trees below are textually in lockstep with
  the oracle SQL in ``plans/queries/changepoints.py`` — identical
  IEEE ops on identical inputs are identical.

Scale shape: one shuffle to the per-series moment aggregate (tiny,
broadcast back), one grouped-map pass per series.  The recursion is
O(n) per series with O(1) state; the parallelism axis is the series
count, exactly like every other sequential model here.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._exact import DEC
from ._partition import each_series, per_series

EPS_SD = 1e-9

EWMA_SCHEMA = (
    "series_id string, rn long, ewma double, ucl double, lcl double, "
    "flag int"
)

CUSUM_SCHEMA = (
    "series_id string, rn long, cusum_pos double, cusum_neg double, "
    "flag int"
)


def _with_moments(df: DataFrame, value_col: str) -> DataFrame:
    """``series_id, rn, value`` with the per-series exact-decimal mean
    ``__mu`` and sample std ``__sd`` (ddof=1) joined on — the same
    algebra as ``operators.scaling.global_zscore`` (hash-proven)."""
    v = F.col("value")
    src = df.select("series_id", "rn", F.col(value_col).alias("value"))
    moments = src.groupBy("series_id").agg(
        F.count("value").alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
        F.sum((v * v).cast(DEC)).cast("double").alias("__s2"),
    )
    mu = (F.col("__s1") / F.col("__n")).alias("__mu")
    sd = F.sqrt(
        F.greatest(
            (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"))
            / (F.col("__n") - 1),
            F.lit(0.0),
        )
    ).alias("__sd")
    return src.join(F.broadcast(moments.select("series_id", mu, sd)), "series_id")


def _series(g: pd.DataFrame) -> tuple[np.ndarray, float, float]:
    """``y`` of one group of :func:`_with_moments` and its moments."""
    return (
        g["value"].to_numpy(float),
        float(g["__mu"].iloc[0]),
        float(g["__sd"].iloc[0]),
    )


def ewma_run(y: np.ndarray, mu: float, sd: float, lam: float = 0.25,
             nsig: float = 3.0, state: tuple | None = None) -> tuple:
    """The EWMA recursion, resumable: advance ``state = (z, w)`` over
    ``y`` (fresh: ``(mu, 1.0)``); returns ``((ewma, half_width),
    state)``, the limits being ``mu ± half_width``.  Shared by
    :func:`ewma_chart` and ``streaming_control_flags``."""
    w2 = (1.0 - lam) * (1.0 - lam)
    ratio = lam / (2.0 - lam)
    z, w = (mu, 1.0) if state is None else state
    ew = np.empty(len(y))
    hw = np.empty(len(y))
    for t, yt in enumerate(y.tolist()):
        z = z + lam * (yt - z)
        w = w * w2
        ew[t] = z
        hw[t] = nsig * sd * np.sqrt(ratio * (1.0 - w))
    return (ew, hw), (z, w)


def cusum_run(y: np.ndarray, mu: float, sd: float, k: float = 0.5,
              state: tuple | None = None) -> tuple:
    """The two-sided CUSUM recursion, resumable: advance ``state =
    (S⁺, S⁻)`` over ``y`` (fresh: ``(0.0, 0.0)``); returns ``((S⁺,
    S⁻), state)``.  Shared by :func:`cusum_chart` and
    ``streaming_control_flags``."""
    sp, sn = (0.0, 0.0) if state is None else state
    cp = np.empty(len(y))
    cn = np.empty(len(y))
    for t, yt in enumerate(y.tolist()):
        z = (yt - mu) / (sd + EPS_SD)
        sp = max(0.0, sp + (z - k))
        sn = max(0.0, sn + (-z - k))
        cp[t] = sp
        cn[t] = sn
    return (cp, cn), (sp, sn)


def ewma_chart_kernel(g: pd.DataFrame, lam: float = 0.25,
                      nsig: float = 3.0) -> dict:
    """:func:`ewma_chart` on one group of :func:`_with_moments`."""
    y, mu, sd = _series(g)
    z, hw = ewma_run(y, mu, sd, float(lam), float(nsig))[0]
    ucl = mu + hw
    lcl = mu - hw
    return {
        "ewma": z,
        "ucl": ucl,
        "lcl": lcl,
        "flag": ((z > ucl) | (z < lcl)).astype("int32"),
    }


def ewma_chart(
    df: DataFrame,
    value_col: str = "value",
    lam: float = 0.25,
    nsig: float = 3.0,
) -> DataFrame:
    """EWMA control chart (Roberts 1959): ``z_t = z_{t-1} + λ(y_t -
    z_{t-1})`` seeded at the series mean, with the exact-variance
    control limits ``μ ± L·σ·sqrt(λ/(2-λ)·(1-(1-λ)^{2t}))``.

    ``λ`` must be dyadic (default 1/4) so the recursion constants are
    exact in binary and decimal; the ``(1-λ)^{2t}`` term is itself the
    recursion ``w_t = w_{t-1}·(1-λ)²`` so both engines round the same
    way once 9^t outgrows the mantissa.

    Returns ``series_id, rn, ewma, ucl, lcl, flag``.
    """
    return per_series(
        _with_moments(df, value_col), EWMA_SCHEMA,
        each_series(partial(ewma_chart_kernel, lam=lam, nsig=nsig)),
    )


def cusum_chart_kernel(g: pd.DataFrame, k: float = 0.5,
                       h: float = 5.0) -> dict:
    """:func:`cusum_chart` on one group of :func:`_with_moments`."""
    y, mu, sd = _series(g)
    h = float(h)
    sp, sn = cusum_run(y, mu, sd, float(k))[0]
    return {
        "cusum_pos": sp,
        "cusum_neg": sn,
        "flag": ((sp > h) | (sn > h)).astype("int32"),
    }


def cusum_chart(
    df: DataFrame,
    value_col: str = "value",
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided tabular CUSUM (Page 1954) on the standardized series:
    ``z = (y - μ)/(σ + 1e-9)``; ``S⁺ = max(0, S⁺ + z - k)``,
    ``S⁻ = max(0, S⁻ - z - k)``; alarm when either sum exceeds ``h``.

    The hash-gated changepoint detector: same niche as BOCPD's
    ``cp_prob`` column but a scalar recursion, so the whole model is
    oracle-checkable.  ``k``/``h`` dyadic by default.

    Returns ``series_id, rn, cusum_pos, cusum_neg, flag``.
    """
    return per_series(
        _with_moments(df, value_col), CUSUM_SCHEMA,
        each_series(partial(cusum_chart_kernel, k=k, h=h)),
    )


CUSUM_ALARM_SCHEMA = (
    "series_id string, rn long, direction string, stat double"
)


def cusum_alarms_kernel(g: pd.DataFrame, k: float = 0.5,
                        h: float = 5.0) -> pd.DataFrame:
    """:func:`cusum_alarms` on one group of :func:`_with_moments`: one
    row per alarm."""
    y, mu, sd = _series(g)
    k, h = float(k), float(h)
    rows = []
    spc = snc = 0.0
    for t in range(len(y)):
        z = (y[t] - mu) / (sd + EPS_SD)
        spc = max(0.0, spc + (z - k))
        snc = max(0.0, snc + (-z - k))
        if spc > h:
            rows.append((g["series_id"].iloc[t], int(g["rn"].iloc[t]), "up", spc))
            spc = 0.0
        if snc > h:
            rows.append((g["series_id"].iloc[t], int(g["rn"].iloc[t]), "down", snc))
            snc = 0.0
    return pd.DataFrame(rows, columns=["series_id", "rn", "direction", "stat"])


def cusum_alarms(
    df: DataFrame,
    value_col: str = "value",
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """CUSUM changepoint LOCALIZATION: the two-sided chart with
    reset-on-alarm — each crossing empties its side's sum, so the
    output is the changepoint list itself (one row per alarm, the
    thing ``detect_changepoints`` consumers actually read off BOCPD's
    ``cp_prob`` column in ``src/changepoint.py:85-107``), not a dense
    flag column.

    Emits ``(series_id, rn, direction ∈ {'up','down'}, stat)`` at each
    crossing; the alarm count is O(changepoints), so the result table
    is tiny at any scale.  Same bit-exactness recipe as
    :func:`cusum_chart`; the reset is ``CASE alarm THEN 0`` spelled
    identically in the oracle recursion.
    """
    return per_series(
        _with_moments(df, value_col), CUSUM_ALARM_SCHEMA,
        each_series(partial(cusum_alarms_kernel, k=k, h=h)),
    )
