"""Autocorrelation diagnostics (SURVEY §2.3 W8).

Reference: statsmodels ``plot_acf``/``plot_pacf`` over 50 lags (nb 01
cell 7).  Engine definition: ``acf(series, k)`` = Pearson correlation of
``(x_t, x_{t-k})`` pairs per series.

Spark-first shape: explode a literal lag grid against the frame, shift
with ``lag(value, k)`` per (series, lag) window, aggregate ``corr``.
One shuffle keyed by (series_id, lag); the lag grid multiplies rows
max_lag-fold but only through a projection — at scale, prefer the
per-series FFT variant (:func:`acf_fft`) once max_lag is large.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._exact import DEC
from ..functions._partition import each_series, per_series


def acf(df: DataFrame, max_lag: int = 10, value_col: str = "value") -> DataFrame:
    """Per-series ACF for lags 1..max_lag: columns (series_id, lag, acf).

    Pearson r from exact decimal sums (sx, sy, sxx, syy, sxy) instead
    of ``F.corr`` — corr's streaming co-moments are summation-order-
    dependent; the explicit form is order/engine-independent and
    mirrors the oracle bit for bit (see ``_exact.py``).
    """
    # one window sort, max_lag literal lag() columns (they collapse into
    # a single Window physical node), then stack to (lag, x, prev) pairs
    # — the widened frame reaches the aggregate through a PROJECTION, so
    # the only shuffle of fact-sized data is the series exchange the
    # window already needs.  (A self-join on rn-lag=prn shuffles the
    # max_lag-fold exploded frame: measured 5x slower at sf0.1.)
    w = Window.partitionBy("series_id").orderBy("rn")
    shifts = [
        F.lag(value_col, k).over(w).alias(f"__p{k}")
        for k in range(1, max_lag + 1)
    ]
    stack_args = ", ".join(f"{k}, __p{k}" for k in range(1, max_lag + 1))
    shifted = (
        df.select("series_id", F.col(value_col).alias("__x"), *shifts)
        .selectExpr(
            "series_id", "__x",
            f"stack({max_lag}, {stack_args}) AS (lag, prev)",
        )
        .filter(F.col("prev").isNotNull())
    )
    x = F.col("__x")
    y = F.col("prev")
    agg = shifted.groupBy("series_id", "lag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return agg.select("series_id", "lag", (num / den).alias("acf"))


def durbin_levinson_steps(max_lag: int) -> list[dict[str, str]]:
    """Unrolled Durbin–Levinson recursion as a sequence of SQL-text
    select stages over a wide frame with columns ``r1..r{max_lag}``.

    Each returned dict maps NEW column name -> SQL expression over the
    columns of the previous stage.  ``phi_k_j`` is the j-th AR
    coefficient of the order-k model; ``phi_k_k`` is the PACF at lag k.
    Shared verbatim by the Spark implementation (``selectExpr``) and
    the DuckDB oracle (chained CTEs), so both engines evaluate the
    IDENTICAL expression tree — bit-identical results given the
    bit-identical ACF inputs.  Sums unroll in ascending-j order (plain
    ``+`` chains: no aggregation, no order ambiguity).
    """
    steps: list[dict[str, str]] = [{"phi_1_1": "r1"}]
    for k in range(2, max_lag + 1):
        num = f"r{k} - (" + " + ".join(
            f"phi_{k - 1}_{j} * r{k - j}" for j in range(1, k)
        ) + ")"
        den = "1.0 - (" + " + ".join(
            f"phi_{k - 1}_{j} * r{j}" for j in range(1, k)
        ) + ")"
        steps.append(
            {
                f"phi_{k}_{k}": (
                    f"CASE WHEN abs({den}) > 1e-12 "
                    f"THEN ({num}) / ({den}) ELSE 0.0 END"
                )
            }
        )
        steps.append(
            {
                f"phi_{k}_{j}": f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}"
                for j in range(1, k)
            }
        )
    return steps


def pacf(df: DataFrame, max_lag: int = 10, value_col: str = "value") -> DataFrame:
    """Per-series PACF for lags 1..max_lag via Durbin–Levinson on the
    ACF sequence (statsmodels ``plot_pacf`` companion, nb 01 cell 7).

    Fully native: the ACF table is pivoted to one row per series
    (max_lag columns) and the recursion unrolls into column algebra —
    no UDF, no Python, whole-stage codegen over a frame with one row
    per series.  The same generated expressions power the DuckDB
    oracle (see ``durbin_levinson_steps``).
    """
    rho = acf(df, max_lag, value_col)
    wide = rho.groupBy("series_id").agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in range(1, max_lag + 1)
        ]
    )
    cur = wide
    for step in durbin_levinson_steps(max_lag):
        cur = cur.selectExpr(
            "*", *[f"{expr} AS {name}" for name, expr in step.items()]
        )
    stack = ", ".join(f"{k}, phi_{k}_{k}" for k in range(1, max_lag + 1))
    return cur.selectExpr(
        "series_id", f"stack({max_lag}, {stack}) AS (lag, pacf)"
    )


def acf_statsmodels(
    df: DataFrame, max_lag: int = 10, value_col: str = "value"
) -> DataFrame:
    """W8 in the reference's EXACT convention: statsmodels ``acf`` (the
    estimator behind ``plot_acf``, nb 01 cell 7) computes the
    autocovariance with the GLOBAL series mean and a constant
    denominator::

        r_k = sum_{t<=n-k} (x_t - mu)(x_{t+k} - mu) / sum_t (x_t - mu)^2

    — a biased-but-positive-definite estimator, slightly different from
    the per-lag Pearson of :func:`acf` (which demeans each lag pair
    separately).  Same stack-then-aggregate shape; the global moments
    ride a broadcast join; all sums are exact decimal (order- and
    engine-independent, see ``_exact.py``).
    """
    v = F.col(value_col)
    mo = df.groupBy("series_id").agg(
        F.count(value_col).alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
    )
    mu = (F.col("__s1") / F.col("__n")).alias("__mu")
    base = df.join(F.broadcast(mo.select("series_id", mu)), "series_id")
    w = Window.partitionBy("series_id").orderBy("rn")
    shifts = [
        F.lag(value_col, k).over(w).alias(f"__p{k}")
        for k in range(1, max_lag + 1)
    ]
    stack_args = ", ".join(f"{k}, __p{k}" for k in range(1, max_lag + 1))
    shifted = (
        base.select(
            "series_id", F.col(value_col).alias("__x"), F.col("__mu"), *shifts
        )
        .selectExpr(
            "series_id", "__x", "__mu",
            f"stack({max_lag}, {stack_args}) AS (lag, prev)",
        )
        .filter(F.col("prev").isNotNull())
    )
    num = shifted.groupBy("series_id", "lag").agg(
        F.sum(
            ((F.col("__x") - F.col("__mu")) * (F.col("prev") - F.col("__mu"))).cast(DEC)
        )
        .cast("double")
        .alias("__num")
    )
    den = base.groupBy("series_id").agg(
        F.sum(((v - F.col("__mu")) * (v - F.col("__mu"))).cast(DEC))
        .cast("double")
        .alias("__den")
    )
    return num.join(F.broadcast(den), "series_id").select(
        "series_id", "lag", (F.col("__num") / F.col("__den")).alias("acf")
    )


def acf_fft_kernel(g: pd.DataFrame, max_lag: int = 10) -> pd.DataFrame:
    """:func:`acf_fft` on one series ``g`` in ``rn`` order: one row per
    lag (none below 2 points)."""
    x = g["value"].to_numpy(float)
    n = len(x)
    k = min(max_lag, n - 1)
    if n < 2 or k < 1:
        return pd.DataFrame(
            {"series_id": pd.Series([], dtype=str),
             "lag": pd.Series([], dtype="int32"),
             "acf": pd.Series([], dtype=float)}
        )
    xc = x - x.mean()
    nfft = 1 << int(np.ceil(np.log2(2 * n)))
    f = np.fft.rfft(xc, nfft)
    acov = np.fft.irfft(f * np.conj(f), nfft)[: k + 1]
    return pd.DataFrame(
        {
            "series_id": g["series_id"].iloc[0],
            "lag": np.arange(1, k + 1, dtype="int32"),
            "acf": acov[1 : k + 1] / acov[0],
        }
    )


def acf_fft(
    df: DataFrame, max_lag: int = 10, value_col: str = "value"
) -> DataFrame:
    """Per-series ACF via FFT — the LARGE-max_lag path promised by the
    module docstring (W8 at scale).

    The stack plan above multiplies the fact frame ``max_lag``-fold
    before its aggregate; fine at max_lag=10, a liability at
    max_lag=10k.  This variant computes ALL lags in one O(n log n)
    pass per series: zero-padded rFFT -> power spectrum -> inverse FFT
    gives every linear autocovariance sum at once (Wiener–Khinchin),
    in exactly the statsmodels ``acf`` convention of
    :func:`acf_statsmodels` (global mean, constant denominator
    ``acov[0]``):

        r_k = sum_{t<=n-k} (x_t - mu)(x_{t+k} - mu) / sum_t (x_t - mu)^2

    One shuffle keyed by series (the grouped-map shell); the
    parallelism axis is series count and each series must fit a
    worker, the standard trade for per-series signal processing here
    (same contract as ``matrix_profile`` / ``spectral_residual``).
    Gated rows-only; ``tests/test_control_robust.py`` pins agreement
    with the stack plan at max_lag=10 to 1e-9 (float vs exact-decimal
    sums differ below that).
    """
    return per_series(
        df.select("series_id", "rn", F.col(value_col).alias("value")),
        "series_id string, lag int, acf double",
        each_series(partial(acf_fft_kernel, max_lag=max_lag)),
    )


def _guard_pair_explosion(
    df: DataFrame,
    series_subset,
    max_pairs: int,
    allow_all_pairs: bool,
    op_name: str,
    directional: bool = False,
) -> DataFrame:
    """Bound the |series|²-fold pair blow-up of the cross-series
    operators IN THE API, not just the docstring (same house rule as
    ``datapipe.dedup.embedding_near_dup``'s ``bucket_bits=0`` opt-in:
    the scale-unsafe path must never be the silent default).

    ``series_subset`` filters to a chosen channel set; otherwise the
    DISTINCT series count is measured (one tiny aggregate job — the
    series dimension, not the fact table) and the call raises when the
    implied pair count exceeds ``max_pairs``.  ``allow_all_pairs=True``
    skips the guard entirely for callers who know their channel
    cardinality.

    ``directional=True`` budgets ORDERED pairs (n·(n−1)) — operators
    that materialize both (x→y) and (y→x), like granger_screen, emit
    twice the unordered pair frame, so the same ``max_pairs`` admits
    fewer series.
    """
    if series_subset is not None:
        subset = sorted(set(series_subset))
        df = df.filter(F.col("series_id").isin(subset))
        n = len(subset)
    elif allow_all_pairs:
        return df
    else:
        n = df.select("series_id").distinct().count()
    n_pairs = n * (n - 1) if directional else n * (n - 1) // 2
    if not allow_all_pairs and n_pairs > max_pairs:
        raise ValueError(
            f"{op_name}: {n} series imply {n_pairs} pairs > "
            f"max_pairs={max_pairs}; the pair frame is fact-sized x "
            f"|series| — pass series_subset=[...] to choose channels, "
            f"raise max_pairs, or allow_all_pairs=True to opt in"
        )
    return df


def cross_correlation(
    df: DataFrame,
    max_lag: int = 12,
    value_col: str = "value",
    series_subset=None,
    max_pairs: int = 64,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Lagged cross-correlation between series PAIRS in the
    statsmodels-``ccf`` convention: each series is demeaned by its
    GLOBAL mean and the denominator is the constant
    ``n_overlap · sd_a · sd_b`` (population stds of the full series) —
    ``xcorr(a, b, k) = Σ_t (a_t - ā)(b_{t-k} - b̄) / (n·sd_a·sd_b)``
    for every ordered pair ``a < b`` and lag in ``[-max_lag, max_lag]``
    — the multivariate diagnostic (which series lead which) the
    per-series ACF cannot see.

    Alignment is positional (``rn``), mirroring the reference's
    index-aligned arrays (SURVEY §2.5 J3).  The pair frame is built by
    a self-equi-join on ``rn`` — fact-sized × |series| rows, so at
    scale you run it on a row-sampled or windowed slice and/or a
    chosen series subset.  The constant-denominator convention needs
    ONE decimal sum per joined row (the cross product) instead of five
    per-(pair, lag) Pearson moments — the per-series moments ride a
    broadcast join, same trick as ``acf_statsmodels``.

    Output: (series_a, series_b, lag, xcorr); negative lag means ``a``
    leads ``b``.
    """
    from pyspark.sql import Window
    from .._exact import DEC

    df = _guard_pair_explosion(
        df, series_subset, max_pairs, allow_all_pairs, "cross_correlation"
    )
    v = F.col(value_col)
    mo = df.groupBy("series_id").agg(
        F.count(value_col).alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
        F.sum((v * v).cast(DEC)).cast("double").alias("__s2"),
    )
    mo = mo.select(
        "series_id",
        (F.col("__s1") / F.col("__n")).alias("__mu"),
        F.sqrt(
            (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"))
            / F.col("__n")
        ).alias("__sd"),
    )
    base = df.join(F.broadcast(mo), "series_id")

    w = Window.partitionBy("series_id").orderBy("rn")
    shifts = [
        F.lag(value_col, k).over(w).alias(f"__p{k}")
        for k in range(1, max_lag + 1)
    ]
    leads = [
        F.lead(value_col, k).over(w).alias(f"__f{k}")
        for k in range(1, max_lag + 1)
    ]
    stack_args = ", ".join(
        [f"0, {value_col}"]
        + [f"{k}, __p{k}" for k in range(1, max_lag + 1)]
        + [f"-{k}, __f{k}" for k in range(1, max_lag + 1)]
    )
    n_branch = 2 * max_lag + 1
    wide = (
        base.select(
            "series_id", "rn", F.col(value_col), F.col("__mu"), F.col("__sd"),
            *shifts, *leads,
        )
        .selectExpr(
            "series_id", "rn", "__mu", "__sd",
            f"stack({n_branch}, {stack_args}) AS (lag, shifted)",
        )
        .filter(F.col("shifted").isNotNull())
    )
    a = base.select(
        F.col("series_id").alias("series_a"),
        "rn",
        (F.col(value_col) - F.col("__mu")).alias("__xc"),
        F.col("__sd").alias("__sd_a"),
    )
    b = wide.select(
        F.col("series_id").alias("series_b"),
        "rn",
        "lag",
        (F.col("shifted") - F.col("__mu")).alias("__yc"),
        F.col("__sd").alias("__sd_b"),
    )
    pairs = a.join(b, "rn").filter(F.col("series_a") < F.col("series_b"))
    agg = pairs.groupBy("series_a", "series_b", "lag").agg(
        F.count("*").alias("n"),
        F.sum((F.col("__xc") * F.col("__yc")).cast(DEC))
        .cast("double")
        .alias("num"),
        F.max("__sd_a").alias("sd_a"),
        F.max("__sd_b").alias("sd_b"),
    )
    return agg.select(
        "series_a", "series_b", "lag",
        (
            F.col("num")
            / (F.col("n").cast("double") * F.col("sd_a") * F.col("sd_b"))
        ).alias("xcorr"),
    )


def rolling_corr(
    df: DataFrame,
    window: int = 48,
    min_periods: int = 5,
    value_col: str = "value",
    series_subset=None,
    max_pairs: int = 64,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Trailing rolling Pearson correlation between every series PAIR
    (``series_a < series_b``), aligned positionally on ``rn`` — the
    time-LOCAL companion of :func:`cross_correlation`'s global lagged
    view (pandas ``df.rolling(w).corr()`` in the reference's notebook
    idiom; SURVEY §2.3 W3 generalized to two channels).

    Spark-first shape: a self-equi-join on ``rn`` builds the pair
    frame (one shuffle, |pairs|·n rows), then ONE window partitioning
    on the pair key carries all five trailing sums (x, y, xy, x², y²)
    as RUNNING exact-decimal cumsums + ``lag(·, w)`` differencing —
    the same O(n) incremental trick as ``rolling_stats``, bit-identical
    to the DuckDB oracle's algebra.  At 100 TB you bound |pairs| by
    selecting the channel subset first (``series_subset`` /
    ``max_pairs`` enforce this in the API); the window axis
    parallelizes across pairs.
    """
    df = _guard_pair_explosion(
        df, series_subset, max_pairs, allow_all_pairs, "rolling_corr"
    )
    a = df.select(
        F.col("series_id").alias("series_a"),
        "rn",
        F.col(value_col).alias("__va"),
    )
    b = df.select(
        F.col("series_id").alias("series_b"),
        "rn",
        F.col(value_col).alias("__vb"),
    )
    p = a.join(b, "rn").filter(F.col("series_a") < F.col("series_b"))
    pk = ["series_a", "series_b"]
    wrun = (
        Window.partitionBy(*pk)
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.partitionBy(*pk).orderBy("rn")
    zero = F.lit(0).cast(DEC)
    va, vb = F.col("__va"), F.col("__vb")
    cums = {
        "__ca": va,
        "__cb": vb,
        "__cab": va * vb,
        "__caa": va * va,
        "__cbb": vb * vb,
    }
    cur = p
    for name, expr in cums.items():
        cur = cur.withColumn(name, F.sum(expr.cast(DEC)).over(wrun))
    cur = cur.withColumn("__cn", F.count("rn").over(wrun))

    def trail(c):
        return (F.col(c) - F.coalesce(F.lag(c, window).over(wlag), zero)).cast(
            "double"
        )

    n = (F.col("__cn") - F.coalesce(F.lag("__cn", window).over(wlag), F.lit(0))).cast(
        "double"
    )
    sa, sb = trail("__ca"), trail("__cb")
    sab, saa, sbb = trail("__cab"), trail("__caa"), trail("__cbb")
    cov = n * sab - sa * sb
    da = F.sqrt(F.greatest(n * saa - sa * sa, F.lit(0.0)))
    db = F.sqrt(F.greatest(n * sbb - sb * sb, F.lit(0.0)))
    rc = F.when(
        (n >= min_periods) & (da > 0) & (db > 0), cov / (da * db)
    )
    return cur.select(
        "series_a",
        "series_b",
        "rn",
        n.cast("long").alias("n_w"),
        rc.alias("rcorr"),
    )
