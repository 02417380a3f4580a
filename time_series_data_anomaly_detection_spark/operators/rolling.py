"""Rolling-window statistics and the adaptive threshold detector.

Reference semantics (``src/utils.py:40-72`` — W1/W2/W3 in SURVEY §2.3):
trailing ``window``-row rolling mean/std with ``min_periods``, backfill
of the warm-up head, epsilon-guarded sigma, flag when
``|x - mean_roll| > k * (sigma_roll + 1e-6)``.

Spark-first shape: one ``Window.partitionBy(series_id).orderBy(...)``
row frame; stddev/avg/count are native JVM window aggregates inside
whole-stage codegen, the backfill is a ``first(ignorenulls)`` over the
forward-unbounded frame.  One shuffle per series partitioning, reused
by every frame on the same key.  At 100 TB the partition axis is the
series count; a single pathologically long series would need the
chunked-overlap variant (see README scale notes), not a bigger window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._exact import DEC

EPS_SIGMA = 1e-6


def _order_cols(df: DataFrame, value_col: str):
    cols = [c for c in ("timestamp", "event_id") if c in df.columns]
    return [F.col(c) for c in (cols or ["rn"])]


def rolling_stats(
    df: DataFrame,
    value_col: str = "value",
    window: int = 48,
    min_periods: int = 5,
    out_prefix: str = "roll",
) -> DataFrame:
    """Trailing rolling mean/std (sample, ddof=1) with min_periods + bfill.

    Mirrors ``pd.Series.rolling(window, min_periods).std()/.mean()``
    then ``fillna(method='bfill')`` (``src/utils.py:63-65``).
    Adds ``{out_prefix}_mean`` and ``{out_prefix}_std``.

    Mean/std are derived from exact DECIMAL(38,12) windowed sums of x
    and x*x (order-independent, engine-independent; std =
    sqrt((s2 - s1*s1/n)/(n-1)) in doubles) so results are bit-identical
    to the DuckDB oracle's same algebra — see ``_exact.py``.  The 1e-12
    decimal quantization is far below the 1e-6 output rounding.
    """
    order = _order_cols(df, value_col)
    wrun = (
        Window.partitionBy("series_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.partitionBy("series_id").orderBy(*order)
    v = F.col(value_col)
    # trailing-window sums via RUNNING cumulative decimal sums + lag
    # differencing: running frames are O(n) incremental in Spark while
    # bounded frames re-aggregate the whole frame per row (O(n·w) —
    # measured 4x slower at w=48); decimal arithmetic is exact, so
    # cum(t) − cum(t−w) IS the frame sum, bit-identical on both engines.
    zero = F.lit(0).cast(DEC)
    cum = (
        df.withColumn("__c1", F.sum(v.cast(DEC)).over(wrun))
        .withColumn("__c2", F.sum((v * v).cast(DEC)).over(wrun))
        .withColumn("__cn", F.count(value_col).over(wrun))
    )
    s1 = (
        F.col("__c1") - F.coalesce(F.lag("__c1", window).over(wlag), zero)
    ).cast("double")
    s2 = (
        F.col("__c2") - F.coalesce(F.lag("__c2", window).over(wlag), zero)
    ).cast("double")
    cnt = F.col("__cn") - F.coalesce(
        F.lag("__cn", window).over(wlag), F.lit(0)
    )
    mean_raw = F.when(cnt >= min_periods, s1 / cnt)
    # sample std needs >= 2 rows (pandas yields NaN for a single row and
    # bfills it; null it out so ours does too)
    var = (s2 - s1 * s1 / cnt) / (cnt - 1)
    std_raw = F.when(
        (cnt >= min_periods) & (cnt >= 2),
        F.sqrt(F.greatest(var, F.lit(0.0))),
    )
    out = (
        cum.withColumn(f"{out_prefix}_mean", mean_raw)
        .withColumn(f"{out_prefix}_std", std_raw)
        .drop("__c1", "__c2", "__cn")
    )
    # backward fill via a RUNNING frame over descending order: the
    # last non-null seen while scanning from the series end down to
    # the current row is the nearest non-null at-or-after it.
    # Running (unboundedPreceding, currentRow) frames are O(n) in
    # Spark; the naive first(ignorenulls) over (currentRow,
    # unboundedFollowing) is a shrinking frame Spark re-evaluates
    # per row -> O(n^2) per series (65s vs 0.5s at 20k rows/series).
    wb = (
        Window.partitionBy("series_id")
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.withColumn(
        f"{out_prefix}_mean",
        F.last(f"{out_prefix}_mean", ignorenulls=True).over(wb),
    ).withColumn(
        f"{out_prefix}_std",
        F.last(f"{out_prefix}_std", ignorenulls=True).over(wb),
    )


def sliding_windows(
    df: DataFrame,
    seq_len: int = 48,
    value_col: str = "value",
    out_col: str = "x_window",
) -> DataFrame:
    """W4: supervised sequence extraction — ``x_window`` holds the
    ``seq_len`` values STRICTLY BEFORE each row (the LSTM input,
    ``src/lstm_model.py:18-30``: ``X[i] = data[i:i+seq_len]``, target
    ``y = data[i+seq_len]``); rows without a full window are dropped
    (the reference's NaN-padded head).

    ``collect_list`` over a bounded row frame keeps list order equal
    to frame order. Scale note: this multiplies row width by seq_len —
    prefer building windows inside the training UDF (functions.lstm
    does) and use this operator when the windows themselves are the
    product (feature export).
    """
    order = _order_cols(df, value_col)
    w = (
        Window.partitionBy("series_id")
        .orderBy(*order)
        .rowsBetween(-seq_len, -1)
    )
    return df.withColumn(out_col, F.collect_list(value_col).over(w)).filter(
        F.size(out_col) == seq_len
    )


def adaptive_threshold_flags(
    df: DataFrame,
    value_col: str = "value",
    k: float = 3.0,
    window: int = 48,
    min_periods: int = 5,
    flag_col: str = "flag",
) -> DataFrame:
    """W1: ``flag = |x - mean_roll| > k * (sigma_roll + 1e-6)``.

    Reference: ``rolling_sigma_threshold`` (``src/utils.py:40-72``).
    """
    out = rolling_stats(df, value_col, window, min_periods)
    return out.withColumn(
        flag_col,
        (
            F.abs(F.col(value_col) - F.col("roll_mean"))
            > F.lit(k) * (F.col("roll_std") + F.lit(EPS_SIGMA))
        ).cast("int"),
    )


def rolling_moments(
    df: DataFrame,
    value_col: str = "value",
    window: int = 96,
    min_periods: int = 24,
) -> DataFrame:
    """Trailing rolling SKEWNESS and EXCESS KURTOSIS — the
    distribution-shape complement of W1/W3's rolling mean/std: a
    variance chart misses a regime that keeps σ but fattens a tail;
    the rolling higher moments catch it (and feed ``cusum_squares`` /
    ``kde_rarity`` style detectors with a local shape signal).

    Same engineering as :func:`rolling_stats`: four RUNNING cumulative
    DECIMAL power sums (x, x², x³, x⁴ — the IEEE power products and
    their decimal quantization are identical cross-engine because the
    expression trees are in lockstep with the oracle) + lag
    differencing, so the trailing frame is O(n) per series and
    bit-identical cross-engine.  Central moments from raw power
    sums::

        m2 = S2/n − μ²
        m3 = S3/n − 3μS2/n + 2μ³
        m4 = S4/n − 4μS3/n + 6μ²S2/n − 3μ⁴
        skew = m3 / m2^{3/2},  ex_kurt = m4/m2² − 3

    (population form, the convention of the global-moments gate A5).

    Adds ``roll_skew`` and ``roll_kurt`` (null until ``min_periods``).
    """
    order = _order_cols(df, value_col)
    wrun = (
        Window.partitionBy("series_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlag = Window.partitionBy("series_id").orderBy(*order)
    v = F.col(value_col)
    zero = F.lit(0).cast(DEC)
    cum = (
        df.withColumn("__d1", F.sum(v.cast(DEC)).over(wrun))
        .withColumn("__d2", F.sum((v * v).cast(DEC)).over(wrun))
        .withColumn("__d3", F.sum((v * v * v).cast(DEC)).over(wrun))
        .withColumn(
            "__d4", F.sum(((v * v) * (v * v)).cast(DEC)).over(wrun)
        )
        .withColumn("__dn", F.count(value_col).over(wrun))
    )

    def tr(c: str):
        return (
            F.col(c) - F.coalesce(F.lag(c, window).over(wlag), zero)
        ).cast("double")

    s1, s2, s3, s4 = tr("__d1"), tr("__d2"), tr("__d3"), tr("__d4")
    cnt = F.col("__dn") - F.coalesce(
        F.lag("__dn", window).over(wlag), F.lit(0)
    )
    mu = s1 / cnt
    m2 = s2 / cnt - mu * mu
    m3 = s3 / cnt - 3.0 * mu * (s2 / cnt) + 2.0 * (mu * mu * mu)
    m4 = (
        s4 / cnt
        - 4.0 * mu * (s3 / cnt)
        + 6.0 * (mu * mu) * (s2 / cnt)
        - 3.0 * ((mu * mu) * (mu * mu))
    )
    ok = (cnt >= min_periods) & (m2 > 1e-18)
    out = (
        cum.withColumn(
            "roll_skew",
            F.when(ok, m3 / F.sqrt(m2 * m2 * m2)),
        )
        .withColumn(
            "roll_kurt",
            F.when(ok, m4 / (m2 * m2) - F.lit(3.0)),
        )
        .drop("__d1", "__d2", "__d3", "__d4", "__dn")
    )
    return out
