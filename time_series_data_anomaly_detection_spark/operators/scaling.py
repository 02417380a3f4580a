"""Scaling / robust-score operators (SURVEY §2.2 P6-P12).

All pure column algebra + per-series aggregates.  Per-series moments are
computed with a ``groupBy(series_id)`` aggregate and joined back — at
scale the aggregate side is tiny (one row per series) and broadcast,
so the join adds no shuffle of the fact table beyond the one it
already has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._exact import DEC

EPS_Z = 1e-9
MAD_K = 1.4826  # consistency constant for Gaussian data (src/utils.py:38)


def global_zscore(
    df: DataFrame, value_col: str = "value", out_col: str = "z_global"
) -> DataFrame:
    """P6: per-series ``(x - mean) / std`` (sample std, ddof=1).

    Mean/std derive from exact decimal sums (order/engine-independent;
    see ``_exact.py``) so the oracle's identical algebra matches bit
    for bit.
    """
    v = F.col(value_col)
    moments = df.groupBy("series_id").agg(
        F.count(value_col).alias("__n"),
        F.sum(v.cast(DEC)).cast("double").alias("__s1"),
        F.sum((v * v).cast(DEC)).cast("double").alias("__s2"),
    )
    mu = F.col("__s1") / F.col("__n")
    sd = F.sqrt(
        F.greatest(
            (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"))
            / (F.col("__n") - 1),
            F.lit(0.0),
        )
    )
    return (
        df.join(F.broadcast(moments), "series_id")
        .withColumn(out_col, (F.col(value_col) - mu) / (sd + F.lit(EPS_Z)))
        .drop("__n", "__s1", "__s2")
    )


def mad_scores(
    df: DataFrame,
    value_col: str = "value",
    out_col: str = "z_mad",
    keys: tuple = ("series_id",),
    approx_accuracy: int | None = None,
) -> DataFrame:
    """P7/P10: robust z-score ``|x - median| / (1.4826*MAD + 1e-9)``.

    Reference ``mad_sigma`` (``src/utils.py:31-38``) + the z-score form
    of ``src/run_hybrid.py:41-42``.  Medians are EXACT by default
    (``percentile``, not approx) — MAD-derived thresholds are sensitive
    to median error (SURVEY §7 hard-parts note), and exactness is what
    the DuckDB oracle gate hashes.  Exact percentile buffers each
    group's values in the aggregation: fine while a single series fits
    an executor (NAB-scale), a memory hazard at billions of rows per
    series.  ``approx_accuracy`` switches both medians to
    ``approx_percentile`` (bounded-memory KLL-style sketch, error ≤
    1/accuracy) — the documented 100 TB path; leave None where oracle
    parity matters.  Two grouped aggregates (median, then MAD of
    centered values); both produce one row per series and are broadcast
    back.
    """
    def _p50(col):
        if approx_accuracy is not None:
            return F.percentile_approx(col, F.lit(0.5), F.lit(int(approx_accuracy)))
        return F.percentile(col, F.lit(0.5))

    med = df.groupBy(*keys).agg(_p50(F.col(value_col)).alias("__med"))
    centered = df.join(F.broadcast(med), list(keys))
    mad = centered.groupBy(*keys).agg(
        _p50(F.abs(F.col(value_col) - F.col("__med"))).alias("__mad")
    )
    out = (
        centered.join(F.broadcast(mad), list(keys))
        .withColumn("__sigma", F.lit(MAD_K) * F.col("__mad"))
        .withColumn(
            out_col,
            F.abs(F.col(value_col) - F.col("__med")) / (F.col("__sigma") + F.lit(EPS_Z)),
        )
    )
    return out.drop("__med", "__mad", "__sigma")


def median_center(
    df: DataFrame, value_col: str, out_col: str | None = None
) -> DataFrame:
    """P8: subtract the per-series exact median (``src/run_bsts.py:54-55``)."""
    out_col = out_col or value_col
    med = df.groupBy("series_id").agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("__med")
    )
    return (
        df.join(F.broadcast(med), "series_id")
        .withColumn(out_col, F.col(value_col) - F.col("__med"))
        .drop("__med")
    )


def empirical_pvalues(
    df: DataFrame,
    score_col: str = "z_mad",
    out_col: str = "p_emp",
    keys: tuple = ("series_id",),
) -> DataFrame:
    """Score calibration: per-series empirical tail p-value of a
    nonnegative anomaly score.

    ``p_emp = #{score_j >= score_i} / n`` — the ECDF complement with
    ties included, so a hard per-score flag threshold becomes a
    FALSE-POSITIVE-RATE contract instead of an uncalibrated magnitude
    (the reference hand-tunes ``z > 3`` per model; a p-value cutoff
    transfers across detectors and series).

    Implementation: one RANGE window per series ordered by descending
    score counts ties-inclusive peers (no self-join, no sort beyond the
    window's), plus the per-series count — a broadcast join of a
    one-row-per-series aggregate.  Integer counts divide at the end, so
    the DuckDB oracle's identical frame matches exactly.  At scale:
    single shuffle on the series key, same shape as every other
    per-series window here.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(score_col).desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = df.groupBy(*keys).agg(F.count(score_col).alias("__n"))
    return (
        df.withColumn("__ge", F.count(score_col).over(w))
        .join(F.broadcast(n), list(keys))
        .withColumn(out_col, F.col("__ge") / F.col("__n"))
        .drop("__ge", "__n")
    )
