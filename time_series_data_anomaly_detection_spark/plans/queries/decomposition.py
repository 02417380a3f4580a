"""Resampling and seasonal decomposition: classical and STL decompositions,
grid fill, seasonal strength and profiles, and the decomposition-based
detector and forecast."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators.decompose import classical_decompose, resample
from ..._exact import DEC as DEC_T
from ._shared import R, SQL_S, _rnd, _series


SQL_RESAMPLE = """
rs AS (
  SELECT series_id, date_trunc('hour', timestamp) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / count(value)
           AS value
  FROM s GROUP BY 1, 2
),
rsn AS (
  SELECT series_id, bucket, value,
         row_number() OVER (PARTITION BY series_id ORDER BY bucket) AS brn
  FROM rs
)
"""

SQL_DECOMP = """
tr AS (
  SELECT series_id, bucket, brn, value,
    CASE WHEN count(value) OVER wc = 25 THEN
      (CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wa AS DOUBLE)
       + CAST(sum(CAST(value AS DECIMAL(38,12))) OVER wb AS DOUBLE)) / 48.0
    END AS trend,
    hour(bucket) AS phase
  FROM rsn
  WINDOW wa AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
         wb AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING),
         wc AS (PARTITION BY series_id ORDER BY brn
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
srw AS (
  SELECT series_id, bucket, value, trend, phase,
         CAST(sum(CAST(value - trend AS DECIMAL(38,12)))
              OVER (PARTITION BY series_id, phase) AS DOUBLE)
         / count(value - trend) OVER (PARTITION BY series_id, phase) AS sraw
  FROM tr
),
ph AS (
  SELECT series_id, phase,
         CAST(sum(CAST(value - trend AS DECIMAL(38,12))) AS DOUBLE)
         / count(value - trend) AS pm
  FROM tr GROUP BY 1, 2
),
phm AS (
  SELECT series_id,
         CAST(sum(CAST(pm AS DECIMAL(38,12))) AS DOUBLE) / count(pm) AS pm_mean
  FROM ph GROUP BY 1
),
dc AS (
  SELECT srw.series_id, srw.bucket, srw.value, srw.trend,
         srw.sraw - phm.pm_mean AS seasonal,
         srw.value - srw.trend - (srw.sraw - phm.pm_mean) AS resid
  FROM srw JOIN phm USING (series_id)
)
"""


def q_resample_decompose(spark, sf_dir):
    s = _series(spark, sf_dir)
    rs = resample(s, "hour")
    dc = classical_decompose(rs, period=24)
    return dc.select(
        "series_id",
        F.col("timestamp").cast("string").alias("bucket"),
        _rnd("value", R).alias("value"),
        _rnd("trend", R).alias("trend"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("resid", R).alias("resid"),
    )


o_resample_decompose = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP}
SELECT series_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(value, {R}) AS value, round(trend, {R}) AS trend,
       round(seasonal, {R}) AS seasonal, round(resid, {R}) AS resid
FROM dc
"""


def q_resample_fill(spark, sf_dir):
    """Grid completion: hourly resample → every missing bucket
    materialized (is_gap=1) with linear interpolation between known
    neighbors — the bridge from 'absent rows' to the explicit fixed
    grid phase-based operators need."""
    from ...operators.decompose import fill_gaps

    s = _series(spark, sf_dir)
    out = fill_gaps(resample(s, "hour"), 3600)
    return out.select(
        "series_id", "ts_s", "is_gap", _rnd("value", R).alias("value")
    )


# grid completion + linear interpolation — mirrors
# operators.decompose.fill_gaps (grid = generate_series over per-series
# bounds; neighbors via last_value IGNORE NULLS over asc/desc order)
o_resample_fill = f"""
WITH {{SQL_S}}, {{SQL_RESAMPLE}},
bb AS (
  SELECT series_id, CAST(floor(epoch(bucket)) AS BIGINT) AS ts_s, value
  FROM rs
),
bounds AS (
  SELECT series_id, min(ts_s) AS lo, max(ts_s) AS hi FROM bb GROUP BY 1
),
grid AS (
  SELECT series_id, unnest(generate_series(lo, hi, 3600)) AS ts_s
  FROM bounds
),
j AS (
  SELECT g.series_id, g.ts_s, bb.value AS v
  FROM grid g LEFT JOIN bb ON bb.series_id = g.series_id
                          AND bb.ts_s = g.ts_s
),
n AS (
  SELECT series_id, ts_s, v,
         last_value(v IGNORE NULLS) OVER wa AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
           OVER wa AS pt,
         last_value(v IGNORE NULLS) OVER wd AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN ts_s END IGNORE NULLS)
           OVER wd AS nt
  FROM j
  WINDOW wa AS (PARTITION BY series_id ORDER BY ts_s
                ROWS UNBOUNDED PRECEDING),
         wd AS (PARTITION BY series_id ORDER BY ts_s DESC
                ROWS UNBOUNDED PRECEDING)
)
SELECT series_id, ts_s,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * ((ts_s - pt) * 1.0 / (nt - pt))
                  ELSE coalesce(pv, nv) END, {R}) AS value
FROM n
""".replace("{SQL_S}", SQL_S).replace("{SQL_RESAMPLE}", SQL_RESAMPLE)


def q_seasonal_strength(spark, sf_dir):
    """Model-selection diagnostic, hash-gated: period-position variance
    decomposition F_s = max(0, 1 - Var(resid)/Var(x)) at the
    reference's period 48 — the number its STL panels communicate
    visually (``src/utils.py:5-29``), as one row per series."""
    from ...operators.diagnostics import seasonal_strength_frame

    out = seasonal_strength_frame(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "n",
        _rnd("var_total", R).alias("var_total"),
        _rnd("var_resid", R).alias("var_resid"),
        _rnd("seasonal_strength", R).alias("seasonal_strength"),
    )


# ---- seasonal_strength: period-position variance decomposition,
#      exact-decimal sums end to end. ----
o_seasonal_strength = f"""
WITH {SQL_S},
pm AS (
  SELECT series_id, (rn - 1) % 48 AS pos,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(value) AS pmean
  FROM s GROUP BY 1, 2),
rs AS (
  SELECT s.series_id, s.value, s.value - pm.pmean AS r
  FROM s JOIN pm ON pm.series_id = s.series_id
                AND pm.pos = (s.rn - 1) % 48),
ag AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(sum(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS r1,
         CAST(sum(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) AS r2
  FROM rs GROUP BY 1)
SELECT series_id, n,
       round((s2 - s1 * s1 / n) / (n - 1), {R}) AS var_total,
       round((r2 - r1 * r1 / n) / (n - 1), {R}) AS var_resid,
       round(greatest(0.0, 1.0 - ((r2 - r1 * r1 / n) / (n - 1))
                             / ((s2 - s1 * s1 / n) / (n - 1))), {R})
         AS seasonal_strength
FROM ag
"""


def q_stl_robust(spark, sf_dir):
    from ...functions import stl_decompose
    out = stl_decompose(_series(spark, sf_dir), period=24)
    return out.select(
        "series_id", "rn",
        _rnd("trend", R).alias("trend"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("resid", R).alias("resid"),
    )


# (pot_flags oracle registered just before queries(): it slices
# the pot_threshold oracle, which is defined further down)
def q_seasonal_heatmap(spark, sf_dir):
    """Hour-of-day × day-of-week profile grid per series (mean /
    exact-decimal std / count per cell) — the seasonality heatmap
    panel as a frame (S7 data side, same spirit as ``qq_plot`` /
    ``histogram_fit``), and the lookup table behind
    ``seasonal_profile_flags``.  One grouped aggregate; at 100 TB the
    grid stays |series|·168 rows."""
    s = _series(spark, sf_dir)
    v = F.col("value")
    g = s.groupBy(
        "series_id",
        F.hour("timestamp").cast("int").alias("hod"),
        (F.dayofweek("timestamp") - 1).cast("int").alias("dow"),
    ).agg(
        F.count("value").alias("n"),
        F.sum(v.cast(DEC_T)).cast("double").alias("__s1"),
        F.sum((v * v).cast(DEC_T)).cast("double").alias("__s2"),
    )
    mean = F.col("__s1") / F.col("n")
    var = (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("n")) / (
        F.col("n") - 1
    )
    std = F.when(F.col("n") >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    return g.select(
        "series_id", "hod", "dow", "n",
        _rnd(mean, R).alias("cell_mean"),
        _rnd(std, R).alias("cell_std"),
    )


o_seasonal_heatmap = f"""
WITH {SQL_S},
g AS (
  SELECT series_id,
         CAST(hour(timestamp) AS INTEGER) AS hod,
         CAST(dayofweek(timestamp) AS INTEGER) AS dow,
         count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1, 2, 3)
SELECT series_id, hod, dow, n,
       round(s1 / n, {R}) AS cell_mean,
       round(CASE WHEN n >= 2
                  THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0))
             END, {R}) AS cell_std
FROM g
"""


def q_m4_downsample(spark, sf_dir):
    """Pixel-exact M4 downsampling (Jugel et al., VLDB 2014): each
    series reduced to the first/last/min/max survivors of 256 equal
    positional buckets — the constant-egress rendering frame behind
    the reference's full-resolution plots (``src/plotting.py:8-76``),
    the piece that still works when the series is 100 TB."""
    from ...operators.downsample import m4_downsample

    out = m4_downsample(_series(spark, sf_dir), n_buckets=256)
    return out.select(
        "series_id", "bucket", "rn",
        _rnd("value", R).alias("value"),
        "is_min", "is_max", "is_first", "is_last",
    )


o_m4_downsample = f"""
WITH {SQL_S},
np AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
b AS (
  SELECT s.series_id, s.rn, s.value,
         CAST(floor(CAST(s.rn - 1 AS DOUBLE) * 256.0
                    / CAST(np.n AS DOUBLE)) AS BIGINT) AS bucket
  FROM s JOIN np USING (series_id)),
r AS (
  SELECT series_id, bucket, rn, value,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY value ASC, rn ASC) = 1 THEN 1 ELSE 0 END AS is_min,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY value DESC, rn DESC) = 1 THEN 1 ELSE 0 END AS is_max,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY rn ASC) = 1 THEN 1 ELSE 0 END AS is_first,
         CASE WHEN row_number() OVER (PARTITION BY series_id, bucket
                   ORDER BY rn DESC) = 1 THEN 1 ELSE 0 END AS is_last
  FROM b)
SELECT series_id, bucket, rn, round(value, {R}) AS value,
       is_min, is_max, is_first, is_last
FROM r
WHERE is_min + is_max + is_first + is_last > 0
"""


def q_stl_anomaly(spark, sf_dir):
    """Decomposition-residual anomaly detection — the reference's
    STL-then-threshold idiom (``src/stl_model.py`` residual scoring)
    as one composite: hourly resample → classical decomposition →
    robust MAD z-score on the residual channel → flags.  Every stage
    is native column algebra, so the full pipeline hash-gates."""
    from ...operators.decompose import resample, classical_decompose
    from ...operators.scaling import mad_scores

    s = _series(spark, sf_dir)
    dc = classical_decompose(resample(s, "hour"), period=24)
    rr = dc.filter(F.col("resid").isNotNull())
    z = mad_scores(rr, value_col="resid", out_col="z")
    return z.select(
        "series_id",
        F.col("timestamp").cast("string").alias("bucket"),
        _rnd("resid", R).alias("resid"),
        _rnd("z", R).alias("z"),
        (F.col("z") > 3.0).cast("int").alias("flag"),
    )


o_stl_anomaly = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP},
rr AS (SELECT series_id, bucket, resid FROM dc WHERE resid IS NOT NULL),
rmed AS (SELECT series_id, median(resid) AS med FROM rr GROUP BY 1),
rmad AS (
  SELECT rr.series_id, median(abs(rr.resid - rmed.med)) AS mad
  FROM rr JOIN rmed USING (series_id) GROUP BY 1),
rz AS (
  SELECT rr.series_id, rr.bucket, rr.resid,
         abs(rr.resid - rmed.med) / (1.4826 * rmad.mad + 1e-9) AS z
  FROM rr JOIN rmed USING (series_id) JOIN rmad USING (series_id))
SELECT series_id, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(resid, {R}) AS resid, round(z, {R}) AS z,
       CASE WHEN z > 3.0 THEN 1 ELSE 0 END AS flag
FROM rz
"""


def q_stl_forecast(spark, sf_dir):
    """Decompose-based seasonal forecast, hash-gated: classical
    decomposition (the gated resample_decompose DAG) → trend
    extrapolated by its end-to-end drift + per-phase seasonal repeat
    over a 24-bucket horizon — the seasonal upgrade of the drift
    baseline, with zero model fitting."""
    from ...operators.decompose import (
        classical_decompose,
        resample,
        stl_forecast,
    )

    s = _series(spark, sf_dir)
    dc = classical_decompose(resample(s, "hour"), period=24)
    out = stl_forecast(dc, horizon=24)
    return out.select(
        "series_id", "step",
        F.col("bucket").cast("string").alias("bucket"),
        _rnd("trend_fc", R).alias("trend_fc"),
        _rnd("seasonal", R).alias("seasonal"),
        _rnd("pred", R).alias("pred"),
    )


o_stl_forecast = f"""
WITH {SQL_S}, {SQL_RESAMPLE}, {SQL_DECOMP},
tstats AS (
  SELECT series_id,
         min(CASE WHEN trend IS NOT NULL THEN brn END) AS brn0,
         max(CASE WHEN trend IS NOT NULL THEN brn END) AS brn1,
         max(brn) AS brn_last,
         max(bucket) AS bucket_last
  FROM tr GROUP BY 1),
tv AS (
  SELECT t.series_id,
         max(CASE WHEN t.brn = ts.brn0 THEN t.trend END) AS trend0,
         max(CASE WHEN t.brn = ts.brn1 THEN t.trend END) AS trend1
  FROM tr t JOIN tstats ts USING (series_id)
  WHERE t.brn = ts.brn0 OR t.brn = ts.brn1
  GROUP BY 1),
sl AS (
  SELECT ts.series_id, ts.brn1, ts.brn_last, ts.bucket_last,
         tv.trend1,
         (tv.trend1 - tv.trend0) / (ts.brn1 - ts.brn0) AS slope
  FROM tstats ts JOIN tv USING (series_id)),
hz AS (SELECT unnest(generate_series(1, 24)) AS step),
fc AS (
  SELECT s2.series_id, h.step,
         s2.bucket_last + h.step * INTERVAL 1 HOUR AS bucket,
         s2.trend1 + (s2.brn_last + h.step - s2.brn1) * s2.slope
           AS trend_fc
  FROM sl s2 CROSS JOIN hz h),
seas AS (
  SELECT series_id, phase, max(sraw) AS sr
  FROM srw GROUP BY 1, 2),
seas2 AS (
  SELECT s3.series_id, s3.phase, s3.sr - m.pm_mean AS seasonal
  FROM seas s3 JOIN phm m USING (series_id))
SELECT f.series_id, f.step,
       strftime(f.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(f.trend_fc, {R}) AS trend_fc,
       round(s4.seasonal, {R}) AS seasonal,
       round(f.trend_fc + s4.seasonal, {R}) AS pred
FROM fc f JOIN seas2 s4
  ON s4.series_id = f.series_id
 AND s4.phase = CAST(hour(f.bucket) AS INT)
"""
