"""Point scores and detectors: trailing-window statistics, z/MAD scores and
their threshold flags, Hampel, quantile bands, S-H-ESD (with its fixed
twins), peaks-over-threshold, HBOS, kNN and KDE."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators.rolling import adaptive_threshold_flags, rolling_stats
from ...operators.scaling import global_zscore, mad_scores
from ...operators.events import persistence_filter
from ._shared import (
    R,
    SQL_FLAGS,
    SQL_MAD,
    SQL_MO,
    SQL_ROLL,
    SQL_S,
    _last_w,
    _rnd,
    _series,
)


def _shesd_lams(n: int = 128, alpha: float = 0.05, k: int = 6):
    """ESD critical values λ_i for the fixed twin, computed once from
    the engine's own scipy-free t-quantile (functions/shesd.t_ppf) and
    rounded to 12 decimals — shared literals, so the one
    transcendental chain (normal PPF expansion) never runs inside
    either engine."""
    import math

    from ...functions.shesd import t_ppf

    out = []
    for i in range(1, k + 1):
        m = n - i + 1
        p = 1 - alpha / (2 * m)
        t = t_ppf(p, m - 2)
        out.append(round((m - 1) * t / math.sqrt((m - 2 + t * t) * m), 12))
    return out


# λ critical values for EVERY test-set size an S-H-ESD twin can see
# (w = least(n, 2048), n >= 128) — one shared literal table, so
# the t-quantile transcendental chain never runs inside either engine
# (the literal-table recipe that made harmonic_forecast_fixed exact)
_SHESD_LAM_TABLE = [
    (w, *_shesd_lams(w)) for w in range(128, 2049)
]


def _shesd_fixed_plan(spark, sf_dir, cap, min_n):
    """Shared builder for the hash-gated S-H-ESD twins: each series'
    last ``w = least(n, cap)`` points (series with ``n >= min_n``),
    period-24 seasonal medians + overall-median centering (exact
    percentiles — engine-identical), then K=6 generalized-ESD rounds
    with robust median/MAD scores.

    The iterative remove-the-max loop UNROLLS: K is fixed, so each
    round is a block of deterministic column algebra over the
    remaining-values array (sorted-array medians with the midpoint
    rule, strict-> argmax fold keeping the first max like np.argmax,
    λ_i compare, list_filter removal) — Spark chains six withColumn
    blocks, DuckDB chains six CTE blocks, no recursion needed.  The
    ESD critical values λ_i depend on the test-set size, so the twin
    joins the shared literal table ``_SHESD_LAM_TABLE`` (λ_1..λ_6 for
    every w in [128, 2048], precomputed from the engine's own
    t-quantile and rounded to 12 decimals) as a broadcast frame; the
    128-point oracle bakes the same w=128 row in as literals, the
    full-extent one joins the table as a VALUES list.  Every op is
    fixed-order double algebra on exact-median / raw-double inputs,
    so the gate is exact.  The anomaly count is the largest i whose
    test statistic exceeded λ_i (the paper's rule); flags mark the
    first n_det removed points."""
    PERIOD, K = 24, 6
    tail = (
        _last_w(spark, sf_dir, cap, min_n)
        .select("series_id", "rn", "value", "j", "w")
        .withColumn("pos", (F.col("j") % F.lit(PERIOD)).cast("int"))
    )
    seas = tail.groupBy("series_id", "pos").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("seasonal")
    )
    detr = tail.join(F.broadcast(seas), ["series_id", "pos"]).withColumn(
        "detr", F.col("value") - F.col("seasonal")
    )
    medall = detr.groupBy("series_id").agg(
        F.percentile(F.col("detr"), F.lit(0.5)).alias("med_all")
    )
    rz = detr.join(F.broadcast(medall), "series_id").withColumn(
        "resid", F.col("detr") - F.col("med_all")
    )
    lam_df = spark.createDataFrame(
        _SHESD_LAM_TABLE,
        "w int, lam1 double, lam2 double, lam3 double, "
        "lam4 double, lam5 double, lam6 double",
    )
    ser = (
        rz.groupBy("series_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("j").cast("int").alias("idx"),
                            F.col("resid").alias("v"),
                        )
                    )
                ),
                lambda t: F.struct(t["v"].alias("v"), t["idx"].alias("idx")),
            ).alias("st0"),
            F.max("w").cast("int").alias("w"),
        )
        .withColumn("cands0", F.array().cast("array<int>"))
        .withColumn("ndet0", F.lit(0))
        .join(F.broadcast(lam_df), "w")
    )

    def arr_median(ls):
        m = F.size(ls)
        half = (m / F.lit(2)).cast("int")
        return F.when(
            m % 2 == 1,
            F.element_at(ls, ((m + F.lit(1)) / F.lit(2)).cast("int")),
        ).otherwise(
            (F.element_at(ls, half) + F.element_at(ls, half + F.lit(1)))
            / F.lit(2.0)
        )

    for i in range(1, K + 1):
        p = f"st{i - 1}"
        av_sorted = F.array_sort(F.transform(F.col(p), lambda t: t["v"]))
        ser = ser.withColumn(f"med{i}", arr_median(av_sorted))
        ad_sorted = F.array_sort(
            F.transform(F.col(p), lambda t: F.abs(t["v"] - F.col(f"med{i}")))
        )
        ser = ser.withColumn(
            f"mad{i}", F.lit(1.4826) * arr_median(ad_sorted)
        )
        med_i, mad_i = F.col(f"med{i}"), F.col(f"mad{i}")
        best = F.aggregate(
            F.col(p),
            F.struct(
                F.lit(float("-inf")).alias("score"), F.lit(-1).alias("idx")
            ),
            lambda a, t: F.when(
                F.abs(t["v"] - med_i) / mad_i > a["score"],
                F.struct(
                    (F.abs(t["v"] - med_i) / mad_i).alias("score"),
                    t["idx"].alias("idx"),
                ),
            ).otherwise(a),
        )
        ser = ser.withColumn(f"best{i}", best)
        ok = mad_i >= F.lit(1e-12)
        bi = F.col(f"best{i}")
        ser = (
            ser.withColumn(
                f"st{i}",
                F.when(
                    ok,
                    F.filter(F.col(p), lambda t: t["idx"] != bi["idx"]),
                ).otherwise(F.col(p)),
            )
            .withColumn(
                f"cands{i}",
                F.when(
                    ok,
                    F.concat(
                        F.col(f"cands{i - 1}"), F.array(bi["idx"])
                    ),
                ).otherwise(F.col(f"cands{i - 1}")),
            )
            .withColumn(
                f"ndet{i}",
                F.when(
                    ok & (bi["score"] > F.col(f"lam{i}")),
                    F.lit(i),
                ).otherwise(F.col(f"ndet{i - 1}")),
            )
        )
    anoms = ser.select(
        "series_id",
        F.slice(F.col(f"cands{K}"), 1, F.col(f"ndet{K}")).alias("anoms"),
    )
    out = rz.join(F.broadcast(anoms), "series_id")
    return out.select(
        "series_id",
        "rn",
        _rnd("value", R).alias("value"),
        _rnd("resid", R).alias("resid"),
        F.array_contains(
            F.col("anoms"), F.col("j").cast("int")
        ).cast("int").alias("anomaly"),
    )


def q_sliding_windows(spark, sf_dir):
    from ...operators.rolling import sliding_windows

    s = _series(spark, sf_dir)
    out = sliding_windows(s, seq_len=48)
    return out.select(
        "series_id",
        "rn",
        F.posexplode("x_window").alias("pos", "x"),
    ).select("series_id", "rn", "pos", _rnd("x", R).alias("x"))


o_sliding_windows = f"""
WITH {SQL_S},
pos AS (SELECT unnest(generate_series(0, 47)) AS pos)
SELECT s.series_id, s.rn, p.pos, round(src.value, {R}) AS x
FROM s CROSS JOIN pos p
JOIN s src ON src.series_id = s.series_id
          AND src.rn = s.rn - 48 + p.pos
WHERE s.rn >= 49
"""


def q_rolling_stats(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = rolling_stats(s)
    return out.select(
        "series_id", "rn",
        _rnd("roll_mean", R).alias("roll_mean"),
        _rnd("roll_std", R).alias("roll_std"),
    )


o_rolling_stats = f"""
WITH {SQL_S}, {SQL_ROLL}
SELECT series_id, rn, round(roll_mean, {R}) AS roll_mean,
       round(roll_std, {R}) AS roll_std
FROM roll
"""


def q_adaptive_flags(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = adaptive_threshold_flags(s, k=2.0)
    out = persistence_filter(out, "flag", p=2)
    return out.select("series_id", "rn", "flag")


o_adaptive_flags = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS}
SELECT series_id, rn, flag FROM flags
"""


def q_mad_scores(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = mad_scores(s)
    return out.select(
        "series_id", "rn",
        _rnd("z_mad", R).alias("z_mad"),
        (F.col("z_mad") > 3.0).cast("int").alias("flag"),
    )


o_mad_scores = f"""
WITH {SQL_S}, {SQL_MAD}
SELECT series_id, rn, round(z_mad, {R}) AS z_mad,
       CASE WHEN z_mad > 3.0 THEN 1 ELSE 0 END AS flag
FROM mads
"""


def q_global_zscore(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = global_zscore(s)
    return out.select("series_id", "rn", _rnd("z_global", R).alias("z_global"))


o_global_zscore = f"""
WITH {SQL_S}, {SQL_MO}
SELECT s.series_id, s.rn,
       round((s.value - mo2.mu) / (mo2.sd + 1e-9), {R}) AS z_global
FROM s JOIN mo2 USING (series_id)
"""


def q_median_center(spark, sf_dir):
    """P8: per-series exact-median centering (src/run_bsts.py:54-55)."""
    from ...operators.scaling import median_center

    s = _series(spark, sf_dir)
    out = median_center(s, "value", "centered")
    return out.select("series_id", "rn", _rnd("centered", R).alias("centered"))


o_median_center = f"""
WITH {SQL_S},
cmed AS (SELECT series_id, median(value) AS med FROM s GROUP BY 1)
SELECT s.series_id, s.rn, round(s.value - cmed.med, {R}) AS centered
FROM s JOIN cmed USING (series_id)
"""


def q_residual_sigma(spark, sf_dir):
    """W2: rolling sigma on model residuals + the reference's residual
    z-score (src/run_bsts.py:105-106) — AR(1) residuals so every step
    is exact SQL algebra."""
    from ...functions.ar import ar1_forecast_native
    from ...operators.rolling import rolling_stats

    s = _series(spark, sf_dir)
    r = rolling_stats(
        ar1_forecast_native(s), value_col="resid", out_prefix="rs"
    )
    score = F.abs(F.col("resid")) / (F.col("rs_std") + F.lit(1e-6))
    return r.select(
        "series_id", "rn",
        _rnd("rs_mean", R).alias("rs_mean"),
        _rnd("rs_std", R).alias("rs_std"),
        _rnd(score, R).alias("score"),
    )


# W2: rolling mean/std of AR(1) residuals (the reference's residual
# sigma, src/run_bsts.py:105-106).  Rolling CTEs mirror SQL_ROLL but run
# over the resid column, which is NULL at the series head — the decimal
# cumulative sums and counts skip NULLs identically on both engines, and
# the lag(·, 48) row offset counts ALL rows (incl. the null one), exactly
# like Spark's positional window frame.
o_residual_sigma = f"""
WITH {SQL_S},
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lagged WHERE prev IS NOT NULL GROUP BY 1),
fit0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
fit AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0),
rsd AS (
  SELECT l.series_id, l.rn,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id)),
rcum AS (
  SELECT series_id, rn, resid,
         sum(CAST(resid AS DECIMAL(38,12))) OVER wr AS c1,
         sum(CAST(resid * resid AS DECIMAL(38,12))) OVER wr AS c2,
         count(resid) OVER wr AS cn
  FROM rsd
  WINDOW wr AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
rwin AS (
  SELECT series_id, rn, resid,
         CAST(c1 - coalesce(lag(c1, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(c2 - coalesce(lag(c2, 48) OVER wl, CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2,
         cn - coalesce(lag(cn, 48) OVER wl, 0) AS cnt
  FROM rcum
  WINDOW wl AS (PARTITION BY series_id ORDER BY rn)),
rraw AS (
  SELECT series_id, rn, resid,
    CASE WHEN cnt >= 5 THEN s1 / cnt END AS m_raw,
    CASE WHEN cnt >= 5 AND cnt >= 2 THEN
      sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0))
    END AS s_raw
  FROM rwin),
rfill AS (
  SELECT series_id, rn, resid,
    first_value(m_raw IGNORE NULLS) OVER wb AS rs_mean,
    first_value(s_raw IGNORE NULLS) OVER wb AS rs_std
  FROM rraw
  WINDOW wb AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT series_id, rn,
       round(rs_mean, {R}) AS rs_mean,
       round(rs_std, {R}) AS rs_std,
       round(abs(resid) / (rs_std + 1e-6), {R}) AS score
FROM rfill
"""


def q_interval_exceedance(spark, sf_dir):
    s = _series(spark, sf_dir)
    out = rolling_stats(s)
    lo = F.col("roll_mean") - 3.0 * F.col("roll_std")
    hi = F.col("roll_mean") + 3.0 * F.col("roll_std")
    return out.select(
        "series_id", "rn",
        _rnd(lo, R).alias("lower"),
        _rnd(hi, R).alias("upper"),
        ((F.col("value") < lo) | (F.col("value") > hi)).cast("int").alias("exceed"),
    )


o_interval_exceedance = f"""
WITH {SQL_S}, {SQL_ROLL}
SELECT series_id, rn,
       round(roll_mean - 3.0 * roll_std, {R}) AS lower,
       round(roll_mean + 3.0 * roll_std, {R}) AS upper,
       CASE WHEN value < roll_mean - 3.0 * roll_std
              OR value > roll_mean + 3.0 * roll_std THEN 1 ELSE 0 END AS exceed
FROM roll
"""


def q_hampel_flags(spark, sf_dir):
    """W1's robust sibling, hash-gated: Hampel identifier — centered
    rolling median ± 3·1.4826·rolling-MAD (the reference's MAD scoring
    of ``src/utils.py:31-38`` localized to the W1 window).  Fully
    native: sorted in-frame arrays, no UDF, one exchange."""
    from ...operators.robust import hampel_flags

    out = hampel_flags(_series(spark, sf_dir), half=12)
    return out.select(
        "series_id", "rn",
        _rnd("roll_med", R).alias("roll_med"),
        _rnd("roll_mad", R).alias("roll_mad"),
        F.col("hampel_flag").alias("flag"),
    )


# ---- hampel_flags: centered rolling median/MAD via sorted in-frame
#      lists — the floor((n+1)/2.0) indexing is load-bearing (Spark's
#      double->int cast truncates, DuckDB's rounds). ----
o_hampel_flags = f"""
WITH {SQL_S},
win AS (
  SELECT series_id, rn, value,
         list_sort(list(value) OVER (
           PARTITION BY series_id ORDER BY rn
           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)) AS a
  FROM s),
med AS (
  SELECT series_id, rn, value, a,
         (a[CAST(floor((len(a) + 1) / 2.0) AS INT)] +
          a[CAST(floor(len(a) / 2.0) + 1 AS INT)]) / 2.0 AS roll_med
  FROM win),
madx AS (
  SELECT series_id, rn, value, roll_med,
         list_sort(list_transform(a, x -> abs(x - roll_med))) AS d
  FROM med),
madf AS (
  SELECT series_id, rn, value, roll_med,
         (d[CAST(floor((len(d) + 1) / 2.0) AS INT)] +
          d[CAST(floor(len(d) / 2.0) + 1 AS INT)]) / 2.0 AS roll_mad
  FROM madx)
SELECT series_id, rn, round(roll_med, {R}) AS roll_med,
       round(roll_mad, {R}) AS roll_mad,
       CAST(CASE WHEN abs(value - roll_med)
                      > 3.0 * (1.4826 * roll_mad + 1e-9)
            THEN 1 ELSE 0 END AS INT) AS flag
FROM madf
"""


def q_quantile_flags(spark, sf_dir):
    """Distribution-free band detector, hash-gated: flag rows outside
    the per-series exact [2%, 98%] percentile band — the ECDF cousin
    of the z-score charts (P10/P12), no normality assumption."""
    from ...operators.robust import quantile_band_flags

    out = quantile_band_flags(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("band_lo", R).alias("band_lo"),
        _rnd("band_hi", R).alias("band_hi"),
        F.col("band_flag").alias("flag"),
    )


# ---- quantile_flags: exact-percentile band (DuckDB quantile_cont ≡
#      Spark percentile: linear interpolation at (n-1)·q). ----
o_quantile_flags = f"""
WITH {SQL_S},
bands AS (
  SELECT series_id, quantile_cont(value, 0.02) AS band_lo,
         quantile_cont(value, 0.98) AS band_hi
  FROM s GROUP BY 1)
SELECT s.series_id, s.rn,
       round(band_lo, {R}) AS band_lo,
       round(band_hi, {R}) AS band_hi,
       CAST(CASE WHEN s.value < band_lo OR s.value > band_hi
            THEN 1 ELSE 0 END AS INT) AS flag
FROM s JOIN bands USING (series_id)
"""


def q_diff_zscore(spark, sf_dir):
    """Rate-of-change spike detector, hash-gated: z-score of the first
    differences against their own exact-decimal moments — catches the
    jump discontinuities level charts smear (P9/P10 on Δy)."""
    from ...operators.robust import diff_zscore_flags

    out = diff_zscore_flags(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("diff", R).alias("diff"),
        _rnd("diff_z", R).alias("diff_z"),
        F.col("diff_flag").alias("flag"),
    )


# ---- diff_zscore: first differences z-scored against their own
#      exact-decimal moments (the SQL_MO algebra over Δy). ----
o_diff_zscore = f"""
WITH {SQL_S},
dif AS (
  SELECT series_id, rn,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY rn)
           AS diff
  FROM s),
dmo AS (
  SELECT series_id, count(diff) AS n,
         CAST(sum(CAST(diff AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(diff * diff AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM dif WHERE diff IS NOT NULL GROUP BY 1),
dmo2 AS (
  SELECT series_id, s1 / n AS mu,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM dmo)
SELECT d.series_id, d.rn,
       round(d.diff, {R}) AS diff,
       round((d.diff - m.mu) / (m.sd + 1e-9), {R}) AS diff_z,
       CAST(CASE WHEN d.diff IS NULL THEN 0
                 WHEN abs((d.diff - m.mu) / (m.sd + 1e-9)) > 4.0
                 THEN 1 ELSE 0 END AS INT) AS flag
FROM dif d JOIN dmo2 m USING (series_id)
"""


def q_seasonal_profile_flags(spark, sf_dir):
    """Time-of-day profile detector, hash-gated: each row scored
    against its own period position's mean/std — the seasonal-aware
    flag a global z-score cannot produce (P6/P10/P12 conditioned on
    rn mod 48)."""
    from ...operators.robust import seasonal_profile_flags

    out = seasonal_profile_flags(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "rn", "pos",
        _rnd("pos_mean", R).alias("pos_mean"),
        _rnd("pos_z", R).alias("pos_z"),
        F.col("profile_flag").alias("flag"),
    )


# ---- seasonal_profile_flags: per-(series, rn mod 48) exact-decimal
#      moments, rows scored against their own position profile. ----
o_seasonal_profile_flags = f"""
WITH {SQL_S},
pm AS (
  SELECT series_id, (rn - 1) % 48 AS pos, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s GROUP BY 1, 2),
pm2 AS (
  SELECT series_id, pos, s1 / n AS pos_mean,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sd
  FROM pm)
SELECT s.series_id, s.rn, p.pos,
       round(p.pos_mean, {R}) AS pos_mean,
       round((s.value - p.pos_mean) / (p.sd + 1e-9), {R}) AS pos_z,
       CAST(CASE WHEN abs((s.value - p.pos_mean) / (p.sd + 1e-9)) > 3.0
            THEN 1 ELSE 0 END AS INT) AS flag
FROM s JOIN pm2 p ON p.series_id = s.series_id
                 AND p.pos = (s.rn - 1) % 48
"""


def q_score_calibration(spark, sf_dir):
    """Empirical-p-value calibration of MAD z-scores: per-series ECDF
    tail probability with ties, flag at a 2% false-positive contract.
    Composes P7 (mad_scores, already hash-green) with one RANGE window."""
    from ...operators.scaling import empirical_pvalues, mad_scores

    s = _series(spark, sf_dir)
    out = empirical_pvalues(mad_scores(s), "z_mad", "p_emp")
    return out.select(
        "series_id", "rn",
        _rnd("z_mad", R).alias("z_mad"),
        _rnd("p_emp", R).alias("p_emp"),
        (F.col("p_emp") <= 0.02).cast("int").alias("flag"),
    )


# ---- score_calibration: ECDF tail p-values over MAD z-scores ----
o_score_calibration = f"""
WITH {SQL_S}, {SQL_MAD},
cal AS (
  SELECT series_id, rn, z_mad,
         count(*) OVER (PARTITION BY series_id ORDER BY z_mad DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ge,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM mads)
SELECT series_id, rn, round(z_mad, {R}) AS z_mad,
       round(CAST(ge AS DOUBLE) / CAST(n AS DOUBLE), {R}) AS p_emp,
       CASE WHEN CAST(ge AS DOUBLE) / CAST(n AS DOUBLE) <= 2e-2
            THEN 1 ELSE 0 END AS flag
FROM cal
"""


def q_shesd_flags(spark, sf_dir):
    """Seasonal Hybrid ESD (Twitter AnomalyDetection, arXiv:1704.07706):
    STL seasonal removal + median centering, then a generalized ESD
    test with robust scores decides HOW MANY anomalies are significant.
    Iterative per series → rows-only gate; the ESD core is unit-tested
    against a naive reference implementation."""
    from ...functions.shesd import shesd_flags

    out = shesd_flags(_series(spark, sf_dir), period=24)
    return out.select(
        "series_id", "rn",
        _rnd("resid", R).alias("resid"),
        "anomaly",
    )


_SHESD_LAMS = _shesd_lams()


def q_shesd_fixed(spark, sf_dir):
    """Hash-gated fixed twin of S-H-ESD over each series' last 128
    points (see ``_shesd_fixed_plan``)."""
    return _shesd_fixed_plan(spark, sf_dir, 128, 128)


def _shesd_fixed_sql() -> str:
    """DuckDB mirror of q_shesd_fixed: the K=6 ESD rounds unroll as
    CTE blocks (med/mad from sorted-list midpoint medians, argmax via
    a strict-> list_reduce keeping the first max, λ literals)."""
    steps = []
    for i in range(1, 7):
        p = f"s{i - 1}"
        lam = f"{_SHESD_LAMS[i - 1]:.12f}"
        steps.append(f"""
m{i} AS (
  SELECT series_id, st, cands, ndet,
         list_sort(list_transform(st, t -> t.v)) AS ls
  FROM {p}),
m{i}b AS (
  SELECT series_id, st, cands, ndet,
         CASE WHEN len(ls) % 2 = 1 THEN ls[(len(ls) + 1) // 2]
              ELSE (ls[len(ls) // 2] + ls[len(ls) // 2 + 1]) / 2.0
         END AS med
  FROM m{i}),
m{i}c AS (
  SELECT series_id, st, cands, ndet, med,
         list_sort(list_transform(st, t -> abs(t.v - med))) AS ad
  FROM m{i}b),
m{i}d AS (
  SELECT series_id, st, cands, ndet, med,
         1.4826 * (CASE WHEN len(ad) % 2 = 1 THEN ad[(len(ad) + 1) // 2]
                        ELSE (ad[len(ad) // 2] + ad[len(ad) // 2 + 1]) / 2.0
                   END) AS mad
  FROM m{i}c),
m{i}e AS (
  SELECT series_id, st, cands, ndet, med, mad,
         list_reduce(
           list_transform(st, t -> {{'score': abs(t.v - med) / mad,
                                     'idx': t.idx}}),
           (a, b) -> CASE WHEN b.score > a.score THEN b ELSE a END)
           AS best
  FROM m{i}d),
s{i} AS (
  SELECT series_id,
         CASE WHEN mad >= 1e-12
              THEN list_filter(st, t -> t.idx != best.idx)
              ELSE st END AS st,
         CASE WHEN mad >= 1e-12
              THEN list_append(cands, best.idx)
              ELSE cands END AS cands,
         CASE WHEN mad >= 1e-12 AND best.score > {lam}
              THEN {i} ELSE ndet END AS ndet
  FROM m{i}e)""")
    step_sql = ",".join(steps)
    return f"""
WITH {SQL_S},
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, s.rn, s.value,
         s.rn - (c.n - 128) - 1 AS j,
         CAST((s.rn - (c.n - 128) - 1) % 24 AS INT) AS pos
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - 128),
seas AS (
  SELECT series_id, pos, quantile_cont(value, 0.5) AS seasonal
  FROM tl GROUP BY 1, 2),
detr AS (
  SELECT t.series_id, t.rn, t.j, t.value,
         t.value - se.seasonal AS detr
  FROM tl t JOIN seas se ON se.series_id = t.series_id
                        AND se.pos = t.pos),
medall AS (
  SELECT series_id, quantile_cont(detr, 0.5) AS med_all
  FROM detr GROUP BY 1),
rz AS (
  SELECT d.series_id, d.rn, d.j, d.value,
         d.detr - m.med_all AS resid
  FROM detr d JOIN medall m USING (series_id)),
s0 AS (
  SELECT series_id,
         list_transform(
           list_sort(list(
             {{'idx': CAST(j AS INT), 'v': resid}})),
           t -> {{'v': t.v, 'idx': t.idx}}) AS st,
         []::INT[] AS cands,
         0 AS ndet
  FROM rz GROUP BY 1),
{step_sql},
an AS (
  SELECT series_id, cands[1:ndet] AS anoms FROM s6)
SELECT r.series_id, r.rn,
       round(r.value, {R}) AS value,
       round(r.resid, {R}) AS resid,
       CAST(CASE WHEN list_contains(a.anoms, CAST(r.j AS INT))
            THEN 1 ELSE 0 END AS INT) AS anomaly
FROM rz r JOIN an a USING (series_id)
"""


o_shesd_fixed = _shesd_fixed_sql()


def q_shesd_fixed_full(spark, sf_dir):
    """FULL-EXTENT hash-gated S-H-ESD twin (r08 verdict item #1): the
    S-H-ESD twin over each series' last ``w = least(n, 2048)`` points
    — the ENTIRE series at the gate SF (sf0.01, ~2000 points), so the
    hash gate covers the extent the rows-only ``shesd_flags``
    operator processes.  See ``_shesd_fixed_plan``."""
    return _shesd_fixed_plan(spark, sf_dir, 2048, 128)


def _shesd_fixed_full_sql() -> str:
    """DuckDB mirror of q_shesd_fixed_full: the K=6 rounds unroll as
    CTE blocks exactly like ``_shesd_fixed_sql``, but λ comes from the
    shared per-w literal table instead of n=128 constants."""
    lam_rows = ",\n".join(
        "(%d, %.12f, %.12f, %.12f, %.12f, %.12f, %.12f)" % row
        for row in _SHESD_LAM_TABLE
    )
    steps = []
    for i in range(1, 7):
        p = f"s{i - 1}"
        steps.append(f"""
m{i} AS (
  SELECT series_id, st, cands, ndet, lam{i},
         {"lam" + ", lam".join(str(k) for k in range(i + 1, 7)) + "," if i < 6 else ""}
         list_sort(list_transform(st, t -> t.v)) AS ls
  FROM {p}),
m{i}b AS (
  SELECT * EXCLUDE (ls),
         CASE WHEN len(ls) % 2 = 1 THEN ls[(len(ls) + 1) // 2]
              ELSE (ls[len(ls) // 2] + ls[len(ls) // 2 + 1]) / 2.0
         END AS med
  FROM m{i}),
m{i}c AS (
  SELECT * EXCLUDE (med), med,
         list_sort(list_transform(st, t -> abs(t.v - med))) AS ad
  FROM m{i}b),
m{i}d AS (
  SELECT * EXCLUDE (ad, med), med,
         1.4826 * (CASE WHEN len(ad) % 2 = 1 THEN ad[(len(ad) + 1) // 2]
                        ELSE (ad[len(ad) // 2] + ad[len(ad) // 2 + 1]) / 2.0
                   END) AS mad
  FROM m{i}c),
m{i}e AS (
  SELECT * EXCLUDE (sc, mx), list_filter(sc, t -> t.score = mx)[1] AS best
  FROM (
    SELECT *, list_max(list_transform(sc, t -> t.score)) AS mx
    FROM (
      SELECT * EXCLUDE (med, mad), med, mad,
             list_transform(st, t -> {{'score': abs(t.v - med) / mad,
                                       'idx': t.idx}}) AS sc
      FROM m{i}d))),
s{i} AS (
  SELECT series_id,
         {"lam" + ", lam".join(str(k) for k in range(i + 1, 7)) + "," if i < 6 else ""}
         CASE WHEN mad >= 1e-12
              THEN list_filter(st, t -> t.idx != best.idx)
              ELSE st END AS st,
         CASE WHEN mad >= 1e-12
              THEN list_append(cands, best.idx)
              ELSE cands END AS cands,
         CASE WHEN mad >= 1e-12 AND best.score > lam{i}
              THEN {i} ELSE ndet END AS ndet
  FROM m{i}e)""")
    step_sql = ",".join(steps)
    return f"""
WITH {SQL_S},
lams(w, lam1, lam2, lam3, lam4, lam5, lam6) AS (VALUES
{lam_rows}),
cnt AS (
  SELECT series_id, count(*) AS n,
         CAST(least(count(*), 2048) AS INT) AS w
  FROM s GROUP BY 1
  HAVING count(*) >= 128),
tl AS (
  SELECT s.series_id, s.rn, s.value,
         s.rn - (c.n - c.w) - 1 AS j,
         CAST((s.rn - (c.n - c.w) - 1) % 24 AS INT) AS pos
  FROM s JOIN cnt c USING (series_id)
  WHERE s.rn > c.n - c.w),
seas AS (
  SELECT series_id, pos, quantile_cont(value, 0.5) AS seasonal
  FROM tl GROUP BY 1, 2),
detr AS (
  SELECT t.series_id, t.rn, t.j, t.value,
         t.value - se.seasonal AS detr
  FROM tl t JOIN seas se ON se.series_id = t.series_id
                        AND se.pos = t.pos),
medall AS (
  SELECT series_id, quantile_cont(detr, 0.5) AS med_all
  FROM detr GROUP BY 1),
rz AS (
  SELECT d.series_id, d.rn, d.j, d.value,
         d.detr - m.med_all AS resid
  FROM detr d JOIN medall m USING (series_id)),
s0 AS (
  SELECT g.series_id,
         l.lam1, l.lam2, l.lam3, l.lam4, l.lam5, l.lam6,
         g.st, g.cands, g.ndet
  FROM (
    SELECT series_id,
           list_transform(
             list_sort(list(
               {{'idx': CAST(j AS INT), 'v': resid}})),
             t -> {{'v': t.v, 'idx': t.idx}}) AS st,
           []::INT[] AS cands,
           0 AS ndet
    FROM rz GROUP BY 1) g
  JOIN cnt c USING (series_id)
  JOIN lams l ON l.w = c.w),
{step_sql},
an AS (
  SELECT series_id, cands[1:ndet] AS anoms FROM s6)
SELECT r.series_id, r.rn,
       round(r.value, {R}) AS value,
       round(r.resid, {R}) AS resid,
       CAST(CASE WHEN list_contains(a.anoms, CAST(r.j AS INT))
            THEN 1 ELSE 0 END AS INT) AS anomaly
FROM rz r JOIN an a USING (series_id)
"""


o_shesd_fixed_full = _shesd_fixed_full_sql()


def q_pot_threshold(spark, sf_dir):
    """EVT peaks-over-threshold threshold selection (Siffer et al.,
    KDD 2017): closed-form method-of-moments GPD fit to the excesses
    over the per-series 98th percentile, extrapolated to the 1e-3
    exceedance threshold — the heavy-tail-aware replacement for the
    reference's fixed k-sigma rules (``src/utils.py:40-72``)."""
    from ...operators.evt import pot_threshold

    out = pot_threshold(
        _series(spark, sf_dir), q_level=0.98, target_p=1e-3
    )
    return out.select(
        "series_id", "n", "n_tail",
        _rnd("u", R).alias("u"),
        _rnd("xi", R).alias("xi"),
        _rnd("beta", R).alias("beta"),
        _rnd("z_q", R).alias("z_q"),
        "n_above",
    )


o_pot_threshold = f"""
WITH {SQL_S},
base AS (
  SELECT series_id, count(value) AS n,
         quantile_cont(value, 0.98) AS u
  FROM s GROUP BY 1),
tail AS (
  SELECT s.series_id, count(*) AS n_tail,
         CAST(sum(CAST(s.value - base.u AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST((s.value - base.u) * (s.value - base.u)
                       AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM s JOIN base USING (series_id)
  WHERE s.value > base.u GROUP BY 1),
p AS (
  SELECT base.series_id, base.n,
         coalesce(tail.n_tail, 0) AS n_tail, base.u,
         s1 / tail.n_tail AS m,
         (s2 - s1 * s1 / tail.n_tail) / tail.n_tail AS var
  FROM base LEFT JOIN tail USING (series_id)),
p2 AS (
  SELECT series_id, n, n_tail, u, m, var,
         (1.0 - m * m / var) / 2.0 AS xi0,
         m * (m * m / var + 1.0) / 2.0 AS beta0,
         1e-3 * n / n_tail AS ratio
  FROM p),
p3 AS (
  SELECT series_id, n, n_tail, u,
         CASE WHEN n_tail = 0 THEN 0.0
              WHEN var > 0 THEN xi0 ELSE 0.0 END AS xi,
         CASE WHEN n_tail = 0 THEN 0.0
              WHEN var > 0 THEN beta0 ELSE m END AS beta,
         CASE WHEN n_tail = 0 THEN u
              WHEN var > 0 AND abs(xi0) > 1e-9
              THEN u + beta0 / xi0 * (power(ratio, -xi0) - 1.0)
              ELSE u - m * ln(ratio) END AS z_q
  FROM p2),
ab AS (
  SELECT s.series_id, CAST(count(*) AS BIGINT) AS n_above
  FROM s JOIN p3 USING (series_id)
  WHERE s.value > p3.z_q GROUP BY 1)
SELECT p3.series_id, p3.n, p3.n_tail,
       round(p3.u, {R}) AS u, round(p3.xi, {R}) AS xi,
       round(p3.beta, {R}) AS beta, round(p3.z_q, {R}) AS z_q,
       coalesce(ab.n_above, CAST(0 AS BIGINT)) AS n_above
FROM p3 LEFT JOIN ab USING (series_id)
"""


def q_pot_flags(spark, sf_dir):
    """Row-level EVT flags: every observation scored against the
    per-series POT/GPD threshold (``pot_threshold``) — the dense flag
    column consumers feed into the W5 event chain, with the tail
    membership alongside.  One broadcast join of the 1-row/series
    threshold frame; detection stays a scan-side projection."""
    from ...operators.evt import pot_threshold

    s = _series(spark, sf_dir)
    th = pot_threshold(s, q_level=0.98, target_p=1e-3).select(
        "series_id", "u", "z_q"
    )
    j = s.join(F.broadcast(th), "series_id")
    return j.select(
        "series_id", "rn",
        _rnd("value", R).alias("value"),
        (F.col("value") > F.col("u")).cast("int").alias("in_tail"),
        (F.col("value") > F.col("z_q")).cast("int").alias("flag"),
    )


def _pot_flags_oracle() -> str:
    """Reuses the pot_threshold oracle's CTEs verbatim (sliced at its
    final SELECT) so the UNROUNDED u/z_q drive the comparisons."""
    pt = o_pot_threshold
    prefix = pt[: pt.index("SELECT p3.series_id")].rstrip()
    return (
        prefix
        + f"""
SELECT s.series_id, s.rn, round(s.value, {R}) AS value,
       CASE WHEN s.value > p3.u THEN 1 ELSE 0 END AS in_tail,
       CASE WHEN s.value > p3.z_q THEN 1 ELSE 0 END AS flag
FROM s JOIN p3 USING (series_id)
"""
    )


o_pot_flags = _pot_flags_oracle()


def q_rolling_corr(spark, sf_dir):
    """Trailing rolling Pearson correlation between series pairs
    (positional alignment, window 48, min_periods 5) — the time-LOCAL
    companion of ``cross_correlation``'s global lagged view; pandas
    ``rolling(w).corr()`` in the reference's notebook idiom."""
    from ...operators.acf import rolling_corr

    # guard ON (r11 stress finding — see q_cross_correlation)
    out = rolling_corr(_series(spark, sf_dir), window=48, min_periods=5)
    return out.select(
        "series_a", "series_b", "rn", "n_w",
        _rnd("rcorr", R).alias("rcorr"),
    )


o_rolling_corr = f"""
WITH {SQL_S},
p AS (
  SELECT a.series_id AS series_a, b.series_id AS series_b, a.rn,
         a.value AS va, b.value AS vb
  FROM s a JOIN s b ON a.rn = b.rn AND a.series_id < b.series_id),
c AS (
  SELECT series_a, series_b, rn,
         sum(CAST(va AS DECIMAL(38,12))) OVER wr AS ca,
         sum(CAST(vb AS DECIMAL(38,12))) OVER wr AS cb,
         sum(CAST(va * vb AS DECIMAL(38,12))) OVER wr AS cab,
         sum(CAST(va * va AS DECIMAL(38,12))) OVER wr AS caa,
         sum(CAST(vb * vb AS DECIMAL(38,12))) OVER wr AS cbb,
         count(*) OVER wr AS cn
  FROM p
  WINDOW wr AS (PARTITION BY series_a, series_b ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
t AS (
  SELECT series_a, series_b, rn,
         CAST(ca - coalesce(lag(ca, 48) OVER wl,
                            CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sa,
         CAST(cb - coalesce(lag(cb, 48) OVER wl,
                            CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sb,
         CAST(cab - coalesce(lag(cab, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sab,
         CAST(caa - coalesce(lag(caa, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS saa,
         CAST(cbb - coalesce(lag(cbb, 48) OVER wl,
                             CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS sbb,
         CAST(cn - coalesce(lag(cn, 48) OVER wl, 0) AS DOUBLE) AS nw
  FROM c
  WINDOW wl AS (PARTITION BY series_a, series_b ORDER BY rn)),
f AS (
  SELECT series_a, series_b, rn, nw,
         nw * sab - sa * sb AS cov,
         sqrt(greatest(nw * saa - sa * sa, 0.0)) AS da,
         sqrt(greatest(nw * sbb - sb * sb, 0.0)) AS db
  FROM t)
SELECT series_a, series_b, rn, CAST(nw AS BIGINT) AS n_w,
       round(CASE WHEN nw >= 5 AND da > 0 AND db > 0
                  THEN cov / (da * db) END, {R}) AS rcorr
FROM f
"""


def q_hbos_flags(spark, sf_dir):
    """HBOS histogram rarity detector, hash-gated: equal-width 20-bin
    per-series histogram, rarity = inverse relative density (rational
    form of the classic -log score — same ordering, hashable), flag =
    bins 8x rarer than uniform via a pure integer compare."""
    from ...operators.hbos import hbos_flags

    out = hbos_flags(_series(spark, sf_dir), n_bins=20, rarity_thresh=8.0)
    return out.select(
        "series_id", "rn", "bin", "bin_n",
        _rnd("rarity", R).alias("rarity"),
        F.col("hbos_flag").alias("flag"),
    )


o_hbos_flags = f"""
WITH {SQL_S},
rng AS (
  SELECT series_id, min(value) AS vmin, max(value) AS vmax,
         count(value) AS n
  FROM s GROUP BY 1),
binned AS (
  SELECT s.series_id, s.rn, r.n,
         CAST(CASE WHEN r.vmax = r.vmin THEN 0
              ELSE least(19, CAST(floor((s.value - r.vmin)
                                        / (r.vmax - r.vmin) * 20.0)
                              AS BIGINT))
              END AS INT) AS bin
  FROM s JOIN rng r USING (series_id)),
hist AS (
  SELECT series_id, bin, count(*) AS bin_n FROM binned GROUP BY 1, 2)
SELECT b.series_id, b.rn, b.bin, h.bin_n,
       round(b.n / (20.0 * h.bin_n), {R}) AS rarity,
       CAST(CASE WHEN b.n > 160.0 * h.bin_n THEN 1 ELSE 0 END AS INT)
         AS flag
FROM binned b JOIN hist h USING (series_id, bin)
"""


def q_knn_outlier(spark, sf_dir):
    """Exact 1-D kNN distance outlier score (Ramaswamy et al.
    SIGMOD'00), hash-gated: in value order each point's 3 nearest
    values sit among its 3 lags/leads — 6 window columns, no
    self-join.  Fixed 3-term distance sum; top-1% rank flag."""
    from ...operators.neighbors import knn_outlier

    out = knn_outlier(_series(spark, sf_dir), k=3, top_frac=0.01)
    return out.select(
        "series_id", "rn",
        _rnd("knn_score", R).alias("knn_score"),
        _rnd("kth_dist", R).alias("kth_dist"),
        "score_rank", "flag",
    )


o_knn_outlier = f"""
WITH {SQL_S},
nb AS (
  SELECT series_id, rn,
         list_sort(list_filter([
           abs(value - lag(value, 1) OVER wv),
           abs(value - lag(value, 2) OVER wv),
           abs(value - lag(value, 3) OVER wv),
           abs(value - lead(value, 1) OVER wv),
           abs(value - lead(value, 2) OVER wv),
           abs(value - lead(value, 3) OVER wv)],
           x -> x IS NOT NULL)) AS d
  FROM s
  WINDOW wv AS (PARTITION BY series_id ORDER BY value, rn)),
sc AS (
  SELECT series_id, rn,
         (0.0 + d[1] + d[2] + d[3]) / 3.0 AS score, d[3] AS kth
  FROM nb),
rk AS (
  SELECT series_id, rn, score, kth,
         rank() OVER (PARTITION BY series_id
                      ORDER BY score DESC, rn) AS r,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM sc)
SELECT series_id, rn, round(score, {R}) AS knn_score,
       round(kth, {R}) AS kth_dist, r AS score_rank,
       CAST(CASE WHEN r <= greatest(1, floor(n * 0.01))
            THEN 1 ELSE 0 END AS INT) AS flag
FROM rk
"""


def q_kde_rarity(spark, sf_dir):
    """Binned Epanechnikov KDE rarity (Silverman §2.7), hash-gated:
    integer histogram at σ/8 smoothed by the parabolic kernel at
    bandwidth σ/2 (7 fixed offsets, decimal-summed) — the
    kernel-smoothed complement of HBOS; flag = density below ¼ of
    uniform.  O(n + bins), no pairwise KDE anywhere."""
    from ...operators.neighbors import kde_rarity

    out = kde_rarity(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "bin",
        _rnd("density", R).alias("density"),
        "flag",
    )


o_kde_rarity = f"""
WITH {SQL_S},
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2,
         min(value) AS vmin, max(value) AS vmax
  FROM s GROUP BY 1),
par AS (
  SELECT series_id, n, vmin, vmax,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) * 0.125
           + 1e-9 AS delta,
         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) * 0.5
           + 1e-9 AS h
  FROM mo),
bins AS (
  SELECT s.series_id, s.rn,
         CAST(floor((s.value - p.vmin) / p.delta) AS BIGINT) AS bin
  FROM s JOIN par p USING (series_id)),
cnts AS (
  SELECT series_id, bin, count(*) AS cnt FROM bins GROUP BY 1, 2),
smear AS (
  SELECT c.series_id, c.bin + t.j AS tbin,
         c.cnt * (0.75 * (1.0 - (t.j * p.delta / p.h)
                                * (t.j * p.delta / p.h))) AS w
  FROM cnts c
  JOIN par p USING (series_id),
       unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(j)),
dens AS (
  SELECT series_id, tbin AS bin,
         CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sw
  FROM smear GROUP BY 1, 2),
dens2 AS (
  SELECT d.series_id, d.bin, d.sw / (p.n * p.h) AS density,
         0.25 / (p.vmax - p.vmin + 1e-9) AS rare_at
  FROM dens d JOIN par p USING (series_id))
SELECT b.series_id, b.rn, b.bin, round(d.density, {R}) AS density,
       CAST(CASE WHEN d.density < d.rare_at THEN 1 ELSE 0 END AS INT)
         AS flag
FROM bins b JOIN dens2 d ON d.series_id = b.series_id
                        AND d.bin = b.bin
"""


def q_rolling_moments(spark, sf_dir):
    """Rolling skewness / excess kurtosis (trailing 96, min 24) — the
    distribution-shape complement of W1/W3's rolling mean/std (a
    regime can keep σ but fatten a tail).  Four decimal power cumsums
    + lag differencing, O(n), one exchange.  Hash-gated."""
    from ...operators.rolling import rolling_moments

    out = rolling_moments(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("roll_skew", R).alias("roll_skew"),
        _rnd("roll_kurt", R).alias("roll_kurt"),
    )


o_rolling_moments = f"""
WITH {SQL_S},
cumm AS (
  SELECT series_id, rn,
         sum(CAST(value AS DECIMAL(38,12))) OVER wr AS d1,
         sum(CAST(value * value AS DECIMAL(38,12))) OVER wr AS d2,
         sum(CAST(value * value * value AS DECIMAL(38,12))) OVER wr
           AS d3,
         sum(CAST((value * value) * (value * value)
                  AS DECIMAL(38,12))) OVER wr AS d4,
         count(value) OVER wr AS dn
  FROM s
  WINDOW wr AS (PARTITION BY series_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
trail AS (
  SELECT series_id, rn,
         CAST(d1 - coalesce(lag(d1, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s1,
         CAST(d2 - coalesce(lag(d2, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s2,
         CAST(d3 - coalesce(lag(d3, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s3,
         CAST(d4 - coalesce(lag(d4, 96) OVER wl,
                            CAST(0 AS DECIMAL(38,12)))
              AS DOUBLE) AS s4,
         dn - coalesce(lag(dn, 96) OVER wl, 0) AS cnt
  FROM cumm
  WINDOW wl AS (PARTITION BY series_id ORDER BY rn)),
mom AS (
  SELECT series_id, rn, cnt,
         s1 / cnt AS mu,
         s2 / cnt - (s1 / cnt) * (s1 / cnt) AS m2,
         s3 / cnt - 3.0 * (s1 / cnt) * (s2 / cnt)
           + 2.0 * ((s1 / cnt) * (s1 / cnt) * (s1 / cnt)) AS m3,
         s4 / cnt - 4.0 * (s1 / cnt) * (s3 / cnt)
           + 6.0 * ((s1 / cnt) * (s1 / cnt)) * (s2 / cnt)
           - 3.0 * (((s1 / cnt) * (s1 / cnt))
                    * ((s1 / cnt) * (s1 / cnt))) AS m4
  FROM trail)
SELECT series_id, rn,
       round(CASE WHEN cnt >= 24 AND m2 > 1e-18
                  THEN m3 / sqrt(m2 * m2 * m2) END, {R}) AS roll_skew,
       round(CASE WHEN cnt >= 24 AND m2 > 1e-18
                  THEN m4 / (m2 * m2) - 3.0 END, {R}) AS roll_kurt
FROM mom
"""


def q_rolling_quantile_flags(spark, sf_dir):
    """Trailing rolling [2%,98%] ECDF band (previous 48 rows, current
    row excluded — one-step-ahead), hash-gated: the LOCAL version of
    quantile_flags that survives level shifts.  Served by the grouped
    sliding-quantile fast path (one vectorized sort per series; r06
    verdict item #3) whose output is bit-identical to the native
    sorted-in-frame-array plan — the parity test pins the equality and
    the unchanged DuckDB oracle hash-gates it."""
    from ...operators.robust import rolling_quantile_flags_grouped

    out = rolling_quantile_flags_grouped(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("band_lo", R).alias("band_lo"),
        _rnd("band_hi", R).alias("band_hi"),
        F.col("rq_flag").alias("flag"),
    )


o_rolling_quantile_flags = f"""
WITH {SQL_S},
win AS (
  SELECT series_id, rn, value,
         list_sort(list(value) OVER (
           PARTITION BY series_id ORDER BY rn
           ROWS BETWEEN 48 PRECEDING AND 1 PRECEDING)) AS l
  FROM s),
qs AS (
  SELECT series_id, rn, value, l, len(l) AS n,
         1.0 + 0.02 * CAST(len(l) - 1 AS DOUBLE) AS pos_lo,
         1.0 + 0.98 * CAST(len(l) - 1 AS DOUBLE) AS pos_hi
  FROM win),
bands AS (
  SELECT series_id, rn, value, n,
         CASE WHEN n >= 12 THEN
           l[CAST(floor(pos_lo) AS INT)]
           + (pos_lo - floor(pos_lo))
             * (l[least(CAST(floor(pos_lo) AS INT) + 1, n)]
                - l[CAST(floor(pos_lo) AS INT)])
         END AS band_lo,
         CASE WHEN n >= 12 THEN
           l[CAST(floor(pos_hi) AS INT)]
           + (pos_hi - floor(pos_hi))
             * (l[least(CAST(floor(pos_hi) AS INT) + 1, n)]
                - l[CAST(floor(pos_hi) AS INT)])
         END AS band_hi
  FROM qs)
SELECT series_id, rn,
       round(band_lo, {R}) AS band_lo,
       round(band_hi, {R}) AS band_hi,
       CAST(CASE WHEN band_lo IS NULL THEN NULL
                 WHEN value < band_lo OR value > band_hi THEN 1
                 ELSE 0 END AS INT) AS flag
FROM bands
"""
