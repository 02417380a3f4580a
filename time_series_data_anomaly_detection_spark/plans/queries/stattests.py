"""Statistical tests, drift and per-series diagnostics: trend tests,
train/test drift, variance ratio, rescaled range, runs, Ljung-Box,
Granger screens, moments, sampling gaps, QQ and histogram frames,
percentile summaries and drawdown."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..._exact import DEC as DEC_T, dsum as _dsum
from ._shared import R, SQL_S, _rnd, _series


# ---- qq_plot / histogram_fit: the S7 diagnostic frames.  AR(1)
#      residual CTEs are the ar1_forecast oracle's, verbatim; the
#      Filliben/PPF/pdf formulas come from operators.diagnostics as
#      SHARED TEXT, so Spark (F.expr) and DuckDB evaluate identical
#      expression trees. ----
_SQL_AR1_RSD = """
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
  SELECT l.series_id, l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id) WHERE l.prev IS NOT NULL)
"""


def q_global_moments(spark, sf_dir):
    # exact decimal sums for mean/std/kurtosis; d*d instead of pow()
    # (cross-engine pow(x, 2.0) is not guaranteed bitwise) — mirrors the
    # oracle algebra 1:1 (see _exact.py)
    s = _series(spark, sf_dir)
    v = F.col("value")
    mo = s.groupBy("series_id").agg(
        F.count("*").alias("__n"),
        F.sum(v.cast(DEC_T)).cast("double").alias("__s1"),
    )
    mu = (F.col("__s1") / F.col("__n")).alias("__mu")
    d = v - F.col("__mu")
    p2 = d * d
    p4 = (d * d) * (d * d)
    out = (
        s.join(F.broadcast(mo.select("series_id", mu)), "series_id")
        .groupBy("series_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(v.cast(DEC_T)).cast("double").alias("__t1"),
            F.sum((v * v).cast(DEC_T)).cast("double").alias("__t2"),
            _rnd(F.percentile("value", F.lit(0.5)), R).alias("median"),
            _rnd(F.min("value"), R).alias("vmin"),
            _rnd(F.max("value"), R).alias("vmax"),
            F.sum(p2.cast(DEC_T)).cast("double").alias("__m2s"),
            F.sum(p4.cast(DEC_T)).cast("double").alias("__m4s"),
        )
    )
    n = F.col("n")
    mean = F.col("__t1") / n
    std = F.sqrt(
        F.greatest(
            (F.col("__t2") - F.col("__t1") * F.col("__t1") / n) / (n - 1),
            F.lit(0.0),
        )
    )
    kurt = (F.col("__m4s") / n) / ((F.col("__m2s") / n) * (F.col("__m2s") / n)) - 3.0
    return out.select(
        "series_id", "n",
        _rnd(mean, R).alias("mean"),
        _rnd(std, R).alias("std"),
        "median", "vmin", "vmax",
        _rnd(kurt, R).alias("kurtosis"),
    )


o_global_moments = f"""
WITH {SQL_S},
gm0 AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
gmu AS (SELECT series_id, s1 / n AS mu FROM gm0),
ag AS (
  SELECT s.series_id, count(*) AS n,
         CAST(sum(CAST(s.value AS DECIMAL(38,12))) AS DOUBLE) AS t1,
         CAST(sum(CAST(s.value * s.value AS DECIMAL(38,12))) AS DOUBLE) AS t2,
         round(median(s.value), {R}) AS median,
         round(min(s.value), {R}) AS vmin,
         round(max(s.value), {R}) AS vmax,
         CAST(sum(CAST((s.value - gmu.mu) * (s.value - gmu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS m2s,
         CAST(sum(CAST(((s.value - gmu.mu) * (s.value - gmu.mu))
                       * ((s.value - gmu.mu) * (s.value - gmu.mu))
                       AS DECIMAL(38,12))) AS DOUBLE) AS m4s
  FROM s JOIN gmu USING (series_id)
  GROUP BY s.series_id)
SELECT series_id, n,
       round(t1 / n, {R}) AS mean,
       round(sqrt(greatest((t2 - t1 * t1 / n) / (n - 1), 0.0)), {R}) AS std,
       median, vmin, vmax,
       round((m4s / n) / ((m2s / n) * (m2s / n)) - 3.0, {R}) AS kurtosis
FROM ag
"""


def q_gap_stats(spark, sf_dir):
    """Time-grid gap report, hash-gated: modal sampling step, gap
    count, largest gap, estimated missing rows — the data-quality
    check ahead of the row-frame windowed detectors (P13's diagnosis
    side; ``resample_fill`` is the repair side)."""
    from ...operators.diagnostics import gap_stats_frame

    out = gap_stats_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n_rows", "step_s", "n_gaps", "max_gap_s",
        "missing_rows_est",
    )


# ---- gap_stats: modal-step grid report in integer epoch seconds. ----
o_gap_stats = f"""
WITH {SQL_S},
tt AS (
  SELECT series_id, rn,
         CAST(floor(epoch(timestamp)) AS BIGINT) AS ts_s
  FROM s),
dd AS (
  SELECT series_id,
         ts_s - lag(ts_s) OVER (PARTITION BY series_id ORDER BY rn) AS d
  FROM tt),
d2 AS (SELECT series_id, d FROM dd WHERE d IS NOT NULL),
fr AS (SELECT series_id, d, count(*) AS c FROM d2 GROUP BY 1, 2),
st AS (
  SELECT series_id, d AS step FROM (
    SELECT *, row_number() OVER (PARTITION BY series_id
                                 ORDER BY c DESC, d ASC) AS rk
    FROM fr) WHERE rk = 1),
j AS (SELECT d2.series_id, d2.d, st.step
      FROM d2 JOIN st USING (series_id))
SELECT series_id,
       count(*) + 1 AS n_rows,
       max(step) AS step_s,
       CAST(sum(CASE WHEN d > step THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       max(d) AS max_gap_s,
       CAST(coalesce(sum(CASE WHEN d > step
              THEN CAST(floor(d * 1.0 / step) AS BIGINT) - 1 END), 0)
            AS BIGINT) AS missing_rows_est
FROM j GROUP BY 1
"""


def q_split_drift(spark, sf_dir):
    """Train/test distribution drift, hash-gated: test half binned by
    the train half's exact deciles, scored by total-variation distance
    on integer cross-products — the transcendental-free retrain
    trigger (P3 composed with a drift score)."""
    from ...operators.diagnostics import split_drift_frame

    out = split_drift_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n_train", "n_test",
        _rnd("tvd", R).alias("tvd"),
        _rnd("max_bin_dev", R).alias("max_bin_dev"),
    )


# ---- split_drift: test half binned by train deciles, TVD on integer
#      cross-products (decimal-exact) — no transcendentals. ----
o_split_drift = f"""
WITH {SQL_S},
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
sp AS (
  SELECT s.series_id, s.rn, s.value,
         CASE WHEN s.rn <= floor(nn.n * 0.5) THEN 'Train'
              ELSE 'Test' END AS split
  FROM s JOIN nn USING (series_id)),
ed AS (
  SELECT series_id,
         quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS edges
  FROM sp WHERE split = 'Train' GROUP BY 1),
bn AS (
  SELECT sp.series_id, sp.split,
         len(list_filter(ed.edges, e -> sp.value > e)) AS bin
  FROM sp JOIN ed USING (series_id)),
cnt AS (
  SELECT series_id, bin,
         CAST(sum(CASE WHEN split = 'Train' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(sum(CASE WHEN split = 'Test' THEN 1 ELSE 0 END)
              AS BIGINT) AS cq
  FROM bn GROUP BY 1, 2),
tot AS (
  SELECT series_id,
         CAST(sum(CASE WHEN split = 'Train' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'Test' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_test
  FROM bn GROUP BY 1),
dv AS (
  SELECT c.series_id, t.n_train, t.n_test,
         abs(CAST(c.ct AS DECIMAL(38,0)) * t.n_test
             - CAST(c.cq AS DECIMAL(38,0)) * t.n_train) AS dev
  FROM cnt c JOIN tot t USING (series_id)),
ag AS (
  SELECT series_id, max(n_train) AS n_train, max(n_test) AS n_test,
         sum(dev) AS sdev, max(dev) AS mdev
  FROM dv GROUP BY 1)
SELECT series_id, n_train, n_test,
       round(0.5 * CAST(sdev AS DOUBLE)
             / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE)),
             {R}) AS tvd,
       round(CAST(mdev AS DOUBLE)
             / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE)),
             {R}) AS max_bin_dev
FROM ag
"""


def q_qq_plot(spark, sf_dir):
    """S7 frame 1: normal QQ pairs of the AR(1) residuals — the data
    behind ``stats.probplot`` in ``src/plotting.py:17-23``.  Filliben
    positions + Acklam PPF as shared-text SQL, so the query is fully
    hash-gated (the pixels are the only thing not reproduced)."""
    from ...functions.ar import ar1_forecast_native
    from ...operators.diagnostics import qq_frame

    rs = ar1_forecast_native(_series(spark, sf_dir)).filter(
        F.col("resid").isNotNull()
    )
    out = qq_frame(rs, col="resid")
    return out.select(
        "series_id", "qq_i",
        _rnd("theoretical_q", R).alias("theoretical_q"),
        _rnd("sample_q", R).alias("sample_q"),
    )


def _qq_oracle() -> str:
    from ...operators.diagnostics import filliben_sql, norm_ppf_sql

    return f"""
WITH {SQL_S}, {_SQL_AR1_RSD},
ranked AS (
  SELECT series_id, resid AS sample_q,
         row_number() OVER (PARTITION BY series_id ORDER BY resid)
           AS qq_i,
         count(*) OVER (PARTITION BY series_id) AS qq_n
  FROM rsd),
pos AS (
  SELECT series_id, qq_i, sample_q,
         {filliben_sql("qq_i", "qq_n")} AS qq_m
  FROM ranked)
SELECT series_id, CAST(qq_i AS BIGINT) AS qq_i,
       round({norm_ppf_sql("qq_m")}, {R}) AS theoretical_q,
       round(sample_q, {R}) AS sample_q
FROM pos
"""


o_qq_plot = _qq_oracle()


def q_histogram_fit(spark, sf_dir):
    """S7 frame 2: 50-bin density histogram of the AR(1) residuals with
    the ``norm.fit`` overlay at bin centers and the Fisher kurtosis —
    the data behind ``src/plotting.py:25-40``."""
    from ...functions.ar import ar1_forecast_native
    from ...operators.diagnostics import histogram_fit_frame

    rs = ar1_forecast_native(_series(spark, sf_dir)).filter(
        F.col("resid").isNotNull()
    )
    out = histogram_fit_frame(rs, col="resid", bins=50)
    return out.select(
        "series_id", "bin",
        _rnd("bin_center", R).alias("bin_center"),
        "n_bin",
        _rnd("density", R).alias("density"),
        _rnd("mu", R).alias("mu"),
        _rnd("sigma", R).alias("sigma"),
        _rnd("kurtosis", R).alias("kurtosis"),
        _rnd("normal_pdf", R).alias("normal_pdf"),
    )


def _histogram_oracle() -> str:
    from ...operators.diagnostics import hist_center_sql, normal_pdf_sql

    return f"""
WITH {SQL_S}, {_SQL_AR1_RSD},
h0 AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(resid AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         min(resid) AS rmin, max(resid) AS rmax
  FROM rsd GROUP BY 1),
h1 AS (
  -- np.histogram widens a degenerate (all-equal) range to [x-0.5, x+0.5]
  SELECT series_id, n, mu, rmin, rmax,
         (rmax - rmin) / 50e0 AS width
  FROM (
    SELECT series_id, n, s1 / n AS mu,
           CASE WHEN rmax = rmin THEN rmin - 0.5e0 ELSE rmin END AS rmin,
           CASE WHEN rmax = rmin THEN rmax + 0.5e0 ELSE rmax END AS rmax
    FROM h0)),
hm AS (
  SELECT r.series_id,
         CAST(sum(CAST((r.resid - h.mu) * (r.resid - h.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS m2s,
         CAST(sum(CAST(((r.resid - h.mu) * (r.resid - h.mu))
                       * ((r.resid - h.mu) * (r.resid - h.mu))
                       AS DECIMAL(38,12))) AS DOUBLE) AS m4s
  FROM rsd r JOIN h1 h USING (series_id) GROUP BY 1),
cnts AS (
  SELECT r.series_id,
         CAST(least(floor((r.resid - h.rmin) / h.width), 49) AS BIGINT)
           AS bin,
         count(*) AS cnt
  FROM rsd r JOIN h1 h USING (series_id) GROUP BY 1, 2),
grid AS (
  SELECT series_id, CAST(unnest(generate_series(0, 49)) AS BIGINT)
           AS bin
  FROM h1),
pre AS (
  SELECT g.series_id, g.bin,
         {hist_center_sql("h.rmin", "g.bin", "h.width")} AS bin_center,
         coalesce(c.cnt, 0) AS cnt, h.n, h.width, h.mu,
         sqrt(m.m2s / h.n) AS sigma,
         (m.m4s / h.n) / ((m.m2s / h.n) * (m.m2s / h.n)) - 3e0
           AS kurtosis
  FROM grid g JOIN h1 h USING (series_id) JOIN hm m USING (series_id)
  LEFT JOIN cnts c ON c.series_id = g.series_id AND c.bin = g.bin)
SELECT series_id, bin,
       round(bin_center, {R}) AS bin_center,
       CAST(cnt AS BIGINT) AS n_bin,
       round(CAST(cnt AS DOUBLE) / (CAST(n AS DOUBLE) * width), {R})
         AS density,
       round(mu, {R}) AS mu,
       round(sigma, {R}) AS sigma,
       round(kurtosis, {R}) AS kurtosis,
       round({normal_pdf_sql("bin_center", "mu", "sigma")}, {R})
         AS normal_pdf
FROM pre
"""


o_histogram_fit = _histogram_oracle()


def q_trend_test(spark, sf_dir):
    """Mann-Kendall trend test + Theil-Sen slope per series — the
    nonparametric trend decision behind the reference's decomposition
    panels (formal version of 'is there a trend in the STL trend').
    Exact pairwise statistics; the oracle materializes the pair set."""
    from ...operators.trend import mann_kendall_frame

    out = mann_kendall_frame(_series(spark, sf_dir))
    return out.select(
        "series_id", "n", "s_stat",
        _rnd("tau", R).alias("tau"),
        _rnd("var_s", R).alias("var_s"),
        _rnd("z", R).alias("z"),
        _rnd("sen_slope", R).alias("sen_slope"),
        "trend",
    )


# ---- trend_test: exact Mann-Kendall + Theil-Sen via the materialized
#      pair set (gate SF only; the engine side accumulates lag-wise) ----
o_trend_test = f"""
WITH {SQL_S},
pr AS (
  SELECT a.series_id,
         b.value - a.value AS dv,
         CAST(b.rn - a.rn AS DOUBLE) AS dr
  FROM s a JOIN s b
    ON a.series_id = b.series_id AND b.rn > a.rn),
mk AS (
  SELECT series_id, count(*) AS m,
         CAST(sum(CASE WHEN dv > 0 THEN 1
                       WHEN dv < 0 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM pr GROUP BY 1),
nn AS (SELECT series_id, count(*) AS n FROM s GROUP BY 1),
tg AS (SELECT series_id, value, count(*) AS t
       FROM s GROUP BY 1, 2 HAVING count(*) > 1),
tc AS (SELECT series_id,
              CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT) AS tie_term
       FROM nn LEFT JOIN tg USING (series_id) GROUP BY 1),
vs AS (
  SELECT nn.series_id, nn.n, mk.m, mk.s_stat, tc.tie_term,
         CAST(nn.n*(nn.n-1)*(2*nn.n+5) - tc.tie_term AS DOUBLE) / 1.8e1 AS var_s
  FROM nn JOIN mk USING (series_id) JOIN tc USING (series_id)),
sl AS (
  SELECT series_id, dv / dr AS slope FROM pr),
rk AS (
  SELECT series_id, slope,
         row_number() OVER (PARTITION BY series_id ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY series_id) AS m
  FROM sl),
med AS (
  SELECT series_id, sum(slope) / count(*) AS sen_slope
  FROM rk WHERE r = (m+1)//2 OR r = (m+2)//2 GROUP BY 1)
SELECT vs.series_id, vs.n, vs.s_stat,
       round(CAST(vs.s_stat AS DOUBLE) / (5e-1 * vs.n * (vs.n-1)), {R}) AS tau,
       round(vs.var_s, {R}) AS var_s,
       round(CASE WHEN vs.s_stat > 0 AND vs.var_s > 0
                  THEN (vs.s_stat - 1) / sqrt(vs.var_s)
                  WHEN vs.s_stat < 0 AND vs.var_s > 0
                  THEN (vs.s_stat + 1) / sqrt(vs.var_s)
                  ELSE 0e0 END, {R}) AS z,
       round(med.sen_slope, {R}) AS sen_slope,
       CASE WHEN vs.var_s > 0 AND vs.s_stat > 0
                 AND (vs.s_stat - 1) / sqrt(vs.var_s) > 1.96e0
            THEN 'increasing'
            WHEN vs.var_s > 0 AND vs.s_stat < 0
                 AND (vs.s_stat + 1) / sqrt(vs.var_s) < -1.96e0
            THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM vs JOIN med USING (series_id)
"""


def q_percentile_summary(spark, sf_dir):
    """Per-series exact quantile grid (p25/50/75/90/99) + Tukey-fence
    outlier counts — the box-plot-with-whiskers numbers as a frame.
    Exact percentiles (the hash gate's regime); the documented 100 TB
    path is approx_percentile, same knob as mad_scores."""
    s = _series(spark, sf_dir)
    qs = s.groupBy("series_id").agg(
        F.count("value").alias("n"),
        F.percentile(
            F.col("value"), F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.9, 0.99)])
        ).alias("__q"),
    )
    qs = qs.select(
        "series_id", "n",
        F.col("__q")[0].alias("q25"), F.col("__q")[1].alias("q50"),
        F.col("__q")[2].alias("q75"), F.col("__q")[3].alias("q90"),
        F.col("__q")[4].alias("q99"),
    ).withColumn("iqr", F.col("q75") - F.col("q25"))
    joined = s.join(F.broadcast(qs), "series_id")
    lo = F.col("q25") - F.lit(1.5) * F.col("iqr")
    hi = F.col("q75") + F.lit(1.5) * F.col("iqr")
    out = joined.groupBy("series_id").agg(
        F.sum(
            F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
        ).cast("long").alias("n_outliers")
    )
    return qs.join(out, "series_id").select(
        "series_id", "n",
        _rnd("q25", R).alias("q25"), _rnd("q50", R).alias("q50"),
        _rnd("q75", R).alias("q75"), _rnd("q90", R).alias("q90"),
        _rnd("q99", R).alias("q99"), _rnd("iqr", R).alias("iqr"),
        "n_outliers",
    )


o_percentile_summary = f"""
WITH {SQL_S},
qs AS (
  SELECT series_id, count(value) AS n,
         quantile_cont(value, [0.25, 0.5, 0.75, 0.9, 0.99]) AS q
  FROM s GROUP BY 1),
ex AS (
  SELECT series_id, n, q[1] AS q25, q[2] AS q50, q[3] AS q75,
         q[4] AS q90, q[5] AS q99, q[3] - q[1] AS iqr
  FROM qs),
oc AS (
  SELECT s.series_id,
         CAST(sum(CASE WHEN s.value < ex.q25 - 1.5e0 * ex.iqr
                        OR s.value > ex.q75 + 1.5e0 * ex.iqr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM s JOIN ex USING (series_id) GROUP BY 1)
SELECT ex.series_id, ex.n,
       round(ex.q25, {R}) AS q25, round(ex.q50, {R}) AS q50,
       round(ex.q75, {R}) AS q75, round(ex.q90, {R}) AS q90,
       round(ex.q99, {R}) AS q99, round(ex.iqr, {R}) AS iqr,
       oc.n_outliers
FROM ex JOIN oc USING (series_id)
"""


def q_granger_screen(spark, sf_dir):
    """Granger-style lag screen over ordered series pairs (Granger
    1969): does x's PAST improve a one-lag autoregression of y?  For
    every ordered pair (x → y), closed-form OLS of ``y_t ~ [1,
    y_{t-1}, x_{t-1}]`` vs the restricted ``y_t ~ [1, y_{t-1}]`` —
    both solved by Cramer's rule on the normal equations built from
    TEN exact-decimal sums per pair (the ar2_forecast recipe, one
    aggregation over the pair frame), SSEs via the normal-equation
    identity, and the 1-numerator-df F statistic
    ``(SSE_r − SSE_f)(n−3)/SSE_f``.  The partial-out-autoregression
    complement of cross_correlation's marginal correlations; the
    |series|² pair frame is bounded by the same API guard.  Fully
    hash-gated (every expression is fixed-order double algebra on
    bit-identical decimal sums)."""
    from ...operators.acf import _guard_pair_explosion

    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    # directional=True: this operator emits ORDERED pairs (both x→y
    # and y→x), so the guard budgets n·(n−1) against max_pairs=64
    # instead of admitting twice the pair frame the budget implies
    s = _guard_pair_explosion(
        s, None, 64, False, "granger_screen", directional=True
    )
    w = Window.partitionBy("series_id").orderBy("rn")
    lagd = s.withColumn("vprev", F.lag("value").over(w))
    e = lagd.select(
        F.col("series_id").alias("series_y"),
        "rn",
        F.col("value").alias("y"),
        F.col("vprev").alias("a"),
    )
    c = lagd.select(
        F.col("series_id").alias("series_x"),
        F.col("rn").alias("rn_x"),
        F.col("vprev").alias("b"),
    )
    # self-pairs and lag-undefined rows rejected IN the join condition,
    # not a post-join filter, so the matcher never emits the (x,x)
    # diagonal fan at all
    j = e.join(
        c,
        (F.col("rn") == F.col("rn_x"))
        & (F.col("series_x") != F.col("series_y")),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())

    y, a, b = F.col("y"), F.col("a"), F.col("b")
    g = j.groupBy("series_x", "series_y").agg(
        F.count("*").alias("n"),
        _dsum(a).alias("sa"),
        _dsum(b).alias("sb"),
        _dsum(y).alias("sy"),
        _dsum(a * a).alias("saa"),
        _dsum(b * b).alias("sbb"),
        _dsum(y * y).alias("syy"),
        _dsum(a * b).alias("sab"),
        _dsum(a * y).alias("say"),
        _dsum(b * y).alias("sby"),
    )
    n = F.col("n").cast("double")
    sa, sb, sy = F.col("sa"), F.col("sb"), F.col("sy")
    saa, sbb, syy = F.col("saa"), F.col("sbb"), F.col("syy")
    sab, say, sby = F.col("sab"), F.col("say"), F.col("sby")
    # restricted: y ~ [1, a]
    det2 = n * saa - sa * sa
    a1 = (n * say - sa * sy) / det2
    a0 = (sy - a1 * sa) / n
    sse_r = (syy - a0 * sy) - a1 * say
    # full: y ~ [1, a, b] — Cramer on the symmetric normal matrix
    det = (
        (n * (saa * sbb - sab * sab))
        - (sa * (sa * sbb - sab * sb))
    ) + (sb * (sa * sab - saa * sb))
    d0 = (
        (sy * (saa * sbb - sab * sab))
        - (sa * (say * sbb - sab * sby))
    ) + (sb * (say * sab - saa * sby))
    d1 = (
        (n * (say * sbb - sab * sby))
        - (sy * (sa * sbb - sab * sb))
    ) + (sb * (sa * sby - say * sb))
    d2 = (
        (n * (saa * sby - say * sab))
        - (sa * (sa * sby - say * sb))
    ) + (sy * (sa * sab - saa * sb))
    b0, b1, b2 = d0 / det, d1 / det, d2 / det
    sse_f = ((syy - b0 * sy) - b1 * say) - b2 * sby
    f_stat = ((sse_r - sse_f) * (n - F.lit(3.0))) / sse_f
    r2_gain = (sse_r - sse_f) / sse_r
    return g.select(
        "series_x", "series_y", "n",
        _rnd(sse_r, R).alias("sse_r"),
        _rnd(sse_f, R).alias("sse_f"),
        _rnd(f_stat, R).alias("f_stat"),
        _rnd(r2_gain, R).alias("r2_gain"),
    )


o_granger_screen = f"""
WITH {SQL_S},
lg AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS vprev
  FROM s),
j AS (
  SELECT c.series_id AS series_x, e.series_id AS series_y,
         e.value AS y, e.vprev AS a, c.vprev AS b
  FROM lg e JOIN lg c ON e.rn = c.rn AND c.series_id <> e.series_id
  WHERE e.vprev IS NOT NULL AND c.vprev IS NOT NULL),
g AS (
  SELECT series_x, series_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE) AS sa,
         CAST(sum(CAST(b AS DECIMAL(38,12))) AS DOUBLE) AS sb,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(a * a AS DECIMAL(38,12))) AS DOUBLE) AS saa,
         CAST(sum(CAST(b * b AS DECIMAL(38,12))) AS DOUBLE) AS sbb,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(a * b AS DECIMAL(38,12))) AS DOUBLE) AS sab,
         CAST(sum(CAST(a * y AS DECIMAL(38,12))) AS DOUBLE) AS say,
         CAST(sum(CAST(b * y AS DECIMAL(38,12))) AS DOUBLE) AS sby
  FROM j GROUP BY 1, 2),
ft AS (
  SELECT series_x, series_y, n,
         (syy - ((sy - ((CAST(n AS DOUBLE) * say - sa * sy)
                        / (CAST(n AS DOUBLE) * saa - sa * sa)) * sa)
                 / CAST(n AS DOUBLE)) * sy)
         - ((CAST(n AS DOUBLE) * say - sa * sy)
            / (CAST(n AS DOUBLE) * saa - sa * sa)) * say AS sse_r,
         ((CAST(n AS DOUBLE) * (saa * sbb - sab * sab))
          - (sa * (sa * sbb - sab * sb)))
         + (sb * (sa * sab - saa * sb)) AS det,
         ((sy * (saa * sbb - sab * sab))
          - (sa * (say * sbb - sab * sby)))
         + (sb * (say * sab - saa * sby)) AS d0,
         ((CAST(n AS DOUBLE) * (say * sbb - sab * sby))
          - (sy * (sa * sbb - sab * sb)))
         + (sb * (sa * sby - say * sb)) AS d1,
         ((CAST(n AS DOUBLE) * (saa * sby - say * sab))
          - (sa * (sa * sby - say * sb)))
         + (sy * (sa * sab - saa * sb)) AS d2,
         sy, say, sby, syy
  FROM g),
fin AS (
  SELECT series_x, series_y, n, sse_r,
         ((syy - (d0 / det) * sy) - (d1 / det) * say)
         - (d2 / det) * sby AS sse_f
  FROM ft)
SELECT series_x, series_y, n,
       round(sse_r, {R}) AS sse_r,
       round(sse_f, {R}) AS sse_f,
       round(((sse_r - sse_f) * (CAST(n AS DOUBLE) - 3.0)) / sse_f,
             {R}) AS f_stat,
       round((sse_r - sse_f) / sse_r, {R}) AS r2_gain
FROM fin
"""


def q_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall + seasonal Sen slope (Hirsch & Slack
    1984): the trend test that stays powerful on SEASONAL series —
    same-season-only comparisons (period 48), per-season S and
    tie-corrected variances summed, Sen median over same-season
    pairwise Δv/Δrn slopes.  Same exactness recipe as trend_test
    (integer S via Fenwick inversions, ONE /18 on the integer
    variance numerator, rank-median over bit-identical doubles) —
    hash-gated against a same-position materialized-pair oracle."""
    from ...operators.trend import seasonal_mann_kendall_frame

    out = seasonal_mann_kendall_frame(_series(spark, sf_dir), period=48)
    return out.select(
        "series_id", "n", "period", "s_stat",
        _rnd("tau", R).alias("tau"),
        _rnd("var_s", R).alias("var_s"),
        _rnd("z", R).alias("z"),
        _rnd("sen_slope", R).alias("sen_slope"),
        "trend",
    )


o_seasonal_mann_kendall = f"""
WITH {SQL_S},
sp AS (
  SELECT series_id, rn, value, CAST((rn - 1) % 48 AS BIGINT) AS pos
  FROM s),
pr AS (
  SELECT a.series_id,
         b.value - a.value AS dv,
         CAST(b.rn - a.rn AS DOUBLE) AS dr
  FROM sp a JOIN sp b
    ON a.series_id = b.series_id AND a.pos = b.pos AND b.rn > a.rn),
mk AS (
  SELECT series_id,
         CAST(sum(CASE WHEN dv > 0 THEN 1
                       WHEN dv < 0 THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat,
         CAST(count(*) AS BIGINT) AS d
  FROM pr GROUP BY 1),
ngp AS (SELECT series_id, pos, count(*) AS n_g FROM sp GROUP BY 1, 2),
vb AS (
  SELECT series_id,
         CAST(sum(n_g * (n_g - 1) * (2 * n_g + 5)) AS BIGINT) AS base
  FROM ngp GROUP BY 1),
tt AS (
  SELECT series_id,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT series_id, pos, value, count(*) AS t
        FROM sp GROUP BY 1, 2, 3 HAVING count(*) > 1)
  GROUP BY 1),
nn2 AS (SELECT series_id, CAST(count(*) AS BIGINT) AS n
        FROM s GROUP BY 1),
sl AS (SELECT series_id, dv / dr AS slope FROM pr),
rk AS (
  SELECT series_id, slope,
         row_number() OVER (PARTITION BY series_id ORDER BY slope) AS r,
         count(*) OVER (PARTITION BY series_id) AS m
  FROM sl),
med AS (
  SELECT series_id, sum(slope) / count(*) AS sen_slope
  FROM rk WHERE r = (m+1)//2 OR r = (m+2)//2 GROUP BY 1)
SELECT mk.series_id, nn2.n, CAST(48 AS INT) AS period, mk.s_stat,
       round(mk.s_stat / (5e-1 * mk.d), {R}) AS tau,
       round((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1, {R}) AS var_s,
       round(CASE WHEN mk.s_stat > 0
                   AND (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                  THEN (mk.s_stat - 1)
                       / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                  WHEN mk.s_stat < 0
                   AND (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                  THEN (mk.s_stat + 1)
                       / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                  ELSE 0e0 END, {R}) AS z,
       round(med.sen_slope, {R}) AS sen_slope,
       CASE WHEN (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                 AND mk.s_stat > 0
                 AND (mk.s_stat - 1)
                     / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                     > 1.96e0
            THEN 'increasing'
            WHEN (vb.base - coalesce(tt.tie_term, 0)) / 1.8e1 > 0
                 AND mk.s_stat < 0
                 AND (mk.s_stat + 1)
                     / sqrt((vb.base - coalesce(tt.tie_term, 0)) / 1.8e1)
                     < -1.96e0
            THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM mk
JOIN nn2 USING (series_id)
JOIN vb USING (series_id)
LEFT JOIN tt USING (series_id)
JOIN med USING (series_id)
"""


def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test (1988) at q ∈ {2,4,8},
    hash-gated: VR(q) = Var(q-diff)/(q·Var(1-diff)) from exact-decimal
    moment sums + the asymptotic z — the FORMAL random-walk test
    behind the ACF plots the reference eyeballs.  One window pass,
    one aggregate, q rows per series."""
    from ...operators.stattests import variance_ratio

    out = variance_ratio(_series(spark, sf_dir))
    return out.select(
        "series_id", "q", "n",
        _rnd("var1", R).alias("var1"),
        _rnd("varq", R).alias("varq"),
        _rnd("vr", R).alias("vr"),
        _rnd("z", R).alias("z"),
    )


o_variance_ratio = f"""
WITH {SQL_S},
lagd AS (
  SELECT series_id, rn,
         value - lag(value, 1) OVER w AS d1,
         value - lag(value, 2) OVER w AS d2,
         value - lag(value, 4) OVER w AS d4,
         value - lag(value, 8) OVER w AS d8
  FROM s WINDOW w AS (PARTITION BY series_id ORDER BY rn)),
agg AS (
  SELECT series_id,
         count(d1) AS n,
         (CAST(sum(CAST(d1 AS DECIMAL(38,12))) AS DOUBLE)) AS a1,
         (CAST(sum(CAST(d1 * d1 AS DECIMAL(38,12))) AS DOUBLE)) AS b1,
         count(d2) AS n2,
         (CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE)) AS a2,
         (CAST(sum(CAST(d2 * d2 AS DECIMAL(38,12))) AS DOUBLE)) AS b2,
         count(d4) AS n4,
         (CAST(sum(CAST(d4 AS DECIMAL(38,12))) AS DOUBLE)) AS a4,
         (CAST(sum(CAST(d4 * d4 AS DECIMAL(38,12))) AS DOUBLE)) AS b4,
         count(d8) AS n8,
         (CAST(sum(CAST(d8 AS DECIMAL(38,12))) AS DOUBLE)) AS a8,
         (CAST(sum(CAST(d8 * d8 AS DECIMAL(38,12))) AS DOUBLE)) AS b8
  FROM lagd GROUP BY 1),
vv AS (
  SELECT series_id, n,
         (b1 - a1 * a1 / n) / (n - 1) AS var1,
         (b2 - a2 * a2 / n2) / (n2 - 1) AS varq_2,
         (b4 - a4 * a4 / n4) / (n4 - 1) AS varq_4,
         (b8 - a8 * a8 / n8) / (n8 - 1) AS varq_8
  FROM agg),
vals AS (
  SELECT series_id, n, var1, 2 AS q, varq_2 AS varq FROM vv
  UNION ALL
  SELECT series_id, n, var1, 4 AS q, varq_4 AS varq FROM vv
  UNION ALL
  SELECT series_id, n, var1, 8 AS q, varq_8 AS varq FROM vv)
SELECT series_id, q, n,
       round(var1, {R}) AS var1,
       round(varq, {R}) AS varq,
       round(varq / (q * var1), {R}) AS vr,
       round((varq / (q * var1) - 1.0)
             / sqrt((2.0 * (2.0 * q - 1.0) * (q - 1.0))
                    / (3.0 * q * n)), {R}) AS z
FROM vals
"""


def q_rs_hurst(spark, sf_dir):
    """Rescaled-range (R/S) analysis (Hurst 1951) at block scales
    {64, 256}, hash-gated: per-block range of mean-adjusted cumulative
    deviations over the population std, block-averaged per scale —
    the long-memory diagnostic beside variance_ratio.  The Hurst
    slope itself (a cross-engine-unstable log ratio) stays
    driver-side."""
    from ...operators.stattests import rs_analysis

    out = rs_analysis(_series(spark, sf_dir))
    return out.select(
        "series_id", "scale", "n_blocks",
        _rnd("rs_mean", R).alias("rs_mean"),
    )


def _rs_scale_ctes(s: int) -> str:
    return f"""
blk{s} AS (
  SELECT series_id, rn, value,
         CAST(floor((rn - 1) / {s}) AS BIGINT) AS b
  FROM s),
cum{s} AS (
  SELECT series_id, b, rn,
         CAST(sum(CAST(value AS DECIMAL(38,12))) OVER (
           PARTITION BY series_id, b ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS c,
         rn - b * {s} AS pos
  FROM blk{s}),
bs{s} AS (
  SELECT series_id, b, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE)
           AS s2
  FROM blk{s} GROUP BY 1, 2),
bm{s} AS (
  SELECT series_id, b, s1 / n AS m,
         sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) AS sd
  FROM bs{s} WHERE n = {s}),
zz{s} AS (
  SELECT c.series_id, c.b, m.sd, c.c - c.pos * m.m AS z
  FROM cum{s} c JOIN bm{s} m ON m.series_id = c.series_id
                            AND m.b = c.b),
rr{s} AS (
  SELECT series_id, b, max(z) - min(z) AS r, any_value(sd) AS sd
  FROM zz{s} GROUP BY 1, 2),
ag{s} AS (
  SELECT series_id, CAST({s} AS INT) AS scale,
         count(*) AS n_blocks,
         CAST(sum(CAST(r / (sd + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) / count(*) AS rs_mean
  FROM rr{s} GROUP BY 1)"""


o_rs_hurst = f"""
WITH {SQL_S},{_rs_scale_ctes(64)},{_rs_scale_ctes(256)}
SELECT series_id, scale, n_blocks, round(rs_mean, {R}) AS rs_mean
FROM ag64
UNION ALL
SELECT series_id, scale, n_blocks, round(rs_mean, {R}) AS rs_mean
FROM ag256
"""


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov train/test drift test (the formal
    statistic behind the split_drift decile TVD), hash-gated: integer
    cumulative ECDF counts over one value-ordered window; α=0.05
    rejection flag."""
    from ...operators.stattests import ks_drift

    out = ks_drift(_series(spark, sf_dir), train_frac=0.7)
    return out.select(
        "series_id", "n_train", "n_test",
        _rnd("ks", R).alias("ks"),
        _rnd("ks_at", R).alias("ks_at"),
        "flag",
    )


o_ks_drift = f"""
WITH {SQL_S},
n AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
tagged AS (
  SELECT s.series_id, s.value AS val,
         CAST(CASE WHEN s.rn <= floor(n.n * 0.7) THEN 1 ELSE 0 END
              AS BIGINT) AS tr
  FROM s JOIN n USING (series_id)),
pv AS (
  SELECT series_id, val,
         CAST(sum(tr) AS BIGINT) AS c_tr,
         CAST(sum(1 - tr) AS BIGINT) AS c_te
  FROM tagged GROUP BY 1, 2),
tot AS (
  SELECT series_id, CAST(sum(c_tr) AS BIGINT) AS n_train,
         CAST(sum(c_te) AS BIGINT) AS n_test
  FROM pv GROUP BY 1),
ecdf AS (
  SELECT p.series_id, p.val, t.n_train, t.n_test,
         sum(p.c_tr) OVER w AS f_tr,
         sum(p.c_te) OVER w AS f_te
  FROM pv p JOIN tot t USING (series_id)
  WINDOW w AS (PARTITION BY p.series_id ORDER BY p.val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
dd AS (
  SELECT series_id, val, n_train, n_test,
         abs(f_tr / n_train - f_te / n_test) AS d,
         row_number() OVER (
           PARTITION BY series_id
           ORDER BY abs(f_tr / n_train - f_te / n_test) DESC, val)
           AS r
  FROM ecdf)
SELECT series_id, n_train, n_test,
       round(d, {R}) AS ks, round(val, {R}) AS ks_at,
       CAST(CASE WHEN d > 1.358 * sqrt((n_train + n_test)
                 / CAST(n_train * n_test AS DOUBLE))
            THEN 1 ELSE 0 END AS INT) AS flag
FROM dd WHERE r = 1
"""


def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau whiteness test (h=10, χ² crit 18.307) —
    the statsmodels acorr_ljungbox diagnostic the reference's forecast
    fits imply, built on the hash-gated statsmodels-convention ACF;
    decimal-accumulated 10-term sum.  Hash-gated."""
    from ...operators.stattests import ljung_box

    out = ljung_box(_series(spark, sf_dir))
    return out.select(
        "series_id", "n",
        _rnd("q_stat", R).alias("q_stat"),
        "flag",
    )


o_ljung_box = f"""
WITH {SQL_S},
smo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
smu AS (SELECT series_id, s1 / n AS mu FROM smo),
sden AS (
  SELECT s.series_id,
         CAST(sum(CAST((s.value - smu.mu) * (s.value - smu.mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS den
  FROM s JOIN smu USING (series_id) GROUP BY 1),
slags AS (SELECT unnest(generate_series(1, 10)) AS lag),
sshift AS (
  SELECT s.series_id, l.lag, s.value, smu.mu,
         lag(s.value, l.lag) OVER (PARTITION BY s.series_id, l.lag
                                   ORDER BY s.rn) AS prev
  FROM s CROSS JOIN slags l JOIN smu USING (series_id)),
snum AS (
  SELECT series_id, lag,
         CAST(sum(CAST((value - mu) * (prev - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS num
  FROM sshift WHERE prev IS NOT NULL GROUP BY 1, 2),
rho AS (
  SELECT n.series_id, n.lag, n.num / d.den AS acf
  FROM snum n JOIN sden d USING (series_id)),
qq AS (
  SELECT r.series_id, m.n,
         CAST(sum(CAST((r.acf * r.acf) / (m.n - r.lag)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssum
  FROM rho r JOIN smo m USING (series_id)
  GROUP BY 1, 2)
SELECT series_id, n,
       round(n * (n + 2.0) * ssum, {R}) AS q_stat,
       CAST(CASE WHEN n * (n + 2.0) * ssum > 18.307
            THEN 1 ELSE 0 END AS INT) AS flag
FROM qq
"""


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test about the exact median — the
    nonparametric randomness companion to Ljung-Box; pure integer
    run counting + one rational z.  Hash-gated."""
    from ...operators.stattests import runs_test

    out = runs_test(_series(spark, sf_dir))
    return out.select(
        "series_id", "n1", "n2", "n_runs",
        _rnd("z", R).alias("z"),
        "flag",
    )


o_runs_test = f"""
WITH {SQL_S},
rmed AS (
  SELECT series_id, quantile_cont(value, 0.5) AS med
  FROM s GROUP BY 1),
sgn AS (
  SELECT s.series_id, s.rn,
         CAST(CASE WHEN s.value > m.med THEN 1 ELSE 0 END AS INT)
           AS sg
  FROM s JOIN rmed m USING (series_id)
  WHERE s.value <> m.med),
chg AS (
  SELECT series_id, sg,
         CASE WHEN lag(sg) OVER (PARTITION BY series_id ORDER BY rn)
                   IS NULL
               OR sg <> lag(sg) OVER (PARTITION BY series_id
                                      ORDER BY rn)
              THEN 1 ELSE 0 END AS c
  FROM sgn),
agg AS (
  SELECT series_id,
         CAST(sum(sg) AS BIGINT) AS n1,
         CAST(sum(1 - sg) AS BIGINT) AS n2,
         CAST(sum(c) AS BIGINT) AS n_runs
  FROM chg GROUP BY 1)
SELECT series_id, n1, n2, n_runs,
       round((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
                    / CAST((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1)
                           AS DOUBLE)
                    + 1e-30), {R}) AS z,
       CAST(CASE WHEN abs((n_runs - (2.0 * n1 * n2 / (n1 + n2)
                                     + 1.0))
                 / sqrt((2.0 * n1 * n2)
                        * (2.0 * n1 * n2 - n1 - n2)
                        / CAST((n1 + n2) * (n1 + n2)
                               * ((n1 + n2) - 1) AS DOUBLE)
                        + 1e-30)) > 1.96
            THEN 1 ELSE 0 END AS INT) AS flag
FROM agg
"""


def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown per series (peak-to-trough depth, location,
    and the preceding peak) — the cumulative-damage diagnostic beside
    Page-Hinkley's drift statistic (same prefix form: running max +
    argmax, zero recursion).  Hash-gated."""
    s = _series(spark, sf_dir)
    w = (
        Window.partitionBy("series_id")
        .orderBy("timestamp", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = s.withColumn("__peak", F.max("value").over(w)).withColumn(
        "__dd", F.col("__peak") - F.col("value")
    )
    wr = Window.partitionBy("series_id").orderBy(
        F.desc("__dd"), F.asc("rn")
    )
    top = d.withColumn("__r", F.row_number().over(wr)).filter(
        F.col("__r") == 1
    )
    return top.select(
        "series_id",
        F.col("rn").alias("dd_rn"),
        _rnd("__peak", R).alias("peak"),
        _rnd("value", R).alias("trough"),
        _rnd("__dd", R).alias("max_drawdown"),
    )


o_max_drawdown = f"""
WITH {SQL_S},
dd AS (
  SELECT series_id, rn, value,
         max(value) OVER (PARTITION BY series_id ORDER BY rn
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM s),
rk AS (
  SELECT series_id, rn, value, peak, peak - value AS d,
         row_number() OVER (PARTITION BY series_id
                            ORDER BY peak - value DESC, rn) AS r
  FROM dd)
SELECT series_id, rn AS dd_rn,
       round(peak, {R}) AS peak,
       round(value, {R}) AS trough,
       round(d, {R}) AS max_drawdown
FROM rk WHERE r = 1
"""
