"""Closed-form forecasters and their scoring: AR, theta, Holt, Croston,
harmonic regression, baselines, the forecast leaderboard, MASE,
combinations and conformal intervals."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..._exact import DEC as DEC_T, dsum as _dsum
from ._shared import R, SQL_ROLL, SQL_S, _rnd, _series


def _baseline_long(s):
    """(model, series_id, rn, value, pred_mean) for the three baseline
    forecasters on the Test split — shared by q_baseline_forecasts and
    the forecast leaderboard."""
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(F.max("rn").alias("__n"))
    nn = nn.withColumn("__T", F.floor(F.col("__n") * 0.75).cast("long"))
    anchors = (
        s.join(F.broadcast(nn), "series_id")
        .where((F.col("rn") == 1) | (F.col("rn") == F.col("__T")))
        .groupBy("series_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("__y1"),
            F.max(F.when(F.col("rn") == F.col("__T"), F.col("value"))).alias("__yT"),
        )
    )
    base = (
        s.withColumn("__p_naive", F.lag("value", 1).over(w))
        .withColumn("__p_snaive", F.lag("value", 24).over(w))
        .join(F.broadcast(nn), "series_id")
        .join(F.broadcast(anchors), "series_id")
        .where(F.col("rn") > F.col("__T"))
    )
    drift = F.col("__yT") + (F.col("rn") - F.col("__T")) * (
        (F.col("__yT") - F.col("__y1")) / (F.col("__T") - F.lit(1)).cast("double")
    )
    frames = [
        base.select(
            F.lit("naive").alias("model"), "series_id", "rn", "value",
            F.col("__p_naive").alias("pred_mean"),
        ),
        base.select(
            F.lit("seasonal_naive").alias("model"), "series_id", "rn", "value",
            F.col("__p_snaive").alias("pred_mean"),
        ),
        base.select(
            F.lit("drift").alias("model"), "series_id", "rn", "value",
            drift.alias("pred_mean"),
        ),
    ]
    return frames[0].unionByName(frames[1]).unionByName(frames[2])


ORACLES_BASELINE_BODY = """
nn AS (SELECT series_id, max(rn) AS n,
              CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
an AS (
  SELECT s.series_id,
         max(CASE WHEN s.rn = 1 THEN s.value END) AS y1,
         max(CASE WHEN s.rn = nn.T THEN s.value END) AS yT
  FROM s JOIN nn USING (series_id)
  WHERE s.rn = 1 OR s.rn = nn.T GROUP BY 1),
lg AS (
  SELECT series_id, rn, value,
         lag(value, 1) OVER (PARTITION BY series_id ORDER BY rn) AS p_naive,
         lag(value, 24) OVER (PARTITION BY series_id ORDER BY rn) AS p_snaive
  FROM s),
base AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.p_naive, lg.p_snaive,
         an.yT + (lg.rn - nn.T)
              * ((an.yT - an.y1) / CAST(nn.T - 1 AS DOUBLE)) AS p_drift
  FROM lg JOIN nn USING (series_id) JOIN an USING (series_id)
  WHERE lg.rn > nn.T),
longf AS (
  SELECT 'naive' AS model, series_id, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, value, p_drift
  FROM base WHERE p_drift IS NOT NULL),
ag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(abs(a - p) / (abs(a) + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) AS sape,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM longf GROUP BY 1, 2)
"""


def q_ar1_forecast(spark, sf_dir):
    from ...functions.ar import ar1_forecast_native
    s = _series(spark, sf_dir)
    out = ar1_forecast_native(s)
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


o_ar1_forecast = f"""
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
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM fit0)
SELECT l.series_id, l.rn,
       round(f.icept + f.slope * l.prev, {R}) AS pred_mean,
       round(l.value - (f.icept + f.slope * l.prev), {R}) AS resid
FROM lagged l JOIN fit f USING (series_id)
"""


def q_theta_forecast(spark, sf_dir):
    """Theta-method forecast (M3 winner; SES-with-drift form) of the
    Test split, fixed dyadic α=1/4 — trend fit and θ=2 line are column
    algebra, the SES recursion is one double of state per series and
    is replayed by the oracle as a recursive CTE.  Fully hash-gated."""
    from ...functions.theta import theta_forecast

    out = theta_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("value", R).alias("value"),
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


o_theta_forecast = f"""
WITH RECURSIVE {SQL_S},
nn AS (SELECT series_id, CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
tr AS (SELECT s.series_id, s.rn, s.value
       FROM s JOIN nn USING (series_id) WHERE s.rn <= nn.T),
fsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(CAST(rn AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) AS st,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS stt,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * value AS DECIMAL(38,12)))
              AS DOUBLE) AS sty
  FROM tr GROUP BY 1),
f0 AS (
  SELECT series_id, n, st, sy,
         (n * sty - st * sy) / (n * stt - st * st) AS b
  FROM fsum),
ft AS (SELECT series_id, b, (sy - b * st) / n AS a FROM f0),
l2 AS (
  SELECT tr.series_id, tr.rn,
         2e0 * tr.value - (ft.a + ft.b * CAST(tr.rn AS DOUBLE)) AS l
  FROM tr JOIN ft USING (series_id)),
rec AS (
  SELECT series_id, rn, CAST(l AS DOUBLE) AS sv FROM l2 WHERE rn = 1
  UNION ALL
  SELECT q.series_id, q.rn, r.sv + 0.25 * (q.l - r.sv) AS sv
  FROM rec r JOIN l2 q
    ON q.series_id = r.series_id AND q.rn = r.rn + 1),
sT AS (
  SELECT r.series_id, r.sv AS s_T
  FROM rec r JOIN nn ON nn.series_id = r.series_id AND r.rn = nn.T),
te AS (
  SELECT s.series_id, s.rn, s.value
  FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T),
pr AS (
  SELECT te.series_id, te.rn, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
           AS pred
  FROM te JOIN ft USING (series_id) JOIN sT USING (series_id))
SELECT series_id, rn, round(value, {R}) AS value,
       round(pred, {R}) AS pred_mean,
       round(value - pred, {R}) AS resid
FROM pr
"""


def q_baseline_forecasts(spark, sf_dir):
    """Standard forecast baselines (naive / seasonal-naive / drift)
    backtested on the Test split with the engine's accuracy table —
    the sanity floor every model leaderboard needs: a model that can't
    beat seasonal-naive isn't forecasting.  Pure window algebra +
    one grouped aggregate per model, unioned; fully hash-gated."""
    from ...operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    out = forecast_accuracy(_baseline_long(s), keys=("model", "series_id"))
    return out.select(
        "model", "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("mape", R).alias("mape"),
        _rnd("smape", R).alias("smape"),
    )


o_baseline_forecasts = f"""
WITH {SQL_S},{ORACLES_BASELINE_BODY}
SELECT model, series_id, n,
       round(sae / n, {R}) AS mae,
       round(sqrt(sse / n), {R}) AS rmse,
       round(sape / n, {R}) AS mape,
       round(ssm / n, {R}) AS smape
FROM ag
"""


def q_forecast_leaderboard(spark, sf_dir):
    """Five forecasters — naive / seasonal-naive / drift / theta /
    AR(1) — scored on the SAME Test split and RANKED per series by
    RMSE: the model-selection table, fully hash-gated (every branch is
    itself oracled algebra; ranks compare bit-identical doubles)."""
    from ...functions.ar import ar1_forecast_native
    from ...functions.theta import theta_forecast
    from ...operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    theta = theta_forecast(s).select(
        F.lit("theta").alias("model"), "series_id", "rn", "value", "pred_mean"
    )
    ar1 = (
        ar1_forecast_native(s)
        .join(F.broadcast(nn), "series_id")
        .where(F.col("rn") > F.col("__T"))
        .where(F.col("pred_mean").isNotNull())
        .select(
            F.lit("ar1").alias("model"), "series_id", "rn", "value", "pred_mean"
        )
    )
    long = _baseline_long(s).unionByName(theta).unionByName(ar1)
    acc = forecast_accuracy(long, keys=("model", "series_id"))
    wr = Window.partitionBy("series_id").orderBy(
        F.col("rmse").asc(), F.col("model").asc()
    )
    return acc.withColumn("rank", F.row_number().over(wr)).select(
        "series_id", "model", "rank", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("smape", R).alias("smape"),
    )


o_forecast_leaderboard = f"""
WITH RECURSIVE {SQL_S},
nn AS (SELECT series_id, max(rn) AS n,
              CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
       FROM s GROUP BY 1),
an AS (
  SELECT s.series_id,
         max(CASE WHEN s.rn = 1 THEN s.value END) AS y1,
         max(CASE WHEN s.rn = nn.T THEN s.value END) AS yT
  FROM s JOIN nn USING (series_id)
  WHERE s.rn = 1 OR s.rn = nn.T GROUP BY 1),
lg AS (
  SELECT series_id, rn, value,
         lag(value, 1) OVER (PARTITION BY series_id ORDER BY rn) AS p_naive,
         lag(value, 24) OVER (PARTITION BY series_id ORDER BY rn) AS p_snaive
  FROM s),
base AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.p_naive, lg.p_snaive,
         an.yT + (lg.rn - nn.T)
              * ((an.yT - an.y1) / CAST(nn.T - 1 AS DOUBLE)) AS p_drift
  FROM lg JOIN nn USING (series_id) JOIN an USING (series_id)
  WHERE lg.rn > nn.T),
tr AS (SELECT s.series_id, s.rn, s.value
       FROM s JOIN nn USING (series_id) WHERE s.rn <= nn.T),
fsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(CAST(rn AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) AS st,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS stt,
         CAST(sum(CAST(CAST(rn AS DOUBLE) * value AS DECIMAL(38,12)))
              AS DOUBLE) AS sty
  FROM tr GROUP BY 1),
f0 AS (
  SELECT series_id, n, st, sy,
         (n * sty - st * sy) / (n * stt - st * st) AS b
  FROM fsum),
ft AS (SELECT series_id, b, (sy - b * st) / n AS a FROM f0),
l2 AS (
  SELECT tr.series_id, tr.rn,
         2e0 * tr.value - (ft.a + ft.b * CAST(tr.rn AS DOUBLE)) AS l
  FROM tr JOIN ft USING (series_id)),
rec AS (
  SELECT series_id, rn, CAST(l AS DOUBLE) AS sv FROM l2 WHERE rn = 1
  UNION ALL
  SELECT q.series_id, q.rn, r.sv + 0.25 * (q.l - r.sv) AS sv
  FROM rec r JOIN l2 q
    ON q.series_id = r.series_id AND q.rn = r.rn + 1),
sT AS (
  SELECT r.series_id, r.sv AS s_T
  FROM rec r JOIN nn ON nn.series_id = r.series_id AND r.rn = nn.T),
alag AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
arsum AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM alag WHERE prev IS NOT NULL GROUP BY 1),
af0 AS (
  SELECT series_id, n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
  FROM arsum),
af AS (
  SELECT series_id, slope, (sy - slope * sx) / n AS icept FROM af0),
longf AS (
  SELECT 'naive' AS model, series_id, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, value, p_drift
  FROM base WHERE p_drift IS NOT NULL
  UNION ALL
  SELECT 'theta', te.series_id, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
  FROM (SELECT s.series_id, s.rn, s.value
        FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T) te
  JOIN ft USING (series_id) JOIN sT USING (series_id)
  UNION ALL
  SELECT 'ar1', al.series_id, al.value,
         af.icept + af.slope * al.prev
  FROM alag al JOIN af USING (series_id) JOIN nn USING (series_id)
  WHERE al.prev IS NOT NULL AND al.rn > nn.T),
ag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM longf GROUP BY 1, 2),
mt AS (
  SELECT model, series_id, n,
         sae / n AS mae, sqrt(sse / n) AS rmse, ssm / n AS smape
  FROM ag),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY rmse ASC, model ASC) AS rank
  FROM mt)
SELECT series_id, model, rank, n,
       round(mae, {R}) AS mae,
       round(rmse, {R}) AS rmse,
       round(smape, {R}) AS smape
FROM rk
"""


def q_forecast_mase(spark, sf_dir):
    """MASE (Hyndman & Koehler 2006; the M4 headline metric) for the
    three baseline forecasters: test-split MAE scaled by the TRAIN
    split's in-sample one-step naive MAE — the scale-free accuracy
    number that makes series comparable (MASE > 1 = worse than naive).
    Completes the accuracy family (MAE/RMSE/MAPE/sMAPE are scored by
    forecast_accuracy); denominator is model-independent per series,
    computed once and broadcast.  Fully hash-gated: both numerator
    and denominator are exact-decimal means of bit-identical doubles."""
    from ...operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    acc = forecast_accuracy(_baseline_long(s), keys=("model", "series_id"))
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    d = (
        s.withColumn("__prev", F.lag("value", 1).over(w))
        .join(F.broadcast(nn), "series_id")
        .where((F.col("rn") >= 2) & (F.col("rn") <= F.col("__T")))
    )
    scale = d.groupBy("series_id").agg(
        (
            F.sum(F.abs(F.col("value") - F.col("__prev")).cast(DEC_T))
            .cast("double")
            / F.count("*")
        ).alias("scale")
    )
    out = acc.join(F.broadcast(scale), "series_id")
    return out.select(
        "model", "series_id", "n",
        _rnd("scale", R).alias("scale"),
        _rnd(F.col("mae") / F.col("scale"), R).alias("mase"),
    )


o_forecast_mase = f"""
WITH {SQL_S},{ORACLES_BASELINE_BODY},
nn2 AS (
  SELECT series_id, CAST(floor(max(rn) * 0.75) AS BIGINT) AS T
  FROM s GROUP BY 1),
dtr AS (
  SELECT s.series_id, s.rn, nn2.T,
         abs(s.value - lag(s.value)
             OVER (PARTITION BY s.series_id ORDER BY s.rn)) AS ad
  FROM s JOIN nn2 USING (series_id)),
sc AS (
  SELECT series_id,
         CAST(sum(CAST(ad AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           AS scale
  FROM dtr WHERE rn >= 2 AND rn <= T GROUP BY 1)
SELECT ag.model, ag.series_id, ag.n,
       round(sc.scale, {R}) AS scale,
       round((ag.sae / ag.n) / sc.scale, {R}) AS mase
FROM ag JOIN sc USING (series_id)
"""


def q_ensemble_forecast(spark, sf_dir):
    """Equal-weight forecast combination over the five oracled
    forecasters (naive / seasonal-naive / drift / theta / AR(1)) —
    the forecasting twin of the reference's detector fusion
    (``src/run_hybrid.py:106-116``): average the available per-row
    predictions, score the blend, and report it against the best
    single model per series.  The combination is the textbook
    robustness move (simple averages beat single models on M-series
    data); everything is the leaderboard's own algebra plus one
    grouped mean, so the whole thing hash-gates."""
    from ...functions.ar import ar1_forecast_native
    from ...functions.theta import theta_forecast
    from ...operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    nn = s.groupBy("series_id").agg(
        F.floor(F.max("rn") * 0.75).cast("long").alias("__T")
    )
    theta = theta_forecast(s).select(
        F.lit("theta").alias("model"), "series_id", "rn", "value", "pred_mean"
    )
    ar1 = (
        ar1_forecast_native(s)
        .join(F.broadcast(nn), "series_id")
        .where(F.col("rn") > F.col("__T"))
        .where(F.col("pred_mean").isNotNull())
        .select(
            F.lit("ar1").alias("model"), "series_id", "rn", "value", "pred_mean"
        )
    )
    long = (
        _baseline_long(s)
        .unionByName(theta)
        .unionByName(ar1)
        .where(F.col("pred_mean").isNotNull())
    )
    ens = long.groupBy("series_id", "rn").agg(
        F.max("value").alias("value"),
        (_dsum("pred_mean") / F.count("*")).alias("pred_mean"),
    )
    eacc = forecast_accuracy(ens, keys=("series_id",))
    sacc = forecast_accuracy(long, keys=("model", "series_id"))
    best = sacc.groupBy("series_id").agg(F.min("rmse").alias("rmse_best"))
    return eacc.join(best, "series_id").select(
        "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("smape", R).alias("smape"),
        _rnd("rmse_best", R).alias("rmse_best_single"),
        _rnd(F.col("rmse") / F.col("rmse_best"), R).alias("rmse_ratio"),
    )


def _ensemble_oracle() -> str:
    """Reuses the forecast_leaderboard oracle's model CTEs verbatim
    (sliced at its ``longf`` CTE), then swaps in a ``longf`` that
    carries ``rn`` so the per-row blend can group on it."""
    lead = o_forecast_leaderboard
    prefix = lead[: lead.index("longf AS (")]
    return (
        prefix
        + f"""longf AS (
  SELECT 'naive' AS model, series_id, rn, value AS a, p_naive AS p
  FROM base WHERE p_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive', series_id, rn, value, p_snaive
  FROM base WHERE p_snaive IS NOT NULL
  UNION ALL
  SELECT 'drift', series_id, rn, value, p_drift
  FROM base WHERE p_drift IS NOT NULL
  UNION ALL
  SELECT 'theta', te.series_id, te.rn, te.value,
         5e-1 * (ft.a + ft.b * CAST(te.rn AS DOUBLE)) + 5e-1 * sT.s_T
  FROM (SELECT s.series_id, s.rn, s.value
        FROM s JOIN nn USING (series_id) WHERE s.rn > nn.T) te
  JOIN ft USING (series_id) JOIN sT USING (series_id)
  UNION ALL
  SELECT 'ar1', al.series_id, al.rn, al.value,
         af.icept + af.slope * al.prev
  FROM alag al JOIN af USING (series_id) JOIN nn USING (series_id)
  WHERE al.prev IS NOT NULL AND al.rn > nn.T),
ens AS (
  SELECT series_id, rn, max(a) AS a,
         CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS p
  FROM longf GROUP BY 1, 2),
eag AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM ens GROUP BY 1),
emt AS (
  SELECT series_id, n, sae / n AS mae, sqrt(sse / n) AS rmse,
         ssm / n AS smape
  FROM eag),
sag AS (
  SELECT model, series_id, count(*) AS n,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse
  FROM longf GROUP BY 1, 2),
bs AS (
  SELECT series_id, min(sqrt(sse / n)) AS rmse_best
  FROM sag GROUP BY 1)
SELECT emt.series_id, emt.n,
       round(emt.mae, {R}) AS mae,
       round(emt.rmse, {R}) AS rmse,
       round(emt.smape, {R}) AS smape,
       round(bs.rmse_best, {R}) AS rmse_best_single,
       round(emt.rmse / bs.rmse_best, {R}) AS rmse_ratio
FROM emt JOIN bs USING (series_id)
"""
    )


o_ensemble_forecast = _ensemble_oracle()


def q_demand_classification(spark, sf_dir):
    """Syntetos-Boylan intermittent-demand classification (Syntetos,
    Boylan & Croston 2005): per series, ADI (mean inter-demand
    interval = n / n_demand) and CV² of the positive demand sizes on
    the SAME exceedance-demand definition Croston uses (demand =
    max(value − q90, 0)) → the smooth / intermittent / erratic /
    lumpy quadrant that decides WHICH forecaster applies (Croston for
    intermittent/lumpy, SES/AR for smooth/erratic).  The
    model-selection diagnostic beside the croston_forecast operator;
    pure exact-percentile + decimal-moment algebra, hash-gated."""
    s = _series(spark, sf_dir)
    thr = s.groupBy("series_id").agg(
        F.expr("percentile(value, 0.9)").alias("__thr")
    )
    dem = F.greatest(F.col("value") - F.col("__thr"), F.lit(0.0))
    d = s.join(F.broadcast(thr), "series_id").withColumn("__dem", dem)
    pos = F.col("__dem") > 0
    agg = d.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum(pos.cast("long")).alias("n_demand"),
        F.sum(F.when(pos, F.col("__dem")).cast(DEC_T))
        .cast("double")
        .alias("__s1"),
        F.sum(F.when(pos, F.col("__dem") * F.col("__dem")).cast(DEC_T))
        .cast("double")
        .alias("__s2"),
    )
    nd = F.col("n_demand")
    adi = F.col("n") / nd
    mean = F.col("__s1") / nd
    var = F.greatest(
        (F.col("__s2") - F.col("__s1") * F.col("__s1") / nd) / (nd - 1),
        F.lit(0.0),
    )
    cv2 = F.when(nd >= 2, var / (mean * mean))
    out = agg.withColumn("adi", adi).withColumn("cv2", cv2)
    cls = (
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when((F.col("adi") < 1.32), "erratic")
        .otherwise("lumpy")
    )
    return out.select(
        "series_id", "n", "n_demand",
        _rnd("adi", R).alias("adi"),
        _rnd("cv2", R).alias("cv2"),
        cls.alias("class"),
    )


o_demand_classification = f"""
WITH {SQL_S},
thr AS (
  SELECT series_id, quantile_cont(value, 0.9) AS thr
  FROM s GROUP BY 1),
d AS (
  SELECT s.series_id,
         greatest(s.value - t.thr, 0.0) AS dem
  FROM s JOIN thr t USING (series_id)),
ag AS (
  SELECT series_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN dem > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_demand,
         CAST(sum(CASE WHEN dem > 0
                       THEN CAST(dem AS DECIMAL(38,12)) END)
              AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN dem > 0
                       THEN CAST(dem * dem AS DECIMAL(38,12)) END)
              AS DOUBLE) AS s2
  FROM d GROUP BY 1),
m AS (
  SELECT series_id, n, n_demand,
         n / n_demand AS adi,
         CASE WHEN n_demand >= 2 THEN
           greatest((s2 - s1 * s1 / n_demand) / (n_demand - 1), 0.0)
             / ((s1 / n_demand) * (s1 / n_demand))
         END AS cv2
  FROM ag)
SELECT series_id, n, n_demand,
       round(adi, {R}) AS adi,
       round(cv2, {R}) AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 THEN 'erratic'
            ELSE 'lumpy' END AS class
FROM m
"""


def q_conformal_intervals(spark, sf_dir):
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    JASA 2018) on the AR(1) forecaster: fit on the first half,
    calibrate q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest |residual| on the
    next quarter (a pure order statistic — no interpolation, nothing
    to drift), score marginal coverage of pred ± q̂ on the final
    quarter.  α = 0.1.  The distribution-free interval machinery
    beside the Gaussian ones (interval_exceedance's model bands, EWMA
    control limits); finite-sample coverage ≥ 1−α under
    exchangeability is the selling point.  Fully hash-gated: the fit
    is the exact-decimal AR(1) algebra restricted to the fit split,
    the quantile is an order statistic of bit-identical doubles, and
    coverage is integer counting."""
    from ..._exact import DEC as _DEC

    s = _series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("rn")
    nn = s.groupBy("series_id").agg(F.max("rn").alias("__n"))
    nn = nn.withColumn(
        "__T1", F.floor(F.col("__n") * 0.5).cast("long")
    ).withColumn("__T2", F.floor(F.col("__n") * 0.75).cast("long"))
    lg = s.withColumn("__prev", F.lag("value").over(w)).join(
        F.broadcast(nn), "series_id"
    )
    x, y = F.col("__prev"), F.col("value")
    fs = (
        lg.filter(x.isNotNull() & (F.col("rn") <= F.col("__T1")))
        .groupBy("series_id")
        .agg(
            F.count("*").alias("__fn"),
            F.sum(x.cast(_DEC)).cast("double").alias("__sx"),
            F.sum(y.cast(_DEC)).cast("double").alias("__sy"),
            F.sum((x * x).cast(_DEC)).cast("double").alias("__sxx"),
            F.sum((y * x).cast(_DEC)).cast("double").alias("__sxy"),
        )
    )
    fn, sx, sy = F.col("__fn"), F.col("__sx"), F.col("__sy")
    slope = (fn * F.col("__sxy") - sx * sy) / (
        fn * F.col("__sxx") - sx * sx
    )
    ft = fs.withColumn("__slope", slope).withColumn(
        "__icept", (sy - F.col("__slope") * sx) / fn
    )
    pr = (
        lg.filter(x.isNotNull())
        .join(F.broadcast(ft.select("series_id", "__slope", "__icept")),
              "series_id")
        .withColumn("__pred", F.col("__icept") + F.col("__slope") * x)
    )
    cal = pr.filter(
        (F.col("rn") > F.col("__T1")) & (F.col("rn") <= F.col("__T2"))
    ).withColumn("__ar", F.abs(y - F.col("__pred")))
    rk = cal.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("series_id").orderBy("__ar", "rn")
        ),
    )
    nc = cal.groupBy("series_id").agg(F.count("*").alias("n_cal"))
    kk = nc.withColumn(
        "__k",
        F.least(
            F.ceil((F.col("n_cal") + F.lit(1)) * F.lit(0.9)).cast("long"),
            F.col("n_cal"),
        ),
    )
    qh = (
        rk.join(F.broadcast(kk), "series_id")
        .filter(F.col("__r") == F.col("__k"))
        .select("series_id", "n_cal", F.col("__ar").alias("q_hat"))
    )
    te = pr.filter(F.col("rn") > F.col("__T2")).join(
        F.broadcast(qh), "series_id"
    )
    cov = (
        (y >= F.col("__pred") - F.col("q_hat"))
        & (y <= F.col("__pred") + F.col("q_hat"))
    ).cast("long")
    out = te.groupBy("series_id", "n_cal", "q_hat").agg(
        F.count("*").alias("n_test"),
        F.sum(cov).alias("covered"),
    )
    return out.select(
        "series_id", "n_cal", "n_test", "covered",
        _rnd("q_hat", R).alias("q_hat"),
        _rnd(F.col("covered") / F.col("n_test"), R).alias("coverage"),
    )


o_conformal_intervals = f"""
WITH {SQL_S},
nn AS (
  SELECT series_id,
         CAST(floor(max(rn) * 0.5) AS BIGINT) AS T1,
         CAST(floor(max(rn) * 0.75) AS BIGINT) AS T2
  FROM s GROUP BY 1),
lg AS (
  SELECT s.series_id, s.rn, s.value, nn.T1, nn.T2,
         lag(s.value) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS prev
  FROM s JOIN nn USING (series_id)),
fs AS (
  SELECT series_id, count(*) AS fn,
         CAST(sum(CAST(prev AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(prev * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(value * prev AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM lg WHERE prev IS NOT NULL AND rn <= T1 GROUP BY 1),
ft AS (
  SELECT series_id,
         (fn * sxy - sx * sy) / (fn * sxx - sx * sx) AS slope,
         (sy - (fn * sxy - sx * sy) / (fn * sxx - sx * sx) * sx) / fn
           AS icept
  FROM fs),
pr AS (
  SELECT lg.series_id, lg.rn, lg.value, lg.T1, lg.T2,
         ft.icept + ft.slope * lg.prev AS pred
  FROM lg JOIN ft USING (series_id) WHERE lg.prev IS NOT NULL),
cal AS (
  SELECT series_id, rn, abs(value - pred) AS ar
  FROM pr WHERE rn > T1 AND rn <= T2),
rk AS (
  SELECT series_id, ar,
         row_number() OVER (PARTITION BY series_id ORDER BY ar, rn) AS r
  FROM cal),
nc AS (SELECT series_id, count(*) AS n_cal FROM cal GROUP BY 1),
kk AS (
  SELECT series_id, n_cal,
         least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal) AS k
  FROM nc),
qh AS (
  SELECT rk.series_id, kk.n_cal, rk.ar AS q_hat
  FROM rk JOIN kk ON rk.series_id = kk.series_id AND rk.r = kk.k),
te AS (
  SELECT pr.series_id, pr.value, pr.pred, qh.n_cal, qh.q_hat
  FROM pr JOIN qh USING (series_id) WHERE pr.rn > pr.T2)
SELECT series_id, n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN value >= pred - q_hat
                      AND value <= pred + q_hat
                     THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       round(q_hat, {R}) AS q_hat,
       round(CAST(sum(CASE WHEN value >= pred - q_hat
                            AND value <= pred + q_hat
                           THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), {R}) AS coverage
FROM te GROUP BY series_id, n_cal, q_hat
"""


def q_ar2_forecast(spark, sf_dir):
    """AR(2) via closed-form Yule-Walker (M5 family beside AR(1)):
    biased autocovariances from exact-decimal sums, the 2x2 system
    solved in rational double algebra, one-step predictions on actual
    lags — fit AND predictions hash-gated."""
    from ...functions.ar import ar2_forecast_native

    out = ar2_forecast_native(_series(spark, sf_dir)).filter(
        F.col("rn") >= 3
    )
    return out.select(
        "series_id", "rn",
        _rnd("pred_mean", R).alias("pred_mean"),
        _rnd("resid", R).alias("resid"),
    )


o_ar2_forecast = f"""
WITH {SQL_S},
mo AS (
  SELECT series_id, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1
  FROM s GROUP BY 1),
muv AS (SELECT series_id, n, s1 / n AS mu FROM mo),
lagd AS (
  SELECT s.series_id, s.rn, s.value, m.mu, m.n,
         lag(s.value, 1) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS p1,
         lag(s.value, 2) OVER (PARTITION BY s.series_id ORDER BY s.rn)
           AS p2
  FROM s JOIN muv m USING (series_id)),
cov AS (
  SELECT series_id,
         CAST(sum(CAST((value - mu) * (value - mu) AS DECIMAL(38,12)))
              AS DOUBLE) AS g0,
         CAST(sum(CAST(CASE WHEN p1 IS NOT NULL
                            THEN (value - mu) * (p1 - mu) END
                       AS DECIMAL(38,12))) AS DOUBLE) AS g1,
         CAST(sum(CAST(CASE WHEN p2 IS NOT NULL
                            THEN (value - mu) * (p2 - mu) END
                       AS DECIMAL(38,12))) AS DOUBLE) AS g2,
         max(n) AS nn
  FROM lagd GROUP BY 1),
fit AS (
  SELECT series_id,
         (g1 / nn) * (g0 / nn - g2 / nn)
           / nullif((g0 / nn) * (g0 / nn) - (g1 / nn) * (g1 / nn), 0.0)
           AS phi1,
         ((g0 / nn) * (g2 / nn) - (g1 / nn) * (g1 / nn))
           / nullif((g0 / nn) * (g0 / nn) - (g1 / nn) * (g1 / nn), 0.0)
           AS phi2
  FROM cov)
SELECT l.series_id, l.rn,
       round(l.mu + f.phi1 * (l.p1 - l.mu) + f.phi2 * (l.p2 - l.mu), {R})
         AS pred_mean,
       round(l.value - (l.mu + f.phi1 * (l.p1 - l.mu)
                        + f.phi2 * (l.p2 - l.mu)), {R}) AS resid
FROM lagd l JOIN fit f USING (series_id)
WHERE l.rn >= 3
"""


def q_croston_forecast(spark, sf_dir):
    """Croston's intermittent-demand method (Croston 1972), hash-gated
    via a RECURSIVE-CTE oracle: separate dyadic-α SES recursions over
    exceedance sizes and inter-exceedance intervals (demand =
    max(value − q90, 0)); forecast z/p held flat until the next
    demand — the sparse-events complement of the dense forecasters."""
    from ...functions.croston import croston_forecast

    out = croston_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("demand", R).alias("demand"),
        _rnd("croston", R).alias("croston"),
    )


o_croston_forecast = f"""
WITH RECURSIVE {SQL_S},
thr AS (
  SELECT series_id, quantile_cont(value, 0.9) AS thr
  FROM s GROUP BY 1),
dem AS (
  SELECT s.series_id, s.rn,
         CASE WHEN s.value > t.thr THEN s.value - t.thr
              ELSE 0.0 END AS demand
  FROM s JOIN thr t USING (series_id)),
pts AS (
  SELECT series_id, rn, demand,
         row_number() OVER (PARTITION BY series_id ORDER BY rn) AS k,
         rn - coalesce(lag(rn) OVER (
           PARTITION BY series_id ORDER BY rn), 0) AS gap
  FROM dem WHERE demand > 0),
rec AS (
  SELECT series_id, rn, k,
         CAST(demand AS DOUBLE) AS z, CAST(rn AS DOUBLE) AS p
  FROM pts WHERE k = 1
  UNION ALL
  SELECT q.series_id, q.rn, q.k,
         r.z + 0.25 * (q.demand - r.z) AS z,
         r.p + 0.25 * (q.gap - r.p) AS p
  FROM rec r JOIN pts q
    ON q.series_id = r.series_id AND q.k = r.k + 1)
SELECT d.series_id, d.rn, round(d.demand, {R}) AS demand,
       round(last_value(r.z / r.p IGNORE NULLS) OVER (
         PARTITION BY d.series_id ORDER BY d.rn
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {R})
         AS croston
FROM dem d LEFT JOIN rec r
  ON r.series_id = d.series_id AND r.rn = d.rn
"""


def q_forecast_features(spark, sf_dir):
    """Forecast feature table: short lags + seasonal lag + trailing
    W1 rolling mean/std + calendar keys + positional split fraction —
    the feature-engineering pass a tabular forecaster trains on
    (generalizes src/lstm_model.py:18-30's hand-built windows).
    Fully native; one series exchange."""
    from ...operators.features import feature_table

    out = feature_table(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("roll_mean", R).alias("roll_mean"),
        _rnd("roll_std", R).alias("roll_std"),
        _rnd("lag_1", R).alias("lag_1"),
        _rnd("lag_2", R).alias("lag_2"),
        _rnd("lag_3", R).alias("lag_3"),
        _rnd("lag_s48", R).alias("lag_s48"),
        "hod", "dow",
        _rnd("pos_frac", R).alias("pos_frac"),
    )


o_forecast_features = f"""
WITH {SQL_S}, {SQL_ROLL},
lagd AS (
  SELECT series_id, rn, timestamp,
         lag(value, 1) OVER w AS lag_1,
         lag(value, 2) OVER w AS lag_2,
         lag(value, 3) OVER w AS lag_3,
         lag(value, 48) OVER w AS lag_s48,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM s WINDOW w AS (PARTITION BY series_id ORDER BY rn)),
feat AS (
  SELECT l.series_id, l.rn,
         r.roll_mean, r.roll_std,
         l.lag_1, l.lag_2, l.lag_3, l.lag_s48,
         CAST(hour(l.timestamp) AS INTEGER) AS hod,
         CAST(dayofweek(l.timestamp) AS INTEGER) AS dow,
         l.rn / l.n AS pos_frac
  FROM lagd l JOIN roll r ON r.series_id = l.series_id
                         AND r.rn = l.rn)
SELECT series_id, rn,
       round(roll_mean, {R}) AS roll_mean,
       round(roll_std, {R}) AS roll_std,
       round(lag_1, {R}) AS lag_1,
       round(lag_2, {R}) AS lag_2,
       round(lag_3, {R}) AS lag_3,
       round(lag_s48, {R}) AS lag_s48,
       hod, dow,
       round(pos_frac, {R}) AS pos_frac
FROM feat
"""


def q_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing with fixed
    dyadic (α=1/4, β=1/16), hash-gated via RECURSIVE-CTE oracle —
    completes the exponential family between theta's SES and the
    seasonal holt_winters_fixed.  Two scalars of state; init
    l=y₁, b=y₂−y₁; one-step predictions from rn=3."""
    from ...functions.holt_winters import holt_linear_fixed

    out = holt_linear_fixed(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


o_holt_linear = f"""
WITH RECURSIVE {SQL_S},
rec AS (
  SELECT s2.series_id, CAST(2 AS BIGINT) AS rn,
         CAST(s1.value AS DOUBLE) AS l,
         CAST(s2.value - s1.value AS DOUBLE) AS b
  FROM s s1 JOIN s s2 ON s2.series_id = s1.series_id
                     AND s1.rn = 1 AND s2.rn = 2
  UNION ALL
  SELECT q.series_id, q.rn,
         0.25 * q.value + 0.75 * (r.l + r.b) AS l,
         0.0625 * ((0.25 * q.value + 0.75 * (r.l + r.b)) - r.l)
           + 0.9375 * r.b AS b
  FROM rec r JOIN s q ON q.series_id = r.series_id
                     AND q.rn = r.rn + 1)
SELECT s.series_id, s.rn,
       round(r.l + r.b, {R}) AS pred,
       round(s.value - (r.l + r.b), {R}) AS resid
FROM rec r JOIN s ON s.series_id = r.series_id AND s.rn = r.rn + 1
"""


def q_harmonic_forecast(spark, sf_dir):
    """Fourier-term harmonic regression (trend + K=3 seasonal
    sinusoids at period 48), closed-form OLS per series on the train
    prefix — the non-iterative seasonal benchmark beside the
    state-space fits.  Rows-only by declared design (sin/cos are not
    cross-engine bit-stable); numpy-parity + planted-seasonality R²
    tests pin semantics."""
    from ...functions.harmonic import harmonic_forecast

    out = harmonic_forecast(_series(spark, sf_dir))
    return out.select(
        "series_id", "rn", "split",
        _rnd("pred", R).alias("pred"),
        _rnd("resid", R).alias("resid"),
    )


def _harmonic_table(m: int = 48):
    """Quantized sinusoid design table for the hash-gated harmonic
    twin: sin/cos(2πk·pos/m), k=1,2, rounded to 12 decimals.  Both
    engines consume the SAME decimal literals (Spark as a broadcast
    literal frame, DuckDB as a VALUES list), so the transcendentals
    never enter the comparison — the design matrix is *defined* as
    this table (``pos = rn % m``; sinusoids are m-periodic in rn)."""
    import numpy as np

    rows = []
    vals_sql = []
    for pos in range(m):
        w = 2.0 * np.pi * pos / m
        s1, c1 = round(float(np.sin(w)), 12), round(float(np.cos(w)), 12)
        s2, c2 = round(float(np.sin(2 * w)), 12), round(float(np.cos(2 * w)), 12)
        rows.append((pos, s1, c1, s2, c2))
        vals_sql.append(
            f"({pos}, {s1:.12f}, {c1:.12f}, {s2:.12f}, {c2:.12f})"
        )
    return rows, ",\n    ".join(vals_sql)


_HARMONIC_ROWS, _HARMONIC_VALUES_SQL = _harmonic_table(48)


def q_harmonic_forecast_fixed(spark, sf_dir):
    """Hash-gated fixed twin of the harmonic forecaster (r06 verdict
    item #6): level + K=2 sinusoids at period 48, coefficients by the
    exact DFT projection ``a_k = 2·Σ(y·c_k)/n_tr`` over a train
    prefix truncated to whole periods (``n_tr = 48·⌊⌊0.7n⌋/48⌋``) —
    on whole periods the quantized sinusoid regressors are
    (near-)orthogonal and the projection IS the least-squares fit of
    this design table.  Every sum is exact-decimal; sin/cos enter
    only through the shared 48-row literal table, so both engines
    compute bit-identical coefficients and predictions.  Fully
    native: two broadcast joins (counts, table) + one grouped
    decimal aggregate — no UDF, one shuffle on series_id."""
    s = _series(spark, sf_dir).select("series_id", "rn", "value")
    h = spark.createDataFrame(
        _HARMONIC_ROWS, "pos long, s1 double, c1 double, s2 double, c2 double"
    )
    cnt = s.groupBy("series_id").agg(F.count("*").alias("n"))
    n_tr = F.greatest(
        F.lit(48) * F.floor(F.floor(F.lit(0.7) * F.col("n")) / F.lit(48)),
        F.lit(1),
    ).cast("double")
    cnt = cnt.withColumn("n_tr", n_tr)
    j = (
        s.withColumn("pos", F.col("rn") % F.lit(48))
        .join(F.broadcast(cnt), "series_id")
        .join(F.broadcast(h), "pos")
    )
    v = F.col("value")

    tr = (
        j.filter(F.col("rn") <= F.col("n_tr"))
        .groupBy("series_id")
        .agg(
            _dsum(v).alias("sy"),
            _dsum(v * F.col("c1")).alias("syc1"),
            _dsum(v * F.col("s1")).alias("sys1"),
            _dsum(v * F.col("c2")).alias("syc2"),
            _dsum(v * F.col("s2")).alias("sys2"),
        )
    )
    co = tr.join(cnt.select("series_id", "n_tr"), "series_id").select(
        "series_id",
        (F.col("sy") / F.col("n_tr")).alias("a0"),
        (F.lit(2.0) * F.col("syc1") / F.col("n_tr")).alias("a1"),
        (F.lit(2.0) * F.col("sys1") / F.col("n_tr")).alias("b1"),
        (F.lit(2.0) * F.col("syc2") / F.col("n_tr")).alias("a2"),
        (F.lit(2.0) * F.col("sys2") / F.col("n_tr")).alias("b2"),
    )
    out = j.join(F.broadcast(co), "series_id")
    pred = (
        (
            (
                (F.col("a0") + F.col("a1") * F.col("c1"))
                + F.col("b1") * F.col("s1")
            )
            + F.col("a2") * F.col("c2")
        )
        + F.col("b2") * F.col("s2")
    )
    return out.select(
        "series_id",
        "rn",
        F.when(F.col("rn") <= F.col("n_tr"), F.lit("Train"))
        .otherwise(F.lit("Test"))
        .alias("split"),
        _rnd(pred, R).alias("pred"),
        _rnd(v - pred, R).alias("resid"),
    )


o_harmonic_forecast_fixed = f"""
WITH {SQL_S},
h(pos, s1, c1, s2, c2) AS (
  VALUES
    {_HARMONIC_VALUES_SQL}
),
cnt AS (
  SELECT series_id, count(*) AS n FROM s GROUP BY 1),
cnt2 AS (
  SELECT series_id,
         CAST(greatest(48 * FLOOR(FLOOR(0.7 * n) / 48), 1) AS DOUBLE)
           AS n_tr
  FROM cnt),
j AS (
  SELECT s.series_id, s.rn, s.value, c.n_tr,
         h.s1, h.c1, h.s2, h.c2
  FROM s
  JOIN cnt2 c USING (series_id)
  JOIN h ON h.pos = s.rn % 48),
tr AS (
  SELECT series_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(value * c1 AS DECIMAL(38,12))) AS DOUBLE) AS syc1,
         CAST(sum(CAST(value * s1 AS DECIMAL(38,12))) AS DOUBLE) AS sys1,
         CAST(sum(CAST(value * c2 AS DECIMAL(38,12))) AS DOUBLE) AS syc2,
         CAST(sum(CAST(value * s2 AS DECIMAL(38,12))) AS DOUBLE) AS sys2
  FROM j WHERE rn <= n_tr GROUP BY 1),
co AS (
  SELECT t.series_id,
         t.sy / c.n_tr AS a0,
         2.0 * t.syc1 / c.n_tr AS a1,
         2.0 * t.sys1 / c.n_tr AS b1,
         2.0 * t.syc2 / c.n_tr AS a2,
         2.0 * t.sys2 / c.n_tr AS b2
  FROM tr t JOIN cnt2 c USING (series_id))
SELECT j.series_id, j.rn,
       CASE WHEN j.rn <= j.n_tr THEN 'Train' ELSE 'Test' END AS split,
       round((((co.a0 + co.a1 * j.c1) + co.b1 * j.s1)
              + co.a2 * j.c2) + co.b2 * j.s2, {R}) AS pred,
       round(j.value - ((((co.a0 + co.a1 * j.c1) + co.b1 * j.s1)
              + co.a2 * j.c2) + co.b2 * j.s2), {R}) AS resid
FROM j JOIN co USING (series_id)
"""
