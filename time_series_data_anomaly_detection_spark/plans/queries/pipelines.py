"""The production flows of ``plans.pipelines`` as gate queries: walk-
forward CV, the benchmark leaderboard, hybrid detection, forecast
backtests and the star-schema revenue series."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators.scaling import mad_scores
from ...operators.splits import fractional_split
from ..._exact import DEC as DEC_T
from ._shared import (
    R,
    SQL_MAD,
    SQL_MO,
    SQL_S,
    SQL_TRUTH,
    _KS,
    _rnd,
    _series,
    _sql_events_keyed,
)


def q_walk_forward_cv(spark, sf_dir):
    from ..pipelines import walk_forward_cv

    out = walk_forward_cv(_series(spark, sf_dir), model="ar", period=24)
    return out.select(
        "series_id", "n_folds",
        _rnd("mean_f1", R).alias("mean_f1"),
        _rnd("mean_precision", R).alias("mean_precision"),
        _rnd("mean_recall", R).alias("mean_recall"),
    )


def q_benchmark_leaderboard(spark, sf_dir):
    from ..pipelines import run_benchmark

    out = run_benchmark(_series(spark, sf_dir), models=("stl", "ar"))
    return out.select(
        "model", "series_id",
        _rnd("f1", R).alias("f1"),
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


def q_walk_forward_cv_ar1(spark, sf_dir):
    """The oracle-checkable CV variant: closed-form AR(1) per fold —
    the fold/score/sweep/metrics plumbing under a hard DuckDB gate
    (the rich-model variant stays rows-only)."""
    from ..pipelines import walk_forward_cv

    out = walk_forward_cv(_series(spark, sf_dir), model="ar1")
    return out.select(
        "series_id", "n_folds",
        _rnd("mean_f1", R).alias("mean_f1"),
        _rnd("mean_precision", R).alias("mean_precision"),
        _rnd("mean_recall", R).alias("mean_recall"),
    )


# ---- walk_forward_cv_ar1: fold-fanned closed-form AR(1) + MAD score +
#      horizon slice + fold-keyed event metrics + decimal fold means ----
_WF_TRAIN = "rn >= 2 AND rn <= nt"

o_walk_forward_cv_ar1 = f"""
WITH {SQL_S}, {SQL_TRUTH},
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
fr AS (SELECT unnest([0.5, 0.625, 0.75]) AS frac),
lagged AS (
  SELECT series_id, rn, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM s),
fan AS (
  -- UNFILTERED fold fan-out: the MAD scale population is the residual
  -- of EVERY row under the fold's fit (fit-on-train, score-everything,
  -- evaluate-horizon — the reference contract); the horizon slice
  -- happens only in evh below
  SELECT l.series_id, l.rn, l.value, l.prev, f.frac, nn.n,
         greatest(CAST(floor(nn.n * f.frac) AS BIGINT), 3) AS nt
  FROM lagged l CROSS JOIN fr f JOIN nn USING (series_id)),
wsum AS (
  SELECT series_id, frac,
         count(CASE WHEN {_WF_TRAIN} THEN 1 END) AS cnt,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN value END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN prev * prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CASE WHEN {_WF_TRAIN} THEN value * prev END
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM fan GROUP BY 1, 2),
wfit0 AS (
  SELECT series_id, frac, cnt, sx, sy,
         (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) AS slope
  FROM wsum),
wfit AS (
  SELECT series_id, frac, slope, (sy - slope * sx) / cnt AS icept FROM wfit0),
wpr AS (
  SELECT fan.series_id, fan.frac, fan.rn, fan.n,
         fan.value - (w.icept + w.slope * fan.prev) AS resid
  FROM fan JOIN wfit w USING (series_id, frac)),
wmd AS (SELECT series_id, frac, median(resid) AS med FROM wpr GROUP BY 1, 2),
wmad AS (
  SELECT p.series_id, p.frac, median(abs(p.resid - m.med)) AS mad
  FROM wpr p JOIN wmd m USING (series_id, frac) GROUP BY 1, 2),
wsc AS (
  SELECT p.series_id, p.frac, p.rn, p.n,
         abs(p.resid - m.med) / (1.4826 * d.mad + 1e-9) AS score
  FROM wpr p JOIN wmd m USING (series_id, frac)
       JOIN wmad d USING (series_id, frac)),
evh AS (
  SELECT w.series_id, w.frac, w.rn,
         CASE WHEN w.score > 4.0 THEN 1 ELSE 0 END AS flag,
         t.is_anomaly
  FROM wsc w JOIN truth t USING (series_id, rn)
  WHERE w.rn > floor(w.n * w.frac)
    AND w.rn <= floor(w.n * (w.frac + 0.125))),
{_sql_events_keyed("evh", "tevf", "is_anomaly", 3, "series_id, frac")},
{_sql_events_keyed("evh", "pevf", "flag", 3, "series_id, frac", min_len=2)},
fbase AS (SELECT DISTINCT series_id, frac FROM evh),
fnt AS (SELECT series_id, frac, count(*) AS n_true FROM tevf GROUP BY 1, 2),
fnp AS (SELECT series_id, frac, count(*) AS n_pred FROM pevf GROUP BY 1, 2),
fph AS (SELECT p.series_id, p.frac, count(*) AS tp FROM pevf p
        WHERE EXISTS (SELECT 1 FROM tevf t
                      WHERE t.series_id = p.series_id AND t.frac = p.frac
                        AND p.end_idx >= t.start_idx
                        AND p.start_idx <= t.end_idx)
        GROUP BY 1, 2),
fth AS (SELECT t.series_id, t.frac, count(*) AS tp_recall FROM tevf t
        WHERE EXISTS (SELECT 1 FROM pevf p
                      WHERE p.series_id = t.series_id AND p.frac = t.frac
                        AND p.end_idx >= t.start_idx
                        AND p.start_idx <= t.end_idx)
        GROUP BY 1, 2),
fm AS (
  SELECT b.series_id, b.frac,
         coalesce(fnt.n_true, 0) AS n_true,
         coalesce(fnp.n_pred, 0) AS n_pred,
         coalesce(fph.tp, 0) AS tp, coalesce(fth.tp_recall, 0) AS tp_recall
  FROM fbase b LEFT JOIN fnt USING (series_id, frac)
       LEFT JOIN fnp USING (series_id, frac)
       LEFT JOIN fph USING (series_id, frac)
       LEFT JOIN fth USING (series_id, frac)),
pf AS (
  SELECT series_id, frac,
         tp / (n_pred + 1e-9) AS precision,
         tp_recall / (n_true + 1e-9) AS recall,
         2 * (tp/(n_pred+1e-9)) * (tp_recall/(n_true+1e-9))
         / ((tp/(n_pred+1e-9)) + (tp_recall/(n_true+1e-9)) + 1e-9) AS f1
  FROM fm)
SELECT series_id, count(*) AS n_folds,
       round(CAST(sum(CAST(f1 AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_f1,
       round(CAST(sum(CAST(precision AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_precision,
       round(CAST(sum(CAST(recall AS DECIMAL(38,12))) AS DOUBLE) / count(*),
             {R}) AS mean_recall
FROM pf GROUP BY 1
"""


def q_benchmark_leaderboard_ar1(spark, sf_dir):
    """Oracle-checkable leaderboard: one native-SQL-algebra model
    through the full sweep → detect → event-metrics tail."""
    from ..pipelines import run_benchmark

    out = run_benchmark(_series(spark, sf_dir), models=("ar1",))
    return out.select(
        "model", "series_id",
        _rnd("f1", R).alias("f1"),
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        "n_true_events", "n_pred_events",
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


# ---- benchmark_leaderboard_ar1: full-series AR(1) + MAD score + split +
#      validation sweep (rate guard) + best-k detection + event metrics ----
o_benchmark_leaderboard_ar1 = f"""
WITH {SQL_S}, {SQL_TRUTH},
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
bmd AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
bmad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN bmd m USING (series_id) GROUP BY 1),
bsc AS (
  SELECT r.series_id, r.rn,
         abs(r.resid - m.med) / (1.4826 * d.mad + 1e-9) AS score
  FROM rsd r JOIN bmd m USING (series_id) JOIN bmad d USING (series_id)),
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
spl AS (
  SELECT b.series_id, b.rn, b.score, t.is_anomaly,
         CASE WHEN b.rn <= floor(nn.n * 0.5) THEN 'Train'
              WHEN b.rn <= floor(nn.n * 0.75) THEN 'Validation'
              ELSE 'Test' END AS split
  FROM bsc b JOIN truth t USING (series_id, rn) JOIN nn USING (series_id)),
grid AS (SELECT unnest([{_KS}]) AS k),
vfl AS (
  SELECT v.series_id, g.k, v.is_anomaly AS y,
         CASE WHEN v.score > g.k THEN 1 ELSE 0 END AS p
  FROM spl v CROSS JOIN grid g WHERE v.split = 'Validation'),
perk AS (
  SELECT series_id, k,
         sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS fn,
         avg(p) AS rate
  FROM vfl GROUP BY 1, 2),
sck AS (
  SELECT *,
         2*(tp/(tp+fp+1e-9))*(tp/(tp+fn+1e-9))
         / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9) AS f1
  FROM perk WHERE rate <= 0.10),
rankk AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY f1 DESC, k ASC) AS rk
  FROM sck),
best AS (SELECT series_id, k AS best_k FROM rankk WHERE rk = 1),
fl AS (
  SELECT b.series_id, b.rn,
         CASE WHEN b.score > coalesce(bb.best_k, 3.0) THEN 1 ELSE 0 END AS flag,
         t.is_anomaly
  FROM bsc b JOIN truth t USING (series_id, rn)
       LEFT JOIN best bb USING (series_id)),
{_sql_events_keyed("fl", "tevb", "is_anomaly", 3)},
{_sql_events_keyed("fl", "pevb", "flag", 3, min_len=2)},
lbase AS (SELECT DISTINCT series_id FROM s),
lnt AS (SELECT series_id, count(*) AS n_true_events FROM tevb GROUP BY 1),
lnp AS (SELECT series_id, count(*) AS n_pred_events FROM pevb GROUP BY 1),
lph AS (SELECT p.series_id, count(*) AS tp FROM pevb p
        WHERE EXISTS (SELECT 1 FROM tevb t WHERE t.series_id = p.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
lth AS (SELECT t.series_id, count(*) AS tp_recall FROM tevb t
        WHERE EXISTS (SELECT 1 FROM pevb p WHERE p.series_id = t.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
lm AS (
  SELECT b.series_id,
         coalesce(lnt.n_true_events, 0) AS n_true_events,
         coalesce(lnp.n_pred_events, 0) AS n_pred_events,
         coalesce(lph.tp, 0) AS tp, coalesce(lth.tp_recall, 0) AS tp_recall
  FROM lbase b LEFT JOIN lnt USING (series_id) LEFT JOIN lnp USING (series_id)
       LEFT JOIN lph USING (series_id) LEFT JOIN lth USING (series_id)),
ldur AS (SELECT series_id,
                (floor(epoch(max(timestamp))) - floor(epoch(min(timestamp))))
                / 86400.0 AS duration_days
         FROM s GROUP BY 1),
lthit AS (SELECT t.series_id, t.start_idx AS t_start,
                 min(p.start_idx) AS first_pred_start
          FROM tevb t JOIN pevb p ON p.series_id = t.series_id
               AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
          GROUP BY 1, 2),
llat AS (SELECT th.series_id,
                median((floor(epoch(sp.timestamp)) - floor(epoch(st.timestamp)))
                       / 60.0) AS median_latency_minutes
         FROM lthit th
         JOIN s st ON st.series_id = th.series_id AND st.rn = th.t_start
         JOIN s sp ON sp.series_id = th.series_id
              AND sp.rn = th.first_pred_start
         GROUP BY 1)
SELECT 'ar1' AS model, lm.series_id,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       n_true_events, n_pred_events,
       round(CASE WHEN ldur.duration_days > 0
                  THEN (n_pred_events - tp) / ldur.duration_days
                  ELSE 0.0 END, {R}) AS fp_per_day,
       round(llat.median_latency_minutes, {R}) AS median_latency_minutes
FROM lm LEFT JOIN ldur USING (series_id) LEFT JOIN llat USING (series_id)
"""


def q_hybrid_detection(spark, sf_dir):
    from ..pipelines import hybrid_pipeline

    res = hybrid_pipeline(_series(spark, sf_dir), period=24, k=4.0)
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_hybrid_detection_sql(spark, sf_dir):
    """The hybrid fusion plumbing (union + conditional-agg pivot +
    weighted fuse + threshold + persistence + event metrics) under a
    HARD oracle: every branch (ar1 / zscore / mad) is exact SQL
    algebra, so the whole ensemble DAG gets a DuckDB mirror (the
    stl/gp/ar variant stays rows-only — its branches are model UDFs)."""
    from ..pipelines import hybrid_pipeline

    res = hybrid_pipeline(
        _series(spark, sf_dir), models=("ar1", "zscore", "mad"), k=2.5
    )
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


# ---- hybrid_detection_sql: ar1 + zscore + mad branches, weighted fuse,
#      threshold, persistence, gap-merge, asymmetric event metrics ----
o_hybrid_detection_sql = f"""
WITH {SQL_S}, {SQL_TRUTH}, {SQL_MO}, {SQL_MAD},
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
  FROM lagged l JOIN fit f USING (series_id) WHERE l.prev IS NOT NULL),
amed AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
amad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN amed m USING (series_id) GROUP BY 1),
az AS (
  SELECT r.series_id, r.rn,
         abs(r.resid - m.med) / (1.4826 * d.mad + 1e-9) AS z
  FROM rsd r JOIN amed m USING (series_id) JOIN amad d USING (series_id)),
fz AS (
  SELECT t.series_id, t.rn, t.is_anomaly,
         CASE WHEN (1.0/3.0) * coalesce(az.z, 0.0)
                   + (1.0/3.0) * abs((t.value - mo2.mu) / (mo2.sd + 1e-9))
                   + (1.0/3.0) * md.z_mad > 2.5
              THEN 1 ELSE 0 END AS flag
  FROM truth t
  JOIN mo2 ON mo2.series_id = t.series_id
  JOIN mads md ON md.series_id = t.series_id AND md.rn = t.rn
  LEFT JOIN az ON az.series_id = t.series_id AND az.rn = t.rn),
{_sql_events_keyed("fz", "htev", "is_anomaly", 3)},
{_sql_events_keyed("fz", "hpev", "flag", 3, min_len=2)},
hbase AS (SELECT DISTINCT series_id FROM s),
hnt AS (SELECT series_id, count(*) AS n_true_events FROM htev GROUP BY 1),
hnp AS (SELECT series_id, count(*) AS n_pred_events FROM hpev GROUP BY 1),
hph AS (SELECT p.series_id, count(*) AS tp FROM hpev p
        WHERE EXISTS (SELECT 1 FROM htev t WHERE t.series_id = p.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
hth AS (SELECT t.series_id, count(*) AS tp_recall FROM htev t
        WHERE EXISTS (SELECT 1 FROM hpev p WHERE p.series_id = t.series_id
                      AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
        GROUP BY 1),
hm AS (
  SELECT b.series_id,
         coalesce(hnt.n_true_events, 0) AS n_true_events,
         coalesce(hnp.n_pred_events, 0) AS n_pred_events,
         coalesce(hph.tp, 0) AS tp, coalesce(hth.tp_recall, 0) AS tp_recall
  FROM hbase b LEFT JOIN hnt USING (series_id) LEFT JOIN hnp USING (series_id)
       LEFT JOIN hph USING (series_id) LEFT JOIN hth USING (series_id))
SELECT 'hybrid' AS model, series_id, tp,
       n_pred_events - tp AS fp,
       n_true_events - tp_recall AS fn,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1
FROM hm
"""


def q_hybrid_detection_bsts_lstm(spark, sf_dir):
    """The reference NOTEBOOK hybrid (results/hybrid metrics.json:
    weights {bsts: 0.5, lstm: 0.5}; columns z_bsts, z_lstm,
    hybrid_score): equal-weight fusion of the BSTS and LSTM residual
    z-scores through the shared detection/eval tail.  Rows-only (both
    branches are model UDFs; the fusion plumbing itself is hash-gated
    by hybrid_detection_sql)."""
    from ..pipelines import hybrid_pipeline

    res = hybrid_pipeline(
        _series(spark, sf_dir), period=24, models=("bsts", "lstm"),
        weights=(0.5, 0.5), k=4.0,
    )
    out = res["event_metrics"]
    return out.select(
        "model", "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


def q_forecast_accuracy(spark, sf_dir):
    """Forecast backtest table: AR(1) one-step predictions scored with
    MAE/RMSE/MAPE/sMAPE on the Test split — the accuracy columns a
    leaderboard carries next to the detection metrics."""
    from ...functions.ar import ar1_forecast_native
    from ...operators.evaluate import forecast_accuracy

    s = _series(spark, sf_dir)
    fc = fractional_split(ar1_forecast_native(s))
    out = forecast_accuracy(fc.filter(F.col("split") == "Test"))
    return out.select(
        "series_id", "n",
        _rnd("mae", R).alias("mae"),
        _rnd("rmse", R).alias("rmse"),
        _rnd("mape", R).alias("mape"),
        _rnd("smape", R).alias("smape"),
    )


# ---- forecast_accuracy: AR(1) test-split backtest metrics ----
o_forecast_accuracy = f"""
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
nn AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1),
fa AS (
  SELECT l.series_id, l.value AS a,
         f.icept + f.slope * l.prev AS p
  FROM lagged l JOIN fit f USING (series_id) JOIN nn USING (series_id)
  WHERE l.prev IS NOT NULL AND l.rn > floor(nn.n * 0.75)),
ag AS (
  SELECT series_id, count(*) AS n,
         CAST(sum(CAST(abs(a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sae,
         CAST(sum(CAST((a - p) * (a - p) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
         CAST(sum(CAST(abs(a - p) / (abs(a) + 1e-9) AS DECIMAL(38,12)))
              AS DOUBLE) AS sape,
         CAST(sum(CAST(2 * abs(a - p) / (abs(a) + abs(p) + 1e-9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ssm
  FROM fa GROUP BY 1)
SELECT series_id, n,
       round(sae / n, {R}) AS mae,
       round(sqrt(sse / n), {R}) AS rmse,
       round(sape / n, {R}) AS mape,
       round(ssm / n, {R}) AS smape
FROM ag
"""


def q_revenue_anomaly(spark, sf_dir):
    """Star-schema → time-series composition: daily revenue per region
    from the warehouse tables (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region), then the engine's native AR(1)+MAD anomaly scoring on the
    derived series — the end-to-end shape of a production metrics
    pipeline.

    Join strategy: nation/region are broadcast (tiny dims); customer
    rides AQE's broadcast decision (a dimension at test scale, a
    shuffle join at 100 TB); lineitem ⋈ orders is the fact-fact equi
    join on orderkey — co-partition/bucket both on orderkey at scale
    and this query's only big shuffle disappears.  The daily aggregate
    reduces the fact volume ~1000x before any window work.
    """
    from ...functions.ar import ar1_forecast_native
    from ...sources.loader import _as_timestamp, with_row_index

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            F.col("r_name").alias("series_id"),
            F.date_trunc("day", _as_timestamp(orders, "o_orderdate")).alias(
                "timestamp"
            ),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__amt"),
        )
        .groupBy("series_id", "timestamp")
        .agg(F.sum(F.col("__amt").cast(DEC_T)).cast("double").alias("value"))
    )
    # the derived series feeds the AR fit, the residual join, and the
    # two MAD aggregates — cache it or each consumer re-runs the whole
    # 5-table join + daily aggregate (observed: 6 copies of the star
    # join in the uncached plan)
    from ...session import eager_cache

    s = eager_cache(with_row_index(rev))
    scored = mad_scores(
        ar1_forecast_native(s), value_col="resid", out_col="score"
    )
    return scored.select(
        "series_id",
        "rn",
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
        _rnd("value", R).alias("revenue"),
        _rnd("score", R).alias("score"),
        F.when(F.col("score") > 3.0, 1).otherwise(0).alias("flag"),
    )


# ---- revenue_anomaly: star-schema joins -> daily revenue series ->
#      AR(1)+MAD scoring (mirrors q_revenue_anomaly) ----
o_revenue_anomaly = f"""
WITH rev AS (
  SELECT r.r_name AS series_id, date_trunc('day', o.o_orderdate) AS d,
         CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(38,12))) AS DOUBLE) AS value
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2),
sr AS (
  SELECT series_id, d, value,
         row_number() OVER (PARTITION BY series_id ORDER BY d) AS rn
  FROM rev),
lagged AS (
  SELECT series_id, rn, d, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY rn) AS prev
  FROM sr),
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
  SELECT l.series_id, l.rn, l.d, l.value,
         l.value - (f.icept + f.slope * l.prev) AS resid
  FROM lagged l JOIN fit f USING (series_id)),
rmed AS (SELECT series_id, median(resid) AS med FROM rsd GROUP BY 1),
rmad AS (
  SELECT r.series_id, median(abs(r.resid - m.med)) AS mad
  FROM rsd r JOIN rmed m USING (series_id) GROUP BY 1)
SELECT r.series_id, r.rn, strftime(r.d, '%Y-%m-%d') AS day,
       round(r.value, {R}) AS revenue,
       round(abs(r.resid - m.med) / (1.4826 * d2.mad + 1e-9), {R}) AS score,
       CASE WHEN abs(r.resid - m.med) / (1.4826 * d2.mad + 1e-9) > 3.0
            THEN 1 ELSE 0 END AS flag
FROM rsd r JOIN rmed m USING (series_id) JOIN rmad d2 USING (series_id)
"""
