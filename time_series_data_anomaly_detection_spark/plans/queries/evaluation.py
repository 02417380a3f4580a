"""Labels, events and their evaluation: label windows, flag runs merged
into events, point/event/business metrics, threshold sweeps and
precision-recall."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...operators.rolling import adaptive_threshold_flags
from ...operators.events import flags_to_events, persistence_filter
from ...operators.labeling import (
    mark_anomaly_windows,
    mark_top_value_windows,
    top_value_labels,
)
from ...operators.splits import fractional_split
from ...operators.evaluate import (
    average_precision,
    business_metrics,
    event_level_metrics,
    pointwise_metrics,
    pr_curve,
)
from ...operators.sweep import threshold_sweep_event, threshold_sweep_pointwise
from ..._exact import DEC as DEC_T
from ._shared import (
    R,
    SQL_FLAGS,
    SQL_MAD,
    SQL_ROLL,
    SQL_S,
    SQL_TRUTH,
    _KS,
    _rnd,
    _scored_with_truth,
    _series,
    _sql_events_keyed,
)


def _truth_and_flags(spark, sf_dir):
    # k=2.0: at k=3 + persistence the synthetic series yield zero
    # predicted events and every metric degenerates to 0
    s = _series(spark, sf_dir)
    # fused zero-join marker: same values as top_value_labels +
    # mark_anomaly_windows, none of their broadcast-build jobs
    lab = mark_top_value_windows(s, 5, 3)
    flagged = persistence_filter(adaptive_threshold_flags(lab, k=2.0), "flag", p=2)
    # consumed 3-5× downstream (truth events, pred events, base,
    # latency row lookups) — materialize the window pipeline once,
    # EAGERLY (a lazy cache is raced by concurrent consumer stages)
    from ...session import eager_cache
    return eager_cache(flagged)


SQL_FLAGS_K2 = """
flags2 AS (
  SELECT series_id, timestamp, rn, value,
         CASE WHEN abs(value - roll_mean) > 2.0 * (roll_std + 1e-6)
              THEN 1 ELSE 0 END AS flag
  FROM roll
)
"""


_EVENT_TABLES = (
    _sql_events_keyed("truth", "tev", "is_anomaly", 3)
    + ","
    + _sql_events_keyed("flags", "pev", "flag", 3)
)


SQL_PR = """
prj AS (
  SELECT m.series_id, m.z_mad AS score, t.is_anomaly AS y
  FROM mads m JOIN truth t USING (series_id, rn)
),
prcum AS (
  SELECT series_id, score,
         sum(y) OVER w AS cum_tp,
         count(*) OVER w - sum(y) OVER w AS cum_fp,
         sum(y) OVER (PARTITION BY series_id) AS n_pos
  FROM prj
  WINDOW w AS (PARTITION BY series_id ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
prt AS (
  SELECT series_id, score,
         CAST(max(cum_tp) AS BIGINT) AS tp,
         CAST(max(cum_fp) AS BIGINT) AS fp,
         CAST(max(n_pos) AS BIGINT) AS n_pos
  FROM prcum GROUP BY 1, 2
)
"""


def q_fractional_split(spark, sf_dir):
    s = _series(spark, sf_dir)
    return fractional_split(s).select("series_id", "rn", "split")


o_fractional_split = f"""
WITH {SQL_S},
n AS (SELECT series_id, max(rn) AS n FROM s GROUP BY 1)
SELECT s.series_id, s.rn,
       CASE WHEN s.rn <= floor(n.n * 0.5) THEN 'Train'
            WHEN s.rn <= floor(n.n * 0.75) THEN 'Validation'
            ELSE 'Test' END AS split
FROM s JOIN n USING (series_id)
"""


def q_label_windows(spark, sf_dir):
    s = _series(spark, sf_dir)
    labels = top_value_labels(s, 5)
    return mark_anomaly_windows(s, labels, 3).select("series_id", "rn", "is_anomaly")


o_label_windows = f"""
WITH {SQL_S}, {SQL_TRUTH}
SELECT series_id, rn, is_anomaly FROM truth
"""


def q_detect_events(spark, sf_dir):
    # k=2.0 without persistence so runs/merges are actually exercised
    s = _series(spark, sf_dir)
    flagged = adaptive_threshold_flags(s, k=2.0)
    return flags_to_events(flagged, "flag", gap=3).select(
        "series_id", "event_id", "start_idx", "end_idx"
    )


o_detect_events = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS_K2}, {_sql_events_keyed("flags2", "ev", "flag", 3)}
SELECT series_id, event_id, start_idx, end_idx FROM ev
"""


def q_pointwise_metrics(spark, sf_dir):
    out = pointwise_metrics(_truth_and_flags(spark, sf_dir))
    return out.select(
        "series_id", "tp", "fp", "fn",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


o_pointwise_metrics = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS},
j AS (SELECT t.series_id, t.is_anomaly AS y, f.flag AS p
      FROM truth t JOIN flags f USING (series_id, rn)),
c AS (SELECT series_id,
             CAST(sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM j GROUP BY 1)
SELECT series_id, tp, fp, fn,
       round(tp / (tp + fp + 1e-9), {R}) AS precision,
       round(tp / (tp + fn + 1e-9), {R}) AS recall,
       round(2 * (tp/(tp+fp+1e-9)) * (tp/(tp+fn+1e-9))
             / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9), {R}) AS f1
FROM c
"""


def q_event_metrics(spark, sf_dir):
    out = event_level_metrics(_truth_and_flags(spark, sf_dir), gap=3)
    return out.select(
        "series_id", "tp", "fp", "fn", "n_true_events", "n_pred_events",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
        _rnd("f1", R).alias("f1"),
    )


o_event_metrics = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS}, {_EVENT_TABLES},
base AS (SELECT DISTINCT series_id FROM s),
nt AS (SELECT series_id, count(*) AS n_true_events FROM tev GROUP BY 1),
np AS (SELECT series_id, count(*) AS n_pred_events FROM pev GROUP BY 1),
ph AS (SELECT p.series_id, count(*) AS tp FROM pev p
       WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
th AS (SELECT t.series_id, count(*) AS tp_recall FROM tev t
       WHERE EXISTS (SELECT 1 FROM pev p WHERE p.series_id = t.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
m AS (
  SELECT b.series_id,
         coalesce(nt.n_true_events, 0) AS n_true_events,
         coalesce(np.n_pred_events, 0) AS n_pred_events,
         coalesce(ph.tp, 0) AS tp, coalesce(th.tp_recall, 0) AS tp_recall
  FROM base b LEFT JOIN nt USING (series_id) LEFT JOIN np USING (series_id)
       LEFT JOIN ph USING (series_id) LEFT JOIN th USING (series_id))
SELECT series_id, tp, n_pred_events - tp AS fp,
       n_true_events - tp_recall AS fn, n_true_events, n_pred_events,
       round(tp / (n_pred_events + 1e-9), {R}) AS precision,
       round(tp_recall / (n_true_events + 1e-9), {R}) AS recall,
       round(2 * (tp/(n_pred_events+1e-9)) * (tp_recall/(n_true_events+1e-9))
             / ((tp/(n_pred_events+1e-9)) + (tp_recall/(n_true_events+1e-9))
                + 1e-9), {R}) AS f1
FROM m
"""


def q_business_metrics(spark, sf_dir):
    out = business_metrics(_truth_and_flags(spark, sf_dir), gap=3)
    return out.select(
        "series_id", "fp_count",
        _rnd("duration_days", R).alias("duration_days"),
        _rnd("fp_per_day", R).alias("fp_per_day"),
        _rnd("median_latency_minutes", R).alias("median_latency_minutes"),
    )


o_business_metrics = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_TRUTH}, {SQL_FLAGS}, {_EVENT_TABLES},
base AS (SELECT DISTINCT series_id FROM s),
np AS (SELECT series_id, count(*) AS n_pred_events FROM pev GROUP BY 1),
ph AS (SELECT p.series_id, count(*) AS tp FROM pev p
       WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                     AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
       GROUP BY 1),
dur AS (SELECT series_id,
               (floor(epoch(max(timestamp))) - floor(epoch(min(timestamp))))
               / 86400.0 AS duration_days
        FROM s GROUP BY 1),
th AS (SELECT t.series_id, t.start_idx AS t_start,
              min(p.start_idx) AS first_pred_start
       FROM tev t JOIN pev p ON p.series_id = t.series_id
            AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
       GROUP BY 1, 2),
lat AS (SELECT th.series_id,
               median((floor(epoch(sp.timestamp)) - floor(epoch(st.timestamp)))
                      / 60.0) AS median_latency_minutes
        FROM th
        JOIN s st ON st.series_id = th.series_id AND st.rn = th.t_start
        JOIN s sp ON sp.series_id = th.series_id AND sp.rn = th.first_pred_start
        GROUP BY 1)
SELECT b.series_id,
       coalesce(np.n_pred_events, 0) - coalesce(ph.tp, 0) AS fp_count,
       round(dur.duration_days, {R}) AS duration_days,
       round(CASE WHEN dur.duration_days > 0
                  THEN (coalesce(np.n_pred_events,0) - coalesce(ph.tp,0))
                       / dur.duration_days
                  ELSE 0.0 END, {R}) AS fp_per_day,
       round(lat.median_latency_minutes, {R}) AS median_latency_minutes
FROM base b LEFT JOIN np USING (series_id) LEFT JOIN ph USING (series_id)
     LEFT JOIN dur USING (series_id) LEFT JOIN lat USING (series_id)
"""


def q_threshold_sweep(spark, sf_dir):
    out = threshold_sweep_pointwise(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("best_k", R).alias("best_k"),
        _rnd("f1", R).alias("f1"),
        _rnd("rate", R).alias("rate"),
    )


o_threshold_sweep = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH},
grid AS (SELECT unnest([{_KS}]) AS k),
fl AS (SELECT m.series_id, g.k, t.is_anomaly AS y,
              CASE WHEN m.z_mad > g.k THEN 1 ELSE 0 END AS p
       FROM mads m JOIN truth t USING (series_id, rn) CROSS JOIN grid g),
per_k AS (SELECT series_id, k,
                 sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS fn,
                 avg(p) AS rate
          FROM fl GROUP BY 1, 2),
scored AS (SELECT *,
                  tp/(tp+fp+1e-9) AS precision, tp/(tp+fn+1e-9) AS recall,
                  2*(tp/(tp+fp+1e-9))*(tp/(tp+fn+1e-9))
                  / ((tp/(tp+fp+1e-9)) + (tp/(tp+fn+1e-9)) + 1e-9) AS f1
           FROM per_k WHERE rate <= 0.10),
ranked AS (SELECT *, row_number() OVER (PARTITION BY series_id
                                        ORDER BY f1 DESC, k ASC) AS rk
           FROM scored)
SELECT series_id, round(k, {R}) AS best_k, round(f1, {R}) AS f1,
       round(rate, {R}) AS rate
FROM ranked WHERE rk = 1
"""


def q_threshold_sweep_event(spark, sf_dir):
    out = threshold_sweep_event(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("best_k", R).alias("best_k"),
        _rnd("f1", R).alias("f1"),
        _rnd("rate", R).alias("rate"),
    )


o_threshold_sweep_event = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH},
{_sql_events_keyed("truth", "tev", "is_anomaly", 3)},
grid AS (SELECT unnest([{_KS}]) AS k),
fl0 AS (
  SELECT m.series_id, m.rn, g.k,
         CASE WHEN m.z_mad > g.k THEN 1 ELSE 0 END AS f
  FROM mads m CROSS JOIN grid g
),
pmark AS (
  SELECT *, sum(chg) OVER (PARTITION BY series_id, k ORDER BY rn) AS run_id
  FROM (
    SELECT *, CASE WHEN lag(f) OVER w IS NULL OR f <> lag(f) OVER w
                   THEN 1 ELSE 0 END AS chg
    FROM fl0
    WINDOW w AS (PARTITION BY series_id, k ORDER BY rn)
  )
),
pers AS (
  SELECT series_id, rn, k,
         CASE WHEN f = 1
                   AND count(*) OVER (PARTITION BY series_id, k, run_id) < 2
              THEN 0 ELSE f END AS f
  FROM pmark
),
rate AS (SELECT series_id, k, avg(f) AS rate FROM pers GROUP BY 1, 2),
prle AS (
  SELECT series_id, k, run_id, min(rn) AS start_idx, max(rn) AS end_idx
  FROM (
    SELECT series_id, rn, k, f,
           sum(chg) OVER (PARTITION BY series_id, k ORDER BY rn) AS run_id
    FROM (
      SELECT series_id, rn, k, f,
             CASE WHEN lag(f) OVER w IS NULL OR f <> lag(f) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM pers
      WINDOW w AS (PARTITION BY series_id, k ORDER BY rn)
    )
  ) WHERE f = 1
  GROUP BY series_id, k, run_id
),
pev AS (
  SELECT series_id, k, min(start_idx) AS start_idx, max(end_idx) AS end_idx
  FROM (
    SELECT series_id, k, start_idx, end_idx,
           sum(brk) OVER (PARTITION BY series_id, k ORDER BY start_idx) AS evt
    FROM (
      SELECT *, CASE WHEN lag(end_idx) OVER we IS NULL
                      OR start_idx - lag(end_idx) OVER we > 4
                     THEN 1 ELSE 0 END AS brk
      FROM prle
      WINDOW we AS (PARTITION BY series_id, k ORDER BY start_idx)
    )
  )
  GROUP BY series_id, k, evt
),
ntr AS (SELECT series_id, count(*) AS n_true FROM tev GROUP BY 1),
npd AS (SELECT series_id, k, count(*) AS n_pred FROM pev GROUP BY 1, 2),
tpp AS (
  SELECT p.series_id, p.k, count(*) AS tp FROM pev p
  WHERE EXISTS (SELECT 1 FROM tev t WHERE t.series_id = p.series_id
                AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx)
  GROUP BY 1, 2
),
tpr AS (
  SELECT p.series_id, p.k, count(DISTINCT t.event_id) AS tp_recall
  FROM pev p JOIN tev t ON t.series_id = p.series_id
       AND p.end_idx >= t.start_idx AND p.start_idx <= t.end_idx
  GROUP BY 1, 2
),
m AS (
  SELECT r.series_id, r.k, r.rate,
         coalesce(npd.n_pred, 0) AS n_pred,
         coalesce(tpp.tp, 0) AS tp,
         coalesce(tpr.tp_recall, 0) AS tp_recall,
         coalesce(ntr.n_true, 0) AS n_true
  FROM rate r
  LEFT JOIN npd USING (series_id, k)
  LEFT JOIN tpp USING (series_id, k)
  LEFT JOIN tpr USING (series_id, k)
  LEFT JOIN ntr USING (series_id)
),
sc AS (
  SELECT *,
         tp / (n_pred + 1e-9) AS precision,
         tp_recall / (n_true + 1e-9) AS recall,
         2 * (tp/(n_pred+1e-9)) * (tp_recall/(n_true+1e-9))
         / ((tp/(n_pred+1e-9)) + (tp_recall/(n_true+1e-9)) + 1e-9) AS f1
  FROM m WHERE rate <= 0.10
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY series_id
                               ORDER BY f1 DESC, k ASC) AS rk
  FROM sc
)
SELECT series_id, round(k, {R}) AS best_k, round(f1, {R}) AS f1,
       round(rate, {R}) AS rate
FROM ranked WHERE rk = 1
"""


def q_pr_curve(spark, sf_dir):
    out = pr_curve(_scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly")
    return out.select(
        "series_id",
        _rnd("threshold", R).alias("threshold"),
        "tp", "fp",
        _rnd("precision", R).alias("precision"),
        _rnd("recall", R).alias("recall"),
    )


o_pr_curve = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH}, {SQL_PR}
SELECT series_id, round(score, {R}) AS threshold, tp, fp,
       round(tp * 1.0 / (tp + fp), {R}) AS precision,
       round(tp / (n_pos + 1e-9), {R}) AS recall
FROM prt
"""


def q_average_precision(spark, sf_dir):
    out = average_precision(
        _scored_with_truth(spark, sf_dir), "z_mad", "is_anomaly"
    )
    return out.select(
        "series_id",
        _rnd("average_precision", R).alias("average_precision"),
    )


o_average_precision = f"""
WITH {SQL_S}, {SQL_MAD}, {SQL_TRUTH}, {SQL_PR},
stepped AS (
  SELECT series_id,
         tp * 1.0 / (tp + fp) AS precision,
         tp / (n_pos + 1e-9) AS recall,
         coalesce(lag(tp / (n_pos + 1e-9))
                  OVER (PARTITION BY series_id ORDER BY score DESC), 0.0)
           AS prev_recall
  FROM prt
)
SELECT series_id,
       round(CAST(sum(CAST((recall - prev_recall) * precision
                           AS DECIMAL(38,12))) AS DOUBLE), {R})
         AS average_precision
FROM stepped GROUP BY 1
"""


def q_asof_last_label(spark, sf_dir):
    """Generic as-of join (J1's general form): every row enriched with
    the most recent label anchor at or before it — "rows since the
    last labeled anomaly".  Spark side is the union + forward-fill
    pattern (ONE shuffle, no range join); the oracle is DuckDB's
    native ASOF LEFT JOIN — maximally different implementations
    agreeing is the point of the gate."""
    from ...operators.asof import asof_join

    s = _series(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy(
        F.col("value").desc(), "timestamp", "event_id"
    )
    lab = (
        s.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 5)
        .select("series_id", "rn", F.col("rn").alias("anchor_rn"))
    )
    out = asof_join(
        s.select("series_id", "rn"), lab, on="rn", by="series_id",
        payload=["anchor_rn"],
    )
    return out.select(
        "series_id", "rn",
        F.col("anchor_rn_asof").alias("last_anchor"),
        (F.col("rn") - F.col("anchor_rn_asof")).alias("rows_since"),
    )


o_asof_last_label = f"""
WITH {SQL_S},
lab AS (
  SELECT series_id, rn AS anchor FROM (
    SELECT series_id, rn,
           row_number() OVER (PARTITION BY series_id
                              ORDER BY value DESC, timestamp, event_id) AS rk
    FROM s) t
  WHERE rk <= 5
)
SELECT s.series_id, s.rn,
       l.anchor AS last_anchor,
       s.rn - l.anchor AS rows_since
FROM s ASOF LEFT JOIN lab l
  ON s.series_id = l.series_id AND s.rn >= l.anchor
"""


def q_event_impact(spark, sf_dir):
    """Per-event impact quantification: every detected event (W5
    pipeline, same k=2 flags and gap-merge as ``detect_events``)
    enriched with its pre/during/post context-window means and the
    impact/recovery deltas — the "how big and did it recover" numbers
    analysts read off the reference's event plots
    (``src/plotting.py``).  Scale shape: the event table is tiny and
    rides a broadcast equi-join on series_id with the rn range as a
    post-filter; the decimal-sum means hash-gate."""
    ctx = 24
    s = _series(spark, sf_dir)
    flagged = adaptive_threshold_flags(s, k=2.0)
    # rename the event side before joining: ev derives from s, so a
    # direct self-join column reference would be ambiguous
    ev = flags_to_events(flagged, "flag", gap=3).select(
        F.col("series_id").alias("__esid"),
        F.col("event_id").alias("__eid"),
        "start_idx", "end_idx",
    )
    j = s.join(
        F.broadcast(ev),
        on=[
            F.col("series_id") == F.col("__esid"),
            F.col("rn") >= F.col("start_idx") - ctx,
            F.col("rn") <= F.col("end_idx") + ctx,
        ],
    ).select(
        "series_id",
        F.col("__eid").alias("evt_id"), "start_idx", "end_idx", "rn", "value",
        F.when(F.col("rn") < F.col("start_idx"), "pre")
        .when(F.col("rn") <= F.col("end_idx"), "during")
        .otherwise("post")
        .alias("role"),
    )

    def _mean(role):
        cnt = F.sum(F.when(F.col("role") == role, 1).otherwise(0)).cast("long")
        s1 = F.sum(
            F.when(F.col("role") == role, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast(DEC_T)
        ).cast("double")
        return cnt, s1

    npre, spre = _mean("pre")
    ndur, sdur = _mean("during")
    npost, spost = _mean("post")
    agg = j.groupBy("series_id", "evt_id", "start_idx", "end_idx").agg(
        npre.alias("n_pre"), spre.alias("__spre"),
        ndur.alias("__ndur"), sdur.alias("__sdur"),
        npost.alias("n_post"), spost.alias("__spost"),
    )
    pre_m = F.when(F.col("n_pre") > 0, F.col("__spre") / F.col("n_pre"))
    dur_m = F.col("__sdur") / F.col("__ndur")
    post_m = F.when(F.col("n_post") > 0, F.col("__spost") / F.col("n_post"))
    return agg.select(
        "series_id", F.col("evt_id").alias("event_id"), "start_idx", "end_idx",
        (F.col("end_idx") - F.col("start_idx") + 1).cast("long").alias("duration"),
        "n_pre", "n_post",
        _rnd(pre_m, R).alias("pre_mean"),
        _rnd(dur_m, R).alias("during_mean"),
        _rnd(post_m, R).alias("post_mean"),
        _rnd(dur_m - pre_m, R).alias("impact"),
        _rnd(post_m - pre_m, R).alias("recovery"),
    )


o_event_impact = f"""
WITH {SQL_S}, {SQL_ROLL}, {SQL_FLAGS_K2},
{_sql_events_keyed("flags2", "ev", "flag", 3)},
jx AS (
  SELECT ev.series_id, ev.event_id, ev.start_idx, ev.end_idx,
         s.rn, s.value,
         CASE WHEN s.rn < ev.start_idx THEN 'pre'
              WHEN s.rn <= ev.end_idx THEN 'during'
              ELSE 'post' END AS role
  FROM s JOIN ev ON s.series_id = ev.series_id
   AND s.rn >= ev.start_idx - 24 AND s.rn <= ev.end_idx + 24),
ag AS (
  SELECT series_id, event_id, start_idx, end_idx,
    CAST(sum(CASE WHEN role = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
    CAST(sum(CAST(CASE WHEN role = 'pre' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS spre,
    CAST(sum(CASE WHEN role = 'during' THEN 1 ELSE 0 END) AS BIGINT) AS ndur,
    CAST(sum(CAST(CASE WHEN role = 'during' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS sdur,
    CAST(sum(CASE WHEN role = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
    CAST(sum(CAST(CASE WHEN role = 'post' THEN value ELSE 0.0 END
                  AS DECIMAL(38,12))) AS DOUBLE) AS spost
  FROM jx GROUP BY 1, 2, 3, 4),
fin AS (
  SELECT series_id, event_id, start_idx, end_idx,
         CAST(end_idx - start_idx + 1 AS BIGINT) AS duration,
         n_pre, n_post,
         CASE WHEN n_pre > 0 THEN spre / n_pre END AS pre_mean,
         sdur / ndur AS during_mean,
         CASE WHEN n_post > 0 THEN spost / n_post END AS post_mean
  FROM ag)
SELECT series_id, event_id, start_idx, end_idx, duration, n_pre, n_post,
       round(pre_mean, {R}) AS pre_mean,
       round(during_mean, {R}) AS during_mean,
       round(post_mean, {R}) AS post_mean,
       round(during_mean - pre_mean, {R}) AS impact,
       round(post_mean - pre_mean, {R}) AS recovery
FROM fin
"""
