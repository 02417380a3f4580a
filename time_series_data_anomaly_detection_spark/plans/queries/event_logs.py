"""Event-log analytics over ``events``: sessions, JSON properties, funnels,
rollups and retention cohorts."""

from __future__ import annotations

from ._shared import R, _rnd


def q_user_sessions(spark, sf_dir):
    """Time-gap sessionization of per-user event streams (30-min gap):
    the batch mirror of Structured Streaming's session window."""
    from ...datapipe.events import load_events, user_sessions

    out = user_sessions(load_events(spark, sf_dir), gap_seconds=1800)
    return out.select(
        "user_id", "session_id", "start_s", "end_s", "n_events",
        _rnd("total_value", R).alias("total_value"),
        _rnd("duration_min", R).alias("duration_min"),
    )


# time-gap sessionization — mirrors datapipe.events.user_sessions
# (epoch SECONDS as long on both sides; the windowed session counter is
# CAST to BIGINT: DuckDB windowed sum(int) is HUGEINT -> pandas float64)
o_user_sessions = f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
  FROM events
),
m AS (
  SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                  OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
                 AS BIGINT) AS session_id
  FROM m
)
SELECT user_id, session_id,
       min(ts_s) AS start_s, max(ts_s) AS end_s,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE), {R})
         AS total_value,
       round((max(ts_s) - min(ts_s)) / 60.0, {R}) AS duration_min
FROM sess GROUP BY 1, 2
"""


def q_props_stats(spark, sf_dir):
    """Semi-structured extraction: integer field k out of the JSON
    props column, aggregated per event_type."""
    from ...datapipe.events import load_events, props_field_stats

    out = props_field_stats(load_events(spark, sf_dir))
    return out.select(
        "event_type", "n", "total",
        _rnd("mean", R).alias("mean"),
        "vmin", "vmax",
    )


# JSON props extraction — mirrors datapipe.events.props_field_stats
o_props_stats = f"""
WITH x AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS v
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(v) AS BIGINT) AS total,
       round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*), {R})
         AS mean,
       min(v) AS vmin, max(v) AS vmax
FROM x WHERE v IS NOT NULL GROUP BY 1
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def q_session_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase) over
    30-min sessions: sessions reaching each step, in order."""
    from ...datapipe.events import load_events, session_funnel

    return session_funnel(
        load_events(spark, sf_dir), steps=FUNNEL_STEPS, gap_seconds=1800
    ).select("step_idx", "step", "n_sessions", "conversion")


# ordered conversion funnel — same sessionization CTEs as
# user_sessions, then per-session first-occurrence pivot + ordered
# prefix conditions
o_session_funnel = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
m AS (
  SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                  OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
                 AS BIGINT) AS session_id
  FROM m
),
firsts AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts_s END) AS t0,
         min(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' THEN ts_s END) AS t1,
         min(CASE WHEN event_type = '{FUNNEL_STEPS[2]}' THEN ts_s END) AS t2
  FROM sess GROUP BY 1, 2
),
c AS (
  SELECT
    CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r0,
    CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                  THEN 1 ELSE 0 END) AS BIGINT) AS r1,
    CAST(sum(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                   AND t2 IS NOT NULL AND t2 >= t1
                  THEN 1 ELSE 0 END) AS BIGINT) AS r2
  FROM firsts
)
SELECT 1 AS step_idx, '{FUNNEL_STEPS[0]}' AS step, r0 AS n_sessions,
       round(r0 / (r0 + 1e-9), {R}) AS conversion FROM c
UNION ALL
SELECT 2, '{FUNNEL_STEPS[1]}', r1, round(r1 / (r0 + 1e-9), {R}) FROM c
UNION ALL
SELECT 3, '{FUNNEL_STEPS[2]}', r2, round(r2 / (r0 + 1e-9), {R}) FROM c
"""


def q_event_rollup(spark, sf_dir):
    """Multi-level OLAP rollup: (event_type, day) / (event_type) /
    grand total in one grouping-sets shuffle, with exact-distinct user
    counts and exact-decimal value totals."""
    from ...datapipe.events import event_rollup, load_events

    out = event_rollup(load_events(spark, sf_dir))
    return out.select(
        "event_type", "day", "gid", "n_events", "n_users",
        _rnd("total_value", R).alias("total_value"),
    )


# multi-level rollup — mirrors datapipe.events.event_rollup
# (GROUP BY ROLLUP is one grouping-sets aggregate on both engines; the
# day string comes from the same UTC epoch-seconds reduction)
o_event_rollup = f"""
WITH ev AS (
  SELECT event_type,
         CAST(DATE '1970-01-01'
              + CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS INTEGER)
              AS VARCHAR) AS day,
         user_id, CAST(value AS DECIMAL(38,12)) AS val
  FROM events
)
SELECT event_type, day,
       CAST(grouping(event_type) * 2 + grouping(day) AS INTEGER) AS gid,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(CAST(sum(val) AS DOUBLE), {R}) AS total_value
FROM ev GROUP BY ROLLUP(event_type, day)
"""


RETENTION_PERIOD_S = 86400  # daily cohorts (30-day span -> dense matrix)


def q_retention_cohorts(spark, sf_dir):
    """Daily cohort retention matrix over the events table (integer
    epoch-period math — no calendar functions)."""
    from ...datapipe.events import load_events, retention_cohorts

    out = retention_cohorts(
        load_events(spark, sf_dir), period_seconds=RETENTION_PERIOD_S
    )
    return out.select(
        "cohort", "offset", "n_active", "cohort_size",
        _rnd("retention", R).alias("retention"),
    )


# daily retention cohorts — integer epoch-period math, mirrors
# datapipe.events.retention_cohorts
o_retention_cohorts = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
),
b AS (
  SELECT user_id,
         CAST(floor(ts_s / {RETENTION_PERIOD_S}) AS BIGINT) AS b
  FROM ev
),
c AS (
  SELECT user_id, b, min(b) OVER (PARTITION BY user_id) AS cohort FROM b
),
act AS (SELECT DISTINCT user_id, cohort, b - cohort AS "offset" FROM c),
sizes AS (
  SELECT cohort, count(*) AS cohort_size
  FROM act WHERE "offset" = 0 GROUP BY 1
),
ret AS (
  SELECT cohort, "offset", count(*) AS n_active
  FROM act GROUP BY 1, 2
)
SELECT r.cohort, r."offset" AS "offset",
       CAST(r.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(r.n_active * 1.0 / s.cohort_size, {R}) AS retention
FROM ret r JOIN sizes s ON s.cohort = r.cohort
"""
