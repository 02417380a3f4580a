"""Evaluation suite: pointwise, event-level, and business metrics.

Reference: ``src/evaluate.py`` —
- A1 ``precision_recall_f1`` (:6-17): confusion counts with the exact
  epsilon placement ``tp/(tp+fp+1e-9)``, ``f1 = 2PR/(P+R+1e-9)``.
- A2 ``compute_event_level_metrics`` (:65-123): ASYMMETRIC event TP —
  precision counts predicted events overlapping ANY true event
  (``not (pe < ts or ps > te)``), recall counts true events overlapped
  by ANY predicted event; ``fp = n_pred - tp``, ``fn = n_true -
  tp_recall``.
- A3 ``compute_business_metrics`` (:148-207): FP events per day
  (duration from first/last timestamp) and median latency in minutes
  (per true event, earliest overlapping predicted event's start minus
  true start; can be negative).

Spark-first shape: both event tables are tiny (one row per run), so the
interval-overlap theta joins are broadcast nested-loop joins over
frames of ~10s of rows per series — negligible next to the points
scan.  All metrics come out as one row per series (a DataFrame, not a
dict), which is what a 1M-series cluster run needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .events import flags_to_events

EPS = 1e-9


KEYS = ("series_id",)


def pointwise_metrics(
    df: DataFrame,
    truth_col: str = "is_anomaly",
    pred_col: str = "flag",
    keys: tuple = KEYS,
) -> DataFrame:
    """A1: per-series confusion counts + precision/recall/f1.

    ``keys`` generalizes the grouping so fused multi-model / multi-fold
    DAGs (one frame keyed by (series_id, model) or (series_id, fold))
    evaluate every cell in ONE aggregation pass instead of one DAG per
    cell.
    """
    y, p = F.col(truth_col), F.col(pred_col)
    agg = df.groupBy(*keys).agg(
        F.sum(((y == 1) & (p == 1)).cast("int")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("int")).alias("fp"),
        F.sum(((y == 1) & (p == 0)).cast("int")).alias("fn"),
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp") + F.lit(EPS))
    rec = F.col("tp") / (F.col("tp") + F.col("fn") + F.lit(EPS))
    out = agg.withColumn("precision", prec).withColumn("recall", rec)
    return out.withColumn(
        "f1",
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall") + F.lit(EPS)),
    )


def _event_pairs(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
    gap: int,
    keys: tuple = KEYS,
    persist_p: int = 1,
    carry_ts: bool = False,
) -> DataFrame:
    """ONE full-outer overlap join between the two event tables.

    Every true and predicted event appears at least once (unmatched side
    null); overlapping pairs appear as joined rows.  Overlap predicate
    is the reference's ``not (pe < ts or ps > te)`` ⇔
    ``pe >= ts AND ps <= te``.  All downstream event/business metrics
    are aggregations over this single tiny frame — one join pass where
    the previous shape ran two overlap joins plus four count
    aggregations (measured 2× fewer stages per metrics call at sf0.1).
    """
    from .events import merge_runs, raw_runs

    ts_cols_t = [F.col("start_ts").alias("t_start_ts")] if carry_ts else []
    ts_cols_p = [F.col("start_ts").alias("p_start_ts")] if carry_ts else []
    t = flags_to_events(df, truth_col, gap=gap, keys=keys, carry_ts=carry_ts).select(
        *[F.col(k).alias(f"t_{k}") for k in keys],
        F.col("event_id").alias("t_eid"),
        F.col("start_idx").alias("t_start"),
        F.col("end_idx").alias("t_end"),
        *ts_cols_t,
    )
    # W6 persistence applied on the RUN table: zeroing 1-runs shorter
    # than p then re-sessionizing ≡ dropping short raw runs before the
    # gap-merge — a filter on a tiny frame instead of 3 more window
    # passes over the full points frame (persistence_filter remains for
    # callers that need the row-level flags, e.g. prediction sinks)
    p_runs = raw_runs(df, pred_col, keys=keys, carry_ts=carry_ts)
    if persist_p > 1:
        p_runs = p_runs.filter(
            F.col("end_idx") - F.col("start_idx") + 1 >= persist_p
        )
    p = merge_runs(p_runs, gap=gap, keys=keys).select(
        *[F.col(k).alias(f"p_{k}") for k in keys],
        F.col("event_id").alias("p_eid"),
        F.col("start_idx").alias("p_start"),
        F.col("end_idx").alias("p_end"),
        *ts_cols_p,
    )
    overlap = (F.col("p_end") >= F.col("t_start")) & (
        F.col("p_start") <= F.col("t_end")
    )
    cond = [F.col(f"p_{k}") == F.col(f"t_{k}") for k in keys] + [overlap]
    out = t.join(p, on=cond, how="full_outer")
    for k in keys:
        out = out.withColumn(k, F.coalesce(F.col(f"t_{k}"), F.col(f"p_{k}")))
    return out


def _event_counts(pairs: DataFrame, keys: tuple = KEYS) -> DataFrame:
    """Per-series existential counts from the pair frame: distinct
    events per side, and distinct events with ≥1 overlap partner
    (the reference's asymmetric TP, ``src/evaluate.py:77-100``)."""
    return pairs.groupBy(*keys).agg(
        F.countDistinct("t_eid").alias("n_true_events"),
        F.countDistinct("p_eid").alias("n_pred_events"),
        F.countDistinct(
            F.when(F.col("t_eid").isNotNull(), F.col("p_eid"))
        ).alias("tp"),
        F.countDistinct(
            F.when(F.col("p_eid").isNotNull(), F.col("t_eid"))
        ).alias("tp_recall"),
    )


def _duration_days(df: DataFrame, keys: tuple) -> DataFrame:
    """Per-series span from first to last timestamp, in days."""
    return df.groupBy(*keys).agg(
        (
            (F.unix_timestamp(F.max("timestamp")) - F.unix_timestamp(F.min("timestamp")))
            / F.lit(86400.0)
        ).alias("duration_days")
    )


def _median_latency(pairs: DataFrame, keys: tuple) -> DataFrame:
    """Per-series median detection latency in minutes, from the pair frame.

    The run tables carry their start timestamps (aggregated for free in
    raw_runs' single points pass), so latency is pure event-table
    algebra: no join back to the points frame (at 100x each join-back
    was a second full scan + shuffle of the fact table; this was the
    most expensive query in BENCH_r01 at 16.6s for that reason).
    min(p_start_ts) is the timestamp of min(p_start): both monotone.
    """
    return (
        pairs.filter(F.col("t_eid").isNotNull() & F.col("p_eid").isNotNull())
        .groupBy(*keys, "t_eid", "t_start_ts")
        .agg(F.min("p_start_ts").alias("pred_ts"))
        .withColumn(
            "latency_min",
            (F.unix_timestamp("pred_ts") - F.unix_timestamp("t_start_ts"))
            / F.lit(60.0),
        )
        .groupBy(*keys)
        .agg(F.percentile(F.col("latency_min"), F.lit(0.5)).alias("median_latency_minutes"))
    )


def _with_event_prf(out: DataFrame) -> DataFrame:
    """fp, fn and event P/R/F1 columns from the ``_event_counts`` columns."""
    return (
        out.withColumn("fp", F.col("n_pred_events") - F.col("tp"))
        .withColumn("fn", F.col("n_true_events") - F.col("tp_recall"))
        .withColumn(
            "precision", F.col("tp") / (F.col("n_pred_events") + F.lit(EPS))
        )
        .withColumn(
            "recall", F.col("tp_recall") / (F.col("n_true_events") + F.lit(EPS))
        )
        .withColumn(
            "f1",
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall") + F.lit(EPS)),
        )
    )


def event_level_metrics(
    df: DataFrame,
    truth_col: str = "is_anomaly",
    pred_col: str = "flag",
    gap: int = 0,
    keys: tuple = KEYS,
    persist_p: int = 1,
) -> DataFrame:
    """A2: event-level P/R/F1 per series with the reference's asymmetric TP."""
    counts = _event_counts(
        _event_pairs(df, truth_col, pred_col, gap, keys, persist_p), keys
    )
    base = df.select(*keys).distinct()
    out = base.join(counts, list(keys), "left").fillna(
        0, ["n_true_events", "n_pred_events", "tp", "tp_recall"]
    )
    return _with_event_prf(out).drop("tp_recall")


def business_metrics(
    df: DataFrame,
    truth_col: str = "is_anomaly",
    pred_col: str = "flag",
    gap: int = 0,
    persist_p: int = 1,
    keys: tuple = KEYS,
) -> DataFrame:
    """A3: FP events/day + median detection latency (minutes) per series.

    Latency per true event = timestamp at the earliest overlapping
    predicted event's start row minus timestamp at the true start row;
    median across hit true events (null when none — the reference
    emits NaN).

    ``keys`` generalizes the grouping the same way as
    ``event_level_metrics`` — a fused (series_id, model) frame yields
    the whole leaderboard's business columns in one pass.
    """
    pairs = _event_pairs(
        df, truth_col, pred_col, gap, keys, persist_p=persist_p, carry_ts=True
    )
    counts = _event_counts(pairs, keys).select(*keys, "n_pred_events", "tp")
    # duration + distinct series in the SAME scan of the points frame
    base = _duration_days(df, keys)
    # earliest overlapping predicted event per hit true event
    lat = _median_latency(pairs, keys)
    out = (
        base.join(counts, list(keys), "left")
        .join(lat, list(keys), "left")
        .fillna(0, ["n_pred_events", "tp"])
        .withColumn("fp_count", F.col("n_pred_events") - F.col("tp"))
        .withColumn(
            "fp_per_day",
            F.when(
                F.col("duration_days") > 0,
                F.col("fp_count") / F.col("duration_days"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out.select(
        *keys, "fp_count", "duration_days", "fp_per_day", "median_latency_minutes"
    )


def leaderboard_metrics(
    df: DataFrame,
    truth_col: str = "is_anomaly",
    pred_col: str = "flag",
    gap: int = 0,
    persist_p: int = 1,
    keys: tuple = KEYS,
) -> DataFrame:
    """A2 + A3 fused: event P/R/F1 AND business columns (fp_per_day,
    median_latency_minutes) from ONE event-pair frame.

    The reference's leaderboard carries both metric families per
    (model, dataset) cell (``src/aggregate_metrics.py:35-48``,
    ``Event_F1/Precision/Recall`` + ``FP_per_Day/Latency_Min``); it
    re-reads metrics.json files, we re-use the single overlap join —
    calling ``event_level_metrics`` and ``business_metrics`` separately
    would sessionize the full points frame twice for the same runs.
    """
    from ..session import tracked_cache

    pairs = tracked_cache(
        _event_pairs(df, truth_col, pred_col, gap, keys,
                     persist_p=persist_p, carry_ts=True)
    )
    counts = _event_counts(pairs, keys)
    base = _duration_days(df, keys)
    lat = _median_latency(pairs, keys)
    out = _with_event_prf(
        base.join(counts, list(keys), "left")
        .join(lat, list(keys), "left")
        .fillna(0, ["n_true_events", "n_pred_events", "tp", "tp_recall"])
    ).withColumn(
        "fp_per_day",
        F.when(
            F.col("duration_days") > 0,
            F.col("fp") / F.col("duration_days"),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("tp_recall", "duration_days")


def forecast_accuracy(
    df: DataFrame,
    actual_col: str = "value",
    pred_col: str = "pred_mean",
    keys: tuple = KEYS,
) -> DataFrame:
    """Forecast backtest metrics per series: MAE, RMSE, MAPE, sMAPE
    over rows where a prediction exists — the accuracy table every
    forecasting pipeline reports next to the detection metrics.

    All means ride exact decimal sums (order/engine-independent,
    ``_exact.py``); one aggregation pass, no shuffle beyond the
    groupBy's own.
    """
    from .._exact import DEC

    a, p = F.col(actual_col), F.col(pred_col)
    err = a - p
    ae = F.abs(err)
    d = df.filter(p.isNotNull() & ~F.isnan(p))
    agg = d.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(ae.cast(DEC)).cast("double").alias("__sae"),
        F.sum((err * err).cast(DEC)).cast("double").alias("__sse"),
        F.sum((ae / (F.abs(a) + F.lit(EPS))).cast(DEC)).cast("double").alias("__sape"),
        F.sum(
            (2 * ae / (F.abs(a) + F.abs(p) + F.lit(EPS))).cast(DEC)
        ).cast("double").alias("__ssm"),
    )
    n = F.col("n")
    return agg.select(
        *keys,
        "n",
        (F.col("__sae") / n).alias("mae"),
        F.sqrt(F.col("__sse") / n).alias("rmse"),
        (F.col("__sape") / n).alias("mape"),
        (F.col("__ssm") / n).alias("smape"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str = "score",
    truth_col: str = "is_anomaly",
    keys: tuple = ("series_id",),
) -> DataFrame:
    """A7: precision-recall curve per series from a continuous score.

    One point per distinct score value (the threshold ``pred = score >=
    t``): cumulative TP/FP over the score-descending order, collapsed
    to the last row per distinct score. NaN/null scores are masked
    first (reference ``src/plotting.py:60-62``).

    Scale: a single window over ``(keys, score desc)`` — one
    shuffle, no self-join; the curve is at most one row per distinct
    score.  ``keys`` generalizes the partition (e.g. ``(series_id,
    detector)`` for a melted multi-detector frame — one pass instead
    of one job per detector); the default is the classic per-series
    curve, plan unchanged.
    """
    keys = list(keys)
    d = df.filter(
        F.col(score_col).isNotNull() & ~F.isnan(F.col(score_col))
    ).select(
        *keys,
        F.col(score_col).alias("score"),
        F.col(truth_col).cast("int").alias("y"),
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    npos = Window.partitionBy(*keys)
    cum = d.select(
        *keys,
        "score",
        F.sum("y").over(w).alias("cum_tp"),
        (F.count("*").over(w) - F.sum("y").over(w)).alias("cum_fp"),
        F.sum("y").over(npos).alias("n_pos"),
    )
    # last cumulative row per distinct score = the threshold point
    per_t = cum.groupBy(*keys, "score").agg(
        F.max("cum_tp").alias("tp"),
        F.max("cum_fp").alias("fp"),
        F.max("n_pos").alias("n_pos"),
    )
    return per_t.select(
        *keys,
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / (F.col("n_pos") + F.lit(EPS))).alias("recall"),
    )


def average_precision(
    df: DataFrame,
    score_col: str = "score",
    truth_col: str = "is_anomaly",
    keys: tuple = ("series_id",),
) -> DataFrame:
    """A7: average precision (PR-AUC, step integration) per series:
    ``AP = Σ (R_i − R_{i−1}) · P_i`` over thresholds descending —
    the standard summary the reference computes with sklearn
    (``src/plotting.py:64-65``; step vs trapezoid noted there).
    ``keys`` generalizes the partition exactly as in ``pr_curve``.
    """
    from .._exact import DEC

    keys = list(keys)
    curve = pr_curve(df, score_col, truth_col, keys=tuple(keys))
    w = Window.partitionBy(*keys).orderBy(F.desc("threshold"))
    stepped = curve.withColumn(
        "prev_recall", F.coalesce(F.lag("recall").over(w), F.lit(0.0))
    )
    # exact decimal sum: the step-area accumulation is order-dependent
    # in doubles (see _exact.py)
    return stepped.groupBy(*keys).agg(
        F.sum(
            ((F.col("recall") - F.col("prev_recall")) * F.col("precision")).cast(DEC)
        )
        .cast("double")
        .alias("average_precision")
    )
