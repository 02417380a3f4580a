"""End-to-end pipelines: the reference's orchestration entry points
re-expressed as lazy DataFrame DAGs (SURVEY §3).

Reference shape (e.g. ``run_bsts_pipeline``, ``src/run_bsts.py:16-149``):
scan → label join → split → fit → forecast → residuals → threshold
sweep on validation → final detection on test → event metrics → sinks.
Here each stage is a transformation on ONE multi-series frame; the only
barriers are the per-series shuffle (shared by all stages) and the tiny
event-table aggregations.  Catalyst collapses the shared lineage; we
cache exactly at the two genuine reuse points (SURVEY §4): the labeled
frame and the model-scored frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import eager_cache
from ..operators.decompose import resample
from ..operators.events import persistence_filter
from ..operators.evaluate import (
    business_metrics,
    event_level_metrics,
    leaderboard_metrics,
)
from ..operators.labeling import mark_top_value_windows
from ..operators.rolling import rolling_stats
from ..operators.scaling import mad_scores
from ..operators.splits import fractional_split
from ..operators.sweep import threshold_sweep_pointwise

# Zero-Python column-algebra model families: for these, recomputing
# the scoring lineage is cheaper than an eager-cache materialization
# barrier (warm benchmark_leaderboard_ar1: 3.1 s uncached vs 7.3 s
# cached, r08), so the reuse-point caches apply only to UDF families.
NATIVE_SQL_MODELS = frozenset({"ar1"})


def score_model(df: DataFrame, model: str = "kalman", **kw) -> DataFrame:
    """Attach ``resid`` + ``score`` columns for one model family.

    score = |resid| / (rolling_std(resid, 48) + 1e-6) — the reference's
    residual z-scoring (``src/run_bsts.py:105-106``) — for 'kalman',
    'bsts' and 'lstm'; MAD variant for 'stl' and 'ar'
    (``src/run_hybrid.py:41-42``).  Both are computed inside the
    model's own Python pass (``functions._score``), over each series in
    ``rn`` order, bit-identical to the ``rolling_stats`` /
    ``mad_scores`` operator forms with none of their stages.
    """
    if model == "kalman":
        from ..functions import kalman_local_level

        return kalman_local_level(df, score_col="score", **kw)
    if model == "bsts":
        from ..functions import bsts_forecast

        return bsts_forecast(df, score_col="score", **kw)
    if model == "gp":
        from ..functions import gp_forecast

        scored = gp_forecast(df, **kw)
        return scored.withColumn(
            "score",
            F.abs(F.col("value") - F.col("pred_mean"))
            / (F.col("pred_std") + F.lit(1e-9)),
        )
    if model == "lstm":
        from ..functions.lstm import lstm_forecast

        return lstm_forecast(df, score_col="score", **kw)
    if model == "ar1":
        # fully native SQL-algebra family: closed-form AR(1) fit + MAD
        # z-score of residuals — zero Python, and every step has an
        # exact DuckDB mirror (the oracle-checkable member of the AR
        # family; benchmark_leaderboard_ar1 / walk_forward_cv_ar1)
        from ..functions.ar import ar1_forecast_native

        return mad_scores(
            ar1_forecast_native(df), value_col="resid", out_col="score"
        )
    if model == "ar":
        from ..functions import ar_forecast

        kw.setdefault("p", kw.pop("period", 24))
        # robust sigma: a burst inflates the trailing rolling std enough
        # to hide itself (score ~6 instead of ~26); MAD doesn't move.
        # Null-resid head rows keep null scores (they were filtered out
        # before, and null > k is false either way)
        return ar_forecast(df, score_col="score", **kw)
    if model == "stl":
        from ..functions import stl_decompose

        return stl_decompose(df, score_col="score", **kw)
    raise ValueError(f"unknown model {model!r}")


def detection_pipeline(
    series: DataFrame,
    model: str = "kalman",
    label_top_n: int = 5,
    label_window: int = 3,
    persist_p: int = 2,
    gap: int = 3,
    resample_every: str | None = None,
    labeled: DataFrame | None = None,
    **model_kw,
) -> dict[str, DataFrame]:
    """Full single-model pipeline: label → score → sweep-on-validation →
    detect-on-all → event + business metrics.

    Returns lazy DataFrames: ``scored`` (per-row), ``best_k`` (per
    series), ``flagged``, ``event_metrics``, ``business_metrics`` —
    the caller picks which to materialize (the reference writes all of
    them as predictions.csv / metrics.json, S3/S4).

    ``labeled`` lets multi-model callers (``run_benchmark``) compute the
    label join ONCE and share it across model branches instead of
    re-deriving it per model.
    """
    if resample_every:
        from ..sources.loader import with_row_index

        series = with_row_index(resample(series, resample_every))
    if labeled is None:
        # fused zero-join marker (synthetic labels are data rows);
        # external label sets go through mark_anomaly_windows upstream
        # and arrive via the ``labeled`` parameter
        labeled = mark_top_value_windows(series, label_top_n, label_window)
    # model UDFs emit a fixed schema (they drop extra columns);
    # re-attach the truth column by row identity after scoring
    scored = score_model(series, model, **model_kw).join(
        labeled.select("series_id", "rn", "is_anomaly"), ["series_id", "rn"]
    )
    scored = fractional_split(scored)
    has_udf = model not in NATIVE_SQL_MODELS
    if has_udf:  # consumed by sweep AND final detection
        scored = eager_cache(scored)

    sweep = threshold_sweep_pointwise(
        scored.filter(F.col("split") == "Validation"), "score", "is_anomaly"
    )
    with_k = scored.join(
        F.broadcast(sweep.select("series_id", "best_k")), "series_id", "left"
    ).withColumn(
        "flag",
        (F.col("score") > F.coalesce(F.col("best_k"), F.lit(3.0))).cast("int"),
    )
    # event + business metrics each consume this frame ~3x (true/pred
    # event tables, base, latency lookups) — without the cache the
    # model UDF reruns once per consumer.  Persistence rides inside the
    # metrics as a run-length filter; row-level flags stay lazy for
    # prediction sinks.
    if has_udf:
        with_k = eager_cache(with_k)
    flagged = persistence_filter(with_k, "flag", p=persist_p)
    return {
        "scored": scored,
        "best_k": sweep,
        "flagged": flagged,
        "event_metrics": event_level_metrics(
            with_k, gap=gap, persist_p=persist_p
        ).withColumn("model", F.lit(model)),
        "business_metrics": business_metrics(
            with_k, gap=gap, persist_p=persist_p
        ).withColumn("model", F.lit(model)),
    }


def _score_branch(series: DataFrame, name: str, period: int) -> DataFrame:
    """One ensemble branch: ``(series_id, rn, tag, z)`` with a
    nonnegative anomaly score ``z``.  Families: the reference's three
    hybrid members (stl / gp / ar, ``src/run_hybrid.py:23-202``) plus
    three fully SQL-expressible scorers (ar1 / zscore / mad) that give
    the fusion plumbing a hard DuckDB oracle."""
    from ..functions import ar_forecast, gp_forecast, stl_decompose
    from ..functions.ar import ar1_forecast_native
    from ..operators.scaling import global_zscore

    if name == "stl":
        return stl_decompose(series, period=period, score_col="z_stl").select(
            "series_id", "rn", F.lit("stl").alias("tag"),
            F.col("z_stl").alias("z"),
        )
    if name == "gp":
        return gp_forecast(series, train_frac=0.5).select(
            "series_id", "rn", F.lit("gp").alias("tag"),
            (F.abs(F.col("value") - F.col("pred_mean"))
             / (F.col("pred_std") + F.lit(1e-9))).alias("z"),
        )
    if name == "ar":
        return rolling_stats(
            ar_forecast(series, p=period), value_col="resid", out_prefix="rs"
        ).select(
            "series_id", "rn", F.lit("ar").alias("tag"),
            (F.abs(F.col("resid")) / (F.col("rs_std") + F.lit(1e-6))).alias("z"),
        )
    if name == "bsts":
        # notebook-hybrid member (nb 02 / results/hybrid weights
        # {bsts: 0.5, lstm: 0.5}): rolling-sigma residual z, the
        # reference's z_bsts column
        from ..functions import bsts_forecast

        return bsts_forecast(
            series, period=period, train_frac=0.5, score_col="z"
        ).select("series_id", "rn", F.lit("bsts").alias("tag"), "z")
    if name == "lstm":
        from ..functions.lstm import lstm_forecast

        return lstm_forecast(
            series, seq_len=period, hidden=24, epochs=6, batch=96,
            train_frac=0.5, max_train_windows=1500, score_col="z",
        ).select("series_id", "rn", F.lit("lstm").alias("tag"), "z")
    if name == "ar1":
        return mad_scores(
            ar1_forecast_native(series), value_col="resid", out_col="z"
        ).select("series_id", "rn", F.lit("ar1").alias("tag"), "z")
    if name == "zscore":
        return global_zscore(series).select(
            "series_id", "rn", F.lit("zscore").alias("tag"),
            F.abs(F.col("z_global")).alias("z"),
        )
    if name == "mad":
        return mad_scores(series).select(
            "series_id", "rn", F.lit("mad").alias("tag"),
            F.col("z_mad").alias("z"),
        )
    raise ValueError(f"unknown ensemble branch {name!r}")


def hybrid_pipeline(
    series: DataFrame,
    period: int = 24,
    weights: tuple[float, ...] = (1 / 3, 1 / 3, 1 / 3),
    k: float = 3.0,
    persist_p: int = 2,
    gap: int = 3,
    models: tuple[str, ...] = ("stl", "gp", "ar"),
) -> dict[str, DataFrame]:
    """The reference's multi-model ensemble (``src/run_hybrid.py:23-202``):
    STL-resid MAD z + GP per-step z + AR(24) rolling z, fused by a
    weighted mean, one shared detection/eval tail.

    One scan, N scoring branches over the SAME per-series partition,
    pure column fusion — the Spark DAG the survey calls the textbook
    case (§3.3).  ``models`` picks the branch families (see
    ``_score_branch``); null branch scores (warm-up rows) fuse as 0.
    """
    assert len(weights) == len(models)
    # the model UDFs project away everything but (series_id, timestamp,
    # value, rn) — feed them the bare cached series so the label join
    # stays OUT of the thrice-consumed branch lineage.  Materialized
    # eagerly: a lazy cache populated inside one multi-branch action is
    # raced by its ~5 concurrent consumer stages (see session.eager_cache)
    series = eager_cache(series)
    labeled = mark_top_value_windows(series, 5, 3)

    branches = [_score_branch(series, m, period) for m in models]
    # branches are 1:1 by (series_id, rn): union + one conditional-agg
    # shuffle pivots them back to columns — 1 exchange where N
    # sort-merge joins cost an exchange + sort per side
    union = branches[0]
    for b in branches[1:]:
        union = union.unionByName(b)
    zs = union.groupBy("series_id", "rn").agg(
        *[
            F.max(F.when(F.col("tag") == m, F.col("z"))).alias(f"z_{m}")
            for m in models
        ]
    )
    combined = None
    for w, m in zip(weights, models):
        term = F.lit(w) * F.coalesce(F.col(f"z_{m}"), F.lit(0.0))
        combined = term if combined is None else combined + term
    fused = (
        labeled.join(zs, ["series_id", "rn"])
        .withColumn("combined_score", combined)
        .withColumn("flag", (F.col("combined_score") > F.lit(k)).cast("int"))
    )
    # cache: downstream metrics would otherwise re-run all three model
    # branches once per consumer.  Persistence rides inside the metrics
    # as a run-length filter; row-level flags (for sinks) stay lazy.
    fused = eager_cache(fused)
    flagged = persistence_filter(fused, "flag", p=persist_p)
    return {
        "scored": fused,
        "flagged": flagged,
        "event_metrics": event_level_metrics(
            fused, gap=gap, persist_p=persist_p
        ).withColumn("model", F.lit("hybrid")),
        "business_metrics": business_metrics(
            fused, gap=gap, persist_p=persist_p
        ).withColumn("model", F.lit("hybrid")),
    }


def walk_forward_cv(
    series: DataFrame,
    model: str = "ar",
    folds: tuple[float, ...] = (0.5, 0.625, 0.75),
    horizon: float = 0.125,
    k: float = 4.0,
    persist_p: int = 2,
    gap: int = 3,
    **model_kw,
) -> DataFrame:
    """A9: walk-forward (expanding-window) cross-validation — fit at
    each fold boundary, evaluate event metrics on the following
    horizon, average across folds (the reference's missing
    ``run_experiment.py``, reconstructed from its summary consumer,
    nb ``02`` cell 12).

    Folds are a driver-side loop over a handful of fractions; each
    fold is one lazy DAG, unioned before a single action — Spark runs
    the folds' stages concurrently, so wall-clock is max(fold), not
    sum(fold).
    """
    from pyspark.sql import Window

    from .._exact import DEC
    from ..functions import ar_forecast
    from ..operators.labeling import mark_top_value_windows

    if model not in ("ar", "ar1"):
        raise ValueError("fused walk-forward CV supports model='ar'|'ar1'")
    p = model_kw.get("period", model_kw.get("p", 24))

    # the base frame feeds the fold fan-out, the row counts, and the
    # label join — cache it once instead of re-running the scan +
    # row_number window per consumer (eager: see session.eager_cache)
    series = eager_cache(series)
    labeled = mark_top_value_windows(series, 5, 3).select(
        "series_id", "rn", "is_anomaly"
    )
    # fan the series out by fold boundary, then ONE grouped-map fit
    # keyed by (series_id, fold) and ONE metrics DAG — fold count
    # changes data volume, not stage count (the previous per-fold loop
    # ran fit + 5-stage metrics once per fold)
    keys = ("series_id", "__frac")
    n_rows = series.groupBy("series_id").agg(F.max("rn").alias("__n"))
    fold_arr = F.explode(F.array(*[F.lit(float(f)) for f in folds]))
    if model == "ar1":
        # native closed-form AR(1) per (series, fold): train on the
        # first max(floor(n*frac), 3) rows, exact decimal sums for the
        # OLS moments (bit-matches the DuckDB oracle), MAD z residual
        # score — no UDF anywhere in this variant.
        #
        # The fold train sums are PREFIX sums over rn, and decimal
        # addition is exact ⇒ a per-series cumulative window evaluated
        # at each fold boundary is bit-identical to the per-fold
        # filtered aggregate the oracle computes — ONE O(n) pass over
        # the un-fanned frame instead of 5 decimal aggregations over a
        # 3x-fanned one (the round-2 bench's single worst stage).
        #
        # The fact-frame fan-out stays UNFILTERED: the MAD scale
        # (median / MAD of residuals) is defined over the residuals of
        # the WHOLE series under each fold's fit — the reference
        # contract is fit-on-train, score-everything, evaluate-horizon.
        # Filtering to rn <= floor(n*(frac+horizon)) before mad_scores
        # would shrink the percentile population and silently change
        # every fold's z-scores (round-3 advice); the horizon slice
        # happens only in the evaluation join below.
        w = Window.partitionBy("series_id").orderBy("rn")
        wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lagged = series.withColumn("__prev", F.lag("value").over(w))
        pv, vv = F.col("__prev"), F.col("value")
        cum = lagged.select(
            "series_id",
            "rn",
            F.count("__prev").over(wc).alias("__cnt"),
            F.sum(pv.cast(DEC)).over(wc).alias("__csx"),
            F.sum(F.when(pv.isNotNull(), vv).cast(DEC)).over(wc).alias("__csy"),
            F.sum((pv * pv).cast(DEC)).over(wc).alias("__csxx"),
            F.sum((vv * pv).cast(DEC)).over(wc).alias("__csxy"),
        )
        bounds = n_rows.withColumn("__frac", fold_arr).withColumn(
            "__nt",
            F.greatest(
                F.floor(F.col("__n") * F.col("__frac")).cast("long"), F.lit(3)
            ),
        )
        sums = (
            cum.join(
                F.broadcast(bounds.select("series_id", "__frac", "__nt")),
                on=[cum["series_id"] == bounds["series_id"],
                    cum["rn"] == bounds["__nt"]],
            )
            .select(
                cum["series_id"], "__frac",
                F.col("__cnt"),
                F.col("__csx").cast("double").alias("__sx"),
                F.col("__csy").cast("double").alias("__sy"),
                F.col("__csxx").cast("double").alias("__sxx"),
                F.col("__csxy").cast("double").alias("__sxy"),
            )
        )
        cnt, sx, sy = F.col("__cnt"), F.col("__sx"), F.col("__sy")
        fit = sums.withColumn(
            "__slope",
            (cnt * F.col("__sxy") - sx * sy) / (cnt * F.col("__sxx") - sx * sx),
        ).withColumn("__icept", (sy - F.col("__slope") * sx) / cnt)
        fanned = lagged.join(F.broadcast(n_rows), "series_id").withColumn(
            "__frac", fold_arr
        )
        scored = (
            fanned.join(
                F.broadcast(fit.select("series_id", "__frac", "__slope", "__icept")),
                list(keys),
            )
            .withColumn(
                "resid",
                F.col("value")
                - (F.col("__icept") + F.col("__slope") * F.col("__prev")),
            )
            .drop("__prev", "__slope", "__icept", "__n")
        )
        scored = mad_scores(
            scored, value_col="resid", out_col="score", keys=keys
        )
    else:
        fanned = series.withColumn("__frac", fold_arr)
        scored = ar_forecast(fanned, p=p, frac_col="__frac", score_col="score")
    evalr = (
        scored.join(F.broadcast(n_rows), "series_id")
        .filter(
            (F.col("rn") > F.floor(F.col("__n") * F.col("__frac")))
            & (F.col("rn") <= F.floor(F.col("__n") * (F.col("__frac") + F.lit(horizon))))
        )
        .join(labeled, ["series_id", "rn"])
        .withColumn("flag", (F.col("score") > F.lit(k)).cast("int"))
    )
    # cache: the metrics consume the frame ~3x and would re-fit every
    # fold's model each time
    evalr = eager_cache(evalr)
    per_fold = event_level_metrics(
        evalr, gap=gap, keys=keys, persist_p=persist_p
    )
    # exact decimal fold means (order/engine-independent — _exact.py)
    return per_fold.groupBy("series_id").agg(
        F.count("*").alias("n_folds"),
        (F.sum(F.col("f1").cast(DEC)).cast("double") / F.count("*")).alias(
            "mean_f1"
        ),
        (
            F.sum(F.col("precision").cast(DEC)).cast("double") / F.count("*")
        ).alias("mean_precision"),
        (F.sum(F.col("recall").cast(DEC)).cast("double") / F.count("*")).alias(
            "mean_recall"
        ),
    )


def run_benchmark(
    series: DataFrame,
    models: tuple[str, ...] = ("stl", "ar", "kalman"),
    period: int = 24,
    on_error: str = "raise",
    **kw,
) -> DataFrame:
    """§3.1 ``run_final_benchmark``: every model over the same
    multi-series frame, one leaderboard out (model, series_id, event
    F1/precision/recall), sorted F1 desc.

    The reference loops (model × dataset) writing files between
    stages; here each model is a branch of one DAG over the shared
    cached input and the leaderboard is a union — no filesystem
    round-trip, and branches parallelize across the cluster.

    ``on_error="skip"`` reproduces the reference's per-model failure
    isolation (``src/run_final_benchmark.py:52-76``: every model runs
    in try/except and a failure only costs that model's rows): each
    model branch is materialized eagerly (ledger-tracked cache) so a
    model whose UDF raises is caught HERE and dropped with a warning
    instead of poisoning the fused leaderboard DAG at action time.
    The isolation costs one materialization barrier per model — the
    same sequencing the reference pays — so the fused lazy plan stays
    the default (``on_error="raise"``).
    """
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    # Caching exists to keep EXPENSIVE model UDFs from re-running when
    # the scored frame is consumed twice (sweep + final detection).
    # For zero-Python column-algebra families, recomputing the lineage
    # is cheaper than the materialization barriers themselves: warm
    # benchmark_leaderboard_ar1 measured 3.1 s uncached vs 7.3 s with
    # the scored/with_k caches (r08) — the caches were half the query.
    has_udf = any(m not in NATIVE_SQL_MODELS for m in models)
    if len(models) > 1 and has_udf:
        series = eager_cache(series)  # see session.eager_cache
    # the truth column is marked PER BRANCH with the fused zero-join
    # top-value marker — joining a separately-built (series_id, rn,
    # is_anomaly) frame back onto the scored union costs a shuffle of
    # BOTH fact-sized sides on (series_id, rn), while per-branch
    # marking rides the series_id partitioning every branch already has
    # score per model (each family is its own UDF), then fuse: one
    # (series_id, model)-keyed frame through ONE sweep, ONE persistence
    # pass, ONE event-metrics DAG — stage count is independent of the
    # model count (the per-model loop ran a ~10-stage tail per model)
    scored_frames = []
    skipped = []
    for m in models:
        model_kw = {"period": period} if m in ("stl", "ar") else {}
        try:
            # timestamp rides along so the business columns (FP/day,
            # latency) come from this same frame — re-joining timestamps
            # later would be a second scan+shuffle of the points table
            s = score_model(series, m, **model_kw).select(
                "series_id", "rn", "timestamp", "value", "score"
            )
            s = mark_top_value_windows(
                s, kw.get("label_top_n", 5), kw.get("label_window", 3)
            ).drop("value")
            s = fractional_split(s).withColumn("model", F.lit(m))
            if on_error == "skip":
                # force the branch's UDFs to run NOW, inside this
                # try/except — a lazy branch would defer the failure to
                # the fused action and take every model down with it.
                # eager_cache (not localCheckpoint): the materialized
                # branch lands in the session cache ledger, so
                # release_caches() frees it at the query boundary —
                # checkpoint RDDs would outlive the ledger
                s = eager_cache(s)
            scored_frames.append(s)
        except Exception as e:
            if on_error == "raise":
                raise
            import warnings

            skipped.append(m)
            warnings.warn(
                f"run_benchmark: model '{m}' failed and was skipped "
                f"({type(e).__name__}: {e})",
                RuntimeWarning,
                stacklevel=2,
            )
    if not scored_frames:
        raise RuntimeError(
            f"run_benchmark: every model failed (skipped={skipped})"
        )
    scored = scored_frames[0]
    for s in scored_frames[1:]:
        scored = scored.unionByName(s)
    keys = ("series_id", "model")
    if has_udf:  # consumed by sweep AND final detection
        scored = eager_cache(scored)
    sweep = threshold_sweep_pointwise(
        scored.filter(F.col("split") == "Validation"), "score", "is_anomaly",
        keys=keys,
    )
    with_k = scored.join(
        F.broadcast(sweep.select("series_id", "model", "best_k")),
        list(keys), "left",
    ).withColumn(
        "flag",
        (F.col("score") > F.coalesce(F.col("best_k"), F.lit(3.0))).cast("int"),
    )
    # with_k is consumed 3x by leaderboard_metrics (true-event runs,
    # pred-event runs, duration base) — cache it for NATIVE models too:
    # uncached, the full scored lineage recomputes per consumer (5 fact
    # passes total; at cluster scale that is 5 corpus scans), and the
    # r13 A/B measured the cache ~12% faster even at sf0.1 (medians
    # 8.2 s vs 9.4 s, 4 alternating cells).  The r08 "caches were half
    # the query" regression came from ALSO caching `scored` (whose only
    # consumers are the sweep and this join) — that one stays lazy for
    # native models.
    with_k = eager_cache(with_k)
    # event P/R/F1 + business columns (FP/day, median latency) in ONE
    # overlap-join pass — the reference's full leaderboard column set
    # (src/aggregate_metrics.py:35-48: Event_F1/Precision/Recall +
    # FP_per_Day/Latency_Min)
    lm = leaderboard_metrics(
        with_k, gap=kw.get("gap", 3), keys=keys,
        persist_p=kw.get("persist_p", 2),
    )
    return lm.orderBy(F.desc("f1"), "series_id").select(
        "model", "series_id", "f1", "precision", "recall",
        "n_true_events", "n_pred_events",
        "fp_per_day", "median_latency_minutes",
    )


def leaderboard(metric_frames: list[DataFrame]) -> DataFrame:
    """A8/S6: union per-model event metrics, sort by F1 desc.

    Mirrors ``aggregate_metrics`` (``src/aggregate_metrics.py:29-67``)
    without the filesystem round-trip: metrics stay DataFrames.
    """
    out = metric_frames[0]
    for f in metric_frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out.orderBy(F.desc("f1"), "series_id")
