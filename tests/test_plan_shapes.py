"""Physical-plan regression guards: the scale properties the engine
relies on (single shuffle per window chain, broadcast small sides,
column pruning into the parquet scan) asserted on `.explain` output —
a plan that silently gains an exchange or loses pushdown fails CI
before it fails at 100x the data.
"""

import numpy as np
import pandas as pd
import pytest

from conftest import series_df
from time_series_data_anomaly_detection_spark.functions import (
    ar, bocpd, control, croston, dtw, gp, harmonic, holt_winters, kalman,
    lstm, matrix_profile, pelt, shesd, spectral, stl, theta,
)
from time_series_data_anomaly_detection_spark.operators import acf, robust, trend


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _count(plan: str, token: str) -> int:
    return plan.count(token)


def test_rolling_stats_single_shuffle(spark):
    """The whole rolling chain (cumulative sums, lag-diff, bfill) must
    ride ONE exchange on the series partition."""
    from time_series_data_anomaly_detection_spark.operators.rolling import (
        rolling_stats,
    )

    y = np.arange(200, dtype=float)
    plan = _plan(rolling_stats(series_df(spark, y)))
    assert _count(plan, ") Exchange") == 1
    assert _count(plan, ") BroadcastExchange") == 0


def test_mad_scores_broadcasts_tiny_aggregates(spark):
    """Per-series median/MAD frames are one row per series — they must
    come back as broadcast joins, never a sort-merge of the fact table
    against itself."""
    from time_series_data_anomaly_detection_spark.operators.scaling import (
        mad_scores,
    )

    plan = _plan(mad_scores(series_df(spark, np.arange(100, dtype=float))))
    assert _count(plan, ") BroadcastHashJoin") >= 2
    assert _count(plan, ") SortMergeJoin") == 0


def test_parquet_scan_prunes_columns(spark):
    """A 3-column projection over the 4-column events table must reach
    the parquet scan pruned (ReadSchema) — reading dead columns at
    100 TB is the first scan-side scale bug."""
    from time_series_data_anomaly_detection_spark.sources import (
        events_as_series,
    )

    df = events_as_series(spark, "/root/testdata/sf0.001").select(
        "series_id", "value"
    )
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "value" in scan
    assert "event_id" not in scan


def test_event_metrics_overlap_join_is_keyed(spark):
    """The interval-overlap theta join between the two event tables is
    FULL OUTER (unmatched events must survive), which Spark cannot
    broadcast — but it must still be KEYED on series_id with the
    overlap as a residual condition, never a cartesian product.  (Both
    sides are one row per run, so a keyed SMJ shuffles only tiny
    frames.)"""
    from time_series_data_anomaly_detection_spark.operators.evaluate import (
        event_level_metrics,
    )

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "rn": np.arange(1, 301),
            "is_anomaly": (rng.random(300) < 0.05).astype(int),
            "flag": (rng.random(300) < 0.05).astype(int),
        }
    )
    df = spark.createDataFrame(pdf)
    plan = _plan(event_level_metrics(df, gap=3))
    assert _count(plan, ") CartesianProduct") == 0
    assert _count(plan, ") BroadcastNestedLoopJoin") == 0
    # the overlap predicate rides the keyed join as a residual condition
    assert "Join condition: ((p_end" in plan


def test_threshold_sweep_single_scan(spark):
    """The 17-candidate grid must NOT re-scan the input per k: one
    exploded projection, one aggregate."""
    from time_series_data_anomaly_detection_spark.operators.sweep import (
        threshold_sweep_pointwise,
    )

    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "score": np.random.default_rng(2).random(500),
            "is_anomaly": 0,
        }
    )
    df = spark.createDataFrame(pdf)
    plan = _plan(threshold_sweep_pointwise(df, "score", "is_anomaly"))
    # one generator (the k-grid explode), one scan of the input
    assert _count(plan, ") Generate") == 1
    assert _count(plan, "Scan ExistingRDD") <= 1


def test_series_filter_pushes_to_parquet_scan(spark):
    """A predicate on the aliased series column must reach the parquet
    scan as a pushed filter on the underlying physical column — a scan
    that filters 100 TB post-read is the other scan-side scale bug."""
    from time_series_data_anomaly_detection_spark.sources import (
        events_as_series,
    )
    from pyspark.sql import functions as F

    df = events_as_series(spark, "/root/testdata/sf0.001").filter(
        F.col("series_id") == "click"
    )
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(event_type,click)" in pushed[0]


def test_qq_frame_single_shuffle(spark):
    """Ranking + partition count must share ONE exchange on series_id;
    the PPF mapping is pure projection (whole-stage codegen, no UDF)."""
    from time_series_data_anomaly_detection_spark.operators.diagnostics import (
        qq_frame,
    )

    df = series_df(spark, np.arange(300, dtype=float)).withColumnRenamed(
        "value", "resid"
    )
    plan = _plan(qq_frame(df, col="resid"))
    assert _count(plan, ") Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_histogram_fit_broadcasts_stats(spark):
    """Every per-series stats frame (a handful of rows) must ride a
    broadcast join back onto the residuals — no sort-merge of the fact
    table against itself, no cartesian anywhere."""
    from time_series_data_anomaly_detection_spark.operators.diagnostics import (
        histogram_fit_frame,
    )

    df = series_df(spark, np.arange(500, dtype=float)).withColumnRenamed(
        "value", "resid"
    )
    plan = _plan(histogram_fit_frame(df, col="resid"))
    assert _count(plan, ") BroadcastHashJoin") >= 2
    assert _count(plan, ") CartesianProduct") == 0
    assert _count(plan, ") BroadcastNestedLoopJoin") == 0


def test_salted_pair_join_stays_equi(spark):
    """The skew-guard decomposition must remain a hash-partitioned
    equi-join on (keys, cell) — the whole point is bounded tasks, so a
    cartesian or nested-loop fallback would defeat it."""
    from time_series_data_anomaly_detection_spark.datapipe._skew import (
        salted_self_join_pairs,
    )

    rows = [("k%d" % (i % 3), i) for i in range(300)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "doc_id"]))
    plan = _plan(salted_self_join_pairs(df, ["k"], "doc_id", cap=16))
    assert _count(plan, ") CartesianProduct") == 0
    assert _count(plan, ") BroadcastNestedLoopJoin") == 0
    assert (
        _count(plan, ") SortMergeJoin") + _count(plan, ") ShuffledHashJoin")
        + _count(plan, ") BroadcastHashJoin")
    ) >= 1


def test_bucketed_join_and_agg_skip_exchange(spark, tmp_path):
    """Tables bucketed by the join key must sort-merge-join AND
    aggregate with ZERO Exchange nodes — the write amortized the
    shuffle, the plan must actually cash that in. Also pins bucket
    pruning: an equality filter on the bucket key selects 1 bucket."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    n = 400
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "series_id": [f"s{i % 7}" for i in range(n)],
                "rn": list(range(n)),
                "value": np.arange(n, dtype=float),
            }
        )
    )
    write_bucketed(
        df, "bk_left", str(tmp_path / "l"), keys=("series_id",), n_buckets=4
    )
    write_bucketed(
        df.groupBy("series_id").count(),
        "bk_right",
        str(tmp_path / "r"),
        keys=("series_id",),
        n_buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = read_bucketed(spark, "bk_left")
        right = read_bucketed(spark, "bk_right")
        jplan = _plan(left.join(right, "series_id"))
        assert _count(jplan, ") Exchange") == 0
        assert _count(jplan, ") SortMergeJoin") == 1
        aplan = _plan(left.groupBy("series_id").agg({"value": "sum"}))
        assert _count(aplan, ") Exchange") == 0
        # a filter-only scan needs autoBucketedScan off to stay
        # bucketed (no downstream op wants the distribution); pruning
        # itself is the point here
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        pplan = _plan(left.filter(left.series_id == "s3"))
        assert "SelectedBucketsCount: 1 out of 4" in pplan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_fill_gaps_single_series_exchange(spark):
    """The prev/next neighbor scans must share ONE series exchange
    (two sorts, no second shuffle), and the grid/value lookup must be
    an equi join."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.operators.decompose import (
        fill_gaps,
    )

    pdf = pd.DataFrame(
        {
            "series_id": "a",
            "timestamp": pd.date_range("2024-01-01", periods=50, freq="1h"),
            "value": np.arange(50, dtype=float),
        }
    )
    plan = _plan(fill_gaps(spark.createDataFrame(pdf), 3600))
    # exchanges: one for the bounds aggregate (tiny), one hash exchange
    # feeding the join, one series exchange shared by both window sorts
    assert _count(plan, ") SortMergeJoin") + _count(plan, ") BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert _count(plan, ") Window") == 2
    # the two Window ops must NOT each carry their own exchange
    assert _count(plan, ") Exchange") <= 3


def test_pack_documents_no_global_sort(spark):
    """Packing must partition by shard — a global (non-partitioned)
    sort would serialize the corpus through one task at scale."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.datapipe.packing import (
        pack_stats,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "source": [f"s{i % 4}" for i in range(40)],
            "text": "some text here",
        }
    )
    plan = _plan(pack_stats(spark.createDataFrame(pdf), ctx=64))
    # a global sort shows as Sort with a SinglePartition exchange; the
    # packing window must hash-partition on source instead
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_corpus_hygiene_ops_are_map_only(spark):
    """repetition_stats and pii_scan must be pure per-row projections:
    zero Exchange nodes — the shape that scans 100 TB exactly once."""
    from time_series_data_anomaly_detection_spark.datapipe import (
        pii_scan,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b a", "x\ny"]})
    )
    for op in (repetition_stats, pii_scan):
        plan = _plan(op(docs))
        assert _count(plan, ") Exchange") == 0, op.__name__
        assert _count(plan, ") BroadcastExchange") == 0, op.__name__


def test_decontaminate_broadcasts_eval_grams(spark):
    """The corpus-side gram stream must meet the eval gram set through a
    broadcast join (eval sets are tiny next to the corpus), never a
    sort-merge exchange of the exploded corpus grams."""
    from time_series_data_anomaly_detection_spark.datapipe import decontaminate

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": [f"alpha beta gamma delta epsilon doc {i}" for i in range(20)],
            }
        )
    )
    plan = _plan(decontaminate(docs, eval_frac=0.2, n=5))
    assert _count(plan, ") BroadcastHashJoin") >= 1
    assert _count(plan, "SortMergeJoin") == 0


def test_semantic_dedup_assignment_is_map_side(spark):
    """Nearest-centroid assignment must NOT exchange the corpus (the
    centroid table rides in as a literal): no Window node anywhere, and
    the only exchanges belong to the pair join + final aggregates."""
    from time_series_data_anomaly_detection_spark.datapipe import semantic_dedup

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(semantic_dedup(vecs, threshold=0.9, n_cells=4))
    # no per-vector window (the old join+row_number assignment shape);
    # the only Window nodes are the skew guard's per-cell group counts
    assert "windowspecdefinition(vec_id" not in plan
    assert _count(plan, ") Window") <= 2


def test_pq_encoding_is_map_side(spark):
    """PQ code assignment must be a pure projection over the literal
    codebooks — no per-vector Window/exchange before the scoring join
    (same property as semantic_dedup's cell assignment)."""
    from time_series_data_anomaly_detection_spark.datapipe import pq_topk

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter("vec_id < 3")
    plan = _plan(pq_topk(vecs, q, k=3, m=2, n_codes=4))
    assert "windowspecdefinition(match_id" not in plan
    # the only true Window ranks per query after the broadcast join;
    # WindowGroupLimit nodes are the rank-pushdown partial top-k
    # (map-side k-limiting BEFORE the exchange — keep them)
    assert _count(plan, ") Window\n") + _count(plan, ") Window ") == 1
    assert _count(plan, "WindowGroupLimit") >= 1
    assert _count(plan, ") BroadcastExchange") >= 1


def test_hampel_native_single_exchange(spark):
    """The Hampel chain (sorted in-frame arrays, median/MAD indexing,
    flag) must be pure JVM — one series exchange, zero Python eval
    nodes in the plan."""
    from time_series_data_anomaly_detection_spark.operators.robust import (
        hampel_flags,
    )

    y = np.arange(200, dtype=float)
    plan = _plan(hampel_flags(series_df(spark, y)))
    assert _count(plan, ") Exchange") == 1
    assert "EvalPython" not in plan


def test_quantile_band_broadcasts_band_table(spark):
    """The per-series percentile band is one row per series — it must
    ride a broadcast join back onto the fact scan."""
    from time_series_data_anomaly_detection_spark.operators.robust import (
        quantile_band_flags,
    )

    y = np.arange(200, dtype=float)
    plan = _plan(quantile_band_flags(series_df(spark, y)))
    assert _count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_control_charts_broadcast_moments(spark):
    """EWMA/CUSUM seed moments are a one-row-per-series aggregate —
    broadcast back, never a sort-merge; exactly one Python stage (the
    recursion)."""
    from time_series_data_anomaly_detection_spark.functions.control import (
        cusum_chart,
    )

    y = np.arange(200, dtype=float)
    plan = _plan(cusum_chart(series_df(spark, y)))
    assert _count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert _count(plan, ") MapInPandas") == 1


def test_asof_join_single_exchange_no_range_join(spark):
    """The as-of join must be the union + forward-fill plan: one
    exchange on the join key, no BroadcastNestedLoop/cartesian from a
    range condition."""
    from time_series_data_anomaly_detection_spark.operators.asof import asof_join

    left = series_df(spark, np.arange(100, dtype=float)).select("series_id", "rn")
    right = (
        series_df(spark, np.arange(10, dtype=float))
        .select("series_id", "rn")
        .withColumn("px", rn_to_px())
    )
    plan = _plan(asof_join(left, right, payload=["px"]))
    # each INPUT carries one exchange from its own row-index window;
    # the as-of join itself must add NONE (its window rides the same
    # series partitioning) and must never become a range join
    assert _count(plan, ") Exchange") == 2
    assert _count(plan, "NestedLoop") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") SortMergeJoin") == 0


def rn_to_px():
    from pyspark.sql import functions as F

    return (F.col("rn") * 10).cast("long")


def test_score_calibration_single_series_exchange(spark):
    """mad_scores + the ECDF RANGE window must not add a second
    fact-table exchange: the window rides the same series partition."""
    from time_series_data_anomaly_detection_spark.operators.scaling import (
        empirical_pvalues,
        mad_scores,
    )

    plan = _plan(
        empirical_pvalues(mad_scores(series_df(spark, np.arange(100, dtype=float))))
    )
    # exchanges: one hashpartition for the fact table windows; the
    # per-series aggregates ride broadcast
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 3


def test_percentile_summary_broadcasts_quantiles(spark):
    from time_series_data_anomaly_detection_spark.plans.queries.stattests import (
        q_percentile_summary,
    )

    plan = _plan(q_percentile_summary(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0


def test_baseline_forecasts_broadcast_anchors(spark):
    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_baseline_forecasts,
    )

    plan = _plan(q_baseline_forecasts(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 2


def test_m4_single_exchange_on_bucket_key(spark):
    """All four role row_numbers share the (series, bucket) partition:
    one fact-sized exchange plus the broadcast of the per-series
    lengths — no extra shuffles, no cartesian."""
    from time_series_data_anomaly_detection_spark.operators.downsample import (
        m4_downsample,
    )

    plan = _plan(m4_downsample(series_df(spark, np.arange(500, dtype=float))))
    assert _count(plan, ") BroadcastHashJoin") >= 1
    assert _count(plan, ") CartesianProduct") == 0
    # row_number windows: the (series_id, bucket) exchange, plus the
    # series exchange for rn/lengths upstream
    assert _count(plan, ") Exchange") <= 2


def test_event_impact_broadcasts_event_table(spark):
    """The detected-event table is tiny: the context join must be a
    broadcast on series_id with the rn range as a filter — never a
    cartesian or a fact-fact sort-merge."""
    from time_series_data_anomaly_detection_spark.plans.queries.evaluation import (
        q_event_impact,
    )
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    plan = _plan(q_event_impact(spark, sf))
    assert _count(plan, ") CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 1


def test_pot_threshold_broadcasts_per_series_frames(spark):
    from time_series_data_anomaly_detection_spark.operators.evt import (
        pot_threshold,
    )

    rng = np.random.default_rng(1)
    plan = _plan(pot_threshold(series_df(spark, rng.normal(0, 1, 300))))
    assert _count(plan, ") CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 2


def test_page_hinkley_native_broadcast_moments(spark):
    """PH is a pure prefix computation: the moment table rides a
    broadcast join, the statistic chain is JVM-only (no Python), and
    the fact table is exchanged once for the series sort."""
    from time_series_data_anomaly_detection_spark.operators.drift import (
        page_hinkley,
    )

    y = np.arange(300, dtype=float)
    plan = _plan(page_hinkley(series_df(spark, y)))
    assert "EvalPython" not in plan
    assert _count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_knn_outlier_no_self_join(spark):
    """The 1-D kNN trick must produce a join-free plan: value-ordered
    window lags only — no join of the fact table against itself."""
    from time_series_data_anomaly_detection_spark.operators.neighbors import (
        knn_outlier,
    )

    y = np.arange(300, dtype=float)
    plan = _plan(knn_outlier(series_df(spark, y)))
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_kde_rarity_bucket_table_broadcasts(spark):
    """Binned KDE: the smoothing convolution runs on the tiny bucket
    table; every join back onto the fact rows must broadcast."""
    from time_series_data_anomaly_detection_spark.operators.neighbors import (
        kde_rarity,
    )

    y = np.arange(300, dtype=float)
    plan = _plan(kde_rarity(series_df(spark, y)))
    assert "SortMergeJoin" not in plan
    assert _count(plan, "BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan


def test_sax_bitmap_all_aggregates_no_udf(spark):
    """SAX bitmap distance is integer algebra over chunk tables — no
    Python anywhere, and the chunk-pair joins are on the (tiny)
    aggregated tables, not the fact rows."""
    from time_series_data_anomaly_detection_spark.operators.sax import (
        sax_bitmap,
    )

    y = np.arange(4096, dtype=float)
    plan = _plan(sax_bitmap(series_df(spark, y)))
    assert "EvalPython" not in plan


def test_sax_mindist_pair_join_keyed_and_dist_broadcast(spark):
    """The seg-keyed pair join must stay an equi-join (no cartesian /
    nested-loop) and the alphabet² distance table must broadcast."""
    from time_series_data_anomaly_detection_spark.operators.sax import (
        sax_mindist,
    )

    rng = np.random.default_rng(5)
    df = None
    for sid in ("a", "b", "c"):
        f = series_df(spark, rng.normal(0, 1, 64), series_id=sid)
        df = f if df is None else df.unionByName(f)
    plan = _plan(sax_mindist(df))
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 2  # dist table + moments


def test_bigram_surprise_scalar_v_broadcast_no_cartesian(spark):
    """The vocabulary-size scalar must come in as a broadcast
    (1-row nested-loop broadcast is acceptable for a scalar), and the
    model joins must be keyed — no CartesianProduct anywhere."""
    from time_series_data_anomaly_detection_spark.datapipe.text import (
        bigram_surprise,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["a b c a b", "b c d e f g"],
            }
        )
    )
    plan = _plan(bigram_surprise(docs))
    assert _count(plan, "CartesianProduct") == 0
    # the occurrence->model joins are keyed equi-joins
    assert (
        _count(plan, ") BroadcastHashJoin")
        + _count(plan, ") SortMergeJoin")
        + _count(plan, ") ShuffledHashJoin")
        >= 2
    )


def test_conformal_intervals_broadcasts_per_series_frames(spark):
    """Every per-series frame (splits, fit, k, q-hat) is
    dimension-sized and must broadcast; no sort-merge of the scan
    against itself."""
    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_conformal_intervals,
    )

    plan = _plan(q_conformal_intervals(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 4


def test_harmonic_fixed_broadcasts_design_table(spark):
    """The 48-row design table and the per-series count/coefficient
    frames must broadcast onto the scan."""
    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_harmonic_forecast_fixed,
    )

    plan = _plan(q_harmonic_forecast_fixed(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 3


def test_forecast_mase_broadcasts_scale_denominator(spark):
    """The per-series MASE scale frame is dimension-sized and must
    broadcast; no sort-merge against the scan."""
    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_forecast_mase,
    )

    plan = _plan(q_forecast_mase(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 3


def test_demand_classification_broadcasts_threshold(spark):
    """The per-series q90 threshold frame must broadcast onto the
    scan (one aggregate + one broadcast join + one aggregate)."""
    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_demand_classification,
    )

    plan = _plan(q_demand_classification(spark, "/root/testdata/sf0.001"))
    assert _count(plan, ") SortMergeJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, ") BroadcastHashJoin") >= 1


def test_fixed_twins_plans_are_scale_safe(spark):
    """The r08 hash-gated twins (SR / matrix-profile / PELT / BOCPD /
    DTW fixed) must stay native column algebra: no Python UDF stages
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
    BatchEvalPython), no CartesianProduct, and the literal
    twiddle/series-dimension tables ride broadcast joins."""
    from time_series_data_anomaly_detection_spark.plans import registry as Reg

    sf = "/root/testdata/sf0.001"
    for name in (
        "spectral_residual_fixed",
        "matrix_profile_fixed",
        "pelt_changepoints_fixed",
        "bocpd_changepoints_fixed",
        "dtw_distance_fixed",
    ):
        df = Reg.queries()[name](spark, sf)
        plan = _plan(df)
        assert _count(plan, "ArrowEvalPython") == 0, name
        assert _count(plan, "FlatMapGroupsInPandas") == 0, name
        assert _count(plan, "MapInPandas") == 0, name
        assert _count(plan, "BatchEvalPython") == 0, name
        assert _count(plan, "CartesianProduct") == 0, name
    # the SR twin's two 64-row twiddle joins must be broadcasts
    plan = _plan(Reg.queries()["spectral_residual_fixed"](spark, sf))
    assert _count(plan, ") BroadcastHashJoin") >= 2


def test_widened_twins_plans_are_scale_safe(spark):
    """The r09 widened twins keep the same native-algebra guarantees:
    no Python UDF stages, no cartesian product.  The full-extent
    matrix profile must additionally show NO sort/window on its O(w²)
    pair frame — the QT dot products are born inside a projection
    (explode of a transform), so the only Window nodes are the tiny
    per-series stats windows and the only exchanges are the per-i
    fan-out repartition and aggregate shuffles."""
    from time_series_data_anomaly_detection_spark.plans import registry as Reg

    sf = "/root/testdata/sf0.001"
    for name in (
        "matrix_profile_fixed_full",
        "shesd_fixed_full",
        "spectral_residual_fixed_512",
        "acf_fft_fixed",
        "acf_fft_fixed_512",
        "bocpd_changepoints_fixed_full",
        "pelt_changepoints_fixed_full",
        "dtw_distance_fixed_64",
        "gp_forecast_fixed",
        "gp_forecast_fixed_std",
        "lstm_forecast_fixed",
    ):
        df = Reg.queries()[name](spark, sf)
        plan = _plan(df)
        assert _count(plan, "ArrowEvalPython") == 0, name
        assert _count(plan, "FlatMapGroupsInPandas") == 0, name
        assert _count(plan, "MapInPandas") == 0, name
        assert _count(plan, "BatchEvalPython") == 0, name
        assert _count(plan, "CartesianProduct") == 0, name
    # the full-extent matrix profile's O(w²) pair frame must stay a
    # pure projection: NO window machinery (Window/Sort/Exchange) may
    # touch the diagonal column d — a regression back to the
    # per-diagonal rolling form shows up as a windowspecdefinition or
    # hashpartitioning that mentions d#NNN (d2#/nn#/event_id# don't
    # match the bounded pattern)
    import re as _re

    mp_plan = _plan(Reg.queries()["matrix_profile_fixed_full"](spark, sf))
    assert not _re.search(
        r"windowspecdefinition\([^)]*[^a-z0-9_]d#\d+", mp_plan
    ), "Window over the diagonal column: pair-frame window regression"
    assert not _re.search(
        r"hashpartitioning\([^)]*[^a-z0-9_]d#\d+", mp_plan
    ), "Exchange keyed on the diagonal column: pair-frame shuffle regression"
    # and total window machinery stays bounded at today's shape (10
    # Windows: 6 row_number rn-assignments + 4 M-point stats windows)
    assert _count(mp_plan, ") Window") <= 10
    # SR-512: both nfft-row twiddle joins ride broadcasts
    plan = _plan(Reg.queries()["spectral_residual_fixed_512"](spark, sf))
    assert _count(plan, ") BroadcastHashJoin") >= 2


def _node_args(plan: str, node: str, name: str) -> str:
    """The ``Arguments`` of node ``(node) name`` of a formatted plan,
    expression ids and plan ids dropped."""
    import re

    args = re.search(
        rf"\n\({node}\) {name}\n(?:.*\n)*?Arguments: (.*)", plan
    ).group(1)
    return re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", args)


def _shell_inputs(plan: str) -> list[tuple[str, str]]:
    """For each MapInPandas of a formatted plan, the ``Arguments`` of
    the first Sort beneath it and of the first Exchange beneath that
    Sort."""
    import re

    tree = plan.split("\n\n")[0].splitlines()
    out = []
    for i, line in enumerate(tree):
        if " MapInPandas (" not in line:
            continue
        below = [
            m.groups()
            for m in (re.search(r" (Sort|Exchange) \((\d+)\)", b) for b in tree[i + 1 :])
            if m
        ]
        j = next(j for j, (name, _) in enumerate(below) if name == "Sort")
        exchange = next(node for name, node in below[j:] if name == "Exchange")
        out.append(
            (_node_args(plan, below[j][1], "Sort"), _node_args(plan, exchange, "Exchange"))
        )
    return out


def _ar_frac(df, **kw):
    from pyspark.sql import functions as F

    return ar.ar_forecast(df.withColumn("frac", F.lit(0.5)), frac_col="frac", **kw)


_S, _SB = ("series_id",), ("series_id", "__bucket")
# caller -> (function, kwargs, grouping keys of each of its grouped-maps)
SHELL_CALLERS = {
    "kalman_local_level": (kalman.kalman_local_level, {}, [_S]),
    "kalman_fixed": (kalman.kalman_fixed, {}, [_S]),
    "bsts_fixed": (kalman.bsts_fixed, {}, [_S]),
    "bsts_forecast": (kalman.bsts_forecast, {}, [_S]),
    "bocpd": (bocpd.bocpd_changepoints, {}, [_S]),
    "stl": (stl.stl_decompose, dict(score_col="z"), [_S]),
    "ar": (ar.ar_forecast, dict(score_col="z"), [_S]),
    "ar_frac": (_ar_frac, {}, [("series_id", "frac")]),
    "lstm": (lstm.lstm_forecast, dict(epochs=1), [_S]),
    "gp": (gp.gp_forecast, {}, [_SB]),
    "gp_optimize": (gp.gp_forecast, dict(optimize=True), [_SB, _S]),
    "ewma": (control.ewma_chart, {}, [_S]),
    "cusum": (control.cusum_chart, {}, [_S]),
    "cusum_alarms": (control.cusum_alarms, {}, [_S]),
    "croston": (croston.croston_forecast, {}, [_S]),
    "harmonic": (harmonic.harmonic_forecast, {}, [_S]),
    "holt_winters": (holt_winters.holt_winters_fixed, {}, [_S]),
    "holt_linear": (holt_winters.holt_linear_fixed, {}, [_S]),
    "pelt": (pelt.pelt_segments, {}, [_S]),
    "theta": (theta.theta_forecast, {}, [_S]),
    "spectral_residual": (spectral.spectral_residual_scores, {}, [_S]),
    "shesd": (shesd.shesd_flags, {}, [_S]),
    "matrix_profile": (matrix_profile.matrix_profile_scores, {}, [_S]),
    "matrix_profile_tiled": (
        matrix_profile.matrix_profile_tiled, {}, [("series_id", "pair_id"), _S]
    ),
    "dtw": (dtw.dtw_distance, {}, [("pair",)]),
    "acf_fft": (acf.acf_fft, {}, [_S]),
    "mann_kendall": (trend.mann_kendall_frame, {}, [_S]),
    "seasonal_mann_kendall": (trend.seasonal_mann_kendall_frame, {}, [_S]),
    "rolling_quantile": (robust.rolling_quantile_flags_grouped, {}, [_S]),
}


@pytest.mark.parametrize("caller", list(SHELL_CALLERS))
def test_grouped_map_partitioning_follows_task_slots(spark, caller):
    """Every batch per-series Python pass runs on exactly one hash
    exchange by its group keys into ``defaultParallelism`` partitions
    — whatever the shuffle-partition setting, which AQE would
    otherwise coalesce by bytes — sorted within each partition by
    ``(keys, rn)``."""
    fn, kw, keys = SHELL_CALLERS[caller]
    slots = spark.sparkContext.defaultParallelism
    y = np.sin(np.arange(200) / 4.0)
    df = series_df(spark, y).unionByName(series_df(spark, y, series_id="s2"))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots + 1))
    try:
        plan = _plan(fn(df, **kw))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    want = [
        (
            "[" + ", ".join(f"{c} ASC NULLS FIRST" for c in (*k, "rn")) + "], false, 0",
            f"hashpartitioning({', '.join(k)}, {slots}), REPARTITION_BY_NUM",
        )
        for k in keys
    ]
    assert sorted(_shell_inputs(plan)) == sorted(want)
    assert _count(plan, "FlatMapGroupsInPandas") == 0


@pytest.mark.parametrize("model", ["kalman", "bsts", "lstm"])
def test_rolling_sigma_score_rides_the_model_pass(spark, model):
    """``score_model``'s rolling-σ score is computed in the model's own
    Python pass: no Exchange, Sort or Window sits above it."""
    from time_series_data_anomaly_detection_spark.plans.pipelines import score_model

    kw = dict(epochs=1, hidden=4) if model == "lstm" else {}
    y = np.sin(np.arange(200) / 4.0)
    tree = _plan(score_model(series_df(spark, y), model, **kw)).split("\n\n")[0]
    above = tree.split(" MapInPandas (")[0]
    assert tree.count(" MapInPandas (") == 1
    for node in ("Exchange", "Sort", "Window"):
        assert f" {node} (" not in above, node


@pytest.mark.parametrize("model", ["kalman_local_level", "bocpd"])
def test_model_pass_over_cached_row_index_has_no_exchange(spark, model):
    """Over a cached ``with_row_index`` frame whose shuffle-partition
    count is the task-slot count (what ``get_spark`` sets), a model's
    per-series pass reuses the frame's hash partitioning by
    ``series_id``: its plan sorts but adds no Exchange, so each model
    job is one stage."""
    from time_series_data_anomaly_detection_spark.session import (
        release_caches,
        tracked_cache,
    )

    fn = SHELL_CALLERS[model][0]
    slots = spark.sparkContext.defaultParallelism
    y = np.sin(np.arange(200) / 4.0)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots))
    try:
        series = tracked_cache(
            series_df(spark, y).unionByName(series_df(spark, y, series_id="s2"))
        )
        series.count()
        tree = _plan(fn(series)).split("\n\n")[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        release_caches()
    own = tree.split(" InMemoryTableScan (")[0]
    assert " MapInPandas (" in own and " Sort (" in own
    assert " Exchange (" not in own
