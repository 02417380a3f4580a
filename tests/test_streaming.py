"""Streaming detectors: stream output must match the batch operators
on the same data (modulo the documented head-row delta)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_data_anomaly_detection_spark.functions import bocpd_changepoints
from time_series_data_anomaly_detection_spark.operators.rolling import (
    adaptive_threshold_flags,
)
from time_series_data_anomaly_detection_spark.sources import with_row_index
from time_series_data_anomaly_detection_spark.streaming import (
    detectors,
    streaming_bocpd,
    streaming_rolling_flags,
    streaming_window_stats,
)

SCHEMA = "series_id string, timestamp timestamp, value double, event_id long"


@pytest.fixture(scope="module")
def stream_data(spark, tmp_path_factory):
    """Two series, written as TWO parquet files so availableNow
    processes multiple input splits (exercising state carry-over)."""
    root = tmp_path_factory.mktemp("stream_src")
    rng = np.random.default_rng(3)
    frames = []
    for sid in ("a", "b"):
        n = 300
        y = rng.normal(50, 2, n)
        y[200:203] += 40  # injected burst
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "timestamp": pd.date_range(
                        "2024-01-01", periods=n, freq="30min"
                    ),
                    "value": y,
                    "event_id": np.arange(n, dtype="int64"),
                }
            )
        )
    pdf = pd.concat(frames).reset_index(drop=True)
    # split by time so each file is a prefix/suffix (state must resume)
    # micro (not nano) timestamps: the session reads TIMESTAMP(NANOS)
    # as long (nanosAsLong), which would fight the stream schema
    cut = pdf["timestamp"].median()
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf[pdf["timestamp"] <= cut].to_parquet(root / "part1.parquet", **kw)
    pdf[pdf["timestamp"] > cut].to_parquet(root / "part2.parquet", **kw)
    return str(root), pdf


def _run_stream(spark, out_df, name):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_window_stats(spark, stream_data):
    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    out = _run_stream(
        spark, streaming_window_stats(stream, "1 hour", "2 hours"), "winstats"
    )
    rows = out.collect()
    # 300 half-hour points = 150 hourly windows per series; append mode
    # withholds windows not yet closed by the final watermark (last ts
    # 05:30 − 2 h ⇒ the 3 trailing windows per series stay open)
    assert len(rows) == 2 * 147
    # spot-check one window against pandas
    r0 = [r for r in rows if r.series_id == "a"][0]
    w = pdf[
        (pdf.series_id == "a")
        & (pdf.timestamp >= r0.window_start)
        & (pdf.timestamp < r0.window_end)
    ]["value"]
    assert r0.n == len(w) == 2
    assert r0.mean == pytest.approx(w.mean())


def test_streaming_rolling_flags_matches_batch(spark, stream_data):
    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    out = _run_stream(
        spark, streaming_rolling_flags(stream, k=3.0), "rollflags"
    ).toPandas()

    batch_in = with_row_index(spark.createDataFrame(pdf))
    batch = (
        adaptive_threshold_flags(batch_in, k=3.0)
        .select("series_id", "timestamp", "roll_mean", "roll_std", "flag")
        .toPandas()
    )
    m = out.merge(batch, on=["series_id", "timestamp"], suffixes=("_s", "_b"))
    assert len(m) == len(pdf)
    # past the min_periods head (which batch bfills), stream == batch
    settled = m[m["roll_mean_s"].notna()]
    assert len(settled) == len(pdf) - 2 * 4  # first 4 rows null per series
    np.testing.assert_allclose(
        settled["roll_mean_s"], settled["roll_mean_b"], rtol=0, atol=1e-9
    )
    np.testing.assert_allclose(
        settled["roll_std_s"], settled["roll_std_b"], rtol=0, atol=1e-9
    )
    assert (settled["flag_s"] == settled["flag_b"]).all()
    # the injected bursts are flagged
    burst = m[(m.series_id == "a")].sort_values("timestamp").iloc[200]
    assert burst.flag_s == 1


def test_streaming_bocpd_matches_batch(spark, stream_data):
    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    # batch normalizes with global moments; hand the stream the same
    stats = {
        sid: (g["value"].mean(), g["value"].std(ddof=0))
        for sid, g in pdf.groupby("series_id")
    }
    (mu_a, sd_a) = stats["a"]
    out = _run_stream(
        spark,
        streaming_bocpd(
            stream.filter(F.col("series_id") == "a"), norm_mu=mu_a, norm_sd=sd_a
        ),
        "bocpdstream",
    ).toPandas()

    batch = (
        bocpd_changepoints(
            with_row_index(
                spark.createDataFrame(pdf[pdf.series_id == "a"])
            )
        )
        .select("timestamp", "cp_prob", "cp_score")
        .toPandas()
    )
    m = out.merge(batch, on="timestamp", suffixes=("_s", "_b"))
    assert len(m) == 300
    np.testing.assert_allclose(m["cp_prob_s"], m["cp_prob_b"], atol=1e-9)
    np.testing.assert_allclose(m["cp_score_s"], m["cp_score_b"], atol=1e-9)
    # the burst collapses the run-length posterior
    srt = m.sort_values("timestamp").reset_index(drop=True)
    assert srt.loc[200:202, "cp_score_s"].max() > 0.5


def test_streaming_user_sessions_matches_batch(spark, tmp_path_factory):
    """Native session_window streaming sessions == the batch time-gap
    sessionization on the same events (watermark far past the data so
    every session finalizes under availableNow)."""
    from time_series_data_anomaly_detection_spark.datapipe.events import (
        user_sessions,
    )
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_user_sessions,
    )

    root = tmp_path_factory.mktemp("sess_src")
    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-03-01")
    for uid in (1, 2, 3):
        t = base
        for s in range(3):  # 3 sessions per user
            for _ in range(int(rng.integers(2, 6))):
                rows.append((eid, uid, t, float(rng.normal(10, 2))))
                eid += 1
                t += pd.Timedelta(minutes=int(rng.integers(1, 20)))
            t += pd.Timedelta(minutes=45)  # > 30-min gap -> new session
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf.to_parquet(root / "events1.parquet", **kw)
    # append-mode session windows emit only once the watermark passes
    # their END: a sentinel event far in the future (second file ->
    # second micro-batch) finalizes every real session
    sentinel = pd.DataFrame(
        [(99999, 99, base + pd.Timedelta(days=2), 0.0)],
        columns=["event_id", "user_id", "ts", "value"],
    )
    sentinel.to_parquet(root / "events2.parquet", **kw)

    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(str(root))
    got = _run_stream(
        spark,
        streaming_user_sessions(stream, gap="30 minutes", watermark="0 seconds"),
        "sessions_out",
    ).toPandas()
    got = got[got.user_id != 99]

    batch_in = spark.createDataFrame(pdf).select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("ts_s"), "value",
    )
    exp = user_sessions(batch_in, gap_seconds=1800).toPandas()
    assert len(got) == len(exp) == 9
    g = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    e = exp.sort_values(["user_id", "start_s"]).reset_index(drop=True)
    assert list(g.n_events) == list(e.n_events)
    np.testing.assert_allclose(g.total_value, e.total_value, rtol=1e-9)
    assert (g.session_start.astype("int64") // 10**9 == e.start_s).all()


def test_streaming_session_exact_gap_boundary(spark, tmp_path_factory):
    """Exact-gap boundary parity: an event arriving EXACTLY gap seconds
    after the previous one stays in the session on BOTH sides — batch
    by the strict > break rule, streaming because session_window merges
    candidate sessions that touch at the boundary (start <= other.end),
    despite the nominal half-open [t, t+gap) window."""
    from time_series_data_anomaly_detection_spark.datapipe.events import (
        user_sessions,
    )
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_user_sessions,
    )

    root = tmp_path_factory.mktemp("sess_edge")
    base = pd.Timestamp("2024-03-01")
    # three events exactly 30 minutes apart, then one > gap later
    pdf = pd.DataFrame(
        [
            (0, 1, base, 1.0),
            (1, 1, base + pd.Timedelta(minutes=30), 1.0),
            (2, 1, base + pd.Timedelta(minutes=60), 1.0),
            (3, 1, base + pd.Timedelta(minutes=120), 1.0),
        ],
        columns=["event_id", "user_id", "ts", "value"],
    )
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf.to_parquet(root / "events1.parquet", **kw)
    sentinel = pd.DataFrame(
        [(9, 99, base + pd.Timedelta(days=2), 0.0)],
        columns=["event_id", "user_id", "ts", "value"],
    )
    sentinel.to_parquet(root / "events2.parquet", **kw)

    batch_in = spark.createDataFrame(pdf).select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    exp = user_sessions(batch_in, gap_seconds=1800).toPandas()
    # batch: exact-gap events stay in session -> 2 sessions (3 + 1)
    assert sorted(exp.n_events) == [1, 3]

    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(str(root))
    got = _run_stream(
        spark,
        streaming_user_sessions(stream, gap="30 minutes", watermark="0 seconds"),
        "sessions_edge_out",
    ).toPandas()
    got = got[got.user_id != 99]
    # streaming merges boundary-touching sessions too -> same 2 sessions
    assert sorted(got.n_events) == [1, 3]
    g = got.sort_values("n_events").reset_index(drop=True)
    e = exp.sort_values("n_events").reset_index(drop=True)
    assert (g.session_start.astype("int64") // 10**9 == e.start_s).all()


def test_streaming_exact_dedup_matches_batch_groups(spark, tmp_path_factory):
    """Stream dedup must keep exactly one survivor per batch dup_group
    (survivor membership checked, not identity — stream keeps first
    seen, batch keeps smallest id), across multiple input files."""
    from time_series_data_anomaly_detection_spark.datapipe import exact_dedup
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_exact_dedup,
    )

    root = tmp_path_factory.mktemp("dedup_src")
    texts = [
        "the quick brown fox",
        "The  quick brown FOX",      # dup of 0 modulo case/space
        "a completely different doc",
        "the quick brown fox",       # dup of 0, later file
        "yet another document here",
        "a completely  DIFFERENT doc",  # dup of 2, later file
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "ts": pd.date_range("2024-01-01", periods=len(texts), freq="1min"),
            "text": texts,
        }
    )
    kw = dict(
        index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    pdf.iloc[:3].to_parquet(root / "p1.parquet", **kw)
    pdf.iloc[3:].to_parquet(root / "p2.parquet", **kw)

    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(root))
    out = _run_stream(
        spark, streaming_exact_dedup(stream, watermark="1 hour"), "dedup_out"
    ).toPandas()

    batch = exact_dedup(
        spark.createDataFrame(pdf[["doc_id", "text"]])
    ).toPandas()
    groups = batch.groupby("dup_group")["doc_id"].apply(set)
    # one survivor per group, and each survivor is a member of its group
    assert sorted(out["dup_group"]) == sorted(groups.index)
    for _, r in out.iterrows():
        assert r["doc_id"] in groups[r["dup_group"]]


def test_streaming_ingest_with_index(spark, tmp_path_factory):
    """foreachBatch ingest loop: batch 1's admitted docs extend the
    index, so batch 2's re-post of a batch-1 doc is rejected; corpus
    duplicates and near-dups never land in the output."""
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        build_dedup_index,
    )
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_ingest_with_index,
    )

    root = tmp_path_factory.mktemp("ingest")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0], "text": [base + " lake"]}
        )
    )
    idx = str(root / "index")
    build_dedup_index(corpus, idx)

    (root / "in").mkdir()
    kw = dict(index=False)
    # batch file 1: a corpus dup, a near-dup, and a fresh doc
    pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": [
                base + "  LAKE",                     # exact dup of corpus
                base + " pond",                      # near-dup of corpus
                # long enough that a one-word edit stays J ≈ 0.92 —
                # post-r12 the banding is the honest s-curve, so a
                # J=0.6 near-dup carries a real ~57% miss probability
                "a genuinely new document body with many more "
                "interesting words inside it today",  # admit
            ],
        }
    ).to_parquet(root / "in" / "b1.parquet", **kw)
    # batch file 2: re-post of the admitted doc, a NEAR-dup of it, and
    # another fresh one.  The near-dup is the load-bearing case: exact
    # re-posts only need the digests table, but near-dup rejection
    # needs bands/shingles/sizes to have been EXTENDED by batch 1 —
    # the r12 100× stream measurement caught extension silently
    # appending zero rows to those three tables (cache invalidated by
    # the digests append's refresh-by-path, see streaming/dedup.py)
    pd.DataFrame(
        {
            "doc_id": [20, 21, 22],
            "text": [
                "a genuinely new document body with many more "
                "interesting words inside it today",  # dup of doc 12 (cross-batch)
                "a second brand new document body",   # admit
                "a genuinely new document body with many more "
                "interesting words inside it today yes",  # NEAR-dup of 12 (cross-batch)
            ],
        }
    ).to_parquet(root / "in" / "b2.parquet", **kw)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root / "in"))
    )
    q = streaming_ingest_with_index(
        stream,
        idx,
        str(root / "out"),
        str(root / "ckpt"),
        threshold=0.4,
    )
    q.awaitTermination(180)
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(str(root / "out")).collect()
    )
    assert admitted == [12, 21]
    # the index actually GREW: all four tables carry the admitted
    # docs, not just digests (seed corpus = 1 doc + 2 admitted)
    assert spark.read.parquet(f"{idx}/sizes").count() == 3
    assert spark.read.parquet(f"{idx}/bands").count() == 3 * 4
    assert spark.read.parquet(f"{idx}/digests").count() == 3
    seed_sh = 8  # 10-token seed doc -> 8 distinct 3-gram shingles
    assert spark.read.parquet(f"{idx}/shingles").count() > seed_sh


def test_streaming_ingest_hygiene_gate(spark, tmp_path_factory):
    """hygiene=True: pii-heavy and repetitive docs never reach the
    index; admitted docs land with their text REDACTED."""
    from time_series_data_anomaly_detection_spark.datapipe.index import (
        build_dedup_index,
    )
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_ingest_with_index,
    )

    root = tmp_path_factory.mktemp("ingest_hyg")
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["the seed corpus document is here"]})
    )
    idx = str(root / "index")
    build_dedup_index(corpus, idx)

    (root / "in").mkdir()
    pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": [
                "a@x.com b@y.org c@z.net d@w.io spam addresses",  # pii-heavy
                "spam spam spam spam spam spam spam spam",  # repetitive
                "a clean new document reaching me at alice@example.com today",
            ],
        }
    ).to_parquet(root / "in" / "b1.parquet", index=False)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(root / "in"))
    )
    q = streaming_ingest_with_index(
        stream,
        idx,
        str(root / "out"),
        str(root / "ckpt"),
        threshold=0.4,
        hygiene=True,
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(root / "out")).collect()
    assert [r.doc_id for r in out] == [12]
    assert "<EMAIL>" in out[0].text and "alice@example.com" not in out[0].text


def test_streaming_source_quality_matches_batch(spark, tmp_path_factory):
    """Windowed per-source quality over a doc stream equals the same
    aggregation computed in batch on the closed windows."""
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_source_quality,
    )

    root = tmp_path_factory.mktemp("docq")
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(120):
        rows.append(
            {
                "doc_id": i,
                "ts": base + pd.Timedelta(minutes=i),
                "source": "s%d" % (i % 2),
                "text": ("the quick brown fox %d " % i) * (1 + i % 4)
                + ("reach me at u%d@example.com" % i if i % 10 == 0 else ""),
            }
        )
    pdf = pd.DataFrame(rows)
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf[pdf.doc_id < 60].to_parquet(root / "p1.parquet", **kw)
    pdf[pdf.doc_id >= 60].to_parquet(root / "p2.parquet", **kw)

    schema = "doc_id long, ts timestamp, source string, text string"
    stream = spark.readStream.schema(schema).parquet(str(root))
    out = (
        streaming_source_quality(stream, "30 minutes", "10 minutes")
        .writeStream.format("memory")
        .queryName("srcq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    got = spark.table("srcq").toPandas()
    assert len(got) > 0
    # batch mirror on the same closed windows
    from time_series_data_anomaly_detection_spark.datapipe import doc_stats

    batch = doc_stats(spark.createDataFrame(pdf)).toPandas()
    batch["window_start"] = batch_ws = pd.to_datetime(pdf["ts"]).dt.floor("30min")
    for _, r in got.iterrows():
        sel = batch[
            (batch.source == r.source) & (batch.window_start == r.window_start)
        ]
        assert r.n_docs == len(sel)
        assert r.mean_quality == pytest.approx(sel.quality_score.mean(), abs=1e-9)
        has_pii = sel.doc_id % 10 == 0
        assert r.pii_rate == pytest.approx(has_pii.mean(), abs=1e-9)


def test_streaming_control_flags_matches_batch(spark, stream_data):
    from time_series_data_anomaly_detection_spark.functions.control import (
        cusum_chart,
        ewma_chart,
    )
    from time_series_data_anomaly_detection_spark.streaming.detectors import (
        streaming_control_flags,
    )

    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    # batch charts use global series moments; hand the stream series
    # a's moments (same convention as streaming_bocpd)
    g = pdf[pdf.series_id == "a"]
    mu, sd = g["value"].mean(), g["value"].std(ddof=1)
    out = _run_stream(
        spark,
        streaming_control_flags(
            stream.filter(F.col("series_id") == "a"),
            norm_mu=mu,
            norm_sd=sd,
        ),
        "ctrlstream",
    ).toPandas()

    batch_in = with_row_index(
        spark.createDataFrame(pdf[pdf.series_id == "a"])
    )
    be = ewma_chart(batch_in).toPandas().sort_values("rn")
    bc = cusum_chart(batch_in).toPandas().sort_values("rn")
    out = out.sort_values("timestamp").reset_index(drop=True)
    assert len(out) == len(be)
    np.testing.assert_allclose(out["ewma"], be["ewma"], atol=1e-8)
    np.testing.assert_allclose(out["ucl"], be["ucl"], atol=1e-8)
    np.testing.assert_allclose(
        out["cusum_pos"], bc["cusum_pos"], atol=1e-8
    )
    np.testing.assert_allclose(
        out["cusum_neg"], bc["cusum_neg"], atol=1e-8
    )
    assert (
        out["ewma_flag"].to_numpy() == be["flag"].to_numpy()
    ).all()
    assert (
        out["cusum_flag"].to_numpy() == bc["flag"].to_numpy()
    ).all()
    # the injected burst trips the CUSUM chart in-stream
    assert out["cusum_flag"].iloc[200:].sum() > 0


def test_streaming_holt_winters_matches_batch(spark, stream_data):
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_fixed,
    )
    from time_series_data_anomaly_detection_spark.streaming.detectors import (
        streaming_holt_winters,
    )

    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    out = _run_stream(
        spark,
        streaming_holt_winters(
            stream.filter(F.col("series_id") == "a"), period=48
        ),
        "hwstream",
    ).toPandas()

    batch_in = with_row_index(
        spark.createDataFrame(pdf[pdf.series_id == "a"])
    )
    batch = (
        holt_winters_fixed(batch_in, period=48)
        .toPandas()
        .sort_values("rn")
        .reset_index(drop=True)
    )
    out = out.sort_values("timestamp").reset_index(drop=True)
    # warm-up rows stream as null pred; batch emits nothing for them
    settled = out[out["pred"].notna()].reset_index(drop=True)
    assert len(settled) == len(batch) == 300 - 48
    np.testing.assert_allclose(settled["pred"], batch["pred"], atol=1e-8)
    np.testing.assert_allclose(
        settled["resid"], batch["resid"], atol=1e-8
    )


def test_streaming_spectral_residual_flags_burst(spark, stream_data):
    from time_series_data_anomaly_detection_spark.streaming.detectors import (
        streaming_spectral_residual,
    )

    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    out = _run_stream(
        spark,
        streaming_spectral_residual(stream, history=128, min_history=32),
        "sr_stream",
    ).toPandas()
    assert len(out) == len(pdf)
    # warm-up rows (< min_history) carry null scores
    a = out[out["series_id"] == "a"].sort_values("timestamp").reset_index(drop=True)
    assert a["sr_score"].isna().sum() == 31
    # the injected burst at rows 200..202 must be flagged
    hits = set(a.index[a["flag"] == 1])
    assert hits & {200, 201, 202}
    # and the clean warm region stays mostly silent (< 5% flag rate)
    clean = a.iloc[40:190]
    assert (clean["flag"] == 1).mean() < 0.05


def test_streaming_pot_matches_reference_loop(spark, stream_data):
    """SPOT stream must equal a sequential python SPOT on the same
    data — including across the two-file split (state carry-over) —
    and flag the injected burst."""
    from time_series_data_anomaly_detection_spark.streaming import streaming_pot
    from time_series_data_anomaly_detection_spark.streaming.detectors import (
        _gpd_mom_threshold,
    )

    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    got = (
        _run_stream(spark, streaming_pot(stream, n_init=150, q_level=0.95), "pot_s")
        .toPandas()
        .sort_values(["series_id", "timestamp"])
        .reset_index(drop=True)
    )

    for sid, g in pdf.groupby("series_id"):
        y = g.sort_values("timestamp")["value"].to_numpy(float)
        # sequential reference
        arr = y[:150]
        u = float(np.quantile(arr, 0.95, method="linear"))
        exc = arr[arr > u] - u
        n, n_tail = len(arr), len(exc)
        s1, s2 = float(exc.sum()), float((exc * exc).sum())
        zq = _gpd_mom_threshold(u, n, n_tail, s1, s2, 1e-3)
        exp_z, exp_an = [], []
        for x in y[150:]:
            exp_z.append(zq)
            if x > zq:
                exp_an.append(1)
            elif x > u:
                n += 1
                n_tail += 1
                s1 += x - u
                s2 += (x - u) ** 2
                zq = _gpd_mom_threshold(u, n, n_tail, s1, s2, 1e-3)
                exp_an.append(0)
            else:
                n += 1
                exp_an.append(0)
        gg = got[got.series_id == sid].reset_index(drop=True)
        scored = gg[gg.u.notna()].reset_index(drop=True)
        assert len(scored) == len(y) - 150
        np.testing.assert_allclose(scored.z_q.to_numpy(), exp_z, rtol=1e-12)
        assert scored.is_anomaly.tolist() == exp_an
        # the injected burst (rows 200:203) is flagged
        burst = scored.iloc[200 - 150 : 203 - 150]
        assert burst.is_anomaly.sum() >= 1


def test_streaming_pot_constant_calibration_degenerate(spark, tmp_path_factory):
    """Constant calibration data (empirical quantile == max -> zero
    excesses) must not crash the GPD fit: z_q falls back to u, the
    first exceedance bootstraps the tail (in_tail=1, no alarm), and a
    genuine spike after bootstrap still alarms."""
    from time_series_data_anomaly_detection_spark.streaming import streaming_pot

    root = tmp_path_factory.mktemp("pot_const")
    n = 170
    y = np.full(n, 5.0)
    y[160] = 6.0    # first exceedance: bootstraps the tail
    y[165] = 500.0  # genuine spike after bootstrap
    pdf = pd.DataFrame(
        {
            "series_id": "c",
            "timestamp": pd.date_range("2024-01-01", periods=n, freq="30min"),
            "value": y,
            "event_id": np.arange(n, dtype="int64"),
        }
    )
    pdf.to_parquet(
        root / "p.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(root))
    got = (
        _run_stream(
            spark, streaming_pot(stream, n_init=150, q_level=0.98), "pot_const_s"
        )
        .toPandas()
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    scored = got[got.u.notna()].reset_index(drop=True)
    assert len(scored) == n - 150
    # degenerate calibration: threshold collapses to u = 5.0
    assert scored.z_q.iloc[0] == scored.u.iloc[0] == 5.0
    boot = scored.iloc[160 - 150]
    assert boot.in_tail == 1 and boot.is_anomaly == 0  # bootstrap, not alarm
    assert scored.z_q.iloc[160 - 150 + 1] > 5.0        # refit threshold
    assert scored.is_anomaly.iloc[165 - 150] == 1      # spike still alarms


# ---------------------------------------------------------------------------
# Late-data / out-of-order arrival (verdict r05 #7): the parity tests
# above replay ordered splits; these force MULTI-BATCH processing
# (maxFilesPerTrigger=1, mtime-ordered files) and feed genuinely late
# rows, asserting the documented semantics: watermarked window aggs
# DROP rows older than the watermark and UPDATE still-open windows for
# in-watermark stragglers; the stateful detectors (no watermark by
# design) process late rows in ARRIVAL order.
# ---------------------------------------------------------------------------


def _write_batches(root, schema_frames):
    """Write each frame as one parquet file with strictly increasing
    mtimes so FileStreamSource picks them up in order under
    maxFilesPerTrigger=1."""
    import os as _os
    import time as _time

    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    now = _time.time()
    for i, pdf in enumerate(schema_frames):
        p = str(root / f"b{i}.parquet")
        pdf.to_parquet(p, **kw)
        _os.utime(p, (now + i * 10, now + i * 10))


def test_streaming_window_stats_late_data_semantics(spark, tmp_path_factory):
    """Watermark semantics of the windowed agg, pinned empirically on
    this Spark: the LATE-EVENT filter lags one commit behind the
    progress-reported (eviction) watermark — batch b drops rows
    against the watermark reported for batch b-1.  So: batch 0 sets
    max(ts)=04:00; batch 1 ([06:00]) runs with eviction wm 03:00
    (emits [0,1)..[2,3)) while its late filter still sees 0; batch 2's
    00:15 row NOW faces the 03:00 filter (dropped — its window closed
    a batch ago and must not re-emit), the 03:15 row is a
    within-watermark straggler (merged into the still-open [03,04)
    window), and batch 2's eviction wm 05:00 closes [03,04)/[04,05)."""
    root = tmp_path_factory.mktemp("late_win")
    base = pd.Timestamp("2024-01-01")

    def frame(minutes):
        return pd.DataFrame(
            {
                "series_id": "a",
                "timestamp": [base + pd.Timedelta(minutes=m) for m in minutes],
                "value": [float(m) for m in minutes],
                "event_id": np.arange(len(minutes), dtype="int64"),
            }
        )

    # batch0: 00:00..04:00 half-hourly; batch1: watermark-advancer;
    # batch2: one too-late row, one straggler, one keep-alive
    _write_batches(
        root,
        [
            frame(list(range(0, 241, 30))),
            frame([360]),
            frame([15, 195, 400]),
        ],
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    out = _run_stream(
        spark,
        streaming_window_stats(stream, "1 hour", "1 hour"),
        "late_winstats",
    ).toPandas()
    out = out.sort_values("window_start").reset_index(drop=True)
    starts = [(ws - base).total_seconds() / 3600 for ws in out["window_start"]]
    # emitted: [0,1) [1,2) [2,3) in batch 1 (eviction wm 03:00);
    # [3,4) [4,5) in batch 2 (eviction wm 05:00); [6,7) stays open
    assert starts == [0.0, 1.0, 2.0, 3.0, 4.0]
    n_by_start = dict(zip(starts, out["n"]))
    assert n_by_start[0.0] == 2  # 00:15 dropped (beyond watermark)
    assert n_by_start[3.0] == 3  # 03:15 straggler merged (03:00, 03:15, 03:30)
    assert n_by_start[4.0] == 1
    # the straggler's value participates in the window mean
    assert n_by_start[3.0] == 3 and pytest.approx(
        out[out.window_start == base + pd.Timedelta(hours=3)]["mean"].iloc[0]
    ) == (180 + 195 + 210) / 3


def test_streaming_source_quality_late_data_semantics(spark, tmp_path_factory):
    """Quality monitor under out-of-order arrival: a beyond-watermark
    doc (with PII!) is dropped — its window's counts and pii_rate are
    unaffected — while a within-watermark straggler lands in its
    still-open window."""
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_source_quality,
    )

    root = tmp_path_factory.mktemp("late_docq")
    base = pd.Timestamp("2024-01-01")

    def docs(specs):
        return pd.DataFrame(
            {
                "doc_id": np.arange(len(specs), dtype="int64"),
                "ts": [base + pd.Timedelta(minutes=m) for m, _ in specs],
                "source": "s0",
                "text": [t for _, t in specs],
            }
        )

    clean = "the quick brown fox jumps over the lazy dog again and again"
    # batch0 max ts 00:40 -> watermark 00:20 (20 min); batch1's 01:10
    # doc advances it to 00:50 (and, one commit later, arms the late
    # filter at 00:20); batch2's minute-3 doc is beyond that filter
    # (dropped), minute 22 is a within-watermark straggler
    _write_batches(
        root,
        [
            docs([(0, clean), (5, clean), (12, clean), (20, clean), (40, clean)]),
            docs([(70, clean)]),
            docs(
                [
                    (3, "mail me at leak@example.com " + clean),
                    (22, clean),
                ]
            ),
        ],
    )
    schema = "doc_id long, ts timestamp, source string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    out = (
        streaming_source_quality(stream, "10 minutes", "20 minutes")
        .writeStream.format("memory")
        .queryName("late_srcq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    got = spark.table("late_srcq").toPandas().sort_values("window_start")
    mins = [(ws - base).total_seconds() / 60 for ws in got["window_start"]]
    assert mins == [0.0, 10.0, 20.0, 40.0]
    by_start = {m: r for m, (_, r) in zip(mins, got.iterrows())}
    # minute-3 PII doc dropped: window [0,10) keeps n=2, pii_rate 0
    assert by_start[0.0]["n_docs"] == 2
    assert by_start[0.0]["pii_rate"] == 0.0
    # straggler merged: [20,30) holds 00:20 and the late 00:22
    assert by_start[20.0]["n_docs"] == 2
    assert by_start[40.0]["n_docs"] == 1


def test_streaming_sr_and_pot_process_late_rows_in_arrival_order(
    spark, tmp_path_factory
):
    """The stateful detectors carry NO watermark by design (state is a
    trailing buffer, not an event-time window): a row arriving late is
    not dropped — it is appended to the per-series state in ARRIVAL
    order (within a batch, rows sort by event time; across batches,
    arrival order rules).  Assert the stream equals a driver replay of
    the same arrival sequence for both SR and POT."""
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_pot,
        streaming_spectral_residual,
    )

    root = tmp_path_factory.mktemp("late_state")
    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    n1 = 80
    vals1 = rng.normal(10, 1, n1)

    def frame(minutes, values, id0=0):
        return pd.DataFrame(
            {
                "series_id": "a",
                "timestamp": [base + pd.Timedelta(minutes=float(m)) for m in minutes],
                "value": np.asarray(values, float),
                "event_id": np.arange(id0, id0 + len(values), dtype="int64"),
            }
        )

    # batch2 carries a straggler at minute 5.5 (earlier than all of
    # batch1's tail) plus a fresh outlier spike
    b1 = frame(range(n1), vals1)
    late_vals = [9.5, 25.0, 10.2]  # middle one is an outlier spike
    b2 = frame([5.5, 81, 82], late_vals, id0=n1)
    b2_ts = set(b2["timestamp"])
    _write_batches(root, [b1, b2])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    sr_out = _run_stream(
        spark,
        streaming_spectral_residual(stream, history=64, min_history=16, tau=3.0),
        "late_sr",
    ).toPandas()
    assert len(sr_out) == n1 + 3  # nothing dropped

    # driver replay of the documented arrival order: batch1 sorted,
    # then batch2 sorted (late minute-5 row FIRST within its batch)
    from time_series_data_anomaly_detection_spark.functions.spectral import (
        estimate_tail,
        spectral_residual_saliency,
    )

    arrival = list(vals1) + [9.5, 25.0, 10.2]
    buf: list = []
    want_scores = []
    for v in arrival:
        buf.append(float(v))
        buf = buf[-64:]
        if len(buf) >= 16:
            ext = estimate_tail(np.asarray(buf), m=5)
            _, s = spectral_residual_saliency(ext)
            want_scores.append(s[len(buf) - 1])
        else:
            want_scores.append(np.nan)
    # align stream rows to arrival order: batch1 rows by event time,
    # then batch2 rows by event time (the minute-5.5 straggler first)
    is_b2 = sr_out["timestamp"].isin(b2_ts)
    sr1 = sr_out[~is_b2].sort_values("timestamp")
    sr2 = sr_out[is_b2].sort_values("timestamp")
    got_scores = list(sr1["sr_score"]) + list(sr2["sr_score"])
    np.testing.assert_allclose(
        np.asarray(got_scores, float), np.asarray(want_scores, float),
        atol=1e-9, equal_nan=True,
    )

    # POT: same arrival-order contract — the late row updates the tail
    # state; the spike is flagged even though it follows a late row
    pot_out = _run_stream(
        spark,
        streaming_pot(stream, n_init=60, q_level=0.95, target_p=0.002),
        "late_pot",
    ).toPandas()
    assert len(pot_out) == n1 + 3
    p2 = (
        pot_out[pot_out["timestamp"].isin(b2_ts)]
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    assert len(p2) == 3
    assert p2.loc[1, "value"] == 25.0
    assert p2.loc[1, "is_anomaly"] == 1  # spike still caught post-straggler
    assert p2.loc[0, "is_anomaly"] == 0  # the late 9.5 row is benign


def test_streaming_page_hinkley_matches_batch(spark, stream_data):
    from time_series_data_anomaly_detection_spark.operators.drift import (
        page_hinkley,
    )
    from time_series_data_anomaly_detection_spark.streaming.detectors import (
        streaming_page_hinkley,
    )

    root, pdf = stream_data
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    g = pdf[pdf.series_id == "a"]
    mu, sd = g["value"].mean(), g["value"].std(ddof=1)
    out = _run_stream(
        spark,
        streaming_page_hinkley(
            stream.filter(F.col("series_id") == "a"),
            norm_mu=mu,
            norm_sd=sd,
        ),
        "phstream",
    ).toPandas()

    batch_in = with_row_index(
        spark.createDataFrame(pdf[pdf.series_id == "a"])
    )
    # the batch operator derives moments internally (exact decimal) —
    # identical inputs, so statistics agree to accumulation tolerance
    b = page_hinkley(batch_in).toPandas().sort_values("rn")
    out = out.sort_values("timestamp").reset_index(drop=True)
    assert len(out) == len(b)
    np.testing.assert_allclose(out["ph_up"], b["ph_up"], atol=1e-5)
    np.testing.assert_allclose(out["ph_dn"], b["ph_dn"], atol=1e-5)
    # the injected burst drives an up-drift alarm in-stream
    assert out["flag_up"].iloc[200:].sum() > 0


def test_streaming_sessions_native_session_window(spark, tmp_path):
    """Native F.session_window sessionization: closed sessions match
    the batch gap-session operator on the same events."""
    import numpy as np
    import pandas as pd

    from time_series_data_anomaly_detection_spark.streaming.quality import (
        streaming_sessions,
    )

    base = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    # user 1: two sessions (gap > 30min); user 2: one session
    for uid, offsets in [
        (1, [0, 5, 10, 120, 125]),
        (2, [0, 20, 40]),
    ]:
        for off in offsets:
            rows.append(
                {
                    "event_id": eid,
                    "ts": base + pd.Timedelta(minutes=off),
                    "user_id": uid,
                    "event_type": "click" if eid % 2 else "view",
                    "value": 1.0 * eid,
                    "props": "{}",
                }
            )
            eid += 1
    # a far-future event per user closes all real sessions past the
    # watermark when availableNow drains
    for uid in (1, 2):
        rows.append(
            {
                "event_id": eid,
                "ts": base + pd.Timedelta(days=2),
                "user_id": uid,
                "event_type": "view",
                "value": 0.0,
                "props": "{}",
            }
        )
        eid += 1
    pdf = pd.DataFrame(rows)
    root = tmp_path / "sess_src"
    root.mkdir()
    pdf.to_parquet(
        root / "p1.parquet",
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(str(root))
    got = _run_stream(
        spark,
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour"),
        "sessstream",
    ).toPandas()
    closed = got.sort_values(["user_id", "session_start"]).reset_index(
        drop=True
    )
    # user 1: [0,5,10] and [120,125]; user 2: [0,20,40]
    u1 = closed[closed["user_id"] == 1]
    assert len(u1) == 2
    assert u1.iloc[0]["n_events"] == 3
    assert u1.iloc[1]["n_events"] == 2
    u2 = closed[closed["user_id"] == 2]
    assert len(u2) == 1
    assert u2.iloc[0]["n_events"] == 3
    # session extent = first event .. last event + gap
    assert (
        u1.iloc[0]["session_end"] - u1.iloc[0]["session_start"]
    ) == pd.Timedelta(minutes=40)


def test_streaming_holt_winters_state_drops_warmup_buffer(
    spark, stream_data, tmp_path
):
    """Once a series has warmed up, its Holt-Winters state keeps the
    seasonal vector but not the warm-up buffer it was seeded from."""
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_holt_winters,
    )

    root, _ = stream_data
    ck = str(tmp_path / "ck")
    q = (
        streaming_holt_winters(
            spark.readStream.schema(SCHEMA).parquet(root), period=48
        )
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    st = (
        spark.read.format("statestore")
        .load(ck)
        .select(
            F.col("value.groupState.started").alias("started"),
            F.size("value.groupState.buf").alias("n_buf"),
            F.size("value.groupState.sl").alias("n_sl"),
        )
        .toPandas()
    )
    assert len(st) == 2 and (st["started"] == 1).all()
    assert (st["n_buf"] == 0).all()
    assert (st["n_sl"] == 48).all()


def test_streaming_checkpoint_restart_continuity(spark, tmp_path_factory):
    """Kill-and-resume across a checkpoint (r06 verdict item #8): run
    the EWMA+CUSUM, SPOT, conformal, BOCPD and Holt-Winters stateful
    detectors over a prefix, stop the query, land more data, restart
    from the SAME checkpointLocation —
    the resumed query must (a) not reprocess the prefix and (b) carry
    the state store forward so every post-restart row equals a
    no-restart run that saw the files in the same micro-batch order.
    """
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_conformal,
        streaming_control_flags,
        streaming_holt_winters,
        streaming_pot,
    )

    base = tmp_path_factory.mktemp("ckpt_restart")
    src = base / "src"
    src.mkdir()
    rng = np.random.default_rng(11)
    frames = []
    for sid in ("a", "b"):
        n = 400
        y = rng.normal(50, 2, n)
        y[300:303] += 25  # post-restart burst: state must be live
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "timestamp": pd.date_range(
                        "2024-01-01", periods=n, freq="30min"
                    ),
                    "value": y,
                    "event_id": np.arange(n, dtype="int64"),
                }
            )
        )
    pdf = pd.concat(frames).reset_index(drop=True)
    kw = dict(
        index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    part1 = pdf.groupby("series_id", group_keys=False).head(250)
    part2 = pdf.groupby("series_id", group_keys=False).tail(150)

    mu, sd = float(part1["value"].mean()), float(part1["value"].std())

    def build(detector):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        if detector == "ctrl":
            return streaming_control_flags(stream, norm_mu=mu, norm_sd=sd)
        if detector == "conf":
            # array-typed state (the residual buffer) exercises a
            # different state-store codec than the scalar detectors
            return streaming_conformal(stream, icept=25.0, slope=0.5,
                                       n_cal=100)
        if detector == "bocpd":
            # the run-length posterior, packed into one binary state field
            return streaming_bocpd(stream, norm_mu=mu, norm_sd=sd)
        if detector == "hw":
            return streaming_holt_winters(stream, period=48)
        return streaming_pot(stream, n_init=200)

    def run_once(detector, tag):
        out = str(base / f"out_{detector}_{tag}")
        ck = str(base / f"ck_{detector}_{tag}")
        q = (
            build(detector)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    for detector in ("ctrl", "pot", "conf", "bocpd", "hw"):
        # phase 1: only the prefix exists
        for f in list(src.glob("*.parquet")):
            f.unlink()
        part1.to_parquet(src / "part1.parquet", **kw)
        out = run_once(detector, "restart")
        n_after_p1 = spark.read.parquet(out).count()
        assert n_after_p1 == len(part1)

        # the query is STOPPED; more data lands; resume from the same
        # checkpoint (fresh query object — a real process restart)
        part2.to_parquet(src / "part2.parquet", **kw)
        run_once(detector, "restart")  # same out/ck paths ⇒ resume
        got = (
            spark.read.parquet(out)
            .toPandas()
            .sort_values(["series_id", "timestamp"])
            .reset_index(drop=True)
        )
        # (a) no reprocessing: exactly one output row per input row
        assert len(got) == len(pdf)

        # reference: no restart, same file order (one file per batch)
        ref_out = str(base / f"out_{detector}_ref")
        q = (
            build(detector)
            .writeStream.format("parquet")
            .option("path", ref_out)
            .option("checkpointLocation", str(base / f"ck_{detector}_ref"))
            .option("maxFilesPerTrigger", 1)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        ref = (
            spark.read.parquet(ref_out)
            .toPandas()
            .sort_values(["series_id", "timestamp"])
            .reset_index(drop=True)
        )
        assert len(ref) == len(got)
        num_cols = [
            c
            for c in got.columns
            if c not in ("series_id", "timestamp")
        ]
        for c in num_cols:
            a = got[c].to_numpy(float)
            b = ref[c].to_numpy(float)
            assert np.array_equal(np.isnan(a), np.isnan(b)), c
            m = ~np.isnan(a)
            # state carried across the restart ⇒ bit-identical
            np.testing.assert_array_equal(a[m], b[m], err_msg=c)
        # the post-restart burst is alarmed (state is genuinely live)
        if detector == "ctrl":
            s_a = got[got.series_id == "a"].reset_index(drop=True)
            assert s_a.loc[300:302, "cusum_flag"].max() == 1


def test_streaming_conformal_matches_reference_loop(spark, stream_data):
    """The rolling-calibration conformal stream must reproduce a
    from-scratch sequential reference (same fixed AR(1) coefficients,
    same sliding buffer and order statistic) across the two-file
    split, and its empirical coverage must sit near 1−α."""
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_conformal,
    )

    root, pdf = stream_data
    icept, slope = 25.0, 0.5
    n_cal, alpha = 100, 0.1
    stream = spark.readStream.schema(SCHEMA).parquet(root)
    out = _run_stream(
        spark,
        streaming_conformal(
            stream, icept=icept, slope=slope, n_cal=n_cal, alpha=alpha
        ),
        "confstream",
    ).toPandas()

    import math

    k = min(math.ceil((n_cal + 1) * (1 - alpha)), n_cal)
    for sid in ("a", "b"):
        got = (
            out[out.series_id == sid]
            .sort_values("timestamp")
            .reset_index(drop=True)
        )
        vals = (
            pdf[pdf.series_id == sid]
            .sort_values("timestamp")["value"]
            .to_numpy()
        )
        buf: list[float] = []
        prev = None
        exp_q = np.full(len(vals), np.nan)
        exp_pred = np.full(len(vals), np.nan)
        for i, v in enumerate(vals):
            if prev is not None:
                p = icept + slope * prev
                exp_pred[i] = p
                if len(buf) >= n_cal:
                    exp_q[i] = sorted(buf)[k - 1]
                buf.append(abs(v - p))
                if len(buf) > n_cal:
                    buf.pop(0)
            prev = v
        np.testing.assert_allclose(
            got["pred"].to_numpy(), exp_pred, atol=1e-9, equal_nan=True
        )
        np.testing.assert_allclose(
            got["q_hat"].to_numpy(), exp_q, atol=1e-9, equal_nan=True
        )
        # coverage on the settled tail is near 1-alpha (the injected
        # 3-row burst can only dent it by ~3/199)
        settled = got[got["q_hat"].notna()]
        assert len(settled) == len(vals) - n_cal - 1
        assert settled["covered"].astype(float).mean() > 0.8


CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"
CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _checkpoint_manager_class(spark, path):
    """The class Spark's own factory picks for a checkpoint at ``path``
    under the session's current configuration."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$")
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return factory.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getName()


def test_session_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """The package session writes streaming checkpoints through the
    Hadoop FileSystem API (no forked ``readlink`` per path on local
    disk), for ``file:`` paths and plain local ones."""
    want = CKPT_PKG + "FileSystemBasedCheckpointFileManager"
    assert spark.conf.get(CKPT_KEY) == want
    assert _checkpoint_manager_class(spark, (tmp_path / "ck").as_uri()) == want
    assert _checkpoint_manager_class(spark, str(tmp_path / "ck2")) == want


def test_streaming_bocpd_resumes_filecontext_checkpoint(spark, tmp_path_factory):
    """The upgrade path: a ``streaming_bocpd`` checkpoint written under
    Spark's default FileContext manager resumes under the session's
    FileSystem manager, and the rows equal one uninterrupted run that
    saw the files in the same micro-batch order, bit for bit."""
    base = tmp_path_factory.mktemp("ckpt_upgrade")
    src = base / "src"
    src.mkdir()
    rng = np.random.default_rng(17)
    pdf = pd.concat(
        pd.DataFrame({
            "series_id": sid,
            "timestamp": pd.date_range("2024-01-01", periods=200, freq="30min"),
            "value": rng.normal(10, 1, 200) + 6.0 * (np.arange(200) >= 150),
            "event_id": np.arange(200, dtype="int64"),
        })
        for sid in ("a", "b")
    ).reset_index(drop=True)
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    mu, sd = 10.0, 1.0

    def run(tag, **opts):
        stream = spark.readStream.schema(SCHEMA).options(**opts).parquet(str(src))
        q = (
            streaming_bocpd(stream, norm_mu=mu, norm_sd=sd)
            .writeStream.format("parquet")
            .option("path", str(base / f"out_{tag}"))
            .option("checkpointLocation", str(base / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        return (
            spark.read.parquet(str(base / f"out_{tag}"))
            .toPandas()
            .sort_values(["series_id", "timestamp"])
            .reset_index(drop=True)
        )

    pdf.groupby("series_id").head(120).to_parquet(src / "part1.parquet", **kw)
    session_cls = spark.conf.get(CKPT_KEY)
    spark.conf.set(CKPT_KEY, CKPT_PKG + "FileContextBasedCheckpointFileManager")
    try:
        ck = str(base / "ck_resumed")
        assert _checkpoint_manager_class(spark, ck).endswith(
            "FileContextBasedCheckpointFileManager"
        )
        assert len(run("resumed")) == 240
    finally:
        spark.conf.set(CKPT_KEY, session_cls)
    pdf.groupby("series_id").tail(80).to_parquet(src / "part2.parquet", **kw)
    got = run("resumed")
    ref = run("ref", maxFilesPerTrigger=1)
    assert len(got) == len(ref) == len(pdf)
    assert got[["series_id", "timestamp"]].equals(ref[["series_id", "timestamp"]])
    for c in ("value", "cp_prob", "cp_score"):
        np.testing.assert_array_equal(
            got[c].to_numpy(float).view(np.int64), ref[c].to_numpy(float).view(np.int64), c
        )
    # the level shift after the restart collapses the posterior: state is live
    assert got.loc[got.series_id == "a", "cp_score"].iloc[150:153].max() > 0.5


# ---------------------------------------------------------------------------
# The stateful shell's Arrow boundary: ``series_id``, ``ts_us`` (epoch
# microseconds) and ``value`` cross it, and ``streaming_bocpd`` keeps its
# run-length posterior as one packed ``binary`` field.  The replicas below
# are the shell and BOCPD state as they were before: the timestamp column
# crossed as a timestamp, each group was ordered by ``sort_values``, and
# the posterior was four ``array<double>`` fields.
# ---------------------------------------------------------------------------


def _timestamp_shell(stream, out_ddl, state_ddl, init, step):
    """Replica of ``_per_series_state`` with a timestamp column in and out."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (series_id,) = key
        st = state.get if state.exists else init()
        for pdf in pdfs:
            pdf = pdf.sort_values("timestamp").reset_index(drop=True)
            y = pdf["value"].to_numpy(float)
            cols, st = step(y, st)
            yield pd.DataFrame(
                {"series_id": series_id, "timestamp": pdf["timestamp"], "value": y, **cols}
            )
        state.update(st)

    return stream.select("series_id", "timestamp", "value").groupBy(
        "series_id"
    ).applyInPandasWithState(
        update,
        f"series_id string, timestamp timestamp, value double, {out_ddl}",
        state_ddl,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _array_state_bocpd(stream, norm_mu, norm_sd):
    """Replica of ``streaming_bocpd`` with its state as four
    ``array<double>`` fields, run by the timestamp shell."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        STATE_KEYS,
        bocpd_run,
        initial_state,
    )

    def encode(st):
        return tuple(np.asarray(st[k], float).tolist() for k in STATE_KEYS)

    def step(y, st):
        st = {k: np.asarray(v, float) for k, v in zip(STATE_KEYS, st)}
        st["run_len"] = st["run_len"].astype(int)
        cp, short, st = bocpd_run((y - norm_mu) / norm_sd, st)
        return {"cp_prob": cp, "cp_score": short}, encode(st)

    return _timestamp_shell(
        stream,
        "cp_prob double, cp_score double",
        ", ".join(f"{k} array<double>" for k in STATE_KEYS),
        lambda: encode(initial_state()),
        step,
    )


def _bit_columns(pdf):
    """Each column as int64 bit patterns (strings as they are), rows in
    ``(series_id, timestamp)`` order."""
    pdf = pdf.sort_values(["series_id", "timestamp"]).reset_index(drop=True)
    out = {"series_id": pdf["series_id"].to_numpy()}
    for c in pdf.columns.drop("series_id"):
        col = pdf[c]
        if c == "timestamp":
            out[c] = col.to_numpy("datetime64[us]").view(np.int64)
        elif col.dtype.kind == "f":
            out[c] = col.to_numpy().view(np.int64)
        else:
            out[c] = col.to_numpy(np.int64)
    return out


def test_shell_matches_timestamp_shell_bitwise(spark, tmp_path, monkeypatch):
    """``streaming_bocpd`` and ``streaming_control_flags`` equal the
    timestamp shell with array-field BOCPD state, every column as int64
    bits, over a replay of ragged series where one file delivers a
    series in reverse time order, one series skips a micro-batch and
    one value is NaN."""
    rng = np.random.default_rng(23)
    t0 = pd.Timestamp("2024-01-01")
    lens = {"a": 160, "b": 97, "c": 41}
    full = {
        sid: pd.DataFrame({
            "series_id": sid,
            "timestamp": t0 + pd.to_timedelta(np.arange(n) * 30, "min"),
            "value": rng.normal(10, 1, n) + 5.0 * (np.arange(n) >= n // 2),
            "event_id": np.arange(n, dtype="int64"),
        })
        for sid, n in lens.items()
    }
    full["b"].loc[70, "value"] = np.nan
    files = []
    for i in range(4):
        parts = []
        for sid, g in full.items():
            if sid == "c" and i == 2:
                continue  # c is absent from the third micro-batch
            part = g[g.index % 4 == i] if sid == "c" else g.iloc[len(g) * i // 4 : len(g) * (i + 1) // 4]
            parts.append(part.iloc[::-1] if (sid, i) == ("a", 1) else part)
        files.append(pd.concat(parts))
    files[3] = pd.concat([files[3], full["c"][full["c"].index % 4 == 2]])
    _write_batches(tmp_path, files)
    assert sum(map(len, files)) == sum(lens.values())
    mu, sd = 12.5, 2.5

    def run(build, name):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path))
        )
        return _bit_columns(_run_stream(spark, build(stream), name).toPandas())

    got = {
        "bocpd": run(lambda s: streaming_bocpd(s, norm_mu=mu, norm_sd=sd), "pin_bocpd"),
        "ctrl": run(
            lambda s: detectors.streaming_control_flags(s, norm_mu=mu, norm_sd=sd),
            "pin_ctrl",
        ),
    }
    monkeypatch.setattr(detectors, "_per_series_state", _timestamp_shell)
    want = {
        "bocpd": run(lambda s: _array_state_bocpd(s, mu, sd), "pin_bocpd_ref"),
        "ctrl": run(
            lambda s: detectors.streaming_control_flags(s, norm_mu=mu, norm_sd=sd),
            "pin_ctrl_ref",
        ),
    }
    for name in got:
        assert list(got[name]) == list(want[name]), name
        assert len(got[name]["series_id"]) == sum(lens.values()), name
        for c in want[name]:
            np.testing.assert_array_equal(got[name][c], want[name][c], f"{name}.{c}")
    assert np.isnan(want["bocpd"]["value"].view(float)).sum() == 1


_SHELL_DETECTORS = {
    "rolling": lambda s: streaming_rolling_flags(s, window=5),
    "bocpd": lambda s: streaming_bocpd(s, norm_mu=20.0, norm_sd=10.0),
    "control": lambda s: detectors.streaming_control_flags(s, norm_mu=20.0, norm_sd=10.0),
    "page_hinkley": lambda s: detectors.streaming_page_hinkley(s),
    "holt_winters": lambda s: detectors.streaming_holt_winters(s, period=4),
    "spectral_residual": lambda s: detectors.streaming_spectral_residual(
        s, history=16, min_history=8
    ),
    "pot": lambda s: detectors.streaming_pot(s, n_init=10),
    "conformal": lambda s: detectors.streaming_conformal(s, icept=0.0, slope=1.0, n_cal=5),
}


@pytest.mark.parametrize("detector", sorted(_SHELL_DETECTORS))
def test_shell_timestamp_edges(spark, tmp_path, detector):
    """NULL timestamps come out NULL and sort last; 1900-01-01 and
    2200-01-01 round-trip exactly, also in a group whose microseconds
    become float64 because of a NULL; rows with equal timestamps keep
    their delivery order (series ``b`` is delivered newest first in
    blocks of ten equal timestamps, so the shell must reorder it)."""
    t = pd.Timestamp("2024-01-01")
    a_ts = [pd.Timestamp("2200-01-01"), pd.NaT, pd.Timestamp("1900-01-01"), t, t, pd.NaT]
    a_ts += [t - pd.Timedelta(minutes=m) for m in (30, 30, 60, 0, 90)]
    b_ts = [t + pd.Timedelta(hours=h) for h in (3, 1, 2, 0) for _ in range(10)]
    src = pd.concat(
        pd.DataFrame({
            "series_id": sid,
            "timestamp": pd.to_datetime(ts),
            "value": np.arange(len(ts), dtype=float),
            "event_id": np.arange(len(ts), dtype="int64"),
        })
        for sid, ts in (("a", a_ts), ("b", b_ts))
    )
    _write_batches(tmp_path, [src])
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path))
    out = _run_stream(spark, _SHELL_DETECTORS[detector](stream), f"edges_{detector}")
    assert out.columns[:3] == ["series_id", "timestamp", "value"]
    assert dict(out.dtypes)["timestamp"] == "timestamp"
    got = out.select(
        "series_id", F.unix_micros("timestamp").alias("us"), "value"
    ).collect()
    sent = (
        spark.read.schema(SCHEMA).parquet(str(tmp_path))
        .select("series_id", F.unix_micros("timestamp").alias("us"), "value")
        .collect()
    )
    for sid in ("a", "b"):
        rows = [(r.us, r.value) for r in got if r.series_id == sid]
        delivered = [(r.us, r.value) for r in sent if r.series_id == sid]
        # a stable sort on the microseconds, NULLs last
        want = sorted(delivered, key=lambda r: (r[0] is None, r[0] or 0))
        assert rows == want, sid
    a_us = [r.us for r in got if r.series_id == "a"]
    assert a_us[0] == -2208988800 * 10**6 and a_us[-3] == 7258118400 * 10**6
    assert a_us[-2:] == [None, None]


def test_streaming_bocpd_refuses_array_state_checkpoint(spark, tmp_path):
    """A ``streaming_bocpd`` checkpoint written with the four
    ``array<double>`` state fields is refused on resume with Spark's
    value-schema error, never decoded as a packed state.  A
    ``streaming_control_flags`` checkpoint of the timestamp shell, whose
    state schema did not change, resumes and continues bit for bit."""
    from pyspark.errors import StreamingQueryException

    rng = np.random.default_rng(29)
    pdf = pd.DataFrame({
        "series_id": np.repeat(["a", "b"], 60),
        "timestamp": np.tile(pd.date_range("2024-01-01", periods=60, freq="30min"), 2),
        "value": rng.normal(10, 1, 120),
        "event_id": np.arange(120, dtype="int64"),
    })
    first = pdf.groupby("series_id").head(40)
    src = tmp_path / "src"
    src.mkdir()

    def run(build, tag, **opts):
        stream = spark.readStream.schema(SCHEMA).options(**opts).parquet(str(src))
        q = (
            build(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
        return spark.read.parquet(str(tmp_path / f"out_{tag}")).toPandas()

    def ctrl(stream):
        return detectors.streaming_control_flags(stream, norm_mu=10.0, norm_sd=1.0)

    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    first.to_parquet(src / "part1.parquet", **kw)
    assert len(run(lambda s: _array_state_bocpd(s, 10.0, 1.0), "bocpd")) == 80
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(detectors, "_per_series_state", _timestamp_shell)
        assert len(run(ctrl, "ctrl")) == 80
    pdf.groupby("series_id").tail(20).to_parquet(src / "part2.parquet", **kw)

    with pytest.raises(StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        run(lambda s: streaming_bocpd(s, norm_mu=10.0, norm_sd=1.0), "bocpd")

    got = _bit_columns(run(ctrl, "ctrl"))
    want = _bit_columns(run(ctrl, "ctrl_ref", maxFilesPerTrigger=1))
    assert len(got["series_id"]) == 120
    for c in want:
        np.testing.assert_array_equal(got[c], want[c], c)



def test_streaming_rolling_flags_state_keeps_window_minus_one(spark, tmp_path):
    """The carried tail holds ``window - 1`` values after every
    micro-batch, also for ``window=1`` (none), and at ``window=48`` the
    stream equals a replay of the trailing window over the whole
    arrival sequence, bit for bit."""
    rng = np.random.default_rng(31)
    n = 150
    pdf = pd.DataFrame({
        "series_id": "a",
        "timestamp": pd.date_range("2024-01-01", periods=n, freq="30min"),
        "value": rng.normal(10, 1, n),
        "event_id": np.arange(n, dtype="int64"),
    })
    src = tmp_path / "src"
    src.mkdir()
    _write_batches(src, [pdf.iloc[:50], pdf.iloc[50:100], pdf.iloc[100:]])

    def run(window):
        ck = str(tmp_path / f"ck{window}")
        q = (
            streaming_rolling_flags(
                spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src)),
                window=window,
            )
            .writeStream.format("memory")
            .queryName(f"roll_tail_{window}")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        tails = [
            spark.read.format("statestore").option("batchId", b).load(ck)
            .select(F.size("value.groupState.tail").alias("n")).first().n
            for b in range(3)
        ]
        out = spark.table(f"roll_tail_{window}").toPandas().sort_values("timestamp")
        return tails, out.reset_index(drop=True)

    tails, out = run(1)
    assert tails == [0, 0, 0]
    assert out["roll_mean"].isna().all() and len(out) == n

    tails, out = run(48)
    assert tails == [47, 47, 47]
    y = pdf["value"].to_numpy()
    mean = np.full(n, np.nan)
    std = np.full(n, np.nan)
    for i in range(4, n):
        w = y[max(0, i - 47): i + 1]
        mean[i], std[i] = w.mean(), w.std(ddof=1)
    np.testing.assert_array_equal(out["roll_mean"].to_numpy().view(np.int64), mean.view(np.int64))
    np.testing.assert_array_equal(out["roll_std"].to_numpy().view(np.int64), std.view(np.int64))
