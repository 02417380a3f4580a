"""Unit tests for the control-chart detectors (EWMA/CUSUM), the Hampel
filter, and the seasonal-strength diagnostic."""

import math

import pandas as pd

import numpy as np
import pytest

from conftest import series_df

from time_series_data_anomaly_detection_spark.functions.control import (
    cusum_chart,
    ewma_chart,
)
from time_series_data_anomaly_detection_spark.operators.robust import (
    hampel_flags,
)
from time_series_data_anomaly_detection_spark.operators.diagnostics import (
    seasonal_strength_frame,
)


def test_ewma_matches_hand_recursion(spark):
    vals = [1.0, 2.0, 4.0, 0.0, 3.0, 5.0, 2.0, 2.0]
    out = (
        ewma_chart(series_df(spark, vals))
        .orderBy("rn")
        .toPandas()
    )
    mu = float(np.mean(vals))
    sd = float(np.std(vals, ddof=1))
    z, w = mu, 1.0
    for t, y in enumerate(vals):
        z = z + 0.25 * (y - z)
        w = w * 0.5625
        hw = 3.0 * sd * math.sqrt(0.25 / 1.75 * (1.0 - w))
        assert out["ewma"].iloc[t] == pytest.approx(z, abs=1e-9)
        assert out["ucl"].iloc[t] == pytest.approx(mu + hw, abs=1e-9)
        assert out["lcl"].iloc[t] == pytest.approx(mu - hw, abs=1e-9)
    assert (out["flag"] == 0).all()  # nothing wild in this series


def test_ewma_flags_sustained_shift(spark):
    vals = [0.0, 0.1, -0.1, 0.05, -0.05, 0.0, 0.1, -0.1] * 6 + [4.0] * 12
    out = (
        ewma_chart(series_df(spark, vals))
        .orderBy("rn")
        .toPandas()
    )
    # the EWMA crosses its limit somewhere inside the shifted tail
    assert out["flag"].iloc[-12:].sum() > 0
    assert (out["flag"].iloc[:40] == 0).all()


def test_cusum_detects_level_shift_and_is_one_sided(spark):
    vals = [0.0, 0.2, -0.2, 0.1, -0.1] * 8 + [2.5] * 15
    out = (
        cusum_chart(series_df(spark, vals))
        .orderBy("rn")
        .toPandas()
    )
    assert out["flag"].iloc[-10:].sum() > 0          # alarm after shift
    assert (out["flag"].iloc[:30] == 0).all()        # quiet before
    # upward shift drives the positive sum, not the negative one
    tail = out.iloc[-5:]
    assert (tail["cusum_pos"] > tail["cusum_neg"]).all()


def test_cusum_matches_hand_recursion(spark):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    out = (
        cusum_chart(series_df(spark, vals))
        .orderBy("rn")
        .toPandas()
    )
    mu = float(np.mean(vals))
    sd = float(np.std(vals, ddof=1))
    sp = sn = 0.0
    for t, y in enumerate(vals):
        z = (y - mu) / (sd + 1e-9)
        sp = max(0.0, sp + (z - 0.5))
        sn = max(0.0, sn + (-z - 0.5))
        assert out["cusum_pos"].iloc[t] == pytest.approx(sp, abs=1e-9)
        assert out["cusum_neg"].iloc[t] == pytest.approx(sn, abs=1e-9)


def test_hampel_flags_spike_but_not_seasonal_swing(spark):
    # a clean sine survives; a single 10-sigma spike is caught even
    # though a rolling MEAN/STD chart would have its sigma inflated
    base = [math.sin(2 * math.pi * t / 12) for t in range(60)]
    base[30] = 8.0
    out = (
        hampel_flags(series_df(spark, base), half=6, nsig=3.0)
        .orderBy("rn")
        .toPandas()
    )
    assert out["hampel_flag"].iloc[30] == 1
    assert out["hampel_flag"].sum() == 1


def test_hampel_median_is_exact_on_window(spark):
    vals = [5.0, 1.0, 9.0, 3.0, 7.0]
    out = (
        hampel_flags(series_df(spark, vals), half=2)
        .orderBy("rn")
        .toPandas()
    )
    # centered full window at rn=3: median of all five values
    assert out["roll_med"].iloc[2] == 5.0
    # edge row rn=1 sees [5,1,9] -> median 5
    assert out["roll_med"].iloc[0] == 5.0
    # MAD at rn=3: |dev| = [0,4,4,2,2] -> median 2
    assert out["roll_mad"].iloc[2] == 2.0


def test_seasonal_strength_separates_seasonal_from_noise(spark):
    rng = np.random.RandomState(7)
    per = [10.0 * math.sin(2 * math.pi * t / 48) for t in range(480)]
    seasonal = [p + float(rng.randn()) * 0.1 for p in per]
    noise = [float(rng.randn()) for _ in range(480)]
    df = series_df(spark, seasonal, series_id="seasonal").unionByName(
        series_df(spark, noise, series_id="noise")
    )
    out = (
        seasonal_strength_frame(df, period=48)
        .toPandas()
        .set_index("series_id")
    )
    assert out.loc["seasonal", "seasonal_strength"] > 0.95
    assert out.loc["noise", "seasonal_strength"] < 0.35
    assert (out["var_total"] > 0).all()


def test_holt_winters_matches_hand_recursion(spark):
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_fixed,
    )

    vals = [1.0, 2.0, 3.0, 1.5, 2.5, 3.5, 0.5, 2.0, 4.0]
    p, a, b_, g = 3, 0.25, 0.0625, 0.25
    out = (
        holt_winters_fixed(series_df(spark, vals), period=p)
        .orderBy("rn")
        .toPandas()
    )
    l = sum(vals[:p]) / p
    sl = [v - l for v in vals[:p]]
    b = 0.0
    preds = []
    for t in range(p, len(vals)):
        sprev = sl[0]
        preds.append((l + b) + sprev)
        ln = a * (vals[t] - sprev) + (1 - a) * (l + b)
        bn = b_ * (ln - l) + (1 - b_) * b
        sn = g * (vals[t] - ln) + (1 - g) * sprev
        sl = sl[1:] + [sn]
        l, b = ln, bn
    assert list(out["rn"]) == list(range(p + 1, len(vals) + 1))
    for i, pr in enumerate(preds):
        assert out["pred"].iloc[i] == pytest.approx(pr, abs=1e-9)
        assert out["resid"].iloc[i] == pytest.approx(
            vals[p + i] - pr, abs=1e-9
        )


def test_holt_winters_tracks_seasonal_signal(spark):
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_fixed,
    )

    vals = [
        10.0 + 5.0 * math.sin(2 * math.pi * t / 48) + 0.01 * t
        for t in range(480)
    ]
    out = holt_winters_fixed(series_df(spark, vals), period=48).toPandas()
    assert len(out) == 480 - 48
    # after a couple of seasonal cycles the forecast locks on
    tail = out.sort_values("rn").iloc[96:]
    assert tail["resid"].abs().mean() < 0.2


def test_holt_winters_short_series_emits_nothing(spark):
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_fixed,
    )

    out = holt_winters_fixed(series_df(spark, [1.0] * 30), period=48)
    assert out.count() == 0
    # exactly one period: the seed only, nothing left to predict
    out = holt_winters_fixed(series_df(spark, [1.0] * 48), period=48)
    assert out.count() == 0



def test_charts_read_value_col(spark):
    """``value_col`` names the input column of the batch charts."""
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_fixed,
    )

    df = series_df(spark, [float(v % 7) for v in range(30)])
    renamed = df.withColumnRenamed("value", "score")
    for chart in (ewma_chart, cusum_chart, holt_winters_fixed):
        kw = {"period": 6} if chart is holt_winters_fixed else {}
        want = chart(df, **kw).orderBy("rn").toPandas()
        got = chart(renamed, value_col="score", **kw).orderBy("rn").toPandas()
        pd.testing.assert_frame_equal(got, want)

def _bits(*arrays):
    return [np.asarray(a, float).view("int64").tolist() for a in arrays]


@pytest.mark.parametrize("kernel", ["ewma", "cusum", "holt_winters"])
def test_shared_kernels_resume_bitwise(kernel):
    """The kernels batch and stream share: a run over ``y[:k]`` resumed
    from its returned state on ``y[k:]`` equals one run over ``y``, bit
    for bit — the property that makes stream output equal batch output
    on any micro-batch split.  No Spark needed."""
    from time_series_data_anomaly_detection_spark.functions.control import (
        cusum_run,
        ewma_run,
    )
    from time_series_data_anomaly_detection_spark.functions.holt_winters import (
        holt_winters_run,
    )

    period, n = 12, 200
    rng = np.random.default_rng(2)
    t = np.arange(n)
    y = 10.0 + 3.0 * np.sin(2 * np.pi * t / period) + rng.normal(0, 1, n)
    y[120:] += 4.0  # a level shift, so CUSUM leaves zero
    mu, sd = float(y.mean()), float(y.std(ddof=1))
    if kernel == "ewma":
        run = lambda x, st: ewma_run(x, mu, sd, 0.25, 3.0, st)  # noqa: E731
        fresh = (mu, 1.0)
    elif kernel == "cusum":
        run = lambda x, st: cusum_run(x, mu, sd, 0.5, st)  # noqa: E731
        fresh = (0.0, 0.0)
    else:
        def run(x, st):
            preds, st = holt_winters_run(x, st, 0.25, 0.0625, 0.25)
            return (preds,), st

        l0 = float(y[:period].mean())
        fresh = (l0, 0.0, [v - l0 for v in y[:period].tolist()])
        y = y[period:]

    whole, st_whole = run(y, fresh)
    for k in (1, period, len(y) - 1):
        head, st = run(y[:k], fresh)
        tail, st = run(y[k:], st)
        for a, b, c in zip(whole, head, tail):
            assert _bits(a) == _bits(np.concatenate([b, c])), k
        assert repr(st) == repr(st_whole), k


def test_quantile_band_flags_rate_and_edges(spark):
    from time_series_data_anomaly_detection_spark.operators.robust import (
        quantile_band_flags,
    )

    vals = [float(v) for v in range(1, 101)]  # 1..100
    out = (
        quantile_band_flags(series_df(spark, vals), q_lo=0.1, q_hi=0.9)
        .orderBy("rn")
        .toPandas()
    )
    # exact linear-interp percentiles of 1..100 at 0.1/0.9
    assert out["band_lo"].iloc[0] == pytest.approx(10.9)
    assert out["band_hi"].iloc[0] == pytest.approx(90.1)
    assert out["band_flag"].sum() == 20  # 1..10 and 91..100


def test_diff_zscore_flags_jump_not_trend(spark):
    from time_series_data_anomaly_detection_spark.operators.robust import (
        diff_zscore_flags,
    )

    # smooth ramp with one jump: only the jump's diff is extreme
    vals = [0.1 * t for t in range(100)]
    vals[60:] = [v + 25.0 for v in vals[60:]]
    out = (
        diff_zscore_flags(series_df(spark, vals), nsig=4.0)
        .orderBy("rn")
        .toPandas()
    )
    assert out["diff_flag"].iloc[60] == 1
    assert out["diff_flag"].sum() == 1
    assert out["diff_flag"].iloc[0] == 0  # null diff -> no flag
    assert pd.isna(out["diff"].iloc[0])


def test_detector_consensus_votes_on_obvious_spike(spark, tmp_path):
    """Route the composite through a parquet events table shaped like
    the gate's, with one huge spike: the spike row must win >=2 votes
    (consensus), and a clean stretch must stay consensus-free."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from time_series_data_anomaly_detection_spark.plans.queries.ensembles import (
        q_detector_consensus,
    )

    n = 400
    rng = np.random.RandomState(11)
    vals = (100 + rng.randn(n)).tolist()
    vals[250] = 160.0  # unmistakable point anomaly
    ts = pd.date_range("2024-01-01", periods=n, freq="30min")
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "event_type": pa.array(["a"] * n),
            "user_id": pa.array([1] * n, pa.int64()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = (
        q_detector_consensus(spark, str(tmp_path))
        .orderBy("rn")
        .toPandas()
    )
    spike = out.iloc[250]
    assert spike["votes"] >= 3  # several independent detectors agree
    assert spike["consensus"] == 1
    # the clean stretch may see a stray 2-vote coincidence (the 2%/98%
    # band flags ~4% of rows by construction) but no broad agreement
    clean = out.iloc[20:240]
    assert clean["consensus"].sum() <= 2
    assert (clean["votes"] < 3).all()


def test_seasonal_profile_flags_are_position_aware(spark):
    from time_series_data_anomaly_detection_spark.operators.robust import (
        seasonal_profile_flags,
    )

    # strong period-4 pattern: [0, 10, 0, -10] repeated; one anomaly is
    # a 10 placed where 0 belongs — globally unremarkable (10 is a
    # normal value!), positionally extreme
    vals = [0.0, 10.0, 0.0, -10.0] * 20
    rng = np.random.RandomState(5)
    vals = [v + 0.1 * float(rng.randn()) for v in vals]
    vals[40] = 10.0  # position 0 should be ~0
    out = (
        seasonal_profile_flags(series_df(spark, vals), period=4)
        .orderBy("rn")
        .toPandas()
    )
    assert out["profile_flag"].iloc[40] == 1
    # the regular 10s at position 1 are NOT flagged
    pos1 = out[out["pos"] == 1]
    assert pos1["profile_flag"].sum() == 0


def test_cusum_alarms_localize_and_reset(spark):
    from time_series_data_anomaly_detection_spark.functions.control import (
        cusum_alarms,
    )

    # quiet -> +shift -> back to quiet-ish -> -shift: one 'up' alarm
    # near the first change, later a 'down' alarm (reset makes the
    # second detectable)
    vals = (
        [0.0, 0.1, -0.1, 0.05, -0.05] * 8
        + [3.0] * 10
        + [0.0, 0.1, -0.1, 0.05, -0.05] * 8
        + [-3.0] * 10
    )
    out = (
        cusum_alarms(series_df(spark, vals))
        .orderBy("rn")
        .toPandas()
    )
    ups = out[out.direction == "up"]
    downs = out[out.direction == "down"]
    assert len(ups) >= 1 and len(downs) >= 1
    # first up alarm lands within the first shifted block (rows 41-50)
    assert 41 <= ups["rn"].iloc[0] <= 50
    # the down alarm comes only in the final block (rows 91-100)
    assert 91 <= downs["rn"].iloc[0] <= 100
    assert (out["stat"] > 5.0).all()


def test_detect_period_finds_planted_cycle(spark):
    from time_series_data_anomaly_detection_spark.operators.diagnostics import (
        detect_period_frame,
    )

    rng = np.random.RandomState(3)
    vals = [
        5.0 * math.sin(2 * math.pi * t / 24) + 0.2 * float(rng.randn())
        for t in range(480)
    ]
    out = detect_period_frame(
        series_df(spark, vals), max_lag=60
    ).toPandas()
    assert out["period"].iloc[0] == 24
    assert out["peak_acf"].iloc[0] > 0.9


def test_gap_stats_counts_missing_rows(spark):
    import pandas as _pd
    from time_series_data_anomaly_detection_spark.operators.diagnostics import (
        gap_stats_frame,
    )
    from time_series_data_anomaly_detection_spark.sources import (
        with_row_index,
    )

    # 30-min grid with rows 10-12 and 40 removed: two gaps, 4 missing
    ts = _pd.date_range("2024-01-01", periods=60, freq="30min")
    keep = [i for i in range(60) if i not in (10, 11, 12, 40)]
    pdf = _pd.DataFrame(
        {
            "series_id": "s1",
            "timestamp": ts[keep],
            "value": 1.0,
            "event_id": range(len(keep)),
        }
    )
    df = with_row_index(spark.createDataFrame(pdf))
    out = gap_stats_frame(df).toPandas()
    assert out["n_rows"].iloc[0] == 56
    assert out["step_s"].iloc[0] == 1800
    assert out["n_gaps"].iloc[0] == 2
    assert out["max_gap_s"].iloc[0] == 4 * 1800
    assert out["missing_rows_est"].iloc[0] == 4


def test_split_drift_detects_distribution_shift(spark):
    from time_series_data_anomaly_detection_spark.operators.diagnostics import (
        split_drift_frame,
    )

    rng = np.random.RandomState(9)
    stable = list(rng.randn(200))
    shifted = list(rng.randn(100)) + list(rng.randn(100) + 5.0)
    df = series_df(spark, stable, series_id="stable").unionByName(
        series_df(spark, shifted, series_id="shifted")
    )
    out = split_drift_frame(df).toPandas().set_index("series_id")
    assert out.loc["stable", "tvd"] < 0.2
    assert out.loc["shifted", "tvd"] > 0.8   # test mass left the deciles
    assert (out["n_train"] == 100).all()
    assert (out["n_test"] == 100).all()
    assert (out["max_bin_dev"] <= out["tvd"] * 2 + 1e-9).all()


def test_cross_correlation_finds_lead_lag(spark):
    from time_series_data_anomaly_detection_spark.operators.acf import (
        cross_correlation,
    )

    rng = np.random.RandomState(21)
    base = list(rng.randn(300))
    lagged = [0.0] * 5 + base[:-5]  # b follows a by 5 steps
    df = series_df(spark, base, series_id="a").unionByName(
        series_df(spark, lagged, series_id="b")
    )
    out = cross_correlation(df, max_lag=8).toPandas()
    best = out.sort_values("xcorr", ascending=False).iloc[0]
    assert best["series_a"] == "a" and best["series_b"] == "b"
    # a LEADS b by 5 -> per the sign convention, peak at lag = -5
    assert best["lag"] == -5
    assert best["xcorr"] > 0.95
    # and the correlation at the wrong sign of lag is weak
    wrong = out[(out.lag == 5)]["xcorr"].iloc[0]
    assert abs(wrong) < 0.3


def test_pair_explosion_guard_trips(spark):
    """Verdict r05 #5: the |series|^2 pair blow-up of the cross-series
    operators is bounded in the API — above max_pairs the call raises
    unless a channel subset or an explicit opt-in is given."""
    import pytest as _pytest

    from time_series_data_anomaly_detection_spark.operators.acf import (
        cross_correlation,
        rolling_corr,
    )

    rng = np.random.RandomState(7)
    parts = [
        series_df(spark, list(rng.randn(20)), series_id=f"s{i:02d}")
        for i in range(12)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    # 12 series -> 66 pairs > max_pairs=10: both operators refuse
    with _pytest.raises(ValueError, match="max_pairs"):
        cross_correlation(df, max_lag=2, max_pairs=10)
    with _pytest.raises(ValueError, match="max_pairs"):
        rolling_corr(df, window=5, min_periods=2, max_pairs=10)

    # a chosen channel subset passes and filters the frame
    out = cross_correlation(
        df, max_lag=2, series_subset=["s00", "s01", "s02"], max_pairs=10
    ).toPandas()
    assert set(out["series_a"]) <= {"s00", "s01"}
    assert set(out["series_b"]) <= {"s01", "s02"}

    # explicit opt-in skips the guard entirely (no count job)
    n = rolling_corr(
        df, window=5, min_periods=2, allow_all_pairs=True
    ).count()
    assert n == 66 * 20

    # a subset larger than max_pairs still trips
    with _pytest.raises(ValueError, match="max_pairs"):
        cross_correlation(
            df, max_lag=2,
            series_subset=[f"s{i:02d}" for i in range(12)], max_pairs=10,
        )


def test_acf_fft_agrees_with_stack_plan(spark):
    """The FFT large-max_lag ACF must agree with the stack-plan
    statsmodels-convention estimator at max_lag=10 (same algebra, two
    plans: float FFT vs exact-decimal sums — equal to well below the
    r6 hash quantum)."""
    from time_series_data_anomaly_detection_spark.operators.acf import (
        acf_fft,
        acf_statsmodels,
    )

    rng = np.random.RandomState(5)
    y = np.cumsum(rng.randn(500)) + 10 * np.sin(np.arange(500) / 12.0)
    df = series_df(spark, list(y), series_id="a").unionByName(
        series_df(spark, list(rng.randn(350)), series_id="b")
    )
    got = acf_fft(df, max_lag=10).toPandas().sort_values(["series_id", "lag"])
    want = (
        acf_statsmodels(df, max_lag=10)
        .toPandas()
        .sort_values(["series_id", "lag"])
    )
    assert len(got) == len(want) == 20
    np.testing.assert_allclose(
        got["acf"].to_numpy(), want["acf"].to_numpy(), atol=1e-9
    )
    # short-series clamp: max_lag above n-1 yields n-1 lags, no crash
    tiny = series_df(spark, [1.0, 2.0, 1.5, 3.0], series_id="t")
    t = acf_fft(tiny, max_lag=10).toPandas()
    assert list(t["lag"]) == [1, 2, 3]


def test_dft_twiddle_table_symmetry():
    """Premise of the r13 half-spectrum halving in _acf_fft_fixed_plan:
    the 12-dp twiddle literals must be EXACTLY conjugate-symmetric
    (c[NF−r] == c[r], sn[NF−r] == −sn[r]) — that is what makes the
    k and NF−k per-term decimal values bit-identical, so computing the
    half spectrum and adding interior terms twice reproduces the full
    1024-point sums exactly.  If a future table edit broke symmetry
    the hash gate would drift; this pins the premise by itself."""
    from time_series_data_anomaly_detection_spark.plans.queries.spectral import (
        ACF_FFT_FIXED_CONFIGS,
        _dft_twiddles,
    )

    # derive the tested extents from the plan instantiations so a new
    # twin config is automatically covered (ADVICE r13)
    for nfft in sorted({cfg[1] for cfg in ACF_FFT_FIXED_CONFIGS}):
        tw = _dft_twiddles(nfft)
        for r in range(nfft):
            assert tw[r][1] == tw[(nfft - r) % nfft][1]
            assert tw[r][2] == -tw[(nfft - r) % nfft][2]


def test_acf_fft_fixed_twin_matches_operator(spark):
    """The hash-gated literal-twiddle DFT twin (r09) must reproduce
    the numpy-rFFT operator on the same 64-point tail at lags 1..16 —
    same demean, same nfft=128 zero-padding, same Wiener–Khinchin
    normalization; only the twiddle source differs (12-dp literals vs
    libm), bounded well inside 1e-6."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.operators.acf import (
        acf_fft,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.spectral import (
        q_acf_fft_fixed,
    )

    sf = "/root/testdata/sf0.001"
    got = (
        q_acf_fft_fixed(spark, sf)
        .toPandas()
        .sort_values(["series_id", "lag"])
    )
    assert len(got) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    tails = []
    for sid, grp in ev.groupby("event_type"):
        g = grp.sort_values(["ts", "event_id"]).tail(64)
        tails.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "rn": np.arange(1, len(g) + 1),
                    "value": g["value"].to_numpy(float),
                }
            )
        )
    tail_df = spark.createDataFrame(pd.concat(tails))
    want = (
        acf_fft(tail_df, max_lag=16)
        .toPandas()
        .sort_values(["series_id", "lag"])
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["acf"].to_numpy(), want["acf"].to_numpy(), atol=1e-6
    )


def test_acf_fft_fixed_512_twin_matches_operator(spark):
    """The widened FFT-ACF twin (same _acf_fft_fixed_plan builder at
    n=512/nfft=1024) must reproduce the numpy-rFFT operator on the
    same 512-point tails.  sf0.01: sf0.001 series are ~200 points and
    are filtered by the n >= 512 guard."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.operators.acf import (
        acf_fft,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.spectral import (
        q_acf_fft_fixed_512,
    )

    sf = "/root/testdata/sf0.01"
    got = (
        q_acf_fft_fixed_512(spark, sf)
        .toPandas()
        .sort_values(["series_id", "lag"])
    )
    assert len(got) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    tails = []
    for sid, grp in ev.groupby("event_type"):
        g = grp.sort_values(["ts", "event_id"]).tail(512)
        if len(g) < 512:
            assert (got["series_id"] == sid).sum() == 0
            continue
        tails.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "rn": np.arange(1, len(g) + 1),
                    "value": g["value"].to_numpy(float),
                }
            )
        )
    tail_df = spark.createDataFrame(pd.concat(tails))
    want = (
        acf_fft(tail_df, max_lag=16)
        .toPandas()
        .sort_values(["series_id", "lag"])
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["acf"].to_numpy(), want["acf"].to_numpy(), atol=1e-6
    )
