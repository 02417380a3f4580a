"""Model UDFs (SURVEY §2.9): behavioral checks on synthetic series with
known structure — metric-level parity, not row equality (SURVEY §5)."""

from functools import partial

import numpy as np
import pytest

from conftest import series_df
from time_series_data_anomaly_detection_spark.functions import (
    ar,
    ar_forecast,
    bocpd,
    bocpd_changepoints,
    bsts_forecast,
    control,
    dtw,
    gp_forecast,
    harmonic,
    kalman,
    kalman_local_level,
    lstm,
    pelt,
    shesd,
    spectral,
    stl,
    stl_decompose,
)
from time_series_data_anomaly_detection_spark.functions.ar import ar1_forecast_native


def test_kalman_tracks_level(spark):
    rng = np.random.default_rng(5)
    y = np.concatenate([np.full(100, 10.0), np.full(100, 30.0)]) + rng.normal(0, 1, 200)
    out = kalman_local_level(series_df(spark, y)).orderBy("rn").toPandas()
    # after convergence the one-step prediction hugs the level
    assert abs(out.pred_mean[50:95].mean() - 10) < 1.0
    assert abs(out.pred_mean[150:].mean() - 30) < 1.5
    # interval covers most points
    cover = ((out.value >= out.pred_lower) & (out.value <= out.pred_upper)).mean()
    assert cover > 0.9


def test_kalman_forecast_tail_is_static(spark):
    y = np.sin(np.arange(100) / 5) + 5
    out = kalman_local_level(series_df(spark, y), train_frac=0.8).orderBy("rn").toPandas()
    tail = out.pred_mean[80:]
    assert tail.nunique() == 1  # frozen level forecast
    widths = (out.pred_upper - out.pred_lower)[80:].to_numpy()
    assert (np.diff(widths) > 0).all()  # growing uncertainty


def test_gp_lml_selects_noise_level():
    """Bounded-grid marginal-likelihood selection (the deterministic
    analogue of the reference's in-bounds MLE, src/run_gp.py:28-37):
    the evidence should pick the low-noise candidate on a clean signal
    and reject it on a noisy one."""
    from time_series_data_anomaly_detection_spark.functions.gp import (
        _select_hyperparams,
    )

    rng = np.random.default_rng(3)
    t = np.arange(24 * 20, dtype=float)
    clean = 5 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 0.05, len(t))
    noisy = 5 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 1.2, len(t))
    for y, want_low in ((clean, True), (noisy, False)):
        yn = (y - y.mean()) / y.std()
        ls, n2 = _select_hyperparams(t, yn, 24.0, None, 50.0, 0.7)
        assert (n2 == 0.01) is want_low


def test_gp_optimize_is_deterministic_and_accurate(spark):
    """optimize=True through the bucketed Spark plan: reproducible
    outputs and a tight test-tail fit on a clean periodic signal
    (fixed noise=0.7 would be mis-specified; LML recovers it)."""
    rng = np.random.default_rng(3)
    t = np.arange(24 * 20)
    y = 5 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 0.05, len(t))
    opt = (
        gp_forecast(series_df(spark, y), train_frac=0.7, period=24.0,
                    noise=0.7, optimize=True)
        .orderBy("rn").toPandas()
    )
    opt2 = (
        gp_forecast(series_df(spark, y), train_frac=0.7, period=24.0,
                    noise=0.7, optimize=True)
        .orderBy("rn").toPandas()
    )
    cut = int(len(t) * 0.7)
    opt_err = np.abs((opt.value - opt.pred_mean)[cut:]).mean()
    assert opt_err < 0.2
    np.testing.assert_array_equal(
        opt.pred_mean.to_numpy(), opt2.pred_mean.to_numpy()
    )


def test_kalman_non_dynamic_tail_tracks_observations(spark):
    """dynamic=False = the reference's use_dynamic=False: one-step-ahead
    filtering continues over the test rows with train-fit (q, r)
    (src/kalman_model.py:19-43), so a level shift in the tail is
    re-tracked; the frozen dynamic forecast cannot follow it."""
    rng = np.random.default_rng(11)
    y = np.concatenate([np.full(160, 10.0), np.full(40, 25.0)])
    y = y + rng.normal(0, 0.5, 200)
    filt = kalman_local_level(
        series_df(spark, y), train_frac=0.8, dynamic=False
    ).orderBy("rn").toPandas()
    frozen = kalman_local_level(
        series_df(spark, y), train_frac=0.8, dynamic=True
    ).orderBy("rn").toPandas()
    # identical in-sample predictions
    np.testing.assert_allclose(
        filt.pred_mean[:160], frozen.pred_mean[:160], rtol=1e-12
    )
    # filtering re-acquires the shifted level; the frozen tail stays at 10
    assert abs(filt.pred_mean[170:].mean() - 25) < 1.0
    assert abs(frozen.pred_mean[170:].mean() - 10) < 1.0
    assert frozen.pred_mean[160:].nunique() == 1


def test_kalman_em_matches_numpy_scalar_reference_bitwise():
    """The Python-float rewrite of ``_kalman_em_local_level`` must be
    BIT-IDENTICAL to the numpy-scalar loop it replaced (same operands,
    same operation order; only the element type of the recursions
    changed).  Pinned against an inline replica of that loop for
    n >= 2."""
    from time_series_data_anomaly_detection_spark.functions.kalman import (
        _kalman_em_local_level,
    )

    def reference(y, n_iter=30):
        n = len(y)
        var_y = float(np.var(y)) or 1.0
        q, r = var_y * 0.1, var_y * 0.9
        level0, p0 = float(y[0]), var_y
        for _ in range(n_iter):
            mu = np.empty(n)
            p = np.empty(n)
            mu_pred = np.empty(n)
            p_pred = np.empty(n)
            m, pp = level0, p0
            for t in range(n):
                mp, ppp = m, pp + q
                mu_pred[t], p_pred[t] = mp, ppp
                k_gain = ppp / (ppp + r)
                m = mp + k_gain * (y[t] - mp)
                pp = (1 - k_gain) * ppp
                mu[t], p[t] = m, pp
            mu_s = mu.copy()
            p_s = p.copy()
            for t in range(n - 2, -1, -1):
                c = p[t] / (p[t] + q)
                mu_s[t] = mu[t] + c * (mu_s[t + 1] - (mu[t]))
                p_s[t] = p[t] + c * c * (p_s[t + 1] - (p[t] + q))
            r = float(np.mean((y - mu_s) ** 2 + p_s))
            dm = np.diff(mu_s)
            q = float(np.mean(dm**2) + np.mean(p_s[1:] + p_s[:-1]) * 0.5)
            q = max(q, 1e-12)
            r = max(r, 1e-12)
            level0 = mu_s[0]
        return mu_pred, p_pred + r, q, r

    for seed in (1, 2):
        rng = np.random.default_rng(seed)
        for n in (2, 37, 512):
            y = np.round(np.cumsum(rng.normal(size=n)) + rng.standard_t(3, n), 2)
            for series in (y, np.full(n, 5.0)):
                ref = reference(series)
                got = _kalman_em_local_level(series)
                for a, b in zip(ref[:2], got[:2]):
                    assert a.dtype == b.dtype and a.shape == b.shape
                    assert a.tobytes() == b.tobytes(), (seed, n)
                assert (ref[2], ref[3]) == (got[2], got[3]), (seed, n)


def test_kalman_em_single_point_is_finite():
    """A 1-point training slice has no differences to estimate q from:
    EM keeps the initial (q, r) and the predictions stay finite instead
    of NaN with a 'Mean of empty slice' warning."""
    import warnings

    from time_series_data_anomaly_detection_spark.functions.kalman import (
        _kalman_em_local_level,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        mu_pred, var_pred, q, r = _kalman_em_local_level(np.array([3.0]))
    assert np.isfinite(mu_pred).all() and np.isfinite(var_pred).all()
    assert mu_pred.tolist() == [3.0]
    # var(y) of one point is 0, so the initial variance falls back to 1
    assert (q, r) == (0.1, 0.9)
    assert var_pred.tolist() == [1.0 + 0.1 + 0.9]


def test_bsts_captures_seasonality(spark):
    rng = np.random.default_rng(9)
    t = np.arange(480)
    y = 50 + 0.05 * t + 10 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 1, 480)
    out = bsts_forecast(series_df(spark, y), period=24, train_frac=0.7)
    pdf = out.orderBy("rn").toPandas()
    # dynamic forecast over the last 30% still tracks the seasonal shape
    test_err = np.abs(pdf.resid[340:]).mean()
    assert test_err < 5.0
    # and beats a flat-mean forecast by a wide margin
    flat_err = np.abs(y[340:] - y[:336].mean()).mean()
    assert test_err < flat_err / 2


def test_gp_fits_periodic(spark):
    rng = np.random.default_rng(13)
    t = np.arange(300)
    y = 5 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 0.3, 300)
    out = gp_forecast(series_df(spark, y), train_frac=0.8, period=24.0)
    pdf = out.orderBy("rn").toPandas()
    train_rmse = np.sqrt(((pdf.value - pdf.pred_mean)[:240] ** 2).mean())
    assert train_rmse < 1.0
    assert (pdf.pred_std > 0).all()


def test_bocpd_spikes_at_changepoint(spark):
    rng = np.random.default_rng(21)
    y = np.concatenate([rng.normal(0, 1, 150), rng.normal(8, 1, 150)])
    pdf = bocpd_changepoints(series_df(spark, y)).orderBy("rn").toPandas()
    # cp_prob: exact reference parity — identically the hazard under a
    # constant-hazard model (the reference's golden cp_probs.csv is all
    # 0.01); the informative signal is the run-length collapse cp_score
    np.testing.assert_allclose(pdf.cp_prob, 0.01, atol=1e-9)
    cs = pdf.cp_score.to_numpy()
    assert cs[150:155].max() > 5 * np.median(cs[50:140])
    # and the collapse localizes at the shift, not mid-regime
    assert cs[150:155].max() > cs[60:140].max()


def test_ar_recovers_coefficients(spark):
    rng = np.random.default_rng(31)
    n = 500
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = 0.6 * y[t - 1] - 0.3 * y[t - 2] + rng.normal(0, 0.5)
    pdf = ar_forecast(series_df(spark, y), p=2).orderBy("rn").toPandas()
    resid_std = pdf.resid[2:].std()
    assert resid_std < 0.6  # close to the innovation sigma


def test_ar1_native_matches_numpy_ols(spark):
    rng = np.random.default_rng(41)
    y = rng.normal(0, 1, 200).cumsum() + 50
    pdf = ar1_forecast_native(series_df(spark, y)).orderBy("rn").toPandas()
    x_prev, x_cur = y[:-1], y[1:]
    slope, icept = np.polyfit(x_prev, x_cur, 1)
    exp = icept + slope * x_prev
    np.testing.assert_allclose(pdf.pred_mean[1:], exp, rtol=1e-8)
    assert np.isnan(pdf.pred_mean[0]) or pdf.pred_mean[0] is None


def test_stl_separates_components(spark):
    rng = np.random.default_rng(51)
    t = np.arange(480)
    seasonal = 10 * np.sin(2 * np.pi * t / 24)
    trend = 0.1 * t
    y = trend + seasonal + rng.normal(0, 0.5, 480)
    y[200] += 50  # a spike robustness must absorb into resid
    pdf = stl_decompose(series_df(spark, y), period=24).orderBy("rn").toPandas()
    # the spike lands in resid, not trend/seasonal
    assert pdf.resid[200] > 30
    mid = slice(24, 456)
    np.testing.assert_allclose(
        pdf.seasonal[mid], seasonal[mid], atol=2.0
    )


def test_bsts_multiseasonal_beats_single(spark):
    """Trigonometric [24, 168] multi-seasonality (the reference's
    freq_seasonal branch, src/bsts_model.py:26-35) captures a weekly
    component a single daily seasonal cannot."""
    rng = np.random.default_rng(21)
    t = np.arange(24 * 7 * 6)  # six "weeks" of hourly data
    y = (
        100
        + 8 * np.sin(2 * np.pi * t / 24)
        + 12 * np.sin(2 * np.pi * t / 168)
        + rng.normal(0, 1, len(t))
    )
    multi = (
        bsts_forecast(series_df(spark, y), train_frac=0.7,
                      seasonal_periods=[24, 168])
        .orderBy("rn").toPandas()
    )
    single = (
        bsts_forecast(series_df(spark, y), period=24, train_frac=0.7)
        .orderBy("rn").toPandas()
    )
    cut = int(len(t) * 0.7) + 24
    multi_err = np.abs(multi.resid[cut:]).mean()
    single_err = np.abs(single.resid[cut:]).mean()
    assert multi_err < single_err / 2  # weekly term is load-bearing
    assert multi_err < 4.0


def test_gp_weekly_kernel_component(spark):
    """The second ExpSineSquared (weekly) term (src/run_gp.py:33-34)
    lets the GP extrapolate a two-period signal; daily-only cannot."""
    rng = np.random.default_rng(17)
    t = np.arange(24 * 7 * 4)
    y = (
        4 * np.sin(2 * np.pi * t / 24)
        + 6 * np.sin(2 * np.pi * t / 168)
        + rng.normal(0, 0.3, len(t))
    )
    both = (
        gp_forecast(series_df(spark, y), train_frac=0.75, period=24.0,
                    period2=168.0, length_scale=500.0)
        .orderBy("rn").toPandas()
    )
    daily = (
        gp_forecast(series_df(spark, y), train_frac=0.75, period=24.0,
                    length_scale=500.0)
        .orderBy("rn").toPandas()
    )
    cut = int(len(t) * 0.75)
    both_err = np.abs((both.value - both.pred_mean)[cut:]).mean()
    daily_err = np.abs((daily.value - daily.pred_mean)[cut:]).mean()
    assert both_err < daily_err  # weekly term improves extrapolation
    assert both_err < 1.5


def test_kalman_fixed_matches_scalar_recursion(spark):
    """kalman_fixed is the closed-form fixed-(q,r) filter: verify the
    Spark output against a direct Python evaluation of the same
    recursion (the DuckDB oracle mirrors this expression tree)."""
    from time_series_data_anomaly_detection_spark.functions.kalman import (
        kalman_fixed,
    )

    rng = np.random.default_rng(11)
    y = np.cumsum(rng.normal(0, 0.5, 150)) + 20.0
    out = kalman_fixed(series_df(spark, y)).orderBy("rn").toPandas()
    q, r, m, p = 0.1, 1.0, float(y[0]), 10.0
    exp = []
    for t in range(len(y)):
        pp = p + q
        exp.append((m, pp + r))
        k = pp / (pp + r)
        m = m + k * (y[t] - m)
        p = (1.0 - k) * pp
    exp_m = np.array([e[0] for e in exp])
    np.testing.assert_allclose(out.pred_mean.to_numpy(), exp_m, rtol=0, atol=0)
    np.testing.assert_allclose(
        out.resid.to_numpy(), y - exp_m, rtol=0, atol=0
    )
    # steady-state gain tracks a random walk closely
    assert np.abs(out.resid.to_numpy()[10:]).mean() < 1.0


def test_lstm_numpy_gradcheck():
    """The numpy LSTM's analytic BPTT gradients match numerical
    differentiation (the correctness core of the no-torch M5 backend)."""
    from time_series_data_anomaly_detection_spark.functions._lstm_numpy import (
        NumpyLSTM,
    )

    rng = np.random.default_rng(0)
    m = NumpyLSTM(5, seed=3)
    X = rng.normal(0, 1, (4, 6, 1))
    y = rng.normal(0, 1, 4)
    pred, h, cache = m._forward(X, True)
    grads = m._backward(2.0 * (pred - y) / len(y), h, cache)
    eps = 1e-6
    for name, p in m.params.items():
        it = np.nditer(p, flags=["multi_index"])
        for _ in range(min(p.size, 6)):
            ix = it.multi_index
            old = p[ix]
            p[ix] = old + eps
            lp = np.mean((m._forward(X, False)[0] - y) ** 2)
            p[ix] = old - eps
            lm = np.mean((m._forward(X, False)[0] - y) ** 2)
            p[ix] = old
            num = (lp - lm) / (2 * eps)
            ana = grads[name][ix]
            assert abs(num - ana) / max(1e-8, abs(num) + abs(ana)) < 1e-4
            next(it, None)


def test_lstm_forecast_learns_seasonal_series(spark):
    """End-to-end M5 through Spark: the LSTM must beat the persistence
    baseline on a seasonal series, with the reference's NaN-padded
    head (src/run_lstm.py:69-71)."""
    from time_series_data_anomaly_detection_spark.functions.lstm import (
        lstm_forecast,
    )

    rng = np.random.default_rng(2)
    y = np.sin(np.arange(1200) / 8.0) * 3 + 10 + rng.normal(0, 0.1, 1200)
    out = (
        lstm_forecast(series_df(spark, y), seq_len=24, hidden=24, epochs=12)
        .orderBy("rn")
        .toPandas()
    )
    assert out.pred_mean[:24].isna().all()
    assert out.pred_mean[24:].notna().all()
    mae = np.abs(out.resid[24:]).mean()
    persist = np.abs(np.diff(y)).mean()
    assert mae < persist * 0.7


def test_lstm_forecast_short_series_nan_padded(spark):
    """A series shorter than one window must come back all-NaN (the
    reference's padding rule) instead of blowing up the whole query
    inside sliding_window_view — and must not poison longer series in
    the same frame."""
    from time_series_data_anomaly_detection_spark.functions.lstm import (
        lstm_forecast,
    )

    rng = np.random.default_rng(3)
    long = series_df(spark, np.sin(np.arange(200) / 8.0) + rng.normal(0, 0.1, 200))
    short = series_df(spark, [1.0, 2.0, 3.0], series_id="tiny")
    out = (
        lstm_forecast(long.unionByName(short), seq_len=24, hidden=8, epochs=2)
        .orderBy("series_id", "rn")
        .toPandas()
    )
    tiny = out[out.series_id == "tiny"]
    assert len(tiny) == 3
    assert tiny.pred_mean.isna().all() and tiny.resid.isna().all()
    rest = out[out.series_id != "tiny"]
    assert rest.pred_mean[24:].notna().all()


def test_acf_statsmodels_estimator_convention(spark):
    """The statsmodels-convention ACF (global mean, constant
    denominator) must match a direct numpy evaluation of that exact
    estimator — distinct from the per-lag Pearson variant."""
    from time_series_data_anomaly_detection_spark.operators.acf import (
        acf_statsmodels,
    )
    from conftest import series_df

    rng = np.random.default_rng(8)
    y = np.sin(np.arange(200) / 6.0) * 2 + rng.normal(0, 0.3, 200)
    out = (
        acf_statsmodels(series_df(spark, y), max_lag=5)
        .orderBy("lag")
        .toPandas()
    )
    mu = y.mean()
    den = ((y - mu) ** 2).sum()
    for k in range(1, 6):
        exp = ((y[:-k] - mu) * (y[k:] - mu)).sum() / den
        got = float(out[out.lag == k].acf.iloc[0])
        assert abs(got - exp) < 1e-9, (k, got, exp)


def test_lstm_seeded_determinism(spark):
    """Same seed => bit-identical outputs across runs (the engine's
    reproducibility contract for stochastic training, SURVEY §5)."""
    from time_series_data_anomaly_detection_spark.functions.lstm import (
        lstm_forecast,
    )

    rng = np.random.default_rng(17)
    y = np.sin(np.arange(400) / 7.0) + rng.normal(0, 0.1, 400)
    a = (
        lstm_forecast(series_df(spark, y), seq_len=24, hidden=12, epochs=2)
        .orderBy("rn").toPandas()
    )
    b = (
        lstm_forecast(series_df(spark, y), seq_len=24, hidden=12, epochs=2)
        .orderBy("rn").toPandas()
    )
    np.testing.assert_array_equal(
        a.pred_mean.to_numpy(), b.pred_mean.to_numpy()
    )


def test_bsts_fixed_matches_scalar_recursion_and_tracks_trend(spark):
    """bsts_fixed is the closed-form fixed-variance local-linear-trend
    filter: verify the Spark output bit-exactly against a direct Python
    evaluation of the seven-scalar recursion (the DuckDB RECURSIVE-CTE
    oracle mirrors this expression tree), and that the slope state lets
    the one-step prediction track a linear ramp with near-zero bias
    (a pure local-level filter lags a ramp by slope*k steps)."""
    from time_series_data_anomaly_detection_spark.functions.kalman import (
        bsts_fixed,
    )

    rng = np.random.default_rng(13)
    y = 0.5 * np.arange(200, dtype=float) + 10.0 + rng.normal(0, 0.3, 200)
    out = bsts_fixed(series_df(spark, y)).orderBy("rn").toPandas()
    QL, QB, RV, PZ = 0.125, 0.015625, 1.0, 16.0
    l, b = float(y[0]), 0.0
    p11, p12, p22 = PZ, 0.0, PZ
    exp_m = np.empty(len(y))
    exp_f = np.empty(len(y))
    for t in range(len(y)):
        lp = l + b
        bp = b
        p11p = p11 + 2.0 * p12 + p22 + QL
        p12p = p12 + p22
        p22p = p22 + QB
        f = p11p + RV
        exp_m[t], exp_f[t] = lp, f
        k1 = p11p / f
        k2 = p12p / f
        v = y[t] - lp
        l = lp + k1 * v
        b = bp + k2 * v
        p11 = p11p - k1 * p11p
        p12 = p12p - k1 * p12p
        p22 = p22p - k2 * p12p
    np.testing.assert_allclose(out.pred_mean.to_numpy(), exp_m, rtol=0, atol=0)
    np.testing.assert_allclose(out.resid.to_numpy(), y - exp_m, rtol=0, atol=0)
    # the slope state removes ramp lag: residuals on the ramp are unbiased
    assert abs(out.resid.to_numpy()[50:].mean()) < 0.05


def test_gp_fixed_twin_matches_production_gp(spark):
    """The hash-gated GP twin (q_gp_forecast_fixed) must agree with
    the PRODUCTION numpy GP (gp_forecast) run at the twin's fixed
    hyperparameters and 64-row train window — same kernel family,
    same train slice, same standardization.  The twin quantizes each
    kernel value at 1e-8 before the solve, so agreement is at solve-
    amplified tolerance, not bit-exact."""
    from time_series_data_anomaly_detection_spark.functions import gp_forecast
    from time_series_data_anomaly_detection_spark.plans.queries._shared import (
        _series,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.models import (
        q_gp_forecast_fixed,
    )

    sf = "/root/testdata/sf0.001"
    twin = (
        q_gp_forecast_fixed(spark, sf)
        .toPandas()
        .sort_values(["series_id", "rn"])
        .reset_index(drop=True)
    )
    prod = (
        gp_forecast(
            _series(spark, sf),
            train_frac=0.5,
            max_train=64,
            period=24.0,
            length_scale=50.0,
            noise=0.1,
            optimize=False,
        )
        .select("series_id", "rn", "pred_mean")
        .toPandas()
        .sort_values(["series_id", "rn"])
        .reset_index(drop=True)
    )
    assert len(twin) == len(prod) > 0
    assert (twin["series_id"] == prod["series_id"]).all()
    diff = np.abs(twin["pred_mean"].to_numpy() - prod["pred_mean"].to_numpy())
    assert diff.max() < 1e-3, diff.max()


def test_gp_fixed_std_twin_matches_production_gp(spark):
    """The posterior-STD sibling (q_gp_forecast_fixed_std) must agree
    with the production numpy GP's pred_std at the twin's fixed
    hyperparameters on the capped extent — pins that the Gauss-Jordan
    inverse + per-row quadratic form implements the production
    ``var = k** − diag(Ks·K⁻¹·Ksᵀ)`` (functions/gp.py:259-268),
    independently of the DuckDB oracle."""
    from time_series_data_anomaly_detection_spark.functions import gp_forecast
    from time_series_data_anomaly_detection_spark.plans.queries._shared import (
        _series,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.models import (
        q_gp_forecast_fixed_std,
    )

    sf = "/root/testdata/sf0.001"
    twin = (
        q_gp_forecast_fixed_std(spark, sf)
        .toPandas()
        .sort_values(["series_id", "rn"])
        .reset_index(drop=True)
    )
    prod = (
        gp_forecast(
            _series(spark, sf),
            train_frac=0.5,
            max_train=64,
            period=24.0,
            length_scale=50.0,
            noise=0.1,
            optimize=False,
        )
        .select("series_id", "rn", "pred_std")
        .toPandas()
        .sort_values(["series_id", "rn"])
        .reset_index(drop=True)
    )
    merged = twin.merge(
        prod, on=["series_id", "rn"], how="left",
        suffixes=("_twin", "_prod"),
    )
    assert len(merged) == len(twin) > 0
    assert merged["pred_std_prod"].notna().all()
    diff = np.abs(
        merged["pred_std_twin"].to_numpy()
        - merged["pred_std_prod"].to_numpy()
    )
    assert diff.max() < 1e-3, diff.max()


def test_lstm_fixed_twin_matches_numpy_replica(spark):
    """The hash-gated LSTM inference twin must equal a numpy replay of
    its own quantized cell (PyTorch gate order, q8 exp-based σ/tanh,
    pinned weights) on full sf0.001 series — pins that the Spark fold
    implements exactly the declared math, independently of DuckDB."""
    import pandas as pd
    from math import exp, floor

    from time_series_data_anomaly_detection_spark.plans.queries.models import (
        _LSTM_B,
        _LSTM_BY,
        _LSTM_WH,
        _LSTM_WX,
        _LSTM_WY,
        q_lstm_forecast_fixed,
    )

    q8 = lambda v: floor(v * 1e8 + 0.5) / 1e8  # noqa: E731
    sig = lambda v: q8(1.0 / (1.0 + exp(-v)))  # noqa: E731
    tnh = lambda v: q8((exp(2.0 * v) - 1.0) / (exp(2.0 * v) + 1.0))  # noqa: E731

    out = q_lstm_forecast_fixed(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        xall = (
            grp.sort_values(["ts", "event_id"])["value"].to_numpy().astype(float)
        )
        w = min(len(xall), 2048)
        x = xall[-w:]
        s1, s2 = float(np.sum(x)), float(np.sum(x * x))
        mu = s1 / w
        sd = np.sqrt(max((s2 - s1 * s1 / w) / (w - 1.0), 0.0)) + 1e-9
        z = (x - mu) / sd
        h = [0.0] * 4
        c = [0.0] * 4
        preds = []
        for t in range(w):
            z16 = [
                z[t] * _LSTM_WX[k]
                + h[0] * _LSTM_WH[0][k]
                + h[1] * _LSTM_WH[1][k]
                + h[2] * _LSTM_WH[2][k]
                + h[3] * _LSTM_WH[3][k]
                + _LSTM_B[k]
                for k in range(16)
            ]
            i4 = [sig(z16[j]) for j in range(4)]
            f4 = [sig(z16[j + 4]) for j in range(4)]
            g4 = [tnh(z16[j + 8]) for j in range(4)]
            o4 = [sig(z16[j + 12]) for j in range(4)]
            c = [f4[j] * c[j] + i4[j] * g4[j] for j in range(4)]
            h = [o4[j] * tnh(c[j]) for j in range(4)]
            preds.append(
                sum(h[j] * _LSTM_WY[j] for j in range(4)) + _LSTM_BY
            )
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == w
        exp_pred = mu + sd * np.array(preds)
        np.testing.assert_allclose(
            got["pred"].to_numpy(), exp_pred, atol=2e-6
        )


def test_lstm_numpy_matches_r13_reference_bitwise():
    """The r14 dispatch cuts in NumpyLSTM (hoisted k=1 input
    projection, fused i/f sigmoid, preallocated dz buffer) must be
    BIT-IDENTICAL to the r13 per-step loop: same products, same
    left-associative groupings.  Pins fit + fp32 predict outputs
    against an inline replica of the r13 forward/backward."""
    import numpy as np

    from time_series_data_anomaly_detection_spark.functions._lstm_numpy import (
        NumpyLSTM,
        _sigmoid,
    )

    class RefLSTM(NumpyLSTM):
        def _forward(self, X, want_cache):
            p, H = self.params, self.H
            B, T, _ = X.shape
            dt = p["Wx"].dtype
            h = np.zeros((B, H), dtype=dt)
            c = np.zeros((B, H), dtype=dt)
            cache = []
            for t in range(T):
                z = X[:, t, :] @ p["Wx"] + h @ p["Wh"] + p["b"]
                i = _sigmoid(z[:, :H])
                f = _sigmoid(z[:, H: 2 * H])
                g = np.tanh(z[:, 2 * H: 3 * H])
                o = _sigmoid(z[:, 3 * H:])
                c_new = f * c + i * g
                tc = np.tanh(c_new)
                if want_cache:
                    cache.append((X[:, t, :], h, c, i, f, g, o, c_new, tc))
                h = o * tc
                c = c_new
            pred = (h @ p["Wy"] + p["by"]).ravel()
            return pred, h, cache

        def _backward(self, dpred, h_last, cache):
            p = self.params
            g_ = {n: np.zeros_like(v) for n, v in p.items()}
            dp = dpred[:, None]
            g_["Wy"] = h_last.T @ dp
            g_["by"] = dp.sum(axis=0)
            dh = dp @ p["Wy"].T
            dc = np.zeros_like(dh)
            for x_t, h_prev, c_prev, i, f, g, o, c_new, tc in reversed(cache):
                do = dh * tc
                dc = dc + dh * o * (1.0 - tc * tc)
                di = dc * g
                df = dc * c_prev
                dg = dc * i
                dz = np.concatenate(
                    [
                        di * i * (1.0 - i),
                        df * f * (1.0 - f),
                        dg * (1.0 - g * g),
                        do * o * (1.0 - o),
                    ],
                    axis=1,
                )
                g_["Wx"] += x_t.T @ dz
                g_["Wh"] += h_prev.T @ dz
                g_["b"] += dz.sum(axis=0)
                dh = dz @ p["Wh"].T
                dc = dc * f
            return g_

    rng = np.random.default_rng(3)
    y = np.sin(np.arange(400) * 2 * np.pi / 24) + 0.1 * rng.standard_normal(400)
    seq = 32
    X = np.lib.stride_tricks.sliding_window_view(y, seq)[:-1][:, :, None]
    t = y[seq:]
    new = NumpyLSTM(hidden=12, seed=0)
    ref = RefLSTM(hidden=12, seed=0)
    for n, v in new.params.items():
        assert np.array_equal(v, ref.params[n]), f"init {n}"
    new.fit(X, t, epochs=3, batch=48, seed=0, lr=3e-3)
    ref.fit(X, t, epochs=3, batch=48, seed=0, lr=3e-3)
    for n in new.params:
        assert np.array_equal(new.params[n], ref.params[n]), f"trained {n}"
    assert np.array_equal(new.predict(X), ref.predict(X))


def _shuffled_fleet(frac_col=None):
    """Three seeded seasonal series of different lengths, as one frame
    whose rows are in random order (``frac_col``: each series twice,
    at two train fractions)."""
    import pandas as pd

    rng = np.random.default_rng(17)
    frames = []
    for sid, n in (("a", 150), ("b", 97), ("c", 203)):
        t = np.arange(n)
        y = 10 + 3 * np.sin(2 * np.pi * t / 24) + rng.normal(0, 1, n)
        y[n // 2] += 8
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "timestamp": pd.date_range("2024-01-01", periods=n, freq="30min"),
                    "value": y,
                    "rn": t + 1,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    if frac_col:
        pdf = pd.concat(
            [pdf.assign(**{frac_col: f}) for f in (0.5, 0.8)], ignore_index=True
        )
    return pdf.sample(frac=1, random_state=3).reset_index(drop=True)


def _assert_frames_bitwise(got, want):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            nan = np.isnan(a)
            assert np.array_equal(nan, np.isnan(b)), c
            assert np.array_equal(a[~nan].view(np.int64), b[~nan].view(np.int64)), c
        else:
            assert [str(v) for v in a] == [str(v) for v in b], c


SHELL_CASES = [
    pytest.param(kalman.kalman_local_level, kalman.kalman_local_level_kernel,
                 dict(train_frac=0.8, dynamic=False), id="kalman_local_level"),
    pytest.param(kalman.kalman_fixed, kalman.kalman_fixed_kernel, {},
                 id="kalman_fixed"),
    pytest.param(kalman.bsts_fixed, kalman.bsts_fixed_kernel, {}, id="bsts_fixed"),
    pytest.param(kalman.bsts_forecast, kalman.bsts_forecast_kernel, {},
                 id="bsts_forecast"),
    pytest.param(kalman.kalman_local_level, kalman.kalman_local_level_kernel,
                 dict(score_col="z"), id="kalman_score"),
    pytest.param(kalman.bsts_forecast, kalman.bsts_forecast_kernel,
                 dict(score_col="z"), id="bsts_score"),
    pytest.param(lstm.lstm_forecast, lstm.lstm_forecast_kernel,
                 dict(seq_len=12, hidden=4, epochs=1, score_col="z"),
                 id="lstm_score"),
    pytest.param(bocpd.bocpd_changepoints, bocpd.bocpd_changepoints_kernel, {},
                 id="bocpd"),
    pytest.param(stl.stl_decompose, stl.stl_decompose_kernel,
                 dict(score_col="z"), id="stl_score"),
    pytest.param(ar.ar_forecast, ar.ar_forecast_kernel,
                 dict(p=4, score_col="z"), id="ar_score"),
    pytest.param(ar.ar_forecast, ar.ar_forecast_kernel,
                 dict(p=4, frac_col="frac"), id="ar_frac"),
    pytest.param(harmonic.harmonic_forecast, harmonic.harmonic_forecast_kernel,
                 dict(period=24), id="harmonic"),
    pytest.param(spectral.spectral_residual_scores,
                 spectral.spectral_residual_kernel, {}, id="spectral_residual"),
    pytest.param(shesd.shesd_flags, shesd.shesd_kernel, dict(period=24),
                 id="shesd"),
]


@pytest.mark.parametrize("wrapper, kernel, kw", SHELL_CASES)
def test_shell_wrapper_equals_kernel_bitwise(spark, wrapper, kernel, kw):
    """Each row-aligned model wrapper is its module-level kernel run by
    the grouped-map shell: on a shuffled three-series frame, the Spark
    output equals, bit for bit, the kernel called in process on each
    ``rn``-sorted group."""
    import pandas as pd

    def in_process(g):
        g = g.reset_index(drop=True)
        return g.assign(**kernel(g, **kw))

    pdf = _shuffled_fleet(kw.get("frac_col"))
    keys = ["series_id"] + ([kw["frac_col"]] if "frac_col" in kw else [])
    got = wrapper(spark.createDataFrame(pdf), **kw).toPandas()
    want = pd.concat(
        in_process(g) for _, g in pdf.sort_values("rn").groupby(keys)
    )[list(got.columns)]
    order = keys + ["rn"]
    _assert_frames_bitwise(
        got.sort_values(order).reset_index(drop=True),
        want.sort_values(order).reset_index(drop=True),
    )


def _edge_fleet():
    """The shuffled fleet plus a NULL-``series_id`` series of 60 points
    and a one-row series."""
    import pandas as pd

    pdf = _shuffled_fleet()
    extra = pd.DataFrame(
        {
            "series_id": [None] * 60 + ["d"],
            "timestamp": pd.date_range("2024-02-01", periods=61, freq="30min"),
            "value": np.cos(np.arange(61) / 3.0) * 5,
            "rn": list(range(1, 61)) + [1],
        }
    )
    return pd.concat([pdf, extra], ignore_index=True).sample(frac=1, random_state=4)


def _pair_frame():
    """The rows of ``dtw_distance``'s grouped-map: every series of the
    fleet tagged with each pair it belongs to."""
    import pandas as pd

    pdf = _shuffled_fleet()[["series_id", "rn", "value"]]
    pairs = [("a", "b"), ("a", "c"), ("b", "c")]
    return pd.concat(
        [pdf[pdf.series_id.isin(p)].assign(pair="\x00".join(p)) for p in pairs],
        ignore_index=True,
    )


def _moments_frame():
    """``control._with_moments``' output shape, moments from pandas."""
    pdf = _shuffled_fleet()[["series_id", "rn", "value"]]
    g = pdf.groupby("series_id")["value"]
    return pdf.assign(__mu=g.transform("mean"), __sd=g.transform("std"))


SHELL_EDGE_CASES = {
    # (source frame, out DDL, kernel, keys, sort order of the output)
    "row_aligned": (_edge_fleet, kalman.KALMAN_SCHEMA, kalman.kalman_fixed_kernel,
                    ("series_id",), ["series_id", "rn"]),
    "pelt_segments": (_edge_fleet, pelt.PELT_SCHEMA, pelt.pelt_segments_kernel,
                      ("series_id",), ["series_id", "seg"]),
    "cusum_alarms": (_moments_frame, control.CUSUM_ALARM_SCHEMA,
                     partial(control.cusum_alarms_kernel, h=2.0), ("series_id",),
                     ["series_id", "rn", "direction"]),
    "series_frac": (lambda: _shuffled_fleet("frac"),
                    ar.AR_SCHEMA + ", frac double",
                    partial(ar.ar_forecast_kernel, p=4, frac_col="frac"),
                    ("series_id", "frac"), ["series_id", "frac", "rn"]),
    "pair": (_pair_frame, dtw.DTW_SCHEMA, dtw.dtw_pair_kernel, ("pair",),
             ["series_a", "series_b"]),
    "null_group_only": (lambda: _edge_fleet().query("series_id.isnull()"),
                        kalman.KALMAN_SCHEMA, kalman.kalman_fixed_kernel,
                        ("series_id",), ["rn"]),
}


@pytest.mark.parametrize("batch_rows", [None, 7])
@pytest.mark.parametrize("case", list(SHELL_EDGE_CASES))
def test_shell_edges_equal_kernel_bitwise(spark, case, batch_rows):
    """``per_series`` on the shapes its batch walk must get right — a
    group cut across Arrow batches (``batch_rows`` rows per batch), a
    NULL key, a one-row group, empty partitions (``null_group_only``:
    one group on ``defaultParallelism`` > 1 partitions), whole-frame
    kernels, two-column and pair keys — equals the kernel run in
    process on each ``rn``-sorted group, bit for bit."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions._partition import (
        per_series,
    )

    make, ddl, kernel, keys, order = SHELL_EDGE_CASES[case]
    pdf = make()
    names = [f.split()[0] for f in ddl.split(", ")]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows:
        spark.conf.set(conf, str(batch_rows))
    try:
        got = per_series(spark.createDataFrame(pdf), ddl, kernel, keys).toPandas()
    finally:
        spark.conf.set(conf, old)
    # grouped by Python equality: pandas' hash grouping truncates
    # strings at NUL, which would merge the "a\x00b" and "a\x00c" pairs
    groups = {}
    for i, key in enumerate(zip(*(pdf[k] for k in keys))):
        groups.setdefault(key, []).append(i)
    outs = []
    for rows in groups.values():
        g = pdf.iloc[rows].sort_values("rn").reset_index(drop=True)
        out = kernel(g)
        outs.append(out if isinstance(out, pd.DataFrame) else g.assign(**out))
    want = pd.concat(outs, ignore_index=True)[names]
    assert spark.sparkContext.defaultParallelism > 1
    _assert_frames_bitwise(
        got.sort_values(order).reset_index(drop=True),
        want.sort_values(order).reset_index(drop=True),
    )
