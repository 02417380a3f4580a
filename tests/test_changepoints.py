"""Round-6 detectors: PELT exact segmentation (parity with the
unpruned optimal-partitioning DP), HBOS histogram rarity, SAX
symbolization, AR(2) Yule-Walker, Borda rank ensemble, and the
DSIR-style importance selector."""

import numpy as np
import pandas as pd
import pytest

from conftest import series_df


# ---------------------------------------------------------------------------
# PELT (functions/pelt.py)
# ---------------------------------------------------------------------------


def test_pelt_matches_optimal_partitioning_random():
    """PELT's pruning must be lossless: identical changepoints to the
    O(n^2) optimal-partitioning DP on random + shifted data."""
    from time_series_data_anomaly_detection_spark.functions.pelt import (
        optimal_partitioning_l2,
        pelt_l2,
    )

    rng = np.random.RandomState(0)
    for trial in range(8):
        n = int(rng.randint(40, 200))
        x = rng.randn(n)
        # plant 0-3 mean shifts
        for _ in range(int(rng.randint(0, 4))):
            at = int(rng.randint(5, n - 5))
            x[at:] += rng.randn() * 4
        for beta in (2.0, 5.0, 2.0 * x.var() * np.log(n)):
            assert pelt_l2(x, beta) == optimal_partitioning_l2(x, beta), (
                trial,
                beta,
            )


def test_pelt_finds_planted_shifts(spark):
    """Three flat regimes with big mean gaps -> exactly two
    changepoints at the planted boundaries; segment means recover the
    regime levels."""
    rng = np.random.RandomState(1)
    x = np.concatenate(
        [rng.randn(60), rng.randn(50) + 10, rng.randn(40) - 8]
    )
    from time_series_data_anomaly_detection_spark.functions.pelt import (
        pelt_segments,
    )

    out = (
        pelt_segments(series_df(spark, list(x)))
        .toPandas()
        .sort_values("seg")
        .reset_index(drop=True)
    )
    assert list(out["n"]) == [60, 50, 40]
    assert list(out["start_rn"]) == [1, 61, 111]
    assert list(out["end_rn"]) == [60, 110, 150]
    np.testing.assert_allclose(
        out["seg_mean"], [x[:60].mean(), x[60:110].mean(), x[110:].mean()]
    )


def test_pelt_short_and_constant_series(spark):
    from time_series_data_anomaly_detection_spark.functions.pelt import (
        pelt_segments,
    )

    # n < 3: one degenerate segment row, no crash
    out = pelt_segments(series_df(spark, [5.0, 6.0])).toPandas()
    assert len(out) == 1 and out["n"].iloc[0] == 2
    # constant series: variance-0 BIC penalty -> a single segment
    out = pelt_segments(series_df(spark, [3.0] * 50, series_id="c")).toPandas()
    assert len(out) == 1 and out["n"].iloc[0] == 50


# ---------------------------------------------------------------------------
# HBOS (operators/hbos.py)
# ---------------------------------------------------------------------------


def test_hbos_flags_rare_bin(spark):
    """99 values in a tight cluster + 1 far outlier: the outlier's bin
    holds 1 of 100 rows (rarity 100/20 = 5 at the default 20 bins) and
    is flagged at rarity_thresh 4."""
    from time_series_data_anomaly_detection_spark.operators.hbos import (
        hbos_flags,
    )

    vals = [10.0 + 0.001 * i for i in range(99)] + [1000.0]
    out = (
        hbos_flags(series_df(spark, vals), n_bins=20, rarity_thresh=4.0)
        .toPandas()
        .sort_values("rn")
        .reset_index(drop=True)
    )
    assert out["hbos_flag"].iloc[-1] == 1
    assert out["hbos_flag"].iloc[:-1].sum() == 0
    assert out["bin"].iloc[-1] == 19  # max lands in the top bin
    np.testing.assert_allclose(out["rarity"].iloc[-1], 100 / 20.0)


def test_hbos_constant_series_no_flags(spark):
    from time_series_data_anomaly_detection_spark.operators.hbos import (
        hbos_flags,
    )

    out = hbos_flags(series_df(spark, [7.0] * 30)).toPandas()
    assert (out["bin"] == 0).all()
    assert out["hbos_flag"].sum() == 0
    np.testing.assert_allclose(out["rarity"], 1.0 / 20 * 30 / 30 * 20 / 20)


# ---------------------------------------------------------------------------
# SAX (operators/sax.py)
# ---------------------------------------------------------------------------


def test_sax_words_symbols_and_rarity(spark):
    """A square wave alternating low/high per 4-row block symbolizes
    to alternating a/d words; one injected deviant block's words are
    the rare ones."""
    from time_series_data_anomaly_detection_spark.operators.sax import (
        sax_words,
    )

    block = [-1.0] * 4 + [1.0] * 4
    vals = block * 25  # 200 rows, 50 segments
    vals[100:104] = [9.0, 9.0, 9.0, 9.0]  # one deviant block
    out = (
        sax_words(series_df(spark, vals), seg_len=4, alphabet=4,
                  word_len=3, rare_x=10)
        .toPandas()
        .sort_values("seg")
        .reset_index(drop=True)
    )
    # 50 segments, word_len 3 -> 48 complete words
    assert len(out) == 48
    assert set(out["symbol"]) <= set("abcd")
    # the deviant block is the unique 'd' symbol (far above +0.67 z)
    assert (out["symbol"] == "d").sum() == 1
    dev_seg = out[out["symbol"] == "d"]["seg"].iloc[0]
    assert dev_seg == 25
    # every word touching the deviant segment is rare; the steady
    # alternation words are not
    touching = out[(out["seg"] >= dev_seg - 2) & (out["seg"] <= dev_seg)]
    assert (touching["rare_flag"] == 1).all()
    steady = out[(out["seg"] < dev_seg - 4) | (out["seg"] > dev_seg + 4)]
    assert (steady["rare_flag"] == 0).all()


def test_sax_paa_matches_numpy(spark):
    from time_series_data_anomaly_detection_spark.operators.sax import (
        sax_words,
    )

    rng = np.random.RandomState(3)
    x = rng.randn(40)
    out = (
        sax_words(series_df(spark, list(x)), seg_len=4, word_len=1)
        .toPandas()
        .sort_values("seg")
    )
    z = (x - x.mean()) / (x.std(ddof=1) + 1e-9)
    want = z.reshape(10, 4).mean(axis=1)
    np.testing.assert_allclose(out["paa"], want, atol=1e-12)


# ---------------------------------------------------------------------------
# AR(2) Yule-Walker (functions/ar.py)
# ---------------------------------------------------------------------------


def test_ar2_recovers_ar2_process(spark):
    """On a simulated AR(2) process the Yule-Walker fit recovers the
    true coefficients and one-step predictions beat AR(1)'s."""
    from time_series_data_anomaly_detection_spark.functions.ar import (
        ar1_forecast_native,
        ar2_forecast_native,
    )

    rng = np.random.RandomState(7)
    n = 3000
    phi1, phi2 = 0.6, -0.3
    x = np.zeros(n)
    eps = rng.randn(n)
    for t in range(2, n):
        x[t] = phi1 * x[t - 1] + phi2 * x[t - 2] + eps[t]
    df = series_df(spark, list(x))
    out = (
        ar2_forecast_native(df)
        .filter("rn >= 3")
        .toPandas()
        .sort_values("rn")
    )
    # implied phi from predictions: fit pred ~ mu + phi1 d1 + phi2 d2
    # via numpy on the recovered residuals instead: check rmse
    rmse2 = float(np.sqrt((out["resid"] ** 2).mean()))
    out1 = ar1_forecast_native(df).filter("rn >= 3").toPandas()
    rmse1 = float(np.sqrt((out1["resid"] ** 2).mean()))
    assert rmse2 < rmse1 < rmse2 * 1.5
    # yule-walker on the same data (numpy reference, biased acov)
    mu = x.mean()
    d = x - mu
    c0 = (d * d).mean()
    c1 = (d[1:] * d[:-1]).sum() / n
    c2 = (d[2:] * d[:-2]).sum() / n
    den = c0 * c0 - c1 * c1
    want1 = c1 * (c0 - c2) / den
    want2 = (c0 * c2 - c1 * c1) / den
    assert abs(want1 - phi1) < 0.1 and abs(want2 - phi2) < 0.1
    # and the spark predictions use exactly those phis
    pred = mu + want1 * (x[1:-1] - mu) + want2 * (x[:-2] - mu)
    np.testing.assert_allclose(
        out["pred_mean"].to_numpy(), pred, atol=1e-7
    )


def test_ar2_constant_series_null_preds(spark):
    from time_series_data_anomaly_detection_spark.functions.ar import (
        ar2_forecast_native,
    )

    out = (
        ar2_forecast_native(series_df(spark, [4.0] * 20))
        .filter("rn >= 3")
        .toPandas()
    )
    assert out["pred_mean"].isna().all()  # degenerate YW system -> null


# ---------------------------------------------------------------------------
# Borda rank ensemble + importance selector (registry-level sanity;
# both are hash-gated so the oracle sweep is the real check)
# ---------------------------------------------------------------------------


def test_rank_ensemble_flags_top_outlier(spark, tmp_path):
    """The Borda flag marks at most ~1% of rows and always includes
    the grossest outlier (top rank on all three scores)."""
    from time_series_data_anomaly_detection_spark.plans.queries.ensembles import (
        q_detector_rank_ensemble,
    )

    # build a tiny parquet sf dir with an events table
    rng = np.random.RandomState(5)
    n = 500
    vals = rng.randn(n)
    vals[123] = 60.0
    ts = pd.date_range("2024-01-01", periods=n, freq="30min")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "event_type": "a",
            "user_id": np.arange(n, dtype="int64") % 7,
            "value": vals,
            "props": "{}",
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    out = q_detector_rank_ensemble(spark, str(tmp_path)).toPandas()
    flagged = out[out["flag"] == 1]
    assert 1 <= len(flagged) <= max(1, int(0.02 * n))
    assert 124 in set(flagged["rn"])  # rn is 1-based
    row = out[out["rn"] == 124].iloc[0]
    assert row["r_mad"] == 1 and row["r_glob"] == 1 and row["borda"] <= 5


def test_importance_weights_prefers_target_like_docs(spark):
    """Docs sharing the target split's vocabulary score > 1; docs in a
    disjoint vocabulary score < 1."""
    from time_series_data_anomaly_detection_spark.datapipe.sampling import (
        importance_weights,
    )

    # doc_ids chosen so the hash carve puts some in the target split;
    # every target doc speaks vocab A, raw docs speak A or B
    rows = []
    vocab_a = "alpha beta gamma delta epsilon"
    vocab_b = "zeta eta theta iota kappa"
    for i in range(400):
        rows.append((i, vocab_a if i % 2 == 0 else vocab_b))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    out = importance_weights(df, target_frac=0.2).toPandas()
    # the carve is on doc_id hash, independent of parity, so both
    # vocabularies appear in the target; but A docs dominate it iff
    # the even/odd split of the carved ids is uneven — instead assert
    # the mechanical invariants: scores positive, selected == score>1,
    # and no target doc leaks into the output
    assert (out["score"] > 0).all()
    assert ((out["score"] > 1) == (out["selected"] == 1)).all()
    assert out["n_tokens"].eq(5).all()
    # exact-count cross-check on one doc against pandas
    import hashlib

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    thr = int(0.2 * (1 << 48))
    tgt_ids = {i for i in range(400) if h48(f"target|{i}") < thr}
    assert set(out["doc_id"]) == set(range(400)) - tgt_ids


def test_pelt_fixed_twin_matches_pelt_on_tail(spark):
    """The hash-gated OPT fold (pelt_changepoints_fixed) must return
    PELT's exact optimum on the same 128-point tail with the same
    fixed BIC penalty (2*var*ln128 literal) — PELT's pruning provably
    preserves the optimal-partitioning solution, so the segment
    boundaries agree exactly."""
    import numpy as np
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.pelt import pelt_l2
    from time_series_data_anomaly_detection_spark.plans.queries.changepoints import (
        _LN128,
        q_pelt_changepoints_fixed,
    )

    sf = "/root/testdata/sf0.001"
    out = q_pelt_changepoints_fixed(spark, sf).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        g = grp.sort_values(["ts", "event_id"])
        x = g["value"].to_numpy()[-128:].astype(float)
        beta = 2.0 * float(x.var()) * float(_LN128)
        bounds = [0] + pelt_l2(x, beta) + [128]
        got = out[out["series_id"] == sid].sort_values("seg")
        assert len(got) == len(bounds) - 1, sid
        n_ser = len(g)
        for i in range(len(bounds) - 1):
            row = got.iloc[i]
            assert row["start_rn"] == n_ser - 128 + bounds[i] + 1
            assert row["end_rn"] == n_ser - 128 + bounds[i + 1]
            assert row["n"] == bounds[i + 1] - bounds[i]
            seg_mean = x[bounds[i] : bounds[i + 1]].mean()
            assert row["seg_mean"] == pytest.approx(seg_mean, abs=1e-5)


def _gauss_bocpd_fixed_ref(z):
    """Numpy replica of the bocpd_changepoints_fixed math (known-
    variance Gaussian, conjugate mean, h=1/50, 8-dp-quantized pdf) —
    kept in exact float-op lockstep with the Spark fold and the
    DuckDB recursion."""
    from math import exp, floor, sqrt

    TWO_PI = 6.283185307180
    H, GM = 0.02, 0.98
    n = len(z)
    l1 = np.concatenate([[0.0], np.cumsum(z)])
    R = [1.0]
    cps, shorts = [], []
    for t in range(n):
        ps = []
        for r in range(t + 1):
            v = 1.0 + 1.0 / (1.0 + float(r))
            mu = (l1[t] - l1[t - r]) / (1.0 + float(r))
            d = z[t] - mu
            p = exp(-(d * d) / (2.0 * v)) / sqrt(TWO_PI * v)
            ps.append(floor(p * 1e8 + 0.5) / 1e8)
        rp = [R[r] * ps[r] for r in range(t + 1)]
        growth = [q * GM for q in rp]
        cp0 = 0.0
        for q in rp:
            cp0 += q * H
        rn = [cp0] + growth
        tot = 0.0
        for v2 in rn:
            tot += v2
        R = [v2 / tot for v2 in rn] if tot > 0 else [1.0] + [0.0] * (t + 1)
        cps.append(R[0])
        s = 0.0
        for v2 in R[:6]:
            s += v2
        shorts.append(s)
    return cps, shorts


def test_bocpd_fixed_matches_numpy_replica(spark):
    """The hash-gated BOCPD twin must equal the numpy replica of its
    own recursion bit-for-bit (up to the 6-dp output quantizer) on
    real testdata tails — pins that the Spark fold implements exactly
    the declared math, independently of the DuckDB oracle."""
    import pandas as pd
    from math import floor

    from time_series_data_anomaly_detection_spark.plans.queries.changepoints import (
        q_bocpd_changepoints_fixed,
    )

    out = q_bocpd_changepoints_fixed(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()[-64:]
            .astype(float)
        )
        # the engine's sums are exact-decimal; np.sum pairwise
        # summation replicates them closely enough for the 2e-6 gate
        s1, s2 = float(np.sum(x)), float(np.sum(x * x))
        m = s1 / 64.0
        sd = np.sqrt(max((s2 - s1 * s1 / 64.0) / 63.0, 0.0))
        z = (x - m) / (sd + 1e-9)
        cps, shorts = _gauss_bocpd_fixed_ref(z)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == 64
        q6 = lambda v: floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        np.testing.assert_allclose(
            got["cp_prob"].to_numpy(), [q6(v) for v in cps], atol=2e-6
        )
        np.testing.assert_allclose(
            got["cp_score"].to_numpy(), [q6(v) for v in shorts], atol=2e-6
        )
        # constant hazard => cp_prob is analytically h = 0.02
        assert np.allclose(got["cp_prob"].to_numpy(), 0.02, atol=1e-6)


def test_bocpd_fixed_ref_detects_planted_shift():
    """Semantics: the short-run posterior mass (cp_score) must spike
    right after a planted mean shift."""
    rng = np.random.default_rng(11)
    x = np.concatenate([rng.normal(0, 1, 40), rng.normal(4, 1, 24)])
    z = (x - x.mean()) / (x.std(ddof=1) + 1e-9)
    _, shorts = _gauss_bocpd_fixed_ref(z)
    post = np.argmax(shorts[35:]) + 35
    assert 40 <= post <= 44  # spike lands within a few steps of t=40
    assert max(shorts[40:46]) > 0.5


def test_pelt_fixed_full_matches_pelt_on_full_series(spark):
    """The r10 full-extent twin (pelt_changepoints_fixed_full) must
    return PELT's exact optimum over each ENTIRE sf0.001 series
    (w = n < 2048 there) with the generalized BIC penalty
    2*var*q8(ln(w)) — the pruned fold's segment boundaries agree
    exactly with the numpy PELT."""
    import numpy as np
    import pandas as pd
    from math import floor, log

    from time_series_data_anomaly_detection_spark.functions.pelt import pelt_l2
    from time_series_data_anomaly_detection_spark.plans.queries.changepoints import (
        q_pelt_changepoints_fixed_full,
    )

    sf = "/root/testdata/sf0.001"
    out = q_pelt_changepoints_fixed_full(spark, sf).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        g = grp.sort_values(["ts", "event_id"])
        x = g["value"].to_numpy().astype(float)
        w = min(len(x), 2048)
        x = x[-w:]
        lnw = floor(log(float(w)) * 1e8 + 0.5) / 1e8
        beta = 2.0 * float(x.var()) * lnw
        bounds = [0] + pelt_l2(x, beta) + [w]
        got = out[out["series_id"] == sid].sort_values("seg")
        assert len(got) == len(bounds) - 1, sid
        n_ser = len(g)
        for i in range(len(bounds) - 1):
            row = got.iloc[i]
            assert row["start_rn"] == n_ser - w + bounds[i] + 1
            assert row["end_rn"] == n_ser - w + bounds[i + 1]
            assert row["n"] == bounds[i + 1] - bounds[i]
            seg_mean = x[bounds[i] : bounds[i + 1]].mean()
            assert row["seg_mean"] == pytest.approx(seg_mean, abs=1e-5)


def test_bocpd_fixed_full_matches_numpy_replica(spark):
    """The r10 full-extent BOCPD twin must equal the numpy replica of
    the recursion over each ENTIRE sf0.001 series (w = n there), not
    just a 64-point tail — same math, dynamic extent."""
    import pandas as pd
    from math import floor

    from time_series_data_anomaly_detection_spark.plans.queries.changepoints import (
        q_bocpd_changepoints_fixed_full,
    )

    out = q_bocpd_changepoints_fixed_full(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        xall = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()
            .astype(float)
        )
        w = min(len(xall), 2048)
        x = xall[-w:]
        s1, s2 = float(np.sum(x)), float(np.sum(x * x))
        m = s1 / w
        sd = np.sqrt(max((s2 - s1 * s1 / w) / (w - 1.0), 0.0))
        z = (x - m) / (sd + 1e-9)
        cps, shorts = _gauss_bocpd_fixed_ref(z)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == w
        q6 = lambda v: floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
        np.testing.assert_allclose(
            got["cp_prob"].to_numpy(), [q6(v) for v in cps], atol=2e-6
        )
        np.testing.assert_allclose(
            got["cp_score"].to_numpy(), [q6(v) for v in shorts], atol=2e-6
        )
        assert np.allclose(got["cp_prob"].to_numpy(), 0.02, atol=1e-6)


def test_bocpd_run_matches_r13_reference_bitwise():
    """The r14 table-gather/preallocation rewrite of ``bocpd_run`` must
    be BIT-IDENTICAL to the r13 per-step loop (same operands, same op
    order — the rewrite only moves run-length-determined quantities
    into gather tables and replaces concatenates with buffer writes).
    This pins exact equality against an inline replica of the r13 loop
    on a series long enough to exercise the eps-truncation AND the
    max_run argsort cap."""
    from math import lgamma, pi

    import numpy as np

    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_run,
        initial_state,
    )

    def reference_r13(y, hazard_lam=100.0, mu0=0.0, kappa0=1.0,
                      alpha0=1.0, beta0=1.0, max_run=500, eps=1e-9,
                      short_run=5):
        n = len(y)
        h = 1.0 / hazard_lam
        r = np.array([1.0]); mu = np.array([mu0])
        kappa = np.array([kappa0]); alpha = np.array([alpha0])
        beta = np.array([beta0]); run_len = np.array([0])
        cp = np.empty(n); short = np.empty(n)
        rl_cap = int(run_len.max()) + n + 2
        grid = alpha0 + np.arange(rl_cap) / 2.0
        lg_den_tab = np.array([lgamma(a) for a in grid])
        lg_num_tab = np.array([lgamma(a + 0.5) for a in grid])
        for t in range(n):
            df = 2 * alpha
            scale = np.sqrt(beta * (kappa + 1) / (alpha * kappa))
            z = (y[t] - mu) / scale
            pred = np.exp(
                lg_num_tab[run_len] - lg_den_tab[run_len]
                - 0.5 * np.log(df * pi) - np.log(scale)
                - (df + 1) / 2 * np.log1p(z * z / df)
            )
            growth = r * pred * (1 - h)
            cp0 = float(np.sum(r * pred * h))
            r_new = np.concatenate([[cp0], growth])
            total = r_new.sum()
            r_new = (r_new / total if total > 0
                     else np.r_[1.0, np.zeros(len(growth))])
            cp[t] = r_new[0]
            rl_new = np.concatenate([[0], run_len + 1])
            short[t] = float(r_new[rl_new <= short_run].sum())
            mu_new = np.concatenate([[mu0], (kappa * mu + y[t]) / (kappa + 1)])
            kappa_new = np.concatenate([[kappa0], kappa + 1])
            alpha_new = np.concatenate([[alpha0], alpha + 0.5])
            beta_new = np.concatenate(
                [[beta0], beta + kappa * (y[t] - mu) ** 2 / (2 * (kappa + 1))]
            )
            keep = r_new > eps
            keep[0] = True
            if keep.sum() > max_run:
                idx = np.argsort(r_new)[::-1][:max_run]
                keep = np.zeros_like(keep)
                keep[idx] = True
                keep[0] = True
            r = r_new[keep]; r = r / r.sum()
            mu, kappa, alpha, beta = (
                mu_new[keep], kappa_new[keep], alpha_new[keep], beta_new[keep]
            )
            run_len = rl_new[keep]
        return cp, short, {"r": r, "mu": mu, "kappa": kappa,
                           "alpha": alpha, "beta": beta, "run_len": run_len}

    rng = np.random.default_rng(7)
    # level shifts force truncation resets; 700 > max_run=120 exercises
    # the argsort cap branch repeatedly
    y = np.concatenate([
        rng.normal(0.0, 1.0, 300),
        rng.normal(4.0, 1.5, 200),
        rng.normal(-2.0, 0.5, 200),
    ])
    ref_cp, ref_short, ref_st = reference_r13(y, max_run=120)
    got_cp, got_short, got_st = bocpd_run(
        y, initial_state(), max_run=120
    )
    assert np.array_equal(ref_cp, got_cp)
    assert np.array_equal(ref_short, got_short)
    for k in ("r", "mu", "beta", "run_len"):
        assert np.array_equal(np.asarray(ref_st[k], float),
                              np.asarray(got_st[k], float)), k
    # the state carries no kappa/alpha: the replica's are exactly the
    # prior plus the run length, so they are rebuilt from run_len
    rl = got_st["run_len"]
    assert np.array_equal(ref_st["kappa"], 1.0 + rl.astype(float))
    assert np.array_equal(ref_st["alpha"], 1.0 + rl / 2.0)


def test_bocpd_run_split_resume_bitwise_at_non_default_priors():
    """Resuming ``bocpd_run`` from the state it returned must equal one
    call over the whole series, bit for bit, also at priors whose
    κ/α steps do not accumulate exactly (kappa0=0.7, alpha0=0.3): the
    state rebuilds κ and α from ``run_len`` on both paths."""
    import numpy as np

    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_run,
        initial_state,
    )

    prior = dict(mu0=0.5, kappa0=0.7, alpha0=0.3, beta0=2.0)
    rng = np.random.default_rng(11)
    y = np.concatenate([
        rng.normal(0.0, 1.0, 150),
        rng.normal(3.0, 0.7, 100),
        rng.normal(-1.0, 2.0, 100),
    ])
    st0 = initial_state(prior["mu0"], prior["beta0"])
    whole_cp, whole_short, whole_st = bocpd_run(y, st0, max_run=120, **prior)
    for k in (1, 137, 349):
        cp_a, short_a, st = bocpd_run(y[:k], st0, max_run=120, **prior)
        cp_b, short_b, st = bocpd_run(y[k:], st, max_run=120, **prior)
        assert np.array_equal(np.r_[cp_a, cp_b], whole_cp), k
        assert np.array_equal(np.r_[short_a, short_b], whole_short), k
        for key in ("r", "mu", "beta", "run_len"):
            assert np.array_equal(st[key], whole_st[key]), (k, key)


def test_bocpd_run_rejects_state_from_another_prior():
    """A state built for one prior cannot be resumed under another: its
    run-length-0 hypothesis carries the wrong (mu0, beta0)."""
    import numpy as np
    import pytest

    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_run,
        initial_state,
    )

    y = np.linspace(-1.0, 1.0, 20)
    _, _, st = bocpd_run(y, initial_state(), max_run=50)
    with pytest.raises(ValueError, match="mu0"):
        bocpd_run(y, st, mu0=0.5, max_run=50)
    with pytest.raises(ValueError, match="beta0"):
        bocpd_run(y, initial_state(), beta0=2.0, max_run=50)


def _bocpd_run_r14(y, state, hazard_lam=100.0, mu0=0.0, kappa0=1.0,
                   alpha0=1.0, beta0=1.0, max_run=500, eps=1e-9, short_run=5):
    """Inline replica of the one-series ``bocpd_run`` loop as it was
    before series were stepped together: one run-length set, plain
    ``np.sum`` for every sum."""
    from math import lgamma, pi

    n = len(y)
    h = 1.0 / hazard_lam
    r, mu, beta, run_len = (state[k] for k in ("r", "mu", "beta", "run_len"))
    cp = np.empty(n)
    short = np.empty(n)
    ar = np.arange(int(run_len.max()) + n + 2)
    grid = alpha0 + ar / 2.0
    kap_tab = kappa0 + ar.astype(float)
    df_tab = 2 * grid
    const_tab = (np.array([lgamma(a + 0.5) for a in grid])
                 - np.array([lgamma(a) for a in grid])
                 - 0.5 * np.log(df_tab * pi))
    dfp_tab = (df_tab + 1) / 2
    kap1_tab = kap_tab + 1
    ak_tab = grid * kap_tab
    for t in range(n):
        kap1 = kap1_tab[run_len]
        scale = np.sqrt(beta * kap1 / ak_tab[run_len])
        d = y[t] - mu
        z = d / scale
        pred = np.exp(const_tab[run_len] - np.log(scale)
                      - dfp_tab[run_len] * np.log1p(z * z / df_tab[run_len]))
        rp = r * pred
        r_new = np.r_[float(np.sum(rp * h)), rp * (1 - h)]
        total = r_new.sum()
        r_new = r_new / total if total > 0 else np.r_[1.0, np.zeros(len(r))]
        cp[t] = r_new[0]
        rl_new = np.r_[0, run_len + 1].astype(run_len.dtype)
        short[t] = float(
            r_new[: np.searchsorted(rl_new, short_run, side="right")].sum()
        )
        kap = kap_tab[run_len]
        mu_new = np.r_[mu0, (kap * mu + y[t]) / kap1]
        beta_new = np.r_[beta0, beta + kap * d**2 / (2 * kap1)]
        keep = r_new > eps
        keep[0] = True
        if keep.sum() > max_run:
            idx = np.argsort(r_new)[::-1][:max_run]
            keep = np.zeros_like(keep)
            keep[idx] = True
            keep[0] = True
        r = r_new[keep]
        r = r / r.sum()
        mu, beta, run_len = mu_new[keep], beta_new[keep], rl_new[keep]
    return cp, short, {"r": r, "mu": mu, "beta": beta, "run_len": run_len}


def _bocpd_changepoints_r14(y, **kw):
    """The per-series ``bocpd_changepoints`` kernel over the replica."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        initial_state,
    )

    sd = y.std() or 1.0
    return _bocpd_run_r14((y - y.mean()) / sd, initial_state(), **kw)


def _bits(a):
    return np.asarray(a, dtype=float).view(np.int64)


def _bocpd_edge_series():
    """Ragged series covering the batch kernel's edges: 1 and 2 points,
    a NaN, a constant series, a level shift, and long smooth series
    whose run-length sets grow past 128 hypotheses."""
    rng = np.random.default_rng(21)
    y_nan = rng.normal(0.0, 1.0, 40)
    y_nan[17] = np.nan
    return [
        rng.normal(0.0, 1.0, 400),
        np.r_[rng.normal(0.0, 1.0, 150), rng.normal(5.0, 1.0, 150)],
        np.array([3.0]),
        np.array([1.0, 2.0]),
        y_nan,
        np.full(60, 7.5),
        rng.normal(2.0, 0.5, 37),
        rng.normal(0.0, 1.0, 400),
    ]


@pytest.mark.parametrize("max_run", [500, 150])
def test_bocpd_batch_kernel_matches_per_series_replica(max_run):
    """``bocpd_changepoints_batch`` steps every series of a batch in one
    ``bocpd_run``: on ragged series with NaN, constant, 1- and 2-point
    members, run-length sets above 128 and (``max_run=150``) the
    per-series cap, each series' output equals the per-series replica
    bit for bit."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_changepoints_batch,
    )

    ys = _bocpd_edge_series()
    offsets = np.r_[0, np.cumsum([len(y) for y in ys])]
    got = bocpd_changepoints_batch(
        {"value": np.concatenate(ys)}, offsets, max_run=max_run
    )
    sizes = []
    for i, y in enumerate(ys):
        cp, short, st = _bocpd_changepoints_r14(y, max_run=max_run)
        a, b = offsets[i], offsets[i + 1]
        assert np.array_equal(_bits(got["cp_prob"][a:b]), _bits(cp)), i
        assert np.array_equal(_bits(got["cp_score"][a:b]), _bits(short)), i
        sizes.append(len(st["r"]))
    assert max(sizes) > 128
    if max_run < 500:
        assert max(sizes) >= max_run


@pytest.mark.parametrize("resumed", [False, True])
def test_bocpd_run_batched_equals_one_series_calls_at_non_dyadic_priors(resumed):
    """At priors whose κ/α steps do not accumulate exactly
    (kappa0=0.7, alpha0=0.3), one ``bocpd_run`` over S ragged series
    equals S one-series calls bit for bit — outputs and states, from a
    fresh and from a resumed state."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_run,
        initial_state,
    )

    prior = dict(mu0=0.5, kappa0=0.7, alpha0=0.3, beta0=2.0, max_run=120)
    ys = _bocpd_edge_series()
    st0 = initial_state(prior["mu0"], prior["beta0"])
    if resumed:
        states = [bocpd_run(y[: len(y) // 2], st0, **prior)[2] for y in ys]
        ys = [y[len(y) // 2:] for y in ys]
    else:
        states = [st0] * len(ys)
    offsets = np.r_[0, np.cumsum([len(y) for y in ys])]
    cp, short, got = bocpd_run(np.concatenate(ys), states, offsets=offsets, **prior)
    for i, (y, st) in enumerate(zip(ys, states)):
        want_cp, want_short, want = bocpd_run(y, st, **prior)
        a, b = offsets[i], offsets[i + 1]
        assert np.array_equal(_bits(cp[a:b]), _bits(want_cp)), i
        assert np.array_equal(_bits(short[a:b]), _bits(want_short)), i
        for k in ("r", "mu", "beta", "run_len"):
            assert got[i][k].dtype == want[k].dtype, (i, k)
            assert np.array_equal(_bits(got[i][k]), _bits(want[k])), (i, k)


def test_bocpd_changepoints_across_arrow_batches_bitwise(spark):
    """On Spark, with Arrow batches of 64 rows so that series straddle
    batches and several complete series share one, every series'
    ``bocpd_changepoints`` output equals the per-series replica bit
    for bit."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_changepoints,
    )

    ys = _bocpd_edge_series()
    pdf = pd.concat(
        pd.DataFrame({
            "series_id": f"s{i}",
            "timestamp": pd.date_range("2024-01-01", periods=len(y), freq="30min"),
            "value": y,
            "rn": np.arange(1, len(y) + 1),
        })
        for i, y in enumerate(ys)
    ).sample(frac=1, random_state=5)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        got = bocpd_changepoints(spark.createDataFrame(pdf)).toPandas()
    finally:
        spark.conf.set(conf, old)
    for i, y in enumerate(ys):
        cp, short, _ = _bocpd_changepoints_r14(y)
        g = got[got.series_id == f"s{i}"].sort_values("rn")
        assert np.array_equal(_bits(g.cp_prob), _bits(cp)), i
        assert np.array_equal(_bits(g.cp_score), _bits(short)), i
