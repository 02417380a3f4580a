"""Matrix-profile and S-H-ESD detectors: naive-reference cross-checks
plus planted-anomaly discovery."""

import numpy as np
import pytest

from tests.conftest import series_df


def _naive_mp(x, m):
    """O(n² m) literal z-norm nearest-neighbor distances, with the
    same near-constant convention as the STOMP implementation:
    const-vs-const -> 0, const-vs-nonconst -> sqrt(2m)."""
    n = len(x)
    k = n - m + 1
    excl = max(1, m // 2)
    wins = np.stack([x[i : i + m] for i in range(k)])
    mu = wins.mean(axis=1)
    sd = wins.std(axis=1)
    const = sd <= 1e-7 * np.maximum(1.0, np.abs(mu))
    sdc = np.where(const, 1.0, sd)
    z = (wins - mu[:, None]) / sdc[:, None]
    mp = np.full(k, np.inf)
    nn = np.zeros(k, dtype=int)
    for i in range(k):
        if const[i]:
            d = np.where(const, 0.0, np.sqrt(2.0 * m))
        else:
            d = np.sqrt(((z[i] - z) ** 2).sum(axis=1))
            d[const] = np.sqrt(2.0 * m)
        d = d.copy()
        d[max(0, i - excl) : i + excl + 1] = np.inf
        nn[i] = int(np.argmin(d))
        mp[i] = d[nn[i]]
    return mp, nn


def test_matrix_profile_matches_naive():
    rng = np.random.default_rng(5)
    t = np.arange(200)
    x = np.sin(2 * np.pi * t / 20) + 0.1 * rng.normal(size=200)
    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_one,
    )

    m = 20
    mp, nn = matrix_profile_one(x, m)
    ref_mp, _ = _naive_mp(x, m)
    assert np.allclose(mp, ref_mp, atol=1e-6)


def test_matrix_profile_near_constant_windows():
    """Near-constant windows (σ ≈ rounding-noise scale) must not be
    σ-clamped into spurious zero-distance neighbors: const-vs-const
    is 0, const-vs-structured is sqrt(2m), everything finite."""
    rng = np.random.default_rng(7)
    x = np.concatenate(
        [
            np.full(60, 5.0),                   # exactly constant
            5.0 + 1e-10 * rng.normal(size=60),  # near-constant
            np.sin(2 * np.pi * np.arange(80) / 16),
        ]
    )
    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_one,
    )

    m = 16
    mp, nn = matrix_profile_one(x, m)
    ref_mp, _ = _naive_mp(x, m)
    assert np.all(np.isfinite(mp))
    assert np.allclose(mp, ref_mp, atol=1e-6)
    # interior constant windows pair with other constant windows at 0
    assert mp[5] == 0.0
    # structured windows keep real neighbors INSIDE the structured
    # region (periodic sine -> exact repeats are legitimate 0s); they
    # must not be pulled to a constant window via a clamped sigma
    assert mp[140] < np.sqrt(2.0 * m)
    assert nn[140] >= 120 - m + 1


def test_matrix_profile_finds_planted_discord(spark):
    t = np.arange(480)
    x = np.sin(2 * np.pi * t / 24) * 10.0
    # corrupt one full cycle's SHAPE without extreme values
    x[240:264] = 10.0 * np.sin(2 * np.pi * np.arange(24) / 6)
    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_scores,
    )

    out = (
        matrix_profile_scores(series_df(spark, x), m=24)
        .where("is_discord = 1")
        .select("rn")
        .toPandas()
    )
    # a discord window must overlap the corrupted cycle (rn 241..264)
    assert any(217 <= rn <= 264 for rn in out["rn"])


def _naive_esd(resid, max_anoms, alpha=0.05):
    from time_series_data_anomaly_detection_spark.functions.shesd import t_ppf

    vals = list(resid)
    idx = list(range(len(resid)))
    out = []
    last = 0
    n = len(resid)
    for i in range(1, max_anoms + 1):
        med = np.median(vals)
        mad = 1.4826 * np.median(np.abs(np.array(vals) - med))
        if mad < 1e-12 or len(vals) < 3:
            break
        scores = np.abs(np.array(vals) - med) / mad
        j = int(np.argmax(scores))
        stat = scores[j]
        out.append(idx[j])
        del vals[j], idx[j]
        m = n - i + 1
        p = 1 - alpha / (2 * m)
        tq = t_ppf(p, m - 2)
        lam = (m - 1) * tq / np.sqrt((m - 2 + tq * tq) * m)
        if stat > lam:
            last = i
    return sorted(out[:last])


def test_esd_core_matches_naive():
    rng = np.random.default_rng(11)
    resid = rng.normal(0, 1, 300)
    resid[[30, 99, 200]] = [9.0, -8.0, 11.0]
    from time_series_data_anomaly_detection_spark.functions.shesd import esd_test

    got = sorted(esd_test(resid, max_anoms=10))
    assert got == _naive_esd(resid, 10)
    assert set(got) == {30, 99, 200}


def test_esd_clean_gaussian_mostly_silent():
    rng = np.random.default_rng(2)
    resid = rng.normal(0, 1, 400)
    from time_series_data_anomaly_detection_spark.functions.shesd import esd_test

    assert len(esd_test(resid, max_anoms=8)) <= 1  # alpha=5% false-positive rate


def test_shesd_finds_seasonal_anomaly(spark):
    t = np.arange(480)
    x = 10.0 * np.sin(2 * np.pi * t / 24) + 50.0
    x[300] = 55.0  # within global range but off-profile for its phase?
    x[301] = 90.0  # clear spike
    from time_series_data_anomaly_detection_spark.functions.shesd import shesd_flags

    out = (
        shesd_flags(series_df(spark, x), period=24)
        .where("anomaly = 1")
        .select("rn")
        .toPandas()
    )
    assert 302 in set(out["rn"])  # rn is 1-based
    assert len(out) <= 9  # capped at 2% of 480


def test_t_ppf_sane():
    from time_series_data_anomaly_detection_spark.functions.shesd import t_ppf

    # spot values vs published tables (scipy.stats.t.ppf reference)
    assert t_ppf(0.975, 10) == pytest.approx(2.2281, abs=2e-3)
    assert t_ppf(0.95, 30) == pytest.approx(1.6973, abs=2e-3)
    assert t_ppf(0.99, 100) == pytest.approx(2.3642, abs=2e-3)


def test_matrix_profile_tiled_matches_monolithic(spark):
    """The SCAMP-style tile decomposition must reproduce the
    monolithic STOMP profile: same distances (up to fp rounding in
    the tile kernel's BLAS order), same discord ranking, exact
    boundary handling across tiles (absolute-index exclusion zone)."""
    import numpy as np
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_scores,
        matrix_profile_tiled,
    )

    rng = np.random.default_rng(53)
    frames = []
    for sid, n in [("a", 1500), ("b", 700)]:
        t = np.arange(n)
        y = np.sin(2 * np.pi * t / 48) * 3 + rng.normal(0, 0.2, n)
        y[n // 2 : n // 2 + 24] = np.linspace(0, 5, 24)  # planted discord
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "rn": np.arange(1, n + 1, dtype="int64"),
                    "value": y,
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames))
    mono = (
        matrix_profile_scores(df, m=24)
        .orderBy("series_id", "rn")
        .toPandas()
    )
    tiled = (
        matrix_profile_tiled(df, m=24, tile=256)
        .orderBy("series_id", "rn")
        .toPandas()
    )
    assert len(mono) == len(tiled)
    assert (mono["series_id"].values == tiled["series_id"].values).all()
    assert (mono["rn"].values == tiled["rn"].values).all()
    np.testing.assert_allclose(
        tiled["mp"].to_numpy(), mono["mp"].to_numpy(), rtol=1e-6, atol=1e-6
    )
    # nearest neighbors agree except where fp rounding flips a
    # near-tie; discord picks must be identical
    same_nn = (mono["nn_idx"].values == tiled["nn_idx"].values).mean()
    assert same_nn > 0.95
    for sid in ("a", "b"):
        md = mono[(mono.series_id == sid) & (mono.is_discord == 1)]["rn"]
        td = tiled[(tiled.series_id == sid) & (tiled.is_discord == 1)]["rn"]
        assert set(md) == set(td)
        # the planted discord is found by both
        n = 1500 if sid == "a" else 700
        assert any(abs(r - (n // 2 + 1)) <= 24 for r in md)


def test_matrix_profile_fixed_matches_operator_tail(spark):
    """The hash-gated 128-point tail twin (m=8, prefix-sum QT) must
    reproduce matrix_profile_one on the same tail window — identical
    distance identity, constant conventions, and m/2 exclusion."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_one,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.motifs import (
        q_matrix_profile_fixed,
    )

    sf = "/root/testdata/sf0.001"
    out = q_matrix_profile_fixed(spark, sf).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()[-128:]
            .astype(float)
        )
        mp, nn = matrix_profile_one(x, 8)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == len(mp) == 121
        np.testing.assert_allclose(
            got["mp"].to_numpy(), mp, rtol=1e-6, atol=1e-6
        )
        # neighbor picks agree except fp near-ties
        assert (got["nn_idx"].to_numpy() == nn + 1).mean() > 0.95


def test_shesd_fixed_full_matches_esd_core(spark):
    """The FULL-extent S-H-ESD hash twin (r09): w = least(n, 2048)
    covers the whole series at small SFs, with λ drawn from the
    per-w literal table — must agree with the numpy ESD core on the
    full-series residuals."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.shesd import (
        esd_test,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.scoring import (
        q_shesd_fixed_full,
    )

    out = q_shesd_fixed_full(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()
            .astype(float)
        )
        x = x[-2048:]
        n = len(x)
        assert n >= 128
        pos = np.arange(n) % 24
        seasonal = np.array(
            [np.median(x[pos == p]) for p in range(24)]
        )
        detr = x - seasonal[pos]
        resid = detr - np.median(detr)
        anoms = set(esd_test(resid, max_anoms=6, alpha=0.05))
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == n
        np.testing.assert_allclose(
            got["resid"].to_numpy(), resid, rtol=1e-6, atol=1e-6
        )
        flagged = set(np.nonzero(got["anomaly"].to_numpy())[0])
        assert flagged == anoms, (sid, flagged, anoms)


def test_matrix_profile_fixed_full_matches_operator(spark):
    """The FULL-extent hash twin (r09): w = least(n, 2048) means the
    whole series at small SFs — it must reproduce matrix_profile_one
    over each entire series, not a tail window."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.matrix_profile import (
        matrix_profile_one,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.motifs import (
        q_matrix_profile_fixed_full,
    )

    sf = "/root/testdata/sf0.001"
    out = q_matrix_profile_fixed_full(spark, sf).toPandas()
    assert len(out) > 0
    ev = pd.read_parquet(sf + "/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()
            .astype(float)
        )
        x = x[-2048:]
        mp, nn = matrix_profile_one(x, 8)
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == len(mp) == len(x) - 8 + 1
        np.testing.assert_allclose(
            got["mp"].to_numpy(), mp, rtol=1e-6, atol=1e-6
        )
        assert (got["nn_idx"].to_numpy() == nn + 1).mean() > 0.95


def test_shesd_fixed_matches_esd_core(spark):
    """The hash-gated S-H-ESD twin must agree with the numpy ESD core
    (functions/shesd.esd_test) on the same 128-point tail residuals:
    same seasonal/median detrend, same robust scores, same t-based
    critical values (the twin bakes them as literals from the same
    t_ppf)."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.functions.shesd import (
        esd_test,
    )
    from time_series_data_anomaly_detection_spark.plans.queries.scoring import (
        q_shesd_fixed,
    )

    out = q_shesd_fixed(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for sid, grp in ev.groupby("event_type"):
        x = (
            grp.sort_values(["ts", "event_id"])["value"]
            .to_numpy()[-128:]
            .astype(float)
        )
        pos = np.arange(128) % 24
        seasonal = np.array([np.median(x[pos == p]) for p in range(24)])
        detr = x - seasonal[pos]
        resid = detr - np.median(detr)
        anoms = set(esd_test(resid, max_anoms=6, alpha=0.05))
        got = out[out["series_id"] == sid].sort_values("rn")
        assert len(got) == 128
        np.testing.assert_allclose(
            got["resid"].to_numpy(), resid, rtol=1e-6, atol=1e-6
        )
        flagged = set(np.nonzero(got["anomaly"].to_numpy())[0])
        assert flagged == anoms, (sid, flagged, anoms)
