"""M4 downsampling, EVT/POT threshold, and pairwise rolling correlation."""

import numpy as np
import pandas as pd
import pytest

from tests.conftest import series_df

from time_series_data_anomaly_detection_spark.operators.downsample import m4_downsample
from time_series_data_anomaly_detection_spark.operators.evt import pot_threshold
from time_series_data_anomaly_detection_spark.operators.acf import rolling_corr


def test_m4_survivors_match_pandas(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(10, 3, 400)
    df = series_df(spark, vals)
    out = m4_downsample(df, n_buckets=8).toPandas()

    n = len(vals)
    buckets = np.floor(np.arange(n) * 8.0 / n).astype(int)
    pdf = pd.DataFrame({"rn": np.arange(1, n + 1), "value": vals, "b": buckets})
    for b, g in pdf.groupby("b"):
        got = out[out.bucket == b]
        # every role is represented and correct
        assert g.value.min() == pytest.approx(got[got.is_min == 1].value.iloc[0])
        assert g.value.max() == pytest.approx(got[got.is_max == 1].value.iloc[0])
        assert int(got[got.is_first == 1].rn.iloc[0]) == int(g.rn.min())
        assert int(got[got.is_last == 1].rn.iloc[0]) == int(g.rn.max())
        # at most 4 survivors, no duplicated rn rows
        assert len(got) <= 4
        assert got.rn.is_unique
    # rendering-equivalence core: per-bucket min/max envelope preserved
    assert set(out.bucket) == set(range(8))


def test_m4_constant_egress(spark):
    vals = np.sin(np.arange(2000) / 7.0) * 5 + 20
    out = m4_downsample(series_df(spark, vals), n_buckets=16)
    assert out.count() <= 4 * 16


def test_pot_threshold_matches_numpy_mom(spark):
    rng = np.random.default_rng(42)
    # heavy-ish tail: lognormal
    vals = rng.lognormal(mean=1.0, sigma=0.6, size=3000)
    out = pot_threshold(
        series_df(spark, vals), q_level=0.95, target_p=1e-3
    ).toPandas().iloc[0]

    u = np.quantile(vals, 0.95, method="linear")
    exc = vals[vals > u] - u
    m, v = exc.mean(), exc.var()  # population var, ddof=0
    xi = 0.5 * (1 - m * m / v)
    beta = 0.5 * m * (m * m / v + 1)
    ratio = 1e-3 * len(vals) / len(exc)
    zq = u + beta / xi * (ratio ** -xi - 1)

    assert out.n == len(vals) and out.n_tail == len(exc)
    assert out.u == pytest.approx(u, rel=1e-9)
    assert out.xi == pytest.approx(xi, rel=1e-6)
    assert out.beta == pytest.approx(beta, rel=1e-6)
    assert out.z_q == pytest.approx(zq, rel=1e-6)
    # the extrapolated threshold sits beyond the empirical quantile
    assert out.z_q > out.u
    assert out.n_above == int((vals > zq).sum())


def test_pot_degenerate_tail_takes_exponential_path(spark):
    # constant excesses: var == 0 -> exponential-tail fallback
    vals = [1.0] * 95 + [5.0] * 5
    out = pot_threshold(
        series_df(spark, vals), q_level=0.9, target_p=1e-2
    ).toPandas().iloc[0]
    assert np.isfinite(out.z_q)
    assert out.xi == 0.0


def test_pot_threshold_constant_series_emits_degenerate_row(spark):
    """A series with an EMPTY tail (constant values: quantile == max)
    must still appear in the threshold frame — as the degenerate row
    (n_tail=0, xi=0, beta=0, z_q=u) — not vanish via an inner join."""
    import pandas as pd

    pdf = pd.concat(
        [
            pd.DataFrame({"series_id": "const", "rn": range(1, 101),
                          "value": [3.0] * 100}),
            pd.DataFrame({"series_id": "ramp", "rn": range(1, 101),
                          "value": np.arange(100, dtype=float)}),
        ]
    )
    out = (
        pot_threshold(spark.createDataFrame(pdf), q_level=0.9, target_p=1e-2)
        .toPandas()
        .set_index("series_id")
    )
    assert set(out.index) == {"const", "ramp"}
    c = out.loc["const"]
    assert c.n_tail == 0 and c.xi == 0.0 and c.beta == 0.0
    assert c.z_q == c.u == 3.0
    assert c.n_above == 0
    assert out.loc["ramp"].n_tail > 0


def test_rolling_corr_matches_pandas(spark):
    rng = np.random.default_rng(3)
    a = rng.normal(0, 1, 300).cumsum()
    b = 0.6 * a + rng.normal(0, 1, 300)
    df = series_df(spark, a, series_id="a").unionByName(
        series_df(spark, b, series_id="b")
    )
    out = (
        rolling_corr(df, window=30, min_periods=5)
        .toPandas()
        .sort_values("rn")
        .reset_index(drop=True)
    )
    assert (out.series_a == "a").all() and (out.series_b == "b").all()
    exp = (
        pd.Series(a).rolling(30, min_periods=5).corr(pd.Series(b)).to_numpy()
    )
    got = out.rcorr.to_numpy()
    mask = ~np.isnan(exp)
    # pandas yields NaN below min_periods; ours null -> NaN in pandas
    assert np.isnan(got[~mask]).all()
    np.testing.assert_allclose(got[mask], exp[mask], rtol=1e-8, atol=1e-10)


def test_detector_agreement_invariants(spark):
    from time_series_data_anomaly_detection_spark.plans.queries.ensembles import (
        q_detector_agreement,
    )

    out = q_detector_agreement(spark, "/root/testdata/sf0.001").toPandas()
    n_series = out.series_id.nunique()
    assert len(out) == 15 * n_series  # all C(6,2) pairs per series
    ok = out.jaccard.dropna()
    assert ((ok >= 0) & (ok <= 1)).all()
    # pairs follow registry detector order (positional, not lexical)
    from time_series_data_anomaly_detection_spark.plans.queries.ensembles import (
        _AGREE_DETS,
    )

    pos = {d: i for i, d in enumerate(_AGREE_DETS)}
    assert (out.det_a.map(pos) < out.det_b.map(pos)).all()
    assert (out.n11 >= 0).all() and (out.n10 >= 0).all() and (out.n01 >= 0).all()


def test_seasonal_heatmap_matches_pandas(spark):
    from time_series_data_anomaly_detection_spark.plans.queries.decomposition import (
        q_seasonal_heatmap,
    )

    sf = "/root/testdata/sf0.001"
    out = q_seasonal_heatmap(spark, sf).toPandas()
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev["ts"])
    g = (
        ev.groupby(
            ["event_type", ev.ts.dt.hour.rename("hod"), ev.ts.dt.dayofweek]
        )["value"]
        .agg(["count", "mean"])
        .reset_index()
    )
    assert len(out) == len(g)
    # spot-check a few cells (dow conventions differ: pandas Mon=0,
    # engine Sun=0 — compare via (series, hod) marginals instead)
    got = out.groupby(["series_id", "hod"]).apply(
        lambda d: (d.n * d.cell_mean).sum() / d.n.sum(), include_groups=False
    )
    exp = ev.assign(hod=ev.ts.dt.hour).groupby(["event_type", "hod"])["value"].mean()
    for k in list(exp.index)[:20]:
        assert got.loc[k] == pytest.approx(exp.loc[k], rel=1e-6)


def test_changepoint_segments_partition_series(spark):
    """Segments must tile each series exactly: contiguous, ordered,
    covering every row."""
    from time_series_data_anomaly_detection_spark.plans.queries.changepoints import (
        q_changepoint_segments,
    )

    out = (
        q_changepoint_segments(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(["series_id", "seg_id"])
    )
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    n_rows = ev.groupby("event_type").size()
    for sid, g in out.groupby("series_id"):
        assert g.seg_id.tolist() == list(range(len(g)))
        assert g.start_rn.iloc[0] == 1
        assert g.end_rn.iloc[-1] == n_rows[sid]
        assert (g.n == g.end_rn - g.start_rn + 1).all()
        # contiguity: each segment starts where the previous ended
        assert (
            g.start_rn.iloc[1:].to_numpy()
            == g.end_rn.iloc[:-1].to_numpy() + 1
        ).all()
