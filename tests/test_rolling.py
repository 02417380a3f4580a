"""W1 rolling semantics vs pandas (the reference's engine):
rolling(window, min_periods).std()/.mean() + bfill + eps flag
(src/utils.py:40-72)."""

import numpy as np
import pandas as pd

from conftest import series_df
from time_series_data_anomaly_detection_spark.operators import (
    adaptive_threshold_flags,
    rolling_stats,
)


def pandas_reference(values, window=48, min_periods=5, k=3.0):
    s = pd.Series(values)
    rolling = s.rolling(window=window, min_periods=min_periods)
    sigma = rolling.std().bfill()
    mean = rolling.mean().bfill()
    flags = (np.abs(values - mean) > k * (sigma + 1e-6)).astype(int)
    return mean.values, sigma.values, flags.values


def test_rolling_matches_pandas(spark):
    rng = np.random.default_rng(7)
    values = rng.normal(100, 10, 200)
    values[50] = 300.0  # a spike
    df = rolling_stats(series_df(spark, values), window=48, min_periods=5)
    got = df.orderBy("rn").select("roll_mean", "roll_std").toPandas()
    exp_mean, exp_std, _ = pandas_reference(values)
    np.testing.assert_allclose(got["roll_mean"], exp_mean, rtol=1e-9)
    np.testing.assert_allclose(got["roll_std"], exp_std, rtol=1e-9)


def test_adaptive_flags_match_pandas(spark):
    rng = np.random.default_rng(11)
    values = rng.normal(0, 1, 150)
    values[60:63] = 8.0
    df = adaptive_threshold_flags(series_df(spark, values), k=3.0)
    got = [r.flag for r in df.orderBy("rn").collect()]
    _, _, exp = pandas_reference(values)
    assert got == list(exp)


def test_min_periods_bfill_head(spark):
    # first min_periods-1 rows must be backfilled with the first defined value
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    df = rolling_stats(series_df(spark, values), window=48, min_periods=5)
    rows = df.orderBy("rn").select("roll_std").collect()
    first_defined = rows[4].roll_std
    for r in rows[:4]:
        assert r.roll_std == first_defined


def test_short_series_all_null_then_bfill_empty(spark):
    # fewer rows than min_periods: everything stays null (nothing to bfill)
    df = rolling_stats(series_df(spark, [1.0, 2.0, 3.0]), window=48, min_periods=5)
    assert all(r.roll_std is None for r in df.collect())


def test_fill_gaps_interpolates_missing_buckets(spark):
    """fill_gaps: absent buckets materialize with is_gap=1 and linear
    interpolation between the nearest known values; observed rows pass
    through untouched."""
    import pandas as pd

    from time_series_data_anomaly_detection_spark.operators.decompose import (
        fill_gaps,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "series_id": "a",
            # hourly grid with buckets 1, 2 and 4 missing
            "timestamp": [base, base + pd.Timedelta(hours=3),
                          base + pd.Timedelta(hours=5)],
            "value": [0.0, 9.0, 5.0],
        }
    )
    out = (
        fill_gaps(spark.createDataFrame(pdf), 3600)
        .toPandas()
        .sort_values("ts_s")
        .reset_index(drop=True)
    )
    assert len(out) == 6
    assert out["is_gap"].tolist() == [0, 1, 1, 0, 1, 0]
    assert out["value"].tolist() == [0.0, 3.0, 6.0, 9.0, 7.0, 5.0]


def _sigma_z_cases():
    """Residual series named by what they pin: lengths around the
    window and min_periods, the LSTM's 48-row NULL head, a NULL gap
    longer than the window, constant residuals, 1e-7 .. 1e6 scales."""
    rng = np.random.default_rng(11)
    cases = {f"n{n}": rng.normal(0, 2, n) for n in (1, 4, 5, 47, 48, 49, 300)}
    head = rng.normal(0, 3, 300)
    head[:48] = np.nan
    cases["null_head"] = head
    gap = rng.normal(0, 1, 200)
    gap[60:120] = np.nan
    gap[150] = np.nan
    cases["null_gap"] = gap
    cases["constant"] = np.full(120, 0.37)
    for e in range(-7, 7):
        cases[f"scale_1e{e}"] = rng.standard_t(3, 150) * 10.0**e
    return cases


def test_rolling_sigma_z_equals_spark_rolling_score_bitwise(spark):
    """``functions._score.rolling_sigma_z`` — the in-pass score of the
    Kalman, BSTS and LSTM kernels — equals, bit for bit, the Spark
    form it replaces: ``rolling_stats(resid, 48, 5, bfill)`` then
    ``|resid| / (rs_std + 1e-6)``."""
    from pyspark.sql import functions as F

    from time_series_data_anomaly_detection_spark.functions._score import (
        rolling_sigma_z,
    )

    cases = _sigma_z_cases()
    pdf = pd.concat(
        pd.DataFrame({"series_id": k, "rn": np.arange(1, len(r) + 1), "resid": r})
        for k, r in cases.items()
    )
    df = spark.createDataFrame(pdf).withColumn(
        "resid", F.when(~F.isnan("resid"), F.col("resid"))
    )
    got = (
        rolling_stats(df, value_col="resid", out_prefix="rs")
        .select(
            "series_id", "rn",
            (F.abs(F.col("resid")) / (F.col("rs_std") + F.lit(1e-6))).alias("z"),
        )
        .toPandas()
        .sort_values(["series_id", "rn"])
    )
    for k, r in cases.items():
        a = got.loc[got.series_id == k, "z"].to_numpy(float)
        b = rolling_sigma_z(r)
        assert np.array_equal(np.isnan(a), np.isnan(b)), k
        ok = ~np.isnan(a)
        assert np.array_equal(a[ok].view(np.int64), b[ok].view(np.int64)), k


def test_dec12_equals_spark_decimal_cast(spark):
    """``dec12`` is Spark's ``CAST(x AS DECIMAL(38,12))``: HALF_UP on
    the shortest decimal digits of the double, on 120k seeded doubles
    from 1e-15 to 1e11 including exact and near 13-decimal ties."""
    from time_series_data_anomaly_detection_spark.functions._score import (
        dec12,
        dec12_array,
    )

    rng = np.random.default_rng(23)
    x = np.concatenate(
        [
            rng.normal(0, 1, 40_000) * 10.0 ** rng.integers(-15, 12, 40_000),
            (2 * rng.integers(-10**7, 10**7, 30_000) + 1) * 5e-13,
            rng.integers(-10**12, 10**12, 30_000) / 1e12 + 5e-13,
            np.nextafter((2 * rng.integers(0, 10**6, 20_000) + 1) * 5e-13,
                         rng.choice([-1.0, 1.0], 20_000) * np.inf),
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    got = (
        df.selectExpr("i", "CAST(x AS DECIMAL(38,12)) AS d")
        .toPandas()
        .sort_values("i")["d"]
    )
    want = [dec12(float(v)) for v in x]
    assert [int(d.scaleb(12)) for d in got] == want
    assert dec12_array(x).tolist() == want


def _rolling_sigma_z_decimal(resid):
    """Inline replica of ``rolling_sigma_z`` as it was before it was
    vectorized: ``Decimal`` per value, Python-int prefix sums and one
    ``decimal(38,11)`` rounding per frame in Python."""
    from decimal import ROUND_HALF_UP, Context, Decimal
    from itertools import accumulate

    ctx, q12 = Context(prec=60), Decimal("1e-12")

    def dec12(x):
        return int(Decimal(repr(x)).quantize(q12, ROUND_HALF_UP, ctx).scaleb(12, ctx))

    def dec11_double(d):
        q = (abs(d) + 5) // 10
        return (q if d >= 0 else -q) / 10**11

    r = np.asarray(resid, dtype=np.float64)
    ok = ~np.isnan(r)
    xs = [float(v) for v in r[ok]]
    c1 = [0, *accumulate(dec12(v) for v in xs)]
    c2 = [0, *accumulate(dec12(v * v) for v in xs)]
    hi = np.cumsum(ok)
    lo = np.concatenate([np.zeros(min(48, len(r)), np.int64), hi[:-48]])
    cnt = hi - lo
    s1 = np.array([dec11_double(c1[h] - c1[l]) for h, l in zip(hi, lo)])
    s2 = np.array([dec11_double(c2[h] - c2[l]) for h, l in zip(hi, lo)])
    n = cnt.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        var = (s2 - s1 * s1 / n) / (n - 1)
    std = np.where((cnt >= 5) & (cnt >= 2), np.sqrt(np.maximum(var, 0.0)), np.nan)
    idx = np.where(~np.isnan(std), np.arange(len(std)), len(std))
    nxt = np.minimum.accumulate(idx[::-1])[::-1]
    std = np.append(std, np.nan)[nxt]
    return np.abs(r) / (std + 1e-6)


def test_rolling_sigma_z_equals_decimal_replica_bitwise():
    """The vectorized ``rolling_sigma_z`` equals the per-value
    ``Decimal`` form it replaced, bit for bit: on random ragged series
    with NaN runs; on exact and near .5e-12 ties, where the float
    product of a value's fraction and 1e12 cannot decide the rounding;
    on 2**-41 (its fraction times 1e12 is not exact in float); on
    magnitudes whose counts or squares pass int64 or 2**53; on
    all-NaN, empty and shorter-than-5 series."""
    from time_series_data_anomaly_detection_spark.functions._score import (
        dec12,
        dec12_array,
        rolling_sigma_z,
    )

    rng = np.random.default_rng(29)
    cases = dict(_sigma_z_cases())
    for i in range(120):
        n = int(rng.integers(1, 260))
        x = rng.standard_t(3, n) * 10.0 ** rng.integers(-9, 8)
        if rng.random() < 0.4:
            a = int(rng.integers(0, n))
            x[a : a + int(rng.integers(1, 70))] = np.nan
        cases[f"ragged{i}"] = x
    odd = 2 * rng.integers(-10**7, 10**7, 200) + 1
    cases["ties"] = odd * 5e-13
    cases["near_ties"] = np.nextafter(odd * 5e-13, rng.choice([-1.0, 1.0], 200) * np.inf)
    cases["ties_plus_int"] = rng.integers(-1000, 1000, 200) + odd * 5e-13
    cases["two_pow_m41"] = np.full(60, 2.0**-41)
    cases["large"] = rng.choice([-1.0, 1.0], 200) * 10.0 ** rng.uniform(6, 11, 200)
    cases["mixed_scale"] = np.tile([1e7, -3e9, 5e-13, 1.5e-12, 8.99e6, -9e6], 20)
    cases["all_nan"] = np.full(30, np.nan)
    cases["empty"] = np.array([])
    cases["n2"] = np.array([1.0, 2.0])
    cases["nan_run_short"] = np.array([np.nan, 1.0, np.nan, np.nan, 3.0, 4.5])
    for k, r in cases.items():
        a = _rolling_sigma_z_decimal(r)
        b = rolling_sigma_z(r)
        assert np.array_equal(a.view(np.int64), b.view(np.int64)), k
        v = r[~np.isnan(r)]
        v = np.concatenate([v, v * v])
        assert dec12_array(v).tolist() == [dec12(float(t)) for t in v], k
