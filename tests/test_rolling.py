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
    from time_series_data_anomaly_detection_spark.functions._score import dec12

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
