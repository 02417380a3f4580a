"""Event-level metric semantics: asymmetric TP counting and epsilon
placement (src/evaluate.py:65-123, :148-207)."""

import pandas as pd
import pytest

from conftest import series_df
from time_series_data_anomaly_detection_spark.operators import (
    business_metrics,
    event_level_metrics,
    pointwise_metrics,
)


def _frame(spark, y_true, y_pred):
    df = series_df(spark, [0.0] * len(y_true))
    pdf = df.toPandas().sort_values("rn")
    pdf["is_anomaly"] = list(y_true)
    pdf["flag"] = list(y_pred)
    return spark.createDataFrame(pdf)


def test_pointwise(spark):
    y = [1, 1, 0, 0, 1, 0]
    p = [1, 0, 1, 0, 1, 0]
    row = pointwise_metrics(_frame(spark, y, p)).collect()[0]
    assert (row.tp, row.fp, row.fn) == (2, 1, 1)
    assert row.precision == pytest.approx(2 / (3 + 1e-9))
    assert row.recall == pytest.approx(2 / (3 + 1e-9))


def test_one_pred_covers_two_true(spark):
    # pred event [2..9] overlaps two true events -> tp(prec)=1, tp_recall=2
    y = [0, 1, 1, 0, 0, 0, 1, 1, 0, 0]
    p = [0, 0, 1, 1, 1, 1, 1, 1, 1, 0]
    row = event_level_metrics(_frame(spark, y, p), gap=0).collect()[0]
    assert row.tp == 1 and row.n_pred_events == 1 and row.n_true_events == 2
    assert row.fn == 0  # both true events were hit
    assert row.precision == pytest.approx(1 / (1 + 1e-9))
    assert row.recall == pytest.approx(2 / (2 + 1e-9))


def test_two_preds_cover_one_true(spark):
    y = [0, 1, 1, 1, 1, 1, 1, 0]
    p = [0, 1, 0, 0, 0, 0, 1, 0]
    row = event_level_metrics(_frame(spark, y, p), gap=0).collect()[0]
    # both pred events hit -> tp=2; one true event hit -> recall=1
    assert row.tp == 2 and row.fp == 0
    assert row.recall == pytest.approx(1 / (1 + 1e-9))


def test_touching_events_overlap(spark):
    # pred ends exactly where true starts: pe >= ts -> overlap
    y = [0, 0, 0, 1, 1, 0]
    p = [0, 1, 1, 1, 0, 0]
    row = event_level_metrics(_frame(spark, y, p), gap=0).collect()[0]
    assert row.tp == 1


def test_disjoint_no_overlap(spark):
    y = [1, 1, 0, 0, 0, 0]
    p = [0, 0, 0, 0, 1, 1]
    row = event_level_metrics(_frame(spark, y, p), gap=0).collect()[0]
    assert row.tp == 0 and row.fp == 1 and row.fn == 1


def test_business_metrics_latency(spark):
    # true event starts rn=5 (0-based idx 4); first overlapping pred starts
    # rn=7 -> latency = 2 rows * 30 min = 60 min. A disjoint early pred at
    # rn=1 is an FP.
    y = [0, 0, 0, 0, 1, 1, 1, 1, 0, 0]
    p = [1, 0, 0, 0, 0, 0, 1, 1, 0, 0]
    row = business_metrics(_frame(spark, y, p), gap=0).collect()[0]
    assert row.fp_count == 1
    assert row.median_latency_minutes == pytest.approx(60.0)
    # duration: 9 intervals * 30 min
    assert row.duration_days == pytest.approx(9 * 30 / (60 * 24))
    assert row.fp_per_day == pytest.approx(1 / (9 * 30 / (60 * 24)))


def test_no_pred_events_nan_latency(spark):
    y = [0, 1, 1, 0]
    p = [0, 0, 0, 0]
    row = business_metrics(_frame(spark, y, p), gap=0).collect()[0]
    assert row.fp_count == 0
    assert row.median_latency_minutes is None or pd.isna(row.median_latency_minutes)


def test_forecast_accuracy_known_errors(spark):
    """MAE/RMSE/MAPE/sMAPE computed from hand-checkable residuals."""
    import pandas as pd
    import numpy as np
    from time_series_data_anomaly_detection_spark.operators.evaluate import (
        forecast_accuracy,
    )

    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "value": [10.0, 20.0, 30.0, 40.0],
            "pred_mean": [12.0, 18.0, 33.0, 40.0],
        }
    )
    out = forecast_accuracy(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert out.n == 4
    assert abs(out.mae - (2 + 2 + 3 + 0) / 4) < 1e-9
    assert abs(out.rmse - np.sqrt((4 + 4 + 9 + 0) / 4)) < 1e-9
    exp_mape = np.mean([2 / 10, 2 / 20, 3 / 30, 0.0])
    assert abs(out.mape - exp_mape) < 1e-6
    exp_smape = np.mean([2 * 2 / 22, 2 * 2 / 38, 2 * 3 / 63, 0.0])
    assert abs(out.smape - exp_smape) < 1e-6


def test_forecast_mase_scaling_semantics(spark):
    """MASE = test MAE / train one-step naive MAE: the naive model's
    own MASE on a random walk must sit near 1, and a perfect forecast
    scores 0.  Checked on a planted series via the registry query
    plumbing (tiny parquet dir)."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from time_series_data_anomaly_detection_spark.plans.queries.forecasting import (
        q_forecast_mase,
    )

    rng = np.random.default_rng(7)
    n = 400
    y = np.cumsum(rng.normal(0, 1, n)) + 100
    with tempfile.TemporaryDirectory() as d:
        pdf = pd.DataFrame(
            {
                "event_id": np.arange(n),
                "event_type": "s1",
                "ts": pd.date_range("2024-01-01", periods=n, freq="30min"),
                "value": y,
            }
        )
        pdf.to_parquet(os.path.join(d, "events.parquet"))
        out = q_forecast_mase(spark, d).toPandas().set_index("model")
    # scale = mean |diff| over train rows 2..T, T = floor(0.75*400)
    T = 300
    expect_scale = np.abs(np.diff(y[:T])).mean()
    assert out.loc["naive", "scale"] == pytest.approx(expect_scale, abs=1e-6)
    # naive on a random walk: test MAE ≈ |N(0,1)| mean ≈ train scale
    assert 0.7 < out.loc["naive", "mase"] < 1.4
    # drift is close to naive here; seasonal-naive (lag 24) is worse
    assert out.loc["seasonal_naive", "mase"] > out.loc["naive", "mase"]
