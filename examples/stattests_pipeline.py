"""Statistical-test diagnostics walkthrough (round-6 family).

Runs the formal tests the engine adds beside the reference's visual
diagnostics, end-to-end at sf0.001:

1. variance-ratio (random walk vs mean reversion) per series,
2. R/S rescaled-range with a driver-side Hurst slope,
3. Ljung-Box whiteness on the raw series and on AR(1) residuals
   (the fit should whiten the series),
4. Wald-Wolfowitz runs test,
5. KS train/test drift + Inclán-Tiao variance-changepoint tests,
6. Page-Hinkley drift flags summarized per series.

Usage:  python examples/stattests_pipeline.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from time_series_data_anomaly_detection_spark import get_spark  # noqa: E402
from time_series_data_anomaly_detection_spark.plans.registry import (  # noqa: E402
    queries,
)
from time_series_data_anomaly_detection_spark.sources import (  # noqa: E402
    events_as_series,
    with_row_index,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="stattests-example")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    print("== variance ratio (VR~1: random walk; <1: mean-reverting) ==")
    qs["variance_ratio"](spark, sf_dir).orderBy("series_id", "q").show(15, False)

    print("== R/S analysis + driver-side Hurst slope ==")
    rs = qs["rs_hurst"](spark, sf_dir).toPandas()
    for sid, g in rs.groupby("series_id"):
        g = g.sort_values("scale")
        if len(g) == 2 and (g["rs_mean"] > 0).all():
            h = math.log(
                g["rs_mean"].iloc[1] / g["rs_mean"].iloc[0]
            ) / math.log(g["scale"].iloc[1] / g["scale"].iloc[0])
            print(f"  {sid}: H ≈ {h:.3f}")

    print("== Ljung-Box: raw series (expect reject) ==")
    qs["ljung_box"](spark, sf_dir).show(10, False)

    print("== Ljung-Box on AR(1) residuals (the fit should whiten) ==")
    from time_series_data_anomaly_detection_spark.functions.ar import (
        ar1_forecast_native,
    )
    from time_series_data_anomaly_detection_spark.operators.stattests import (
        ljung_box,
    )

    resid = (
        ar1_forecast_native(with_row_index(events_as_series(spark, sf_dir)))
        .filter(F.col("resid").isNotNull())
        .select(
            "series_id",
            F.col("rn"),
            F.col("resid").alias("value"),
        )
    )
    ljung_box(resid).show(10, False)

    print("== runs test / KS drift / CUSUM-of-squares ==")
    qs["runs_test"](spark, sf_dir).show(10, False)
    qs["ks_drift"](spark, sf_dir).show(10, False)
    qs["cusum_squares"](spark, sf_dir).show(10, False)

    print("== Page-Hinkley drift flags per series ==")
    qs["page_hinkley"](spark, sf_dir).groupBy("series_id").agg(
        F.sum("flag_up").alias("n_up_alarms"),
        F.sum("flag_dn").alias("n_dn_alarms"),
        F.max("ph_up").alias("max_ph_up"),
    ).orderBy("series_id").show(10, False)


if __name__ == "__main__":
    main()
