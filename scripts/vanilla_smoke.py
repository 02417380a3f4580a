"""Vanilla-session contract smoke: the driver harness imports
``__spark_entry__`` with its OWN plain SparkSession (none of
``get_spark``'s tuned configs), so every config the engine NEEDS must
be (re)settable at runtime by the code paths themselves — e.g. the
parquet TIMESTAMP(NANOS) flag the loaders pin.

This script builds a deliberately untuned session and runs one query
per source-table family (series parquet, events parquet with nanos
timestamps, documents, embeddings, multi-table star join) plus
``entry()``; any config-dependent regression fails here before it
fails in the driver.

Usage: python scripts/vanilla_smoke.py [sf_dir]
       python scripts/vanilla_smoke.py --all [sf_dir]   # every query
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

REPRESENTATIVE = [
    "rolling_stats",        # series table + window chain
    "user_sessions",        # events parquet: TIMESTAMP(NANOS) handling
    "event_rollup",         # events + grouping sets
    "doc_stats",            # documents table
    "curation_pipeline",    # hygiene composite (regex + hash + joins)
    "semantic_dedup",       # embeddings + driver-literal centroids
    "revenue_anomaly",      # 5-table star join
    "kalman_forecast_fixed",  # recursion via window algebra
    # round-5 continuation families
    "trend_test",           # applyInPandas numeric kernel
    "matrix_profile",       # applyInPandas STOMP kernel
    "asof_last_label",      # union + forward-fill as-of join
    "percentile_summary",   # exact quantile arrays
    "bpe_pair_counts",      # word-table explode (documents)
    "mixture_schedule",     # two-level tiny aggregate
    # round-5 second-session families
    "m4_downsample",        # multi-order row_number windows
    "pot_threshold",        # quantile + conditional tail aggregates
    "rolling_corr",         # positional self-join + 5-sum windows
    "event_impact",         # broadcast range-predicate event join
    "ensemble_forecast",    # five-model union + per-row blend
    "changepoint_segments", # recursion -> broadcast alarm join -> profile
]


def main() -> None:
    from pyspark.sql import SparkSession

    args = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("vanilla-smoke")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    df = entry.entry(spark)
    n = df.count()
    assert n >= 0 and df.schema, "entry() must return rows + schema"
    print(f"entry: {n} rows OK")

    qs = entry.queries()
    failed = []
    for name in (list(qs) if run_all else REPRESENTATIVE):
        try:
            cnt = qs[name](spark, sf_dir).count()
            print(f"{name:25s} {cnt:8d} rows OK")
        except Exception as e:  # noqa: BLE001 — report every failure
            failed.append((name, str(e).splitlines()[0][:120]))
            print(f"{name:25s} FAILED: {e}")
    if failed:
        sys.exit(1)
    print("vanilla contract OK")


if __name__ == "__main__":
    main()
