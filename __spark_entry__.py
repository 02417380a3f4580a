"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship anomaly-detection pipeline at sf0.001.
queries()      -> every implemented operator from SURVEY.md §2, in gate order.
oracle_sql()   -> DuckDB-equivalent SQL per query (correctness gate).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from time_series_data_anomaly_detection_spark.plans import registry as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: label → adaptive-threshold detect → persistence →
    event-level metrics, per series, on sf0.001 (SURVEY §3.2 shape)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _registry.q_event_metrics(spark, "/root/testdata/sf0.001")


def load_history(repo: str) -> tuple[dict[str, tuple[int, str]], int]:
    """{query: (last_round, status)} from the committed driver checks
    ``CORRECTNESS_r{N}.json`` in ``repo``, and the latest round seen.

    status: 'green' (rows+schema+hash ok), 'rows_only' (no_oracle),
    'FAIL' (any mismatch recorded in its latest check).
    """
    latest: dict[str, tuple[int, str]] = {}
    max_round = 0
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                status = "rows_only"
            elif (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                status = "green"
            else:
                status = "FAIL"
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, status)
    return latest, max_round


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, stalest verification first.  The driver's
    correctness run checks queries in dict order and may cap how many it
    checks, so the order re-verifies the weakest history first: a latest
    check that FAILED, then never checked, then by last-checked round.
    Rows-only queries (no oracle: a check counts their rows only) go
    last; the name breaks ties."""
    qs = _registry.queries()
    oracled = set(_registry.oracle_sql())
    latest, _ = load_history(_REPO)

    def gate_key(name: str) -> tuple[bool, bool, int, str]:
        rnd, status = latest.get(name, (0, "NEVER"))
        return (name not in oracled, status != "FAIL", rnd, name)

    return {name: qs[name] for name in sorted(qs, key=gate_key)}


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
