"""Set-up time of a fresh process: package imports, then ``get_spark()``.

Imported by ``run.py`` for the session it benchmarks; also run as a
script, in a fresh process that ``run.py`` starts for each further
set-up sample, printing one JSON line ``{"import_s": .., "start_s": ..}``.
"""

from __future__ import annotations

import json
import subprocess
import time

PACKAGE = "time_series_data_anomaly_detection_spark"
# every package module a workload or layer probe calls into
MODULES = (
    PACKAGE,
    f"{PACKAGE}.session",
    f"{PACKAGE}.sources",
    f"{PACKAGE}.operators.rolling",
    f"{PACKAGE}.operators.scaling",
    f"{PACKAGE}.operators.sweep",
    f"{PACKAGE}.operators.evaluate",
    f"{PACKAGE}.operators.labeling",
    f"{PACKAGE}.functions",
    f"{PACKAGE}.functions.bocpd",
    f"{PACKAGE}.functions._partition",
    f"{PACKAGE}.plans.pipelines",
    f"{PACKAGE}.streaming",
)


def measure_setup():
    """Import the package, start its session; returns
    ``(import_s, start_s, spark)``."""
    import importlib

    t0 = time.perf_counter()
    for name in MODULES:
        importlib.import_module(name)
    t1 = time.perf_counter()
    spark = importlib.import_module(PACKAGE).get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop ``spark`` and wait for its JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher JVM exits when stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)


if __name__ == "__main__":
    import_s, start_s, session = measure_setup()
    stop_session(session)
    print(json.dumps({"import_s": import_s, "start_s": start_s}))
