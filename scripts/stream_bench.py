"""Latency/throughput micro-bench for the streaming detectors (r08
verdict item #7): the streaming family was batch-parity TESTED but
never graded with a number.  This script replays the sf0.1 events
table as a file stream (one parquet file per micro-batch,
``maxFilesPerTrigger=1``), runs each stateful detector end-to-end with
the noop sink, and reports per-detector

    rows/s          — total input rows / wall seconds
    batch p50/p95   — per-micro-batch triggerExecution duration (ms)
                      from the query's own progress telemetry
    state commit    — median state-operator commitTimeMs (summed over
                      the state partitions) per micro-batch
    log commit      — median walCommit + commitOffsets (ms), the
                      offset and commit log writes per micro-batch
    state update    — median state-operator allUpdatesTimeMs: the
                      update loop, Python round trip included
    state memory    — median state-operator memoryUsedBytes

Writes STREAM_BENCH.json at the repo root and prints ONE JSON line.

Usage:
    python scripts/stream_bench.py            # sf0.1, 20 micro-batches
    SPARK_GRAFT_SF_DIR=... python scripts/stream_bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = 20


def main() -> None:
    import numpy as np
    import pandas as pd

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from time_series_data_anomaly_detection_spark import get_spark
    from time_series_data_anomaly_detection_spark.streaming import (
        streaming_bocpd,
        streaming_conformal,
        streaming_control_flags,
        streaming_pot,
    )

    spark = get_spark(app_name="tsad-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- source: the sf events table replayed as N time-ordered files
    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    pdf = pd.DataFrame(
        {
            "series_id": ev["event_type"].astype(str),
            "timestamp": pd.to_datetime(ev["ts"]),
            "value": ev["value"].astype(float),
            "event_id": ev["event_id"].astype("int64"),
        }
    ).sort_values(["timestamp", "event_id"])
    n_rows = len(pdf)
    # train-time constants the stream detectors expect from the caller
    mu = float(pdf["value"].mean())
    sd = float(pdf["value"].std(ddof=1))
    lag = pdf.groupby("series_id")["value"].shift(1)
    ok = lag.notna()
    slope, icept = np.polyfit(
        lag[ok].to_numpy(float), pdf.loc[ok, "value"].to_numpy(float), 1
    )

    root = tempfile.mkdtemp(prefix="streambench_src_")
    ckroot = tempfile.mkdtemp(prefix="streambench_ck_")
    kw = dict(
        index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    # the file source orders files by modification time, and files
    # written within one millisecond tie: give each a later mtime
    t_file = time.time() - N_BATCHES
    for i, chunk in enumerate(np.array_split(np.arange(n_rows), N_BATCHES)):
        path = os.path.join(root, f"part{i:03d}.parquet")
        pdf.iloc[chunk].to_parquet(path, **kw)
        os.utime(path, (t_file + i, t_file + i))

    schema = "series_id string, timestamp timestamp, value double, event_id long"

    detectors = {
        "ewma_cusum": lambda s: streaming_control_flags(
            s, norm_mu=mu, norm_sd=sd
        ),
        "spot": lambda s: streaming_pot(s, n_init=200),
        "conformal": lambda s: streaming_conformal(
            s, icept=float(icept), slope=float(slope), n_cal=200
        ),
        "bocpd": lambda s: streaming_bocpd(s, norm_mu=mu, norm_sd=sd),
    }

    # off-the-clock warm-up: one single-file stream per detector
    # compiles the stateful-exec codegen + forks the Arrow workers so
    # the first TIMED detector doesn't absorb session JIT (the same
    # positional effect bench.py defends against)
    warm_root = tempfile.mkdtemp(prefix="streambench_warm_")
    pdf.iloc[: max(n_rows // N_BATCHES, 1)].to_parquet(
        os.path.join(warm_root, "w.parquet"), **kw
    )
    for name, build in detectors.items():
        wq = (
            build(
                spark.readStream.schema(schema).parquet(warm_root)
            )
            .writeStream.format("noop")
            .outputMode("append")
            .option(
                "checkpointLocation", os.path.join(ckroot, f"warm_{name}")
            )
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(120)
    shutil.rmtree(warm_root, ignore_errors=True)

    results: dict[str, dict] = {}
    for name, build in detectors.items():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
        out = build(stream)
        t0 = time.perf_counter()
        q = (
            out.writeStream.format("noop")
            .outputMode("append")
            .option(
                "checkpointLocation", os.path.join(ckroot, name)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        prog = [
            json.loads(p.json) if isinstance(p.json, str)
            else json.loads(p.json())
            for p in q.recentProgress
        ]
        prog = [p for p in prog if p.get("numInputRows", 0) > 0]
        durs = sorted(p["durationMs"].get("triggerExecution", 0) for p in prog)
        state_ops = [(p.get("stateOperators") or [{}])[0] for p in prog]
        state_commit = [st.get("commitTimeMs", 0) for st in state_ops]
        state_update = [st.get("allUpdatesTimeMs", 0) for st in state_ops]
        state_mem = [st.get("memoryUsedBytes", 0) for st in state_ops]
        log_commit = [
            p["durationMs"].get("walCommit", 0)
            + p["durationMs"].get("commitOffsets", 0)
            for p in prog
        ]
        rows_in = sum(p.get("numInputRows", 0) for p in prog)
        p50 = durs[len(durs) // 2] if durs else None
        p95 = durs[min(len(durs) - 1, int(0.95 * len(durs)))] if durs else None
        results[name] = {
            "wall_sec": round(wall, 3),
            "rows": int(rows_in),
            "rows_per_sec": round(rows_in / wall, 1) if wall else None,
            "n_batches": len(durs),
            "batch_p50_ms": p50,
            "batch_p95_ms": p95,
            "state_commit_p50_ms": float(np.median(state_commit)) if prog else None,
            "log_commit_p50_ms": float(np.median(log_commit)) if prog else None,
            "state_update_p50_ms": float(np.median(state_update)) if prog else None,
            "state_mem_p50_bytes": float(np.median(state_mem)) if prog else None,
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckroot, ignore_errors=True)

    payload = {
        "metric": "stream_detector_bench",
        "sf_dir": sf_dir,
        "n_rows": n_rows,
        "n_batches": N_BATCHES,
        "detectors": results,
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "STREAM_BENCH.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
