#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the anomaly engine, with a traced
mode that splits the time by layer.

    python3 perfbench/run.py --workload fleet_models --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The workloads (README.md says why
each exists) call the package's public API and write to the ``noop``
sink; every output is checked while it is written.  With ``--trace 0``
the last stdout line is the end-to-end result, with ``--trace 1`` the
per-layer result; lines above it are a readable report.  Inputs,
checkpoints and Spark scratch space live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from layers import PassTrace, SparkProbe, medians, timed, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "time_series_data_anomaly_detection_spark"

WORKLOADS = {
    # series x points; `files` is the number of parquet files the
    # fleet is replayed as (one micro-batch each).  `cold_s`/`warm_s`
    # are nominal pass times on an idle 4-vCPU host: a run makes the number
    # of warm passes that fit in --seconds at those times, so every
    # run of a workload makes the same passes.
    "fleet_models": {"series": 64, "points": 512, "files": 4, "cold_s": 18.0, "warm_s": 6.0},
    "stream_bocpd": {"series": 100, "points": 100, "files": 5, "cold_s": 19.0, "warm_s": 5.5},
}
MODELS = ("stl", "ar", "kalman")
PERIOD = 24
SETUP_SAMPLES = 2  # concurrent fresh-process set-ups per run, this one included
MIN_WARM = 2
STREAM_SAMPLE = 4  # first series of each kind, checked against bocpd_series
STREAM_TIMEOUT_S = 150
HAZARD_LAM, MAX_RUN = 100.0, 500  # streaming_bocpd / bocpd_series defaults
REL_TOL = 1e-9  # probabilities may exceed 1 by rounding

def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    listed in BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------- host


def configure_env() -> dict[str, str]:
    """Set the process environment through the package's deployment
    settings (plus scratch locations inside the checkout) before any
    JVM starts; returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # one BLAS thread per Python worker: the default 4 per worker
        # puts 4x the cores' worth of threads on the box
        "SPARK_GRAFT_BLAS_THREADS": "1",
        # the package default (16g) is above the RAM of small hosts
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        # JVM temp files (native-library extraction) and no hsperfdata
        # file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    return env


def host_block(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    cpu_model = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu_model = next(
                (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), ""
            )
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu": cpu_model,
        "ram_gib": round(ram, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def cpu_probe() -> float:
    """A fixed single-thread pure-Python loop; its time tells host
    drift apart from a change in the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return time.perf_counter() - t


# ------------------------------------------------------------- fixture


def ensure_fixture(spec: dict, seed: int) -> dict:
    """Write the (shape, seed) fleet once: ``events.parquet`` plus its
    replay as ``files`` stream files.  Returns the fixture's metadata."""
    import fleet

    name = f"{spec['series']}x{spec['points']}x{spec['files']}_seed{seed}"
    root = os.path.join(WORK, "fixtures", name)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        pdf = fleet.make_fleet(spec["series"], spec["points"], seed)
        fleet.write_events(pdf, tmp)
        fleet.write_stream(pdf, os.path.join(tmp, "stream"), spec["files"])
        meta = {
            "rows": len(pdf),
            "mu": float(pdf["value"].mean()),
            "sd": float(pdf["value"].std(ddof=1)),
            "sample": sorted(pdf["event_type"].unique())[:STREAM_SAMPLE],
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.replace(tmp, root)
        except OSError:  # written meanwhile by another run
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    meta.update(
        sf_dir=root,
        stream_dir=os.path.join(root, "stream"),
        series=spec["series"],
        points=spec["points"],
        files=spec["files"],
    )
    return meta


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(pdf):
    return pdf


def _bad(col):
    from pyspark.sql import functions as F

    c = F.col(col)
    return c.isNull() | F.isnan(c) | (F.abs(c) == F.lit(float("inf")))


def _count(cond):
    from pyspark.sql import functions as F

    return F.sum(F.when(cond, 1).otherwise(0))


# ----------------------------------------------------------- workloads


class FleetModels:
    """One pass of the nightly fleet scoring: every model family scores
    every series (``score_model``), then BOCPD changepoints, then the
    session's cache ledger is released."""

    name = "fleet_models"

    def __init__(self, spark, fx):
        self.spark, self.fx = spark, fx
        self.rows = fx["rows"]
        self.units_per_pass = 1
        self.first_digests: dict[str, int] | None = None
        self.digests: dict[str, int] = {}

    def _sink(self, df, score_cols):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        exprs = [
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.hash("series_id", "rn", *[F.round(c, 6) for c in score_cols]).cast("long")
            ).alias("digest"),
        ]
        for c in score_cols:
            exprs += [
                _count(F.col(c).isNull()).alias(f"{c}_null"),
                _count(F.col(c).isNotNull() & _bad(c)).alias(f"{c}_nonfinite"),
                F.min(c).alias(f"{c}_min"),
                F.max(c).alias(f"{c}_max"),
            ]
        noop(df.observe(obs, *exprs))
        return obs.get

    def run_pass(self, i):
        from time_series_data_anomaly_detection_spark.functions import bocpd_changepoints
        from time_series_data_anomaly_detection_spark.plans.pipelines import score_model
        from time_series_data_anomaly_detection_spark.session import (
            eager_cache,
            release_caches,
        )
        from time_series_data_anomaly_detection_spark.sources import (
            events_as_series,
            with_row_index,
        )

        series = eager_cache(with_row_index(events_as_series(self.spark, self.fx["sf_dir"])))
        observed = {}
        for m in MODELS:
            kw = {"period": PERIOD} if m in ("stl", "ar") else {}
            observed[m] = self._sink(score_model(series, m, **kw), ["score"])
        observed["bocpd"] = self._sink(bocpd_changepoints(series), ["cp_prob", "cp_score"])
        caches = release_caches()
        errors = self.check(observed)
        return {"units": 1, "failed": 1 if errors else 0, "errors": errors,
                "rows": self.rows, "plans.caches": caches}

    def check(self, observed) -> list[str]:
        errors = []
        for name, o in observed.items():
            cols = ["score"] if name in MODELS else ["cp_prob", "cp_score"]
            if o["rows"] != self.rows:
                errors.append(f"{name}: {o['rows']} rows, expected {self.rows}")
            for c in cols:
                if o[f"{c}_nonfinite"]:
                    errors.append(f"{name}: {o[f'{c}_nonfinite']} non-finite {c}")
                if o[f"{c}_null"] * 4 > o["rows"]:
                    errors.append(f"{name}: {o[f'{c}_null']} null {c} of {o['rows']}")
                lo, hi = o[f"{c}_min"], o[f"{c}_max"]
                upper = 1.0 + REL_TOL if name == "bocpd" else math.inf
                if lo is None or lo < 0.0 or hi > upper:
                    errors.append(f"{name}: {c} range [{lo}, {hi}]")
            self.digests[name] = o["digest"]
        if self.first_digests is None:
            self.first_digests = dict(self.digests)
        elif self.digests != self.first_digests:
            errors.append(f"digest changed: {self.digests} vs {self.first_digests}")
        return errors

    def summary(self, passes) -> dict:
        warm = [p["wall"] for p in passes[1:]]
        return {
            "batch_p50_ms": statistics.median(warm) * 1e3,
            "rows_per_s": sum(p["rows"] for p in passes[1:]) / sum(warm),
        }

    def report(self) -> list[str]:
        return [f"digest {k} {v}" for k, v in sorted(self.digests.items())]


class StreamBocpd:
    """One pass: ``streaming_bocpd`` over the replayed fleet, one file
    per micro-batch (``maxFilesPerTrigger=1``), ``availableNow``, from a
    fresh checkpoint.  Each micro-batch starts when the previous one
    commits (a closed loop)."""

    name = "stream_bocpd"

    def __init__(self, spark, fx):
        self.spark, self.fx = spark, fx
        self.units_per_pass = fx["files"]
        self.expected = self._expected()

    def _expected(self) -> dict[str, float]:
        """Sums the checked sink must see for the sample series, from
        in-process ``bocpd_series`` under the same (mu, sd)."""
        import numpy as np
        import pandas as pd
        from time_series_data_anomaly_detection_spark.functions.bocpd import bocpd_series

        pdf = pd.read_parquet(os.path.join(self.fx["sf_dir"], "events.parquet"))
        sd = self.fx["sd"] or 1.0
        out = {"s_rows": 0.0, "s_cp": 0.0, "s_short": 0.0, "s_wshort": 0.0}
        for sid in self.fx["sample"]:
            y = pdf.loc[pdf["event_type"] == sid].sort_values("ts")["value"].to_numpy(float)
            cp, short = bocpd_series((y - self.fx["mu"]) / sd, hazard_lam=HAZARD_LAM, max_run=MAX_RUN)
            idx = np.arange(len(y), dtype=float)
            out["s_rows"] += len(y)
            out["s_cp"] += float(cp.sum())
            out["s_short"] += float(short.sum())
            out["s_wshort"] += float((short * idx).sum())
        return out

    def query(self, src: str, ck: str):
        from pyspark.sql import functions as F
        from time_series_data_anomaly_detection_spark.streaming import streaming_bocpd

        import fleet

        stream = (
            self.spark.readStream.schema(fleet.STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_bocpd(
            stream, hazard_lam=HAZARD_LAM, max_run=MAX_RUN,
            norm_mu=self.fx["mu"], norm_sd=self.fx["sd"],
        )
        samp = F.col("series_id").isin(self.fx["sample"])
        idx = (F.unix_timestamp("timestamp") - F.lit(fleet.START_EPOCH_S)) / F.lit(1800.0)
        out = out.observe(
            "check",
            F.count(F.lit(1)).alias("rows"),
            _count(_bad("cp_prob") | _bad("cp_score")).alias("nonfinite"),
            F.min("cp_score").alias("short_min"),
            F.max("cp_score").alias("short_max"),
            _count(samp).alias("s_rows"),
            F.sum(F.when(samp, F.col("cp_prob"))).alias("s_cp"),
            F.sum(F.when(samp, F.col("cp_score"))).alias("s_short"),
            F.sum(F.when(samp, F.col("cp_score") * idx)).alias("s_wshort"),
        )
        shutil.rmtree(ck, ignore_errors=True)
        q = (
            out.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [json.loads(p.json) for p in q.recentProgress]
        shutil.rmtree(ck, ignore_errors=True)
        return [p for p in progress if p.get("numInputRows", 0) > 0], str(q.runId)

    def run_pass(self, i):
        from time_series_data_anomaly_detection_spark.session import release_caches

        batches, run_id = self.query(self.fx["stream_dir"], os.path.join(WORK, "ck", f"pass{i}"))
        caches = release_caches()
        errors, failed = [], 0
        total = {k: 0.0 for k in self.expected}
        for b in batches:
            o = b.get("observedMetrics", {}).get("check", {})
            bad = []
            if o.get("rows") != b["numInputRows"]:
                bad.append(f"batch {b['batchId']}: {o.get('rows')} rows out of {b['numInputRows']}")
            if o.get("nonfinite"):
                bad.append(f"batch {b['batchId']}: {o['nonfinite']} non-finite outputs")
            lo, hi = o.get("short_min"), o.get("short_max")
            if lo is None or lo < 0.0 or hi > 1.0 + REL_TOL:
                bad.append(f"batch {b['batchId']}: cp_score range [{lo}, {hi}]")
            failed += bool(bad)
            errors += bad
            for k in total:
                total[k] += o.get(k) or 0.0
        for k, want in self.expected.items():
            if not math.isclose(total[k], want, rel_tol=REL_TOL, abs_tol=REL_TOL):
                errors.append(f"sample {k}: stream {total[k]!r} vs bocpd_series {want!r}")
                failed = len(batches)
        n_rows = sum(b["numInputRows"] for b in batches)
        if n_rows != self.fx["rows"]:
            errors.append(f"{n_rows} input rows, expected {self.fx['rows']}")
            failed = max(failed, 1)
        return {"units": max(len(batches), self.units_per_pass), "failed": failed, "errors": errors,
                "rows": n_rows, "batches": batches, "run_id": run_id,
                "plans.caches": caches}

    def summary(self, passes) -> dict:
        steady = [b for p in passes[1:] for b in p["batches"][1:]]
        durs = [b["durationMs"]["triggerExecution"] for b in steady]
        return {
            "batch_p50_ms": statistics.median(durs),
            "rows_per_s": sum(b["numInputRows"] for b in steady) / (sum(durs) / 1e3),
        }

    def report(self) -> list[str]:
        return [f"sample check {k} = {v!r}" for k, v in self.expected.items()]


def streaming_layers(batches: list[dict]) -> dict[str, float]:
    """Per-layer medians over micro-batches (first batch of each query
    excluded by the caller)."""
    rows = []
    for b in batches:
        d = b["durationMs"]
        st = (b.get("stateOperators") or [{}])[0]
        rows.append({
            "streaming.add_batch_ms": d.get("addBatch", 0),
            "streaming.planning_ms": d.get("queryPlanning", 0),
            "streaming.commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "streaming.state_commit_ms": st.get("commitTimeMs", 0),
            "streaming.state_rows": st.get("numRowsTotal", 0),
            "streaming.state_bytes": st.get("memoryUsedBytes", 0),
        })
    return medians(rows)


# ------------------------------------------------------------- measure


def planned_warm_passes(spec: dict, seconds: float) -> int:
    return max(MIN_WARM, int((seconds - spec["cold_s"]) // spec["warm_s"]))


def run_window(workload, n_warm: int, seconds: float, probe, traced: bool) -> list[dict]:
    """The cold pass, then ``n_warm`` warm passes; warm passes stop
    early (keeping MIN_WARM) once 1.25 x ``seconds`` have gone by.  In a
    traced run the cold pass and every second warm pass are traced;
    the others give the untraced comparison."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) <= n_warm:
        i = len(passes)
        host = cpu_probe()
        pt = PassTrace(probe, f"perfbench-pass{i}") if traced and i % 2 == 0 else None
        if pt:
            pt.start()
        t = time.perf_counter()
        try:
            rec = workload.run_pass(i)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            rec = {"units": workload.units_per_pass, "failed": workload.units_per_pass,
                   "errors": [traceback.format_exc(limit=3)], "rows": 0, "batches": []}
        rec["wall"] = time.perf_counter() - t
        rec["host.probe_s"] = host
        rec["traced"] = pt is not None
        if pt:
            rec["layers"] = pt.stop(rec.get("run_id"))
        rec["worker_hwm_mb"] = probe.worker_hwm_mb()
        passes.append(rec)
        print(
            f"pass {i:2d} {'cold' if i == 0 else 'warm'} {rec['wall']:8.3f} s"
            f"  probe {host:.4f} s{'  traced' if rec['traced'] else ''}"
            f"{'  FAILED ' + '; '.join(rec['errors']) if rec['errors'] else ''}",
            flush=True,
        )
        if len(passes) > MIN_WARM and time.perf_counter() - t0 > 1.25 * seconds:
            break
    return passes


def layer_probes(spark, fx, workload) -> dict[str, float]:
    """Each layer timed on its own, from outside the package, on the
    workload's fleet (one call each: a traced run must stay within its
    time limit on a slow host)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from time_series_data_anomaly_detection_spark.functions import (
        ar_forecast,
        bocpd_changepoints,
        kalman_local_level,
        stl_decompose,
    )
    from time_series_data_anomaly_detection_spark.functions._partition import udf_repartition
    from time_series_data_anomaly_detection_spark.functions.bocpd import bocpd_run, initial_state
    from time_series_data_anomaly_detection_spark.operators.evaluate import leaderboard_metrics
    from time_series_data_anomaly_detection_spark.operators.labeling import mark_top_value_windows
    from time_series_data_anomaly_detection_spark.operators.rolling import rolling_stats
    from time_series_data_anomaly_detection_spark.operators.scaling import mad_scores
    from time_series_data_anomaly_detection_spark.operators.sweep import threshold_sweep_pointwise
    from time_series_data_anomaly_detection_spark.session import release_caches, tracked_cache
    from time_series_data_anomaly_detection_spark.sources import events_as_series, with_row_index

    out = {}

    def indexed():
        return with_row_index(events_as_series(spark, fx["sf_dir"]))

    out["sources.scan_s"] = timed(lambda: noop(indexed()))
    series = tracked_cache(indexed())
    series.count()
    labeled = tracked_cache(mark_top_value_windows(mad_scores(series), 5, 3))
    labeled.count()
    flagged = labeled.withColumn("flag", (F.col("z_mad") > 3.0).cast("int"))
    probes = {
        "operators.rolling_stats_s": lambda: rolling_stats(series),
        "operators.mad_scores_s": lambda: mad_scores(series),
        "operators.threshold_sweep_s": lambda: threshold_sweep_pointwise(labeled, "z_mad", "is_anomaly"),
        "operators.leaderboard_metrics_s": lambda: leaderboard_metrics(
            flagged, gap=3, persist_p=2, keys=("series_id",)
        ),
        "functions.kalman_local_level_s": lambda: kalman_local_level(series),
        "functions.stl_decompose_s": lambda: stl_decompose(series, period=PERIOD, score_col="score"),
        "functions.ar_forecast_s": lambda: ar_forecast(series, p=PERIOD, score_col="score"),
        "functions.bocpd_changepoints_s": lambda: bocpd_changepoints(series),
        "functions.boundary_s": lambda: udf_repartition(
            series.select("series_id", "rn", "value"), "series_id"
        ).groupBy("series_id").applyInPandas(_identity, "series_id string, rn int, value double"),
    }
    for name, build in probes.items():
        out[name] = timed(lambda: noop(build()))
    release_caches()

    # the BOCPD kernel in-process, on the replay's per-file increments
    files = sorted(os.listdir(fx["stream_dir"]))
    sd = fx["sd"] or 1.0
    increments = []
    for f in files:
        pdf = pd.read_parquet(os.path.join(fx["stream_dir"], f)).sort_values("timestamp")
        increments.append([
            (sid, (g["value"].to_numpy(float) - fx["mu"]) / sd)
            for sid, g in pdf.groupby("series_id", sort=True)
        ])
    t = time.perf_counter()
    states: dict = {}
    for inc in increments:
        for sid, y in inc:
            _, _, states[sid] = bocpd_run(
                y, states.get(sid) or initial_state(), hazard_lam=HAZARD_LAM, max_run=MAX_RUN
            )
    out["functions.bocpd_run_s"] = time.perf_counter() - t

    if workload.name != "stream_bocpd":
        stream = StreamBocpd(spark, fx)
        batches, _ = stream.query(fx["stream_dir"], os.path.join(WORK, "ck", "probe"))
        out.update(streaming_layers(batches[1:]))
    return out


def start_setup_probes(n: int) -> list[subprocess.Popen]:
    """``n`` set-ups in fresh processes, started together with this
    run's own so that every sample sees the same contention."""
    return [
        subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_probe.py")],
            cwd=WORK, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(n)
    ]


def finish_setup_probes(procs: list[subprocess.Popen]) -> list[dict]:
    out = []
    try:
        for proc in procs:
            stdout, stderr = proc.communicate(timeout=120)
            if proc.returncode != 0:
                raise RuntimeError(f"setup probe failed: {stderr[-2000:]}")
            out.append(json.loads(stdout.strip().splitlines()[-1]))
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
                proc.communicate()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    for d in ("local", "tmp", "ck"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    env = configure_env()
    os.chdir(WORK)
    sys.path.insert(0, ROOT)
    from setup_probe import measure_setup, stop_session

    procs = start_setup_probes(SETUP_SAMPLES - 1)
    try:
        import_s, start_s, spark = measure_setup()
    finally:
        setups = finish_setup_probes(procs)
    setups.append({"import_s": import_s, "start_s": start_s})
    try:
        spark.sparkContext.setLogLevel("ERROR")
        host = host_block(spark)
        fx = ensure_fixture(WORKLOADS[args.workload], args.seed)
        probe = SparkProbe(spark)
        workload = {"fleet_models": FleetModels, "stream_bocpd": StreamBocpd}[args.workload](spark, fx)
        print("host " + json.dumps(host))
        print("env " + json.dumps({k: v for k, v in env.items() if k.startswith("SPARK")}))
        print(f"workload {args.workload} seed {args.seed}: {fx['series']} series x "
              f"{fx['points']} points ({fx['rows']} rows, {fx['files']} stream files)", flush=True)
        n_warm = planned_warm_passes(WORKLOADS[args.workload], args.seconds)
        passes = run_window(workload, n_warm, args.seconds, probe, bool(args.trace))
        layers = layer_probes(spark, fx, workload) if args.trace else {}
        jvm_hwm = vm_hwm_mb(probe.jvm_pid)
    finally:
        stop_session(spark)

    attempted = sum(p["units"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    warm = passes[1:]
    for line in workload.report():
        print(line)
    print(f"set-up samples {[round(s['import_s'] + s['start_s'], 3) for s in setups]}")
    print(f"error_rate {failed / attempted:.6f} fraction ({failed} of {attempted} attempted)")
    # printed, not gated: its spread over ten seeds reached 0.25 on
    # fleet_models on a drifting 4-vCPU host, the largest bound allowed
    print(f"cold_pass_s {passes[0]['wall']:.6g} s")
    units = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics = trace_metrics(passes, layers, setups, jvm_hwm)
    else:
        metrics = {
            "setup_s": statistics.median(s["import_s"] + s["start_s"] for s in setups),
            "pass_s": statistics.median(p["wall"] for p in warm),
            "worker_peak_mb": max(p["worker_hwm_mb"] for p in passes),
            **workload.summary(passes),
        }
    for name, unit in units.items():
        print(f"metric {name} {metrics[name]:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


def trace_metrics(passes, layers, setups, jvm_hwm) -> dict[str, float]:
    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    out = medians([p["layers"] for p in traced])
    out["plans.caches"] = statistics.median(p.get("plans.caches", 0) for p in traced)
    out.update(layers)
    batches = [b for p in traced for b in p.get("batches", [])[1:]]
    if batches:
        out.update(streaming_layers(batches))
    out["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    out["session.import_s"] = statistics.median(s["import_s"] for s in setups)
    out["session.jvm_hwm_mb"] = jvm_hwm
    out["host.probe_s"] = statistics.median(p["host.probe_s"] for p in passes)
    out["trace.overhead_s"] = (
        statistics.median(p["wall"] for p in traced) - statistics.median(p["wall"] for p in plain)
    )
    return {k: float(v) for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
