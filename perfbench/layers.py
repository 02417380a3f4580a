"""Tracing for the benchmark, taken from outside the package.

Nothing here changes what the program does.  A traced pass reads:

- ``/proc`` for the JVM and its Python-worker processes (CPU seconds,
  peak resident memory);
- the JVM's garbage-collector MXBeans (collection time);
- Spark's own SQL status store (per-execution SQL metrics: Python
  worker start/init/run, Arrow bytes each way, shuffle write, spill);
- the job status tracker, for jobs, stages and tasks under the job
  group the benchmark sets for the pass.
"""

from __future__ import annotations

import os
import re
import statistics
import time

# SQL metric name -> per-layer metric name.  Time totals are in ms and
# size totals in bytes after parse_metric().
SQL_METRICS = {
    "time to start Python workers": "functions.python_start_ms",
    "time to initialize Python workers": "functions.python_init_ms",
    "time to run Python workers": "functions.python_run_ms",
    "data sent to Python workers": "functions.arrow_bytes_out",
    "data returned from Python workers": "functions.arrow_bytes_in",
    "shuffle bytes written": "operators.shuffle_write_bytes",
    "spill size": "operators.spill_bytes",
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_CLK = os.sysconf("SC_CLK_TCK")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value: ``'1,234'``, ``'0 ms'`` or
    ``'total (min, med, max ...)\\n7.3 s (2.3 s, ...)'``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def proc_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of ``pid`` in seconds (children
    the process has reaped are included), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


class SparkProbe:
    """Read-only handles on one session's JVM, status store and
    processes."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.jvm = jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.seen_execution = self.last_execution_id()

    def python_pids(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if _is_python(p)]

    def worker_hwm_mb(self) -> float:
        return max((vm_hwm_mb(p) for p in self.python_pids()), default=0.0)

    def python_cpu_s(self) -> float:
        return sum(proc_cpu_s(p) for p in self.python_pids())

    def jvm_cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid)

    def gc_s(self) -> float:
        return sum(max(int(g.getCollectionTime()), 0) for g in self._gcs) / 1e3

    def drain_listeners(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the metrics of executions that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def last_execution_id(self) -> int:
        execs = self._conv.asJava(self._store.executionsList())
        return max((int(e.executionId()) for e in execs), default=-1)

    def sql_metrics_since(self, after: int) -> dict[str, float]:
        """Sum of SQL_METRICS over executions with id > ``after``."""
        out = {v: 0.0 for v in SQL_METRICS.values()}
        for e in self._conv.asJava(self._store.executionsList()):
            eid = int(e.executionId())
            if eid <= after:
                continue
            values = self._conv.asJava(self._store.executionMetrics(eid))
            for m in self._conv.asJava(e.metrics()):
                key = SQL_METRICS.get(m.name())
                text = values.get(m.accumulatorId())
                if key and text is not None:
                    out[key] += parse_metric(text)
        return out

    def job_counts(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                if s in stages:
                    continue
                stages.add(s)
                st = tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return {"plans.jobs": len(jobs), "plans.stages": len(stages), "plans.tasks": tasks}


class PassTrace:
    """Per-pass layer figures: call ``start`` before the pass and
    ``stop`` after it; ``stop`` returns a flat dict."""

    def __init__(self, probe: SparkProbe, group: str):
        self.probe, self.group = probe, group

    def start(self) -> None:
        p = self.probe
        p.sc.setJobGroup(self.group, self.group)
        self.cpu0, self.py0, self.gc0 = p.jvm_cpu_s(), p.python_cpu_s(), p.gc_s()
        self.exec0 = p.last_execution_id()

    def stop(self, stream_group: str | None = None) -> dict[str, float]:
        p = self.probe
        p.sc.setLocalProperty("spark.jobGroup.id", None)
        p.drain_listeners()
        out = {
            "session.jvm_cpu_s": p.jvm_cpu_s() - self.cpu0,
            "session.gc_s": p.gc_s() - self.gc0,
            "functions.python_cpu_s": max(p.python_cpu_s() - self.py0, 0.0),
        }
        out.update(p.sql_metrics_since(self.exec0))
        out.update(p.job_counts(stream_group or self.group))
        return out


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over ``rows`` (keys missing from a row are
    skipped for that row)."""
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in sorted(keys)}


def timed(fn) -> float:
    """Wall seconds of one call of ``fn``."""
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t
