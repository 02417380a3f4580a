"""SparkSession factory with scale-oriented defaults, plus a
session-scoped cache ledger so pipeline caches never outlive the query
that created them (a long-lived session otherwise accumulates every
query's cached frames in executor storage)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_TRACKED_CACHES: list[DataFrame] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register in the session ledger.  Use for every
    intra-query reuse cache (pipelines, registry helpers); the harness
    releases the ledger at query boundaries via
    :func:`release_caches`."""
    df = df.cache()
    _TRACKED_CACHES.append(df)
    return df


def eager_cache(df: DataFrame) -> DataFrame:
    """:func:`tracked_cache` + immediate materialization.

    A lazy cache consumed by several branches of ONE action is raced —
    the consuming stages launch concurrently and each recomputes the
    full lineage before the cache is populated.  Materializing it
    first makes every consumer a cache hit.  Measured both ways cold
    at sf0.1/local[32] (round 3): lazy regressed pointwise_metrics
    1.8→5.1 s and benchmark_leaderboard_ar1 19→43 s while helping only
    multi-UDF-branch DAGs slightly — eager wins overall; use for any
    cache with 2+ consumers inside one job.

    The materializing action is a ``noop`` write: it computes and
    caches every partition like ``count()`` does, without the extra
    aggregate stage (and AQE job) a count adds — on the 64-series ×
    512-point fleet's ``with_row_index`` frame, 4 vCPU, 0.262 → 0.202 s
    median over 6 warm alternating rounds.
    """
    df = tracked_cache(df)
    df.write.format("noop").mode("overwrite").save()
    return df


def release_caches() -> int:
    """Unpersist every ledgered cache (non-blocking).  Called at query
    boundaries (registry wraps each query; bench calls it per run) so a
    multi-query session holds no stale cached frames."""
    n = len(_TRACKED_CACHES)
    while _TRACKED_CACHES:
        try:
            _TRACKED_CACHES.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def get_spark(
    app_name: str = "tsad-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults chosen for scale-out behavior that also works on local[N]:

    - AQE on (runtime coalescing, skew-join splitting) so the same plans
      survive a 100x scale-up without re-tuning partition counts.
    - Arrow enabled for every pandas-UDF boundary.
    - UTC session timezone so timestamp arithmetic matches the oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    # cap BLAS threads in Python workers: N parallel pandas-UDF tasks
    # each spawning a full-width OpenBLAS pool oversubscribes the box
    # (observed 2-3x slowdown on the GP's dgemm); 4 threads/task
    # balances one task per core against intra-task matmul speed
    blas = os.environ.get("SPARK_GRAFT_BLAS_THREADS", "4")
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, blas)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is byte-based, but several operators multiply
        # rows AFTER the exchange (stack/explode) or do O(rows·m) math
        # per row — a small-in-BYTES shuffle can hide a compute-heavy
        # stage.  A small floor keeps task parallelism on those stages;
        # measured A/B cold at sf0.1 (round 3): removing it regressed
        # acf 2.1→4.2 s, doc_stats 1.5→5.9 s, stl_robust 0.5→3.9 s.
        # At real data volumes partitions are far above 1 MB and the
        # floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # the r13 A/B kept Spark's join defaults (OPTIMIZATION_r13.md #5)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # the synthetic testdata parquet carries TIMESTAMP(NANOS); Spark
        # reads those as long nanos with this flag, loaders convert back
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] puts all executor threads in the driver JVM: 8g heap
        # across 32 task slots left ~150 MB/task and made decimal-heavy
        # stages GC-bound under the multi-query driver gate; 16g is
        # still an eighth of the target box
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming checkpoints (offset, commit and source logs, every
        # state-store file) go through the Hadoop FileSystem API, not
        # Spark's default FileContext manager.  On local disk FileContext
        # resolves each path with getFileLinkStatus, which forks a
        # `readlink` process per call; FileSystem renames with one
        # atomic POSIX rename that replaces the target, and forks
        # nothing.  Measured on streaming_bocpd over 100 series (4 state
        # partitions, 4 vCPU Xeon, JFR): JVM process starts 119 → 26 per
        # micro-batch; medians of state commitTimeMs 270 → 13.5 ms and
        # of triggerExecution 482 → 373 ms.  The starts left are
        # Hadoop's `chmod` of each new file and of its `.crc` (no native
        # Hadoop library).  Those local `.crc` files and Spark's
        # state-file checksums stay, so every read is still verified.
        # Trade-off: on HDFS FileSystem.rename does not replace an
        # existing file, so a re-executed batch keeps the complete state
        # file its earlier attempt wrote — what Spark itself does when
        # FileContext is unavailable.  The checkpoint layout is the same
        # under either manager, so a checkpoint written with the default
        # resumes under this one.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Long multi-query sessions (the 139-query gate/bench) bloat
        # the driver heap with retained status state (UI AppStatusStore
        # keeps 1000 jobs/stages/executions by default) and with
        # shuffle/broadcast bookkeeping that the ContextCleaner only
        # releases after a GC proves the references dead (its periodic
        # System.gc() defaults to every 30 MIN — never inside a 5-min
        # bench).  Measured r06: heap grew 0.3 → 3.2 GB live over 139
        # queries and late-session queries ran 2-3x their warm time
        # with back-to-back instability (acf 2.1/2.3/6.9 s) — pure GC
        # pressure; code cache and metaspace stayed healthy.  The UI is
        # dead weight in a headless gate run; status retention is
        # capped for the no-UI status store; the cleaner GC fires every
        # 90 s so shuffle state from finished queries actually drains.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.cleaner.periodicGC.interval", "90s")
        # The periodic cleaner GC calls System.gc(), which on G1 is a
        # STOP-THE-WORLD full collection that grows with the heap — by
        # query ~100 of a 150-query session the pauses themselves were
        # the aging (positions 100-125 ran 1.8x their fresh time while
        # positions 0-25 ran 1.0-1.3x, r06 3-run measurement).
        # ExplicitGCInvokesConcurrent turns those System.gc() calls
        # into concurrent G1 cycles (reference processing still runs,
        # so the ContextCleaner's weak refs still drain) without the
        # pause.  The larger code cache keeps 150+ distinct
        # whole-stage-codegen classes compiled instead of letting the
        # JVM silently flush cold methods back to the interpreter
        # (JDK17 default 240 MB; no warning is ever printed).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-XX:+ExplicitGCInvokesConcurrent"
                " -XX:ReservedCodeCacheSize=512m",
            ),
        )
    )
    return builder.getOrCreate()
