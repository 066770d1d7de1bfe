"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config keys are what we would set on a
real cluster (AQE on, sensible shuffle partitioning, Arrow transfers, UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graphite_clickhouse_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch ROWS so payload-carrying batches stay
        # memory-sane: the default 10k-record batches are harmless for
        # scalar columns, but a multimodal partition of ~15-40 KB
        # binary payloads (the GVID video corpus) materializes
        # 150-600 MB per batch as pandas objects in EVERY python
        # worker — at the 100x ladder rung (where partitions first
        # exceed 10k rows) that memory pressure made the decode pass
        # super-linear (r10 measurement: the video 100x rung's per-doc
        # cost read 2-3x the 10x rung's; 1024-row batches bound a
        # video batch at ~15-40 MB). Every kernel in this repo is
        # row-independent (pandas_udf / mapInPandas loops, applyInPandas
        # gets whole groups regardless), so batch size is semantics-free
        # here; scalar kernels are python-loop-bound and measure the
        # same at 1024 as at 10k.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark 4's DataFrame-debugging wrapper does a conf.get +
        # PySparkCurrentOrigin.set/clear (≈4 extra JVM round trips plus a
        # Python stack walk) around EVERY DataFrame API call, purely to
        # enrich error messages with the Python call site. Plan building
        # runs on the GIL-serialized driver thread at HTTP request time,
        # so this tax caps concurrent throughput: disabling it cut a
        # small render's plan-build from 350 to 190 py4j round trips
        # (~136 -> ~105 ms, r7 profile). Errors keep their full JVM
        # context; only the Python-line annotation is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # testdata parquet carries TIMESTAMP(NANOS); map to long nanoseconds
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deliberately NOT spark.scheduler.mode=FAIR: per-request-class
        # FAIR pools were measured (BENCH_LATENCY.json, r7) and lost —
        # find p50 under a c16 render storm 445 ms FIFO vs 469 ms pools,
        # render throughput 17.4 vs 15.8 req/s — so the mapping was
        # removed. Interactive latency here is plan-build (driver GIL)
        # bound, not task-slot starved.
        # 16g, NOT a bigger slice of the box: every heavy contract query
        # runs spill-free even at 2g (SPILL.json), and on this host a
        # 48g heap is actively pathological — as G1 grows the heap into
        # never-touched pages instead of collecting, first-touch page
        # faults make the SAME query degrade run-over-run inside one
        # session (measured r8: dup_spans@10x 12 -> 21 -> 45 -> 45 s at
        # 48g vs 10.7 -> 4.3 -> 3.9 -> 3.2 s at 16g; system time
        # exceeding user time fleet-wide was the tell). Override with
        # SPARK_GRAFT_DRIVER_MEM for corpora whose per-task state needs
        # it — sizing guidance lives in SPILL.md.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # complex expression trees generate a LOT of JIT'd classes; the
        # default 240m code cache fills mid-suite and HotSpot silently
        # falls back to interpreted execution (measured 6x slowdowns on
        # later queries). One JVM in local mode -> driver options cover all.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
            "-XX:+SegmentedCodeCache",
        )
        # Bound the IDLE python-worker pool (Spark 4 LRU eviction).
        # History: r9 measured a stale unbounded fleet taxing every
        # Arrow stage (23-query prefix 688 s unbounded vs 169 s capped)
        # and shipped cap=8.  The ROOT CAUSE of that bloat was 10k-row
        # Arrow batches materializing multi-hundred-MB pandas frames in
        # every worker; once r10 bounded batches at 1024 rows the
        # pathology no longer reproduces, and the cap's fork/import
        # churn became the dominant Python-boundary cost (each evicted
        # worker re-pays fork + numpy/pandas import on the next stage;
        # a chained mapInPandas stage needs 2 workers per core).  r10
        # A/B (tools/suite_context_bench.py, BENCH_SUITE_CONTEXT_R10
        # .json): after the same 23-query prefix the multimodal quartet
        # timed 0.85/0.92/0.85/0.40 s uncapped vs 1.85/1.83/1.61/0.37 s
        # at cap=8, and the prefix itself ran 68 s vs 73 s — the idle
        # fleet is now ~130 MB RSS per worker and stays healthy.
        # Default: 2 workers per core + slack (the chained-runner
        # worst case), scaling with SPARK_GRAFT_CPUS rather than a
        # local[32] constant; at cluster scale size the per-executor
        # equivalent against spark.executor.pyspark.memory.
        .config("spark.python.factory.idleWorkerMaxPoolSize",
                os.environ.get("SPARK_GRAFT_IDLE_WORKERS",
                               str(2 * int(cpus) + 2)))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
