"""SparkSession builder for the transcript rollup engine.

Replaces the reference's process-pool bootstrap (joblib ``Parallel`` at
``File_Struct.py:576-579``, HTCondor 8-CPU jobs at
``condor_logs/sleep_jobfile.job:28-31``) with a single declarative Spark
session: AQE for runtime re-planning/skew, Arrow for every Python-side
batch, UTC timezone pinned so DuckDB-oracle comparisons are exact.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def parse_local_cores(master: str) -> int | None:
    """Core count of a ``local[n]``/``local[*]`` master, else None.

    None means "cluster master (yarn, spark://, k8s://, local-cluster)":
    the session must NOT pin per-core configs (spark.default.parallelism,
    spark.graft.cores) from a guessed count there — Spark's
    executor-derived defaultParallelism is the right value (ADVICE r4)."""
    if not master.startswith("local[") or not master.endswith("]"):
        return None
    inner = master[len("local[") : -1]
    if inner == "*":
        return os.cpu_count() or 32
    return int(inner) if inner.isdigit() else None


def get_spark(
    app_name: str = "transcript-rollup-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to the one spark-submit launched the driver with
    (``spark-submit --master``); a plain ``python`` process falls back to
    ``local[$SPARK_GRAFT_CPUS]`` (env, default 32), so the same
    entrypoint runs at two parallelism levels for the scaling benchmark
    (local[8] vs local[32] ~ N vs 4N executors).
    """
    if master is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the JVM and handed this driver its gateway
        # port; the submitted --master is in that JVM's system properties
        SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master")
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    local_n = parse_local_cores(master)
    n_cores = local_n if local_n is not None else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # One partition per core. Batch exchanges start at AQE's
        # initialPartitionNum below and never read this value; stateful
        # streams do (no AQE there): it is their state-partition count,
        # frozen in the checkpoint (a restarted query keeps its own).
        # Each state partition costs one Python task and one state-store
        # commit per micro-batch whatever its row count, so one per core
        # makes a micro-batch one wave. Against 4 per core at local[4]
        # (medians of 10 interleaved pairs) the gap-fill stream took
        # 3.2 vs 5.6 s at 1,000-row micro-batches (rollbench
        # codec_archive) and 36.4 vs 43.0 s at ~100k zipf-skewed turns
        # per micro-batch (BENCH/streaming_state_partitions.json).
        .config("spark.sql.shuffle.partitions", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE-first sizing (r3 verdict #5): start shuffles fine-grained
        # (16 per core) and let AQE coalesce to the advisory size —
        # initialPartitionNum scales with the session's core count, so
        # ONE config serves the sandbox and a 1000-executor cluster.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(16 * n_cores),
        )
        # Multi-wave reduce stages (r4): AQE's coalesce target is
        # min(advisory, max(totalShuffleBytes/defaultParallelism,
        # minPartitionSize)). With defaultParallelism = cores (local
        # default) that sizes every mid-size reduce stage to ONE task
        # wave — on the 54M-turn cascade the entire window+sort+agg
        # reduce stage ran as 18 tasks at 16 cores (1.1 waves: a 2-task
        # tail while 14 cores idled), the dominant anti-wide bias in the
        # N→4N gate. Raising defaultParallelism to 4×cores makes the
        # size-based target aim at ~4 packed waves instead: measured
        # 39.6 → 30.7 s at local[16] and 118.1 → 102.1 s at local[4]
        # (solo 4→16 efficiency 0.73 → 0.83) with the 8m-advisory
        # equivalent. Small inputs keep the 1MB floor (tiny stages stay
        # ~cores-wide, not 2 giant partitions — a flat 8m advisory
        # regressed the sf0.1 inline cascade 3.1 → 5.1 s); 100 TB
        # shuffles cap at the 64m advisory, i.e. many waves regardless.
        # (set below only when the core count is actually known — on
        # cluster masters Spark derives defaultParallelism from the
        # executors, which is the right value to leave alone)
        # REQUIRED with the multi-wave tuning: cached plans pin their
        # output partitioning by default, so the persist-chained tier
        # cascade would run full initialPartitionNum-wide stages with
        # AQE coalesce silently disabled — measured 3.7 → 6.0 s (inline
        # cascade, sf0.1) when 512 initial partitions landed on cached
        # frames. With this flag AQE coalesces under caching too:
        # 3.60 s best, at parity with the static-128 r3 config.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # NOTE: measured on this sandbox — a 48g heap makes G1/Parallel GC
        # pathological (3-60s swings on a 1s job); 8g is stable for ≤16
        # threads. At 32 threads the allocation rate quadruples and GC
        # frequency with it, so the heap scales with the thread count
        # (16g at 32 cores measured 17.4s vs 24.2s at 8g on the 4-tier
        # pipeline). Override via env when a workload needs more.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g" if n_cores >= 24 else "8g"),
        )
        # Off-heap execution memory, sized per-core (512m × cores): at 32
        # threads the on-heap execution pool halves per-task memory vs 8
        # threads, and the tier-1m sort SPILLED (2.6 GB memory-spill,
        # 149 MB disk) while the 8-thread level never did — an
        # asymmetric, GC-coupled penalty. Off-heap removes the spill and
        # cut measured map-stage GC 130 → 39 core-s at 32 threads. Same
        # per-core sizing a real executor template uses.
        .config("spark.memory.offHeap.enabled", "true")
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP", f"{512 * n_cores}m"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # serial-section reducers: v2 commit moves task files at task
        # commit (job commit O(1) instead of a serial rename loop) and
        # skips _SUCCESS markers — measured ~1-2 s/job of driver-side
        # time on the 4-tier materialization flow, which is pure Amdahl
        # loss at high core counts
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    if local_n is not None:
        # multi-wave reduce sizing (see the long note above) and the
        # advertised core count for downstream pool sizing — pinned only
        # when the core count is actually known (local[n] / local[*]);
        # cluster masters keep Spark's executor-derived defaultParallelism
        # and engine_cores() falls back to it
        builder = builder.config(
            "spark.default.parallelism", str(4 * local_n)
        ).config("spark.graft.cores", str(local_n))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def engine_cores(spark: SparkSession) -> int:
    """Core count the session was built for (executor slots on a cluster).

    Reads the ``spark.graft.cores`` conf stamped by :func:`get_spark`;
    falls back to ``defaultParallelism`` for sessions built elsewhere.
    """
    try:
        return int(spark.conf.get("spark.graft.cores"))
    except Exception:
        return int(spark.sparkContext.defaultParallelism)
