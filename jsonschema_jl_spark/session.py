"""SparkSession factory tuned for this engine.

Local mode in the sandbox; the same settings (AQE, Arrow, skew join) are the
ones we would ship to a real multi-executor cluster via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc-malloc tuning for every Python worker (and the driver): the Arrow
# signature/pairing kernels allocate multi-MB numpy temporaries per batch, and
# default glibc serves those via mmap and RETURNS them to the kernel on free
# (M_MMAP_THRESHOLD caps at 32 MB, M_TRIM at 128 KB).  Each batch then
# re-faults fresh anonymous pages and the kernel must zero them —
# /proc/<worker>/stack sampling on this box showed the hot worker at ~80%
# *system* time inside folio_zero_user/do_huge_pmd_anonymous_page.  Page
# zeroing is memory-bandwidth-bound and SERIAL per core, so it both halves
# single-core throughput and — because all cores' zeroing shares one memory
# bus — directly degrades multi-core scaling efficiency.  Raising both
# thresholds keeps big buffers in the arena where identical-size per-batch
# allocations are reused without ever going back to the kernel; RSS
# high-water rises by one batch's worth per worker (bounded, ~tens of MB).
# ARROW_DEFAULT_MEMORY_POOL=system routes pyarrow's IPC buffers through the
# same tuned glibc arena instead of jemalloc's purge-and-refault decay.
_WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def _apply_worker_env() -> None:
    # set in the driver process BEFORE the JVM starts: local-mode pyspark
    # daemons (and their forked workers) inherit the gateway JVM's env,
    # which inherits ours.  setdefault so an operator can override.
    for k, v in _WORKER_ENV.items():
        os.environ.setdefault(k, v)


def get_spark(
    app_name: str = "jsonschema_jl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _apply_worker_env()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # match parallelism, not the 200 default — avoids tiny-task overhead
        # locally; on a real cluster this is sized to executors*cores*2-3.
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle/spill to tmpfs: the sandbox VM disk has erratic throughput
        # (on a real cluster this is fast local NVMe per executor)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd shuffle/spill/checkpoint compression (vs the lz4 default):
        # the pipeline's big movers are bandwidth-bound, not CPU-bound —
        # text-bearing exchanges (containment grams, verify candidate texts)
        # compress 3-5x under zstd vs ~2x under lz4, and the saved bytes are
        # exactly the shared-resource traffic (memory bus here, network +
        # disk on a real cluster) that multi-core/multi-executor scaling
        # contends on.  Measured back-to-back at local[4] on the 648k-row
        # scaling input: rep 144.5 s (lz4) -> 116.5 s (zstd), tmpfs shuffle
        # high-water 4.9 GB -> 1.9 GB; local[1] unchanged within noise.
        # The compression CPU it adds is per-core parallel work — the kind
        # that scales — so the trade is favorable at every cluster size.
        .config("spark.io.compression.codec", "zstd")
    )
    # on a real cluster executors are separate JVMs that do NOT inherit the
    # driver's env — ship the same worker tuning explicitly
    for k, v in _WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
    # allow a follow-up getOrCreate with a different master (scaling bench)
    SparkSession._instantiatedSession = None  # noqa: SLF001


def shutdown_jvm() -> None:
    """Kill the py4j gateway JVM so the NEXT get_spark launches a fresh one.

    All sessions in one Python process share one gateway JVM, sized by the
    FIRST session's spark.driver.memory — later driver.memory /
    extraJavaOptions configs silently do nothing, and a stopped context's
    heap (observed: 26 GB RSS after datagen) stays resident, fragmenting
    memory and forcing huge-page compaction storms in later phases'
    Python workers (measured: a pinned worker at 83% system time inside
    folio_zero_user with the idle JVM resident, ~5% without).  Benchmarks
    call this between phases; ordinary jobs never need it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.terminate()
                proc.wait(timeout=10)
            except Exception:
                pass
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    SparkSession._instantiatedSession = None  # noqa: SLF001
