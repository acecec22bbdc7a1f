"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster: design
decisions (shuffle partitions, AQE, Arrow, broadcast thresholds) are the
ones we would ship to a 1000-executor cluster; only the master URL and the
memory sizing are local-specific.
"""

from __future__ import annotations

import ctypes
import os

from pyspark.sql import SparkSession


def _tune_allocator() -> None:
    """Stop glibc from mmap/munmap-cycling large buffers.

    Arrow batches, pandas string columns, and numpy temporaries in the
    vectorized UDF hot paths are multi-MB allocations; glibc serves those
    via fresh mmap and returns them on free, so EVERY batch re-pays soft
    page faults on the same memory. On bare metal that's a minor-fault tax;
    on virtualized hosts (this sandbox included) faulting a fresh page can
    cost 100-400us — measured here as a 23s vs 0.1s difference for one
    224MB numpy temporary. Raising the mmap/trim thresholds keeps big
    blocks in the arena, so pages fault once per process and are reused.

    SCOPE — Python processes ONLY. The thresholds reach the UDF workers
    via spark.executorEnv.* (set in get_spark; local-mode workers get it
    too) and the driver Python via mallopt() below. They must NOT reach
    the JVM: glibc keeps up to 8*ncores per-thread arenas, and with a 1 GiB
    trim threshold every arena retains its native high-water mark forever —
    measured here as the driver JVM (Xmx 24g) ballooning past 118 GB anon
    RSS and getting OOM-killed mid-round at local[32]. On a real cluster
    that balloon is an executor container kill (YARN/K8s memory limit).
    The JVM instead gets MALLOC_ARENA_MAX scaled to the task width (set in
    get_spark, where the core count is known; env is read at JVM exec).
    Glibc assigns threads to arenas on first malloc CONTENTION, so a fixed
    low cap (4) is a lottery: an unlucky assignment convoys every native
    allocation (zstd/lz4 contexts, Arrow IPC, parquet buffers) behind 4
    locks — measured here at 16-wide as the SAME round taking 45s or 214s
    (916 kernel CPU-s of futex) depending only on that race. ncores-to-
    2*ncores arenas removes the convoy; with the retention thresholds above
    NOT reaching the JVM, per-arena retention stays at glibc's dynamic
    default (<=32MB), i.e. bounded by ~2GB at 64 arenas — container-safe.
    """
    os.environ.pop("MALLOC_MMAP_THRESHOLD_", None)
    os.environ.pop("MALLOC_TRIM_THRESHOLD_", None)
    os.environ.pop("GLIBC_TUNABLES", None)
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD (this process only)
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD (this process only)
    except OSError:
        pass  # non-glibc platform


def get_spark(
    cpus: int | str | None = None,
    app_name: str = "distributed_webcrawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    - AQE on: runtime coalescing + skew-join splitting (SURVEY.md §4.2).
    - Arrow on: every Python-side UDF in this engine is a pandas UDF /
      mapInPandas over Arrow batches; no row-at-a-time Python anywhere.
    - shuffle partitions default to 2x cores locally; on a real cluster this
      would be sized to ~128MB post-shuffle partitions at the target SF.
    """
    _tune_allocator()
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cpus}]"
    n_threads = os.cpu_count() or 32 if str(cpus) == "*" else int(cpus)
    # JVM-side arena count scales with task width (see _tune_allocator);
    # must be in the env BEFORE the gateway JVM is exec'd by getOrCreate.
    os.environ.setdefault(
        "MALLOC_ARENA_MAX", str(max(8, min(64, 2 * n_threads))))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_threads)
    # Xms below must track the FINAL driver memory (callers may shrink it
    # via extra_conf; Xms > Xmx aborts JVM launch)
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("DWS_DRIVER_MEM", "24g"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # G1 over a FIXED, PRE-TOUCHED heap. Two measured failure modes at
        # 32-wide in one JVM (tools/diag_round.py kernel-stack + jvmGCTime):
        # a dynamic heap's madvise/re-fault cycle serializes all threads on
        # the process-wide mmap_lock (78% system time), and ParallelGC's
        # small young gen collapses under 32 allocating tasks (107s GC in a
        # single stage; expand_frontier 73s -> 14s after this change). On a
        # real cluster these are per-executor JVM flags.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("DWS_DRIVER_JAVA_OPTS",
                               f"-XX:+UseG1GC -Xms{driver_mem} -XX:+AlwaysPreTouch"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Never mmap shuffle blocks (default maps any block >2MB): at high
        # task concurrency in one JVM, per-block mmap/munmap serializes on
        # the process-wide mmap_lock and every page fault contends it —
        # measured here as the dominant kernel frames (vm_mmap_pgoff,
        # lock_mm_and_find_vma) and a 199s->144s crawl-round drop at
        # local[32]. pread into pooled buffers scales; 512m keeps mmap only
        # for blocks that would not fit a buffer anyway.
        .config("spark.storage.memoryMapThreshold", "512m")
        # Python-worker-only allocator tuning (see _tune_allocator): big
        # Arrow/numpy blocks fault once and are reused instead of
        # mmap/munmap-cycling per batch. Scoped here so the JVM does NOT
        # inherit the 1 GiB retention thresholds.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "4")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
