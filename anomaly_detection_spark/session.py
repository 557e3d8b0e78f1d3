"""SparkSession factory with the configuration this engine assumes.

Local mode is a stand-in for a multi-executor cluster: everything here
(AQE, shuffle partition sizing, Arrow) is what we would set via
``spark-submit --conf`` on a 1000-executor cluster; only
``spark.driver.memory`` is local-mode-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: share of physical memory the default driver heap takes; the rest is
#: left to Python workers, Arrow buffers and the OS
HEAP_FRACTION = 0.4
HEAP_CAP_MB = 48 * 1024


def usable_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the host's
    core count)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:                  # no affinity API (macOS)
        return os.cpu_count() or 1


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """``HEAP_FRACTION`` of physical memory (``MemTotal``), capped at
    ``HEAP_CAP_MB`` — the driver heap is pinned (-Xms = -Xmx), so a
    fixed size the host cannot back stops the JVM at start.  Without a
    readable ``meminfo`` the size comes from ``sysconf``, else 1 GiB."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        try:
            kb = (os.sysconf("SC_PAGE_SIZE")
                  * os.sysconf("SC_PHYS_PAGES") // 1024)
        except (AttributeError, ValueError, OSError):
            return "1024m"
    return f"{max(1, min(HEAP_CAP_MB, int(kb * HEAP_FRACTION) // 1024))}m"


def get_spark(
    app_name: str = "anomaly_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (the usable
    core count when unset).  ``shuffle_partitions`` defaults to the
    core count — on a real cluster you would size this to ~2-3x total
    cores and let AQE coalesce.  The driver heap is
    ``$SPARK_DRIVER_MEM``, else :func:`default_driver_mem`.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or usable_cpus())
    master = master or f"local[{cpus}]"
    inner = master.split("[", 1)[-1].rstrip("]")
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    # The JVM sizes its internal pools (parallel GC threads, JIT
    # compiler threads, common ForkJoinPool) off the HOST core count,
    # not local[N]: a local[2] JVM on a 32-core box runs ~20+ GC
    # threads and bursts across every core, so several small local-mode
    # JVMs side by side collapse into scheduler/GC thrash.  Real
    # cluster executors are handed their actual core count
    # (spark.executor.cores); model that by capping the JVM's visible
    # processors at the task parallelism (+2 slack for GC/netty).
    # Override with SPARK_JVM_PROCS.
    jvm_procs = os.environ.get("SPARK_JVM_PROCS")
    if jvm_procs is None and inner not in ("*", ""):
        jvm_procs = str(min(int(inner) + 2, os.cpu_count() or cpus))

    # glibc hands blocks over its mmap threshold straight back to the
    # kernel on free; Arrow/pandas workers allocate such blocks once
    # per batch, so every batch re-faults fresh pages.  On virtualized
    # hosts where first-touch is slow (hypervisor lazy page supply —
    # measured 120 MB/s fault-in vs 16 GB/s steady-state on one sandbox
    # host) that churn dominates the UDF path: a 10x200MB alloc/free
    # loop ran 3x faster with these tunables.  Keep big freed blocks in
    # the arena instead; python workers inherit the env at exec.
    # setdefault only — an explicit user environment wins.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 28))

    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # -Xms = -Xmx: G1 uncommits idle heap regions below Xmx and
    # re-commits (re-faults) them on the next allocation burst — the
    # same first-touch churn as the malloc note above, JVM-side.  A
    # fixed heap commits each page once for the JVM's lifetime.
    java_opts = [f"-Xms{driver_mem}"]
    if jvm_procs:
        java_opts.append(f"-XX:ActiveProcessorCount={jvm_procs}")
    builder = builder.config("spark.driver.extraJavaOptions",
                             " ".join(java_opts))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
