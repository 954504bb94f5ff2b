"""SparkSession factory tuned for the sandbox (local[N]) and documented for
cluster deployment (spark-submit --py-files lucenenet_spark.zip)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """Shuffle/spill scratch space.  Prefer tmpfs when it has real
    capacity: shuffle files on a RAM disk take co-tenant disk contention
    (and our own fsync latency) out of the hot path — the single-node
    analogue of putting spark.local.dir on node-local NVMe, which is
    what a real cluster deployment should set.

    tmpfs usage is BOUNDED: /dev/shm rides alongside /tmp as a
    comma-separated dir list, so Spark spreads shuffle blocks across
    both and a heavy spill cannot consume RAM alone (the capacity probe
    runs once at session start; the disk leg is the safety margin for
    workloads that grow past it).  For shuffle-heavy jobs on
    memory-constrained hosts set SPARK_GRAFT_LOCAL_DIR explicitly — it
    overrides the probe entirely."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize > 16 << 30:
            d = "/dev/shm/lucenenet_spark_local"
            os.makedirs(d, exist_ok=True)
            return f"{d},/tmp"
    except OSError:
        pass
    return "/tmp"


# glibc malloc tuning for the python workers (inherited by the pyspark
# daemon forked under the local-mode JVM; exported to executors via
# spark.executorEnv below for cluster deployment).  Without these, every
# big pandas/numpy buffer (>128 KiB default) is mmap'd and munmap'd per
# allocation; at high core counts each munmap broadcasts TLB-shootdown
# IPIs to every core and the workers burn KERNEL time: measured on the
# 500k-file invert at local[32] — 893 system-CPU-sec per pass (3.5x wall
# blowup, bimodal) vs ~1 system-CPU-sec once large blocks are retained
# and reused by the allocator (per-worker system time read from
# /proc/<pid>/stat during the invert).
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(128 << 20),
    "MALLOC_TRIM_THRESHOLD_": str(256 << 20),
}


def get_spark(app: str = "lucenenet_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """A local[cpus] session; cpus defaults to SPARK_GRAFT_CPUS, else the
    cores this process may run on."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (coalesce) the output partitioning of cached
        # plans: the segmented index is a cached DataFrame, and with the
        # default (false) every query over it schedules shuffle_partitions
        # tasks however tiny — at local[32] that is 32 near-empty tasks
        # per stage, pure scheduling overhead that grows with core count
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FIXED moderate heap.  A/B on the 500k-file build (clean windows,
        # tools/scaling_bench.py --run) showed bigger heaps actively hurt
        # this pipeline: local[8] 48.6s at 20g vs 25.2s at 8g; local[32]
        # 65.7s warm at 64g vs 27.2s at 8g.  The JVM side holds only
        # columnar cache + shuffle buffers (the kernels live in Arrow /
        # python workers), so extra heap just stretches GC regions and
        # NUMA spread without feeding anything.  Override: SPARK_DRIVER_MEM.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # ParallelGC: G1 (the JDK 17 default) collapses on this pipeline's
        # allocation profile (large Arrow batches + big postings byte[])
        # once the heap passes ~20g — measured on the 500k-file build at
        # local[8]: 48.6s under G1/20g vs 28.3s under ParallelGC/20g vs
        # 25.2s under G1/8g (same job, same box, clean windows).  A
        # throughput collector matches this batch workload; pause-time
        # goals buy nothing here.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS",
                               "-XX:+UseParallelGC"))
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return builder.getOrCreate()
