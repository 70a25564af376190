"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are the ones that
also matter on a real multi-executor cluster (AQE, Arrow, sensible shuffle
partition counts). On a 1000-executor cluster the same code runs unchanged —
only ``master`` and the partition counts change (scaled to total cores).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# ensure_min_partitions' default width: one partition per this many bytes
# of input file (128 KiB of parquet ≈ 1 MB of text)
SCAN_TARGET_BYTES = 128 << 10


@contextlib.contextmanager
def job_description(sc, desc: str):
    """Scoped ``setJobDescription`` that RESTORES the enclosing label.

    ``setJobDescription(None)`` in a ``finally`` clobbers whatever label
    an outer scope had set (a nested ``cc:canon`` reset used to strip
    the surrounding ``stage:clusters`` from every later job in the
    stage). Saving ``spark.job.description`` and writing it back keeps
    the job-audit labels truthful under nesting.
    """
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def host_defaults() -> tuple[int, str]:
    """``(cores, driver_memory)`` for a session whose caller sized neither.

    ``$SPARK_GRAFT_CPUS`` else the cores this process may run on;
    ``$SPARK_DRIVER_MEM`` else a quarter of physical RAM (at least 1g).
    In local mode the driver JVM also hosts the executors, but every
    Python UDF worker is its own process outside that heap, so the rest
    of RAM is left to them.
    """
    cores = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or f"{max(1024, phys_mb // 4)}m"
    return cores, driver_mem


def get_spark(
    app_name: str = "rust_gd_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores and driver memory default to ``host_defaults()``.
    shuffle partitions default to 2x cores — small enough to avoid tiny-task
    overhead locally, and AQE coalesces further at runtime; on a real cluster
    this would be ~2-3x total executor cores.
    """
    # Large numpy temporaries otherwise mmap/munmap per kernel invocation;
    # sandboxed VMs (Firecracker on-demand paging) first-touch fresh mmaps
    # ~50x slower than steady-state writes. Keeping big allocations on the
    # reused heap makes the Arrow-UDF kernels run warm. Must be in the env
    # BEFORE the JVM launches (python workers inherit it through the JVM).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    host_cores, driver_mem = host_defaults()
    if cores is None:
        cores = host_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §2.2: let AQE size partitions by bytes (advisory size)
        # instead of splitting down to defaultParallelism — measured ~4%
        # across join/pipeline queries here, and the documented setting
        # for right-sizing reducers on clusters too.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # guide §3.1: allow shuffled-hash join where its size conditions
        # hold (sort-merge stays available; AQE still rewrites at runtime).
        # Measured ~5% on the join-heavy families.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_partitions(
    df,
    min_parts: int | None = None,
    target_bytes: int | None = None,
    cap_factor: int = 1,
):
    """Round-robin repartition iff the plan is under-partitioned.

    Small local parquet files arrive as ONE split (a single row group is
    unsplittable), serializing every downstream stage; on a real cluster
    the scan has thousands of splits and this is a no-op. Call at load
    boundaries, not per-operator.

    The default target is SIZE-DERIVED, not the fixed 2×cores it used to
    be (guide §2: make partitioning scale-adaptive — derive from input
    size — rather than a constant tuned for either local mode or the
    cluster): one partition per ``SCAN_TARGET_BYTES`` of input file
    (128 KiB of parquet ≈ 1 MB of text), capped at
    defaultParallelism. Measured on the bench corpus: the old blanket
    2×cores spread a sub-MB table over 64 partitions and every downstream
    stage paid 64 task launches for micro-batches — kernel-heavy queries
    ran 2-2.5× slower than at the size-derived width, while at 10×
    the data the derived width grows right back to the core count.

    ``target_bytes`` overrides the per-partition target for callers whose
    per-row work is unusually dense (e.g. the CDC chunker's interpreted
    higher-order array expressions: measured ~3× faster at a 4× finer
    width on the same corpus) — the knob stays size-derived, never a
    fixed partition count.

    ``cap_factor`` lets those same dense callers oversubscribe the core
    cap (cap = cap_factor × defaultParallelism). Per-row compute that
    dominates the stage suffers doc-length skew at exactly one slice per
    core — 2-4 slices/core lets the scheduler smooth stragglers (guide
    §2.4). Still size-derived: a corpus below cap_factor × cap ×
    target_bytes of parquet never reaches the cap, and on a real cluster
    the scan has real splits and this path is a no-op.
    """
    if min_parts is None:
        sc = df.sparkSession.sparkContext
        cap = sc.defaultParallelism * max(1, cap_factor)
        target = target_bytes if target_bytes is not None else SCAN_TARGET_BYTES
        # Fallback when input sizes are unreadable (non-POSIX paths,
        # object stores): plain defaultParallelism, never the
        # oversubscribed cap — cap_factor is only ever earned by a
        # measured byte count, otherwise a corpus on hdfs:// would eat a
        # blanket 4x-cores round-robin shuffle here.
        min_parts = sc.defaultParallelism
        try:
            files = df.inputFiles()
            if files:
                nbytes = 0
                for f in files:
                    if f.startswith("file:"):
                        f = f[len("file:"):]
                        while f.startswith("//"):
                            f = f[1:]
                    nbytes += os.path.getsize(f)
                min_parts = max(1, min(cap, -(-nbytes // target)))
        except OSError:
            pass
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
