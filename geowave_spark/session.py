"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tungsten_page_kib(heap: str) -> int:
    """Page size (KiB) for Tungsten's on-heap sort and hash-aggregate
    memory, given the JVM heap size string (``"8g"``, ``"4096m"``).

    Left alone, Spark sizes pages up to 64 MB, and G1 allocates any array
    over half a heap region (regions are heap/2048, rounded down to a power
    of two: 4 MB at 8 GB) as a humongous object straight into the old
    generation.  Every sort or aggregate then allocated one: a run of
    small indexed queries (30k points, 8 GB heap) held 200-340 MB of such
    pages in the old generation, whether G1 doubled the heap depended on GC
    timing, and the driver's RSS ranged 0.9-1.8 GB between runs of the
    same work.  heap/8192 stays under half a region (regions stop growing
    at 32 MB, so pages stop at 8 MB), so pages are ordinary young objects,
    and Spark's 8,192-entry per-task page table still reaches the whole of
    a heap up to 64 GB."""
    units = {"k": 1, "m": 1024, "g": 1024**2, "t": 1024**3}
    s = heap.strip().lower().removesuffix("b")
    kib = float(s[:-1]) * units[s[-1]] if s[-1] in units else float(s) * 1024
    return min(8 * 1024, int(kib) // 8192)


def get_spark(
    app_name: str = "geowave-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults target the sandbox (local[N]) but every knob is the one you'd
    set on a 1000-executor cluster: AQE on (runtime skew-join splitting +
    partition coalescing — the runtime analog of the reference's
    histogram-driven split balancing, `AccumuloMRUtils.java:77-130`), Arrow
    UDF transport on, shuffle partitions sized to parallelism.
    """
    # one BLAS/OMP thread per python worker: Spark already parallelizes
    # across workers, and unpinned numpy spawns ncpu threads PER worker —
    # N workers x N threads oversubscribes quadratically (measured: the
    # encode UDF ran 8.7x SLOWER at 16 workers until these were set)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count() or 8
        shuffle_partitions = max(int(n), 8)
    memory = os.environ.get("SPARK_DRIVER_MEMORY", f"{min(24, max(8, int(shuffle_partitions)))}g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # heap scales with parallelism (a 4N-executor cluster has 4N memory);
        # sized ~2 GB/core so 32 concurrent tasks' Arrow batches + shuffle
        # buffers never force GC thrash (measured: string-heavy UDF stages
        # collapse 6x under an 8g heap at 32 threads)
        .config("spark.driver.memory", memory)
        .config("spark.buffer.pageSize", f"{tungsten_page_kib(memory)}k")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
