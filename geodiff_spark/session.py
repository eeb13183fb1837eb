"""SparkSession factory tuned for the changeset/spatial engine.

Local defaults target ``local[N]`` smoke runs; on a real cluster the same
confs apply (AQE, Arrow, skew-join) and ``spark.sql.shuffle.partitions``
should be ~2-3x total cores. Iceberg is the production table format; in
this sandbox (no Iceberg jars) the snapshot store falls back to parquet
with hash-bucketed layout (see geodiff_spark.sources.snapshots).

Driver heap: ``SPARK_DRIVER_MEM`` wins when set. Otherwise the heap is
half the memory this process may use (physical RAM, capped by a cgroup v2
``memory.max`` limit), at most ``48g``. In local mode the driver heap is
the only executor heap, and Spark sizes its storage/execution pools from
it: a heap larger than the host makes Spark keep cached blocks in memory
that does not exist, and the kernel OOM-kills the JVM instead of Spark
spilling to disk. The other half is left for the JVM's off-heap buffers
(Arrow, netty), the Python workers and the calling process. Hosts with
>= 96 GiB keep the ``48g`` cap. Under ``spark-submit`` the driver JVM is
already running, so the cluster launcher decides its memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs every engine session needs, local or cluster.
ENGINE_CONFS = {
    # AQE: runtime coalesce + skew-join splitting. The north rule mandates
    # explicit skew handling; AQE is the baseline layer, salting (operators
    # that need it expose a `salt` knob) is the explicit layer.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Storage-partitioned-join friendly when bucketed tables are used.
    "spark.sql.sources.v2.bucketing.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def usable_memory_bytes() -> int:
    """Memory this process may use: physical RAM, or the cgroup v2
    ``memory.max`` limit when that file holds a smaller number."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return total
    return min(total, int(limit)) if limit.isdigit() else total


def driver_memory(mem_bytes: int | None = None) -> str:
    """``spark.driver.memory`` value: ``SPARK_DRIVER_MEM`` verbatim when
    set, else half of ``mem_bytes`` (default: ``usable_memory_bytes()``)
    in MiB, capped at ``48g``."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if mem_bytes is None:
        mem_bytes = usable_memory_bytes()
    half_mb = mem_bytes // 2 // 2**20
    return "48g" if half_mb >= 48 * 1024 else f"{half_mb}m"


def get_spark(
    app_name: str = "geodiff_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    ``cores`` is the local parallelism (int or "*"); honored only when no
    master is configured externally (spark-submit on a cluster wins).
    ``spark.driver.memory`` comes from ``driver_memory()``:
    ``SPARK_DRIVER_MEM`` if set, else half the host's usable memory,
    capped at ``48g``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores in ("*",) else int(cores)
        shuffle_partitions = max(int(n), 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
