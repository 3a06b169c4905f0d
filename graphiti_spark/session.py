"""SparkSession factory tuned for this engine.

Local-mode testing (local[N]) stands in for a multi-executor cluster;
every setting below is one that matters identically on a real cluster:
AQE (runtime re-plan + skew-join splitting), UTC session timezone
(oracle comparability), Arrow for pandas-UDF exchange, shuffle
partitions sized to parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """About 60% of the cgroup memory limit, or of physical memory when
    no limit is set. In local mode the driver heap is the whole JVM
    heap, so a default above the host's memory gets the JVM killed."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for f in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(f) as fh:
                value = fh.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limit = min(limit, int(value))
    return f"{int(limit * 0.6) >> 20}m"


def get_spark(
    app_name: str = "graphiti_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    # parse parallelism out of local[N] for shuffle sizing
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
