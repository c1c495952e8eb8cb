"""SparkSession construction with the engine's canonical configuration.

All knobs here are public Spark SQL configs. The defaults are sized for the
host (local[N] single JVM); on a real cluster the same builder is used by
``spark-submit --py-files`` with master/cores supplied externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter for this engine, applied identically at every
# parallelism level so plans (and float results) are reproducible.
ENGINE_CONFS: dict[str, str] = {
    # Arrow transport for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Generated-class cache sized to the engine's query surface (r7, guide
    # §1.2 per-task work): the default 100-entry codegen cache thrashes when
    # a session runs the multi-query registry — every re-run of a query whose
    # classes were evicted pays multi-second janino recompilation of its
    # widest generated operators (the 64-min-agg signature stage alone costs
    # seconds to compile). Measured on a 10-query round-robin at sf1.0:
    # sum-of-mins 16.5 s → 12.1 s from this setting alone. Not a local-mode
    # tune: any long-lived session or thrift/job server replaying a query mix
    # hits the same eviction wall; memory cost is bounded (a few thousand
    # compiled classes).
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Session timezone pinned: bucket boundaries must not depend on host TZ.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # ANSI off: engine relies on permissive casts like the reference's pandas.
    "spark.sql.ansi.enabled": "false",
}


def host_memory_bytes() -> int:
    """Memory this process may use: the cgroup v2 ``memory.max`` when it is
    a number (it reads ``max`` when unlimited), else physical memory
    (``MemTotal``)."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            return int(f.read())
    except (OSError, ValueError):
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_heap(limit_bytes: int) -> str:
    """Driver heap for a host with ``limit_bytes`` of memory: a quarter of
    it, capped at 16g. In local mode the driver heap IS the executor heap,
    and it shares the host with the JVM's off-heap memory and the Python
    workers; a 16g heap on a 15 GiB host got the JVM OOM-killed mid-suite.
    The cap is where more heap stopped paying: 16g measured 5-10% faster
    than 8g across the headline bench on a 128 GiB host (less GC across the
    18-query × 3-trial mix)."""
    return f"{min(16 << 10, limit_bytes // 4 >> 20)}m"


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else :func:`driver_heap` of the host."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_heap(host_memory_bytes())


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "mtsad-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[N]`` with N from :func:`default_cpus`,
    and the driver heap comes from :func:`driver_memory`; on a real cluster
    the submitter sizes both explicitly. ``shuffle_partitions`` defaults to
    the core count — one shuffle partition per core keeps the partial→final
    rollup agg a single wave.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[k] / local[*] → k / cpus
        inner = master.split("[")[-1].rstrip("]") if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", driver_memory())
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
