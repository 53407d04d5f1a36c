"""SparkSession construction with scale-appropriate defaults.

Local test/bench mode is a single JVM (``local[N]``); the config is chosen so
the same code runs unchanged on a multi-executor cluster: AQE handles runtime
partition coalescing and skew joins, shuffle partitions default to the core
count locally (on a real cluster you'd size this to ~2-3x total cores or let
AQE coalesce from a higher number), and the session timezone is pinned to UTC
so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_shuffle_partitions(cpus: str) -> int:
    """Shuffle-partition count for a ``local[cpus]`` master: the core count
    clamped to [8, 64]. ``cpus`` is the SPARK_GRAFT_CPUS value ("*" = all)."""
    ncores = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
    return max(8, min(64, int(ncores)))


def _default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` sized from the machine: half of physical
    RAM (the rest stays with the OS, Python workers and page cache),
    clamped to [1g, 32g]. ``phys_bytes`` defaults to this machine's."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(32, phys_bytes // 2**31))}g"


def get_spark(
    app_name: str = "sparkdb",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults honor the driver environment: ``SPARK_GRAFT_CPUS`` sets local
    parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The console progress bar writes \r[Stage N: ...] over stderr,
        # interleaving with whatever a caller logs there.
        .config("spark.ui.showConsoleProgress", "false")
        # In local mode the driver heap IS the executor heap: all local[N]
        # task threads, every broadcast, and every localCheckpoint block
        # live in this one JVM, so the default takes half the machine's
        # RAM (_default_driver_memory); SPARKDB_DRIVER_MEM overrides it.
        # On a real cluster executor memory is configured separately and
        # this only sizes the (lightly loaded) driver.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARKDB_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
