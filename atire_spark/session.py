"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (local[32], single JVM); on a real
cluster the same code runs under spark-submit with whatever master the
deployment provides — nothing here assumes local mode except the
defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half the
    machine's physical memory, at most 48 GB. A local-mode JVM whose
    heap limit exceeds the machine keeps growing its heap instead of
    collecting, until the kernel's OOM killer ends the session."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2**31))}g"


def get_spark(
    cpus: int | None = None,
    app: str = "atire_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession.

    ``cpus`` only applies when no master is configured (local mode);
    ``shuffle_partitions`` defaults to 1× the core count: the engine's
    one big shuffle (the postings encode) sizes ITSELF from the
    collection length (build.py shuffle_partitions_for_tokens), so the
    session default only governs the many small shuffles, where
    surplus partitions are pure per-task overhead — measured 1.7×
    faster 140k-turn build at local[32] with 32 vs 128 partitions,
    while the 700k-turn / 8-core case that used to need 4× is covered
    by the build's own sizing. At cluster scale deployments set their
    own conf; AQE still coalesces and splits skew either way.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app)
        .config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_SUBMIT"):
        builder = builder.master(f"local[{cpus}]")
        # single-JVM local mode: the throughput collector handles the
        # Arrow-batch allocation pattern better than G1 at high task
        # counts (measured; real clusters keep their own GC settings)
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
