"""SparkSession factory with the engine's standard configuration.

Local mode is the test bed; every knob is chosen so the same code runs
unchanged on a multi-executor cluster (AQE on, adaptive coalesce, UTC,
Arrow for the Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def effective_cpus() -> int:
    """Cores the local session runs with: SPARK_GRAFT_CPUS when set,
    else os.cpu_count() (4 if unknown)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 4
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer core count, got {raw!r}"
        ) from None


def get_spark(
    app_name: str = "leann-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = effective_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The generated-code cache defaults to 100 entries; a suite of
        # ~30 multi-stage queries overflows it, forcing janino
        # recompiles of warm plans. Static conf — set before start.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        # local[N] runs all N task threads in the driver JVM: size the
        # heap for that (the box has 128 GiB) or full-GC pauses show up
        # as multi-second per-query spikes.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=100",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

