"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen so the same code is cluster-ready: AQE handles runtime re-planning
(partition coalescing, skew-join splitting), Arrow accelerates the few
pandas-exchange paths, and shuffle partitioning is explicit rather than
the 200-partition default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "defimap-data-pipelines-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (or all cores). On a real
    cluster the master is supplied externally (spark-submit); we only set
    ``local[N]`` when no master is configured.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # deterministic timestamp semantics regardless of host tz
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # parquet written with isAdjustedToUTC=false would otherwise read as
        # TIMESTAMP_NTZ (Spark 4 inference), breaking unix_micros/window ops;
        # with a UTC session the instant semantics are identical either way.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: driver memory is the only memory knob
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # long-lived sessions accumulate dereferenced cached RDDs /
        # broadcasts until a JVM GC lets the ContextCleaner reap them;
        # the 30 min default lets hours of queries pile up first
        .config("spark.cleaner.periodicGC.interval", "60s")
    )
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    else:  # pragma: no cover - cluster path
        builder = builder.master(os.environ.get("SPARK_MASTER", "local[*]"))

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
