"""SparkSession factory with scale-appropriate defaults.

Defaults mirror what we would set on a real cluster (AQE on, sensible
shuffle partitioning, Arrow enabled); in tests we run ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scylla_cdc_java_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # skew-join split is the runtime backstop for hot join keys (the
        # inverted-index self-joins are the exposed surface); default-on
        # in Spark, pinned here so a deployment override can't silently
        # remove it — plan-level salting (operators/salted.py,
        # ngram_jaccard_pairs(n_salts=)) remains the explicit fix when a
        # key is hot enough to dominate a single reducer anyway
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a file index over more than this many paths lists them with a
        # Spark job of one task per path; the replicator reads its 64
        # bucket directories and a trigger's tens of new source files on
        # every micro-batch, and listing those in the driver takes
        # milliseconds where the job took ~0.4 s (streaming sessions clone
        # this conf)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
