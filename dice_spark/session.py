"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are chosen for a multi-executor cluster (AQE on, skew-join handling,
Arrow for the three vectorized UDF seams, a generated-class cache that holds
the engine's working set). They are defaults only: a key the launcher already
set (spark-submit ``--conf``, ``PYSPARK_SUBMIT_ARGS``, spark-defaults.conf)
keeps the launcher's value. Tests override parallelism via
``master``/``shuffle_partitions``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). Working sets measured at sf0.001: one batch build ~200 classes,
# linking_ladder 223, one streaming micro-batch 346, the 58-query registry
# ~2,490 (2,335 on a first pass, 152 more on a repeat; ~1,790 in all once
# stage numbers left the class names, below). Below the working set the cache
# evicts classes before they are reused, so every warm build recompiles them
# all with Janino. A static conf: the JVM sizes the cache once, at its first
# compile.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "dice-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    chosen = {
        "spark.app.name": app_name,
        # Forced even over the launcher: the oracle renders timestamps in UTC,
        # and any other session zone shifts them and breaks parity.
        "spark.sql.session.timeZone": "UTC",
    }
    if master is not None:
        chosen["spark.master"] = master
    if shuffle_partitions is not None:
        chosen["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    chosen.update(extra_conf or {})
    defaults = {
        # Let AQE coalesce shuffles and split skewed partitions at runtime —
        # the head-entity ("the user") blocking key is Zipfian by design.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow batches feed the extraction / link-scoring / revision UDF seams.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # AQE numbers whole-stage codegen stages in the order query stages
        # finish, which varies run to run; with the number in the class name
        # the same pipeline is a new cache key (and a new compile) each time.
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.enabled": os.environ.get("SPARK_UI_ENABLED", "false"),
    }
    # Start the driver JVM (when this process has none) before reading what
    # the launcher set. The master and the heap are fixed at that start, so
    # their defaults ride on it: they go onto the spark-submit command line
    # ahead of the launcher's own arguments, which therefore win.
    launch = {
        "spark.master": os.environ.get("SPARK_MASTER", "local[*]"),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        **chosen,
    }
    SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(launch.items()))
    launcher = SparkConf()  # the driver JVM's spark.* system properties
    builder = SparkSession.builder
    for k, v in defaults.items():
        if not launcher.contains(k):
            builder = builder.config(k, v)
    for k, v in chosen.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
