"""SparkSession construction tuned for this engine.

Defaults are chosen for the 100 TB design target (AQE on, skew-join
handling, sensible shuffle parallelism) while remaining fast on
``local[*]`` test runs. Every knob can be overridden by the caller or by
environment variables so the same code runs unchanged on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else two thirds of physical
    memory in whole GiB (at least 1g), capped at 32g."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32, max(1, phys * 2 // 3 // 2**30))}g"

# Defaults that matter at scale. On a 1000-executor cluster the user
# overrides shuffle partitions (or lets AQE coalesce), but the *shape* of
# these settings — AQE, skew-join splitting, partial-aggregation pushdown,
# Arrow for any Python exchange — is what keeps plans healthy at 100 TB.
_SCALE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Keep file splits big enough that a 100 TB scan doesn't create
    # millions of tiny tasks, small enough to parallelize sf0.1 locally.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # Local-mode JVM heap: without this the driver (== all executors in
    # local mode) runs on Spark's 1g default and big-side joins die with
    # notEnoughMemoryToBuildAndBroadcastTable long before the machine is
    # actually full, while a heap larger than the machine gets the
    # process killed instead. Only effective at JVM launch (first
    # get_spark call); on a real cluster the deployment overrides it.
    "spark.driver.memory": _driver_memory(),
    "spark.driver.maxResultSize": "4g",
}


def resolve_master(master: str | None = None) -> str:
    """Explicit arg > SPARK_MASTER env > ``local[$SPARK_GRAFT_CPUS]`` >
    ``local[*]``. On a real cluster the deployment sets the master and
    these local fallbacks never trigger."""
    if master is None:
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    return master


def get_spark(
    app_name: str = "python_tool_setup_spark",
    master: str | None = None,  # kept: a deployment setting
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults on the
    master ``resolve_master(master)`` picks."""
    builder = SparkSession.builder.appName(app_name).master(
        resolve_master(master)
    )
    conf = dict(_SCALE_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
