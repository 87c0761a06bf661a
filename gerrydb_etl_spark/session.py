"""SparkSession bootstrap tuned for the engine.

Local testing runs on local[N]; the configs below are the ones that
also matter on a real cluster (AQE, shuffle sizing, Arrow, UTC).
Scale notes:
  - spark.sql.shuffle.partitions defaults to #cores locally; on a
    cluster AQE coalesces post-shuffle partitions so a high static
    value is safe.
  - Arrow enabled: every pandas UDF / applyInPandas path is
    Arrow-batched, never row-at-a-time pickle.
  - Session timezone pinned UTC so event-time semantics match the
    DuckDB oracle and are cluster-location-independent.
  - PySpark call-site capture off
    (spark.python.sql.dataFrameDebugging.enabled=false). With it on,
    every Column method and F.* function records the Python file:line
    that called it in the JVM: a class lookup, a conf read and two
    more py4j round trips per call, which made plan building the
    larger half of a short query's wall time. What an error loses is
    only the Python "DataFrame query context" (the file:line of the
    Column call); Spark's own message and the SQL fragment it points
    at stay. A caller's extra_conf can turn it back on for debugging.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "gerrydb_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors an already-running session's master (e.g. a real cluster);
    only sets master when constructing a new local session.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
