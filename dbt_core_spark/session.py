"""SparkSession construction for the engine.

In dbt the connection lives in profiles.yml → Profile → adapter
(ref: core/dbt/config/profile.py); here the "profile" is just a tuned
SparkSession.  Local mode is used for tests; the same settings are what
we would ship to a 1000-executor cluster, minus master/memory:

- AQE on (runtime re-planning, skew-join splitting, partition coalesce)
- shuffle partitions sized to the parallelism, not the 200 default
- Arrow enabled for any pandas-UDF path
- UTC session timezone so timestamp semantics match the DuckDB oracle
- FAIR scheduler so concurrent model builds (thread-per-node, ref:
  core/dbt/task/runnable.py:400-441) interleave instead of FIFO-starving
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt_core_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(  # CPUs we may use
        len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
        else os.cpu_count() or 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
