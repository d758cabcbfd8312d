"""External source registration.

A declared source (ref: SourceDefinition nodes.py:1217) becomes a
catalog **external table** over its files — not a temp view, because
Spark forbids permanent views referencing temp views, and view-
materialized models must be able to reference sources.  External
tables keep full predicate pushdown / partition pruning: the scan is a
plain parquet relation to Catalyst.

Location forms:
- ``/path/to/file-or-dir.parquet`` (or .csv/.json) — external table
- ``catalog:db.table``                              — existing table, as-is
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dbt_core_spark.operators import relations as R
from dbt_core_spark.plans.nodes import Node


def register_source(spark: SparkSession, node: Node, schema: str) -> str:
    """Ensure the source is queryable; return its relation name."""
    loc = node.external_location or ""
    if loc.startswith("catalog:"):
        return loc[len("catalog:"):]
    db = f"{schema}__sources"
    rel = f"{db}.{node.source_name}__{node.name}"
    fmt = (node.external_format or "parquet").lower()
    if not spark.catalog.tableExists(rel):
        R.ensure_database(spark, db)
        if fmt == "csv":
            spark.sql(
                f"CREATE TABLE {rel} USING CSV "
                f"OPTIONS (path '{loc}', header 'true', inferSchema 'true')"
            )
        else:
            spark.sql(f"CREATE TABLE {rel} USING {fmt} OPTIONS (path '{loc}')")
            # hive-style partitioned directories need partition discovery
            # before any rows are visible (the catalog tracks partitions)
            try:
                spark.sql(f"MSCK REPAIR TABLE {rel}")
            except Exception:
                pass  # unpartitioned layout — nothing to recover
    return rel
