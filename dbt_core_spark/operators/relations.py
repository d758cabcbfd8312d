"""Relation (table/view) management against the Spark catalog.

Replaces the reference's adapter relation cache + rename/swap dance
(ref: task/runnable.py:460-486 cache population; atomic-replace tests
tests/functional/materializations/test_runtime_materialization.py).

Beyond plain ``tableExists`` checks, this module is the single reader
of catalog metadata, one Spark call per fact about one relation.  It
never calls ``catalog.listTables``, which loads every relation in the
schema: per node, that made a build O(nodes x relations).

Local/test format is **parquet** with a drop+rename swap; on a real
cluster the same call sites would use Delta/Iceberg `CREATE OR REPLACE
TABLE` for true atomicity — the strategy layer above is format-agnostic.
"""

from __future__ import annotations

import shutil
from typing import Optional
from urllib.parse import urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def ensure_database(spark: SparkSession, db: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")


def relation_exists(spark: SparkSession, rel: str) -> bool:
    return spark.catalog.tableExists(rel)


def relation_type(spark: SparkSession, rel: str) -> Optional[str]:
    """'table' | 'view' | None.  Only a persistent ``VIEW`` is a view;
    managed, external and temporary relations are all 'table'."""
    try:
        table = spark.catalog.getTable(rel)
    except AnalysisException as e:
        if e.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
            raise
        return None
    return "view" if table.tableType == "VIEW" else "table"


def partition_columns(spark: SparkSession, rel: str) -> list[str]:
    """Partition columns of ``rel``, in order (``catalog.listColumns``
    would launch two Spark jobs per call); raises if ``rel`` is gone."""
    rows = [(r["col_name"] or "").strip()
            for r in spark.sql(f"DESCRIBE TABLE {rel}").collect()]
    head = "# Partition Information"
    tail = rows[rows.index(head) + 1:] if head in rows else []
    return [c for c in tail if c and not c.startswith("#")]


def table_property(spark: SparkSession, rel: str, key: str) -> Optional[str]:
    """Value of table property ``key``; None when unset or unreadable."""
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {rel}").collect()
    except Exception:
        return None
    return next((r["value"] for r in rows if r["key"] == key), None)


def table_details(spark: SparkSession, rel: str) -> dict[str, str]:
    """``DESCRIBE TABLE EXTENDED`` as {name: value} (Provider, Location,
    Statistics, ...; detail rows win over same-named columns) or {}."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {rel}").collect()
    except Exception:
        return {}
    return {(r["col_name"] or "").strip(): (r["data_type"] or "").strip()
            for r in rows}


def drop_relation(spark: SparkSession, rel: str) -> None:
    # Spark 4 raises WRONG_COMMAND_FOR_OBJECT_TYPE if DROP VIEW hits a
    # table (and vice versa) — inspect the catalog first.
    rtype = relation_type(spark, rel)
    if rtype is not None:
        spark.sql(f"DROP {rtype.upper()} IF EXISTS {rel}")


def write_table(
    spark: SparkSession,
    rel: str,
    df: DataFrame,
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    file_format: str = "parquet",
    bucket_by: Optional[list[str]] = None,
    buckets: int = 0,
    sort_by: Optional[list[str]] = None,
    analyze: bool = False,
) -> None:
    """Write df as a managed table.  ``partition_by`` drives the on-disk
    layout — the 100 TB lever for event-time pruning of incremental /
    microbatch tables; ``bucket_by``+``buckets`` pre-shuffles on the join
    key so downstream equi-joins between co-bucketed tables skip the
    exchange entirely (SURVEY §4).

    ``sort_by`` clusters rows within each output file (range-partition +
    sortWithinPartitions) so parquet row-group min/max statistics become
    selective — the data-skipping lever for point/range predicates on
    non-partition columns (the Z-ORDER-lite of a plain parquet lake).
    ``analyze`` runs ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    COLUMNS after the write, feeding Catalyst's CBO (join reordering,
    broadcast decisions at real scale)."""
    rtype = relation_type(spark, rel)
    if rtype == "view":
        spark.sql(f"DROP VIEW IF EXISTS {rel}")
    elif rtype is None:
        _clear_orphan_location(spark, rel)
    if sort_by and not (bucket_by and buckets):
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sort_by]
        df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    writer = df.write.format(file_format).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by and buckets:
        writer = writer.bucketBy(buckets, *bucket_by).sortBy(*(sort_by or bucket_by))
    writer.saveAsTable(rel)
    if analyze:
        spark.sql(f"ANALYZE TABLE {rel} COMPUTE STATISTICS FOR ALL COLUMNS")


def _clear_orphan_location(spark: SparkSession, rel: str) -> None:
    """Remove a leftover managed-table directory that has no catalog
    entry (e.g. a prior session's warehouse dir reused with a fresh
    metastore) — Spark 4's saveAsTable raises LOCATION_ALREADY_EXISTS
    otherwise.  Only file:// warehouses are handled; object-store
    warehouses pair with a persistent metastore, where the catalog and
    the location cannot diverge this way."""
    db, _, name = rel.rpartition(".")
    if not db:
        return
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        if wh.scheme not in ("", "file"):
            return
        shutil.rmtree(
            f"{wh.path}/{db.strip('`')}.db/{name.strip('`')}",
            ignore_errors=True,
        )
    except Exception:
        pass  # saveAsTable will surface any real problem


def rebuild_table(
    spark: SparkSession,
    rel: str,
    df: DataFrame,
    partition_by: Optional[list[str]] = None,
    file_format: str = "parquet",
) -> None:
    """Rewrite ``rel`` from a plan that *reads* ``rel`` (merge/snapshot
    fallback): write to a __dbt_tmp relation, then swap via rename —
    the reference's adapters do the same intermediate-relation + rename
    (pinned by test_runtime_materialization.py).  Delta MERGE replaces
    this wholesale in production."""
    tmp = f"{rel}__dbt_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    writer = df.write.format(file_format).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(tmp)
    drop_relation(spark, rel)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {rel}")
    if partition_by:
        # RENAME moves the table directory but the metastore's
        # per-partition locations still point at the tmp paths —
        # rediscover them from the moved directory layout
        spark.sql(f"ALTER TABLE {rel} RECOVER PARTITIONS")


def create_view(spark: SparkSession, rel: str, sql: str) -> None:
    if relation_type(spark, rel) == "table":
        spark.sql(f"DROP TABLE IF EXISTS {rel}")
    spark.sql(f"CREATE OR REPLACE VIEW {rel} AS {sql}")


def compact_table(
    spark: SparkSession,
    rel: str,
    target_file_mb: int = 128,
    zorder_by: Optional[list[str]] = None,
) -> dict:
    """Small-file compaction — the lake-maintenance OPTIMIZE analog.

    Streaming sinks, microbatch overwrites, and high-parallelism writes
    leave hundreds of KB-scale files per table; at 100 TB that is the
    difference between a scan opening 10⁶ files and 10³.  Reads the
    table, coalesces to ceil(bytes/target) output files (coalesce, not
    repartition — no shuffle unless z-ordering), optionally Z-orders on
    two columns (operators/layout.py) so the rewritten files also get
    tight min/max bounding boxes, and swaps atomically via the same
    tmp-table + rename protocol as rebuild_table.

    Partitioned tables compact within the existing partition layout
    (partition columns are preserved by saveAsTable).  Returns a report
    dict: files/bytes before, target file count, rows."""
    files = spark.table(rel).inputFiles()
    n_files = len(files)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    n_bytes = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        n_bytes += p.getFileSystem(conf).getFileStatus(p).getLen()
    fmt = table_details(spark, rel).get("Provider", "parquet").lower()
    target = max(1, -(-n_bytes // (target_file_mb << 20)))  # ceil

    # preserve hive-partition layout: compaction rewrites files WITHIN
    # the partition scheme, it must never flatten it
    part_cols = partition_columns(spark, rel)
    df = spark.table(rel)
    if zorder_by:
        from dbt_core_spark.operators.layout import zorder_repartition

        a, b = zorder_by
        df = zorder_repartition(df, a, b, num_partitions=target).drop("zcode")
    else:
        df = df.coalesce(target)
    n_rows = df.count()
    rebuild_table(spark, rel, df, partition_by=part_cols or None,
                  file_format=fmt)
    return {
        "files_before": n_files,
        "bytes_before": n_bytes,
        "target_files": target,
        "rows": n_rows,
    }
