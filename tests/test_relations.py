"""Catalog reads in operators/relations.py: relation_type against the
schema-scan lookup it replaced, and the write/drop paths never listing
the schema."""

import pytest
from pyspark.errors import AnalysisException

from dbt_core_spark.operators import relations as R


def _listtables_relation_type(spark, rel):
    """Reference: the tableExists + listTables(db) lookup."""
    if not spark.catalog.tableExists(rel):
        return None
    db, _, name = rel.rpartition(".")
    for t in spark.catalog.listTables(db or None):
        if t.name == name.strip("`"):
            return "view" if t.tableType == "VIEW" else "table"
    return "table"


@pytest.fixture()
def relations(spark, schema):
    spark.sql(f"CREATE DATABASE `{schema}`")
    spark.sql(f"CREATE TABLE {schema}.tbl (a INT) USING parquet")
    spark.sql(f"CREATE TABLE {schema}.part (a INT, p INT, q STRING) "
              f"USING parquet PARTITIONED BY (p, q)")
    spark.sql(f"CREATE VIEW {schema}.vw AS SELECT * FROM {schema}.tbl")
    # a view whose upstream is gone, as mid-rebuild of its parent
    spark.sql(f"CREATE TABLE {schema}.gone (a INT) USING parquet")
    spark.sql(f"CREATE VIEW {schema}.stale AS SELECT * FROM {schema}.gone")
    spark.sql(f"DROP TABLE {schema}.gone")
    spark.range(1).createOrReplaceTempView(f"{schema}_tmp")
    yield schema
    spark.catalog.dropTempView(f"{schema}_tmp")


def test_relation_type_matches_listtables_lookup(spark, relations):
    s = relations
    names = [f"{s}.tbl", f"{s}.vw", f"{s}_tmp", f"{s}.part",
             f"{s}.stale", f"{s}.missing", f"no_such_db_{s}.tbl",
             f"`{s}`.`vw`"]
    want = {n: _listtables_relation_type(spark, n) for n in names}
    assert [want[n] for n in names] == [
        "table", "view", "table", "table", "view", None, None, "view"]
    assert {n: R.relation_type(spark, n) for n in names} == want

    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(s)
    try:
        for n in ("tbl", "vw", "part", "missing"):
            assert R.relation_type(spark, n) == _listtables_relation_type(spark, n)
    finally:
        spark.catalog.setCurrentDatabase(prev)


def test_metadata_readers(spark, relations):
    s = relations
    assert R.partition_columns(spark, f"{s}.part") == ["p", "q"]
    assert R.partition_columns(spark, f"{s}.tbl") == []
    # unlike the best-effort readers below, a failed partition lookup
    # raises: an empty answer would make compaction flatten the layout
    with pytest.raises(AnalysisException):
        R.partition_columns(spark, f"{s}.missing")
    spark.sql(f"ALTER TABLE {s}.tbl SET TBLPROPERTIES ('k' = 'v')")
    assert R.table_property(spark, f"{s}.tbl", "k") == "v"
    assert R.table_property(spark, f"{s}.tbl", "absent") is None
    assert R.table_property(spark, f"{s}.missing", "k") is None
    details = R.table_details(spark, f"{s}.tbl")
    assert details["Provider"] == "parquet"
    assert details["Location"].endswith("/tbl")
    assert R.table_details(spark, f"{s}.missing") == {}


def test_write_and_drop_never_list_the_schema(spark, relations, monkeypatch):
    s = relations

    def no_scan(*a, **k):
        raise AssertionError("catalog.listTables called")

    monkeypatch.setattr(spark.catalog, "listTables", no_scan)
    df = spark.range(3).withColumnRenamed("id", "a")
    R.write_table(spark, f"{s}.vw", df)  # view -> table
    R.write_table(spark, f"{s}.tbl", df)  # table -> table
    R.create_view(spark, f"{s}.part", "SELECT 1 AS a")  # table -> view
    R.create_view(spark, f"{s}.part", "SELECT 2 AS a")  # view -> view
    assert R.relation_type(spark, f"{s}.vw") == "table"
    assert R.relation_type(spark, f"{s}.part") == "view"
    assert spark.table(f"{s}.vw").count() == 3
    for rel in (f"{s}.vw", f"{s}.part", f"{s}.tbl", f"{s}.missing"):
        R.drop_relation(spark, rel)
        assert R.relation_type(spark, rel) is None
