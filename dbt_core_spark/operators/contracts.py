"""Model contracts: declared column schemas enforced at build time.

The reference's contract surface (ref: ColumnInfo.data_type/constraints
artifacts/resources/v1/components.py:59-70; ContractConfig
v1/config.py:34-36; checksum over name:type:constraints
contracts/graph/nodes.py:589-612; pinned by
tests/functional/adapter/constraints/) delegates enforcement DDL to the
warehouse.  Here Spark is the warehouse:

- the **shape** check analyzes the compiled plan (`spark.sql(sql).schema`
  — Catalyst analysis only, no job) and compares it to the declared
  columns: missing / unexpected / type-mismatched columns all fail
  before anything is written;
- `not_null` and `check` constraints run as ONE aggregate pass over the
  model's plan before the write (parquet tables cannot enforce DDL
  constraints, so the engine verifies them itself — stronger than the
  reference's warn-only platforms);
- `primary_key` / `unique` / `foreign_key` are recorded as metadata,
  like the reference's not-enforced platforms (they'd need a full
  dedup/join check; use the generic tests for that).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbt_core_spark.exceptions import ContractError
from dbt_core_spark.operators.relations import relation_type

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

    from dbt_core_spark.plans.nodes import Node


def _normalize_type(spark: "SparkSession", data_type: str) -> str:
    """Canonical Spark simpleString for a declared DDL type (so
    'BIGINT', 'bigint' and 'long' all compare equal)."""
    try:
        return StructType.fromDDL(f"__c {data_type}")[0].dataType.simpleString()
    except Exception as e:
        raise ContractError(f"bad contract data_type {data_type!r}: {e}") from e


def enforce_contract(
    spark: "SparkSession",
    node: "Node",
    sql: Optional[str] = None,
    df: Optional["DataFrame"] = None,
    check_constraints: bool = True,
) -> None:
    """Shape + constraint enforcement for ``contract: {enforced: true}``
    models.  Accepts either compiled SQL or an already-built DataFrame
    (python models).  ``check_constraints=False`` runs only the
    analysis-time shape check (streaming plans, where an aggregate pass
    would be a separate query)."""
    contract = node.config.get("contract") or {}
    if not (isinstance(contract, dict) and contract.get("enforced")):
        return
    declared = {name.lower(): c for name, c in node.columns.items()}
    if not declared:
        raise ContractError(
            f"{node.unique_id}: contract is enforced but no columns are declared"
        )
    if df is None:
        df = spark.sql(sql)
    actual = {f.name.lower(): f.dataType.simpleString() for f in df.schema.fields}

    problems: list[str] = []
    for name, col in declared.items():
        got = actual.get(name)
        if got is None:
            problems.append(f"  - {name}: declared but missing from model")
        elif col.data_type is not None:
            want = _normalize_type(spark, col.data_type)
            if got != want:
                problems.append(f"  - {name}: declared {want}, got {got}")
    for name in actual:
        if name not in declared:
            problems.append(f"  - {name}: in model but not in contract")
    if problems:
        raise ContractError(
            f"{node.unique_id}: contract mismatch\n" + "\n".join(problems)
        )
    if check_constraints:
        _enforce_constraints(node, df)


def _enforce_constraints(node: "Node", df: "DataFrame") -> None:
    """Verify not_null/check constraints in one aggregate job."""
    aggs, labels = [], []
    for name, col in node.columns.items():
        for c in col.constraints:
            ctype = (c.get("type") or "").lower() if isinstance(c, dict) else str(c)
            if ctype == "not_null":
                aggs.append(F.sum(F.col(name).isNull().cast("long")))
                labels.append(f"not_null({name})")
            elif ctype == "check" and c.get("expression"):
                aggs.append(F.sum((~F.expr(c["expression"])).cast("long")))
                labels.append(f"check({c['expression']})")
            # primary_key/unique/foreign_key: metadata only (see module doc)
    if not aggs:
        return
    row = df.agg(*aggs).collect()[0]
    violated = [
        f"  - {label}: {n} violating rows"
        for label, n in zip(labels, row)
        if (n or 0) > 0
    ]
    if violated:
        raise ContractError(
            f"{node.unique_id}: constraint violations\n" + "\n".join(violated)
        )


def persist_docs(spark: "SparkSession", node: "Node", rel: str) -> None:
    """Write model/column descriptions into the catalog
    (ref: persist_docs config v1/config.py:86; docs surfaced by
    docs_generate).  Tables get COMMENT ON TABLE + per-column comments;
    views carry the relation comment as a table property."""
    pd_cfg = node.config.get("persist_docs") or {}
    esc = lambda s: s.replace("'", "\\'")  # noqa: E731
    rtype = relation_type(spark, rel)
    if pd_cfg.get("relation") and node.description:
        if rtype == "view":
            spark.sql(
                f"ALTER VIEW {rel} SET TBLPROPERTIES "
                f"('comment' = '{esc(node.description)}')"
            )
        else:
            spark.sql(f"COMMENT ON TABLE {rel} IS '{esc(node.description)}'")
    if pd_cfg.get("columns"):
        if rtype != "table":
            return  # Spark views don't support column comments post-hoc
        existing = {f.name for f in spark.table(rel).schema.fields}
        for name, col in node.columns.items():
            if col.description and name in existing:
                spark.sql(
                    f"ALTER TABLE {rel} ALTER COLUMN `{name}` "
                    f"COMMENT '{esc(col.description)}'"
                )
