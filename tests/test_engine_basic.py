"""End-to-end engine tests, modeled on the reference's functional suite
(ref: tests/functional/basic/test_jaffle_shop.py — seed → run → models
built; tests/functional/adapter/basic/)."""

import pytest

from dbt_core_spark import Engine, ProjectDef
from dbt_core_spark.exceptions import DagCycleError, ParsingError


def tpch_project(sf_dir: str) -> ProjectDef:
    p = ProjectDef(name="jaffle")
    for t in ["orders", "lineitem", "customer", "nation", "region"]:
        p.add_source("tpch", t, f"{sf_dir}/{t}.parquet")
    p.models["stg_orders"] = """
        select o_orderkey as order_id, o_custkey as customer_id,
               cast(o_orderdate as date) as order_date,
               o_orderstatus as status, o_totalprice as total_price
        from {{ source('tpch', 'orders') }}
    """
    p.models["stg_lineitem"] = """
        {{ config(materialized='ephemeral') }}
        select l_orderkey as order_id,
               l_extendedprice * (1 - l_discount) as revenue
        from {{ source('tpch', 'lineitem') }}
    """
    p.models["order_revenue"] = """
        {{ config(materialized='table') }}
        select o.order_id, o.customer_id, o.status, sum(l.revenue) as revenue
        from {{ ref('stg_orders') }} o
        join {{ ref('stg_lineitem') }} l on o.order_id = l.order_id
        group by 1, 2, 3
    """
    return p


def test_run_builds_all_models(spark, schema, sf_dir):
    eng = Engine(spark, tpch_project(sf_dir), schema=schema)
    res = eng.run()
    assert res.ok(), [r.message for r in res.results if r.status == "error"]
    # ephemeral model is never materialized (ref: §2.A ephemeral)
    assert len(res.results) == 2
    assert not spark.catalog.tableExists(f"{schema}.stg_lineitem")
    assert eng.table("order_revenue").count() > 0
    # view vs table types
    types = {t.name: t.tableType for t in spark.catalog.listTables(schema)}
    assert types["stg_orders"] == "VIEW"
    assert types["order_revenue"] == "MANAGED"


def test_ephemeral_cte_compilation(spark, schema, sf_dir):
    eng = Engine(spark, tpch_project(sf_dir), schema=schema)
    eng.run()
    compiled = eng.compile_sql("select * from {{ ref('stg_lineitem') }} limit 1")
    assert "__dbt__cte__stg_lineitem" in compiled


def test_generic_tests_pass_and_fail(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.tests["unique_order_id"] = {
        "type": "unique", "model": "order_revenue", "column": "order_id"}
    p.tests["not_null_order_id"] = {
        "type": "not_null", "model": "order_revenue", "column": "order_id"}
    p.tests["accepted_status"] = {
        "type": "accepted_values", "model": "order_revenue",
        "column": "status", "values": ["O", "F", "P"]}
    # deliberately failing test, severity warn (ref: task/test.py:294-329)
    p.tests["bad_status_warn"] = {
        "type": "accepted_values", "model": "order_revenue",
        "column": "status", "values": ["O"], "severity": "warn"}
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    res = eng.test()
    by_name = {r.unique_id.split(".")[-1]: r for r in res.results}
    assert by_name["unique_order_id"].status == "pass"
    assert by_name["not_null_order_id"].status == "pass"
    assert by_name["accepted_status"].status == "pass"
    assert by_name["bad_status_warn"].status == "warn"
    assert by_name["bad_status_warn"].failures > 0


def test_relationships_test(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.models["customers"] = """
        select c_custkey as customer_id from {{ source('tpch', 'customer') }}
    """
    p.tests["rel_orders_customers"] = {
        "type": "relationships", "model": "stg_orders", "column": "customer_id",
        "to": "ref('customers')", "field": "customer_id"}
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    res = eng.test()
    assert res.results[0].status == "pass"


def test_build_relationships_to_upstream_model(spark, schema, sf_dir):
    """A relationships test whose `to` model feeds the tested model gates
    the tested model's children, and never the tested model itself."""
    p = tpch_project(sf_dir)
    p.models["customers"] = """
        select c_custkey as customer_id from {{ source('tpch', 'customer') }}
        where c_custkey > {{ var('min_custkey', -1) }}
    """
    p.models["cust_orders"] = """
        select o.order_id, o.customer_id
        from {{ ref('stg_orders') }} o
        left join {{ ref('customers') }} c on o.customer_id = c.customer_id
    """
    p.models["cust_order_counts"] = """
        select customer_id, count(*) as n from {{ ref('cust_orders') }}
        group by 1
    """
    p.tests["rel_upstream"] = {
        "type": "relationships", "model": "cust_orders",
        "column": "customer_id", "to": "ref('customers')",
        "field": "customer_id"}
    res = Engine(spark, p, schema=schema).build()
    assert res.ok(), [r.message for r in res.results if r.status != "success"]
    status = {r.unique_id.split(".")[-1]: r.status for r in res.results}
    assert status["rel_upstream"] == "pass"
    assert status["cust_order_counts"] == "success"

    # orphaned customer ids fail the test: the tested model still
    # builds, its child is skipped
    res = Engine(spark, p, schema=schema, vars={"min_custkey": 10}).build()
    status = {r.unique_id.split(".")[-1]: r.status for r in res.results}
    assert status["cust_orders"] == "success"
    assert status["rel_upstream"] == "fail"
    assert status["cust_order_counts"] == "skipped"


def test_build_two_parent_test_gates_common_descendants(spark, schema, sf_dir):
    """A test on two independent models gates the nodes downstream of
    both, even when no direct child of either reads both: a failing
    test skips `mart`, while nodes that read only one parent build."""
    p = tpch_project(sf_dir)
    p.models["customers"] = """
        select c_custkey as customer_id from {{ source('tpch', 'customer') }}
        where c_custkey > {{ var('min_custkey', -1) }}
    """
    p.models["orders_enriched"] = """
        select order_id, customer_id from {{ ref('stg_orders') }}
    """
    p.models["customers_enriched"] = """
        select customer_id from {{ ref('customers') }}
    """
    p.models["mart"] = """
        select o.order_id, c.customer_id
        from {{ ref('orders_enriched') }} o
        join {{ ref('customers_enriched') }} c on o.customer_id = c.customer_id
    """
    p.tests["rel_orders_customers"] = {
        "type": "relationships", "model": "stg_orders",
        "column": "customer_id", "to": "ref('customers')",
        "field": "customer_id"}
    res = Engine(spark, p, schema=schema, vars={"min_custkey": 10}).build()
    status = {r.unique_id.split(".")[-1]: r.status for r in res.results}
    assert status["rel_orders_customers"] == "fail"
    assert status["mart"] == "skipped"
    assert status["orders_enriched"] == "success"
    assert status["customers_enriched"] == "success"

    res = Engine(spark, p, schema=schema).build()
    assert res.ok(), [r.message for r in res.results if r.status != "success"]
    assert {r.unique_id.split(".")[-1]: r.status
            for r in res.results}["mart"] == "success"


def test_store_failures(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.tests["fail_store"] = {
        "type": "accepted_values", "model": "order_revenue", "column": "status",
        "values": ["O"], "store_failures": True, "severity": "warn"}
    eng = Engine(spark, p, schema=schema)
    eng.run()
    res = eng.test()
    r = res.results[0]
    assert r.relation == f"{schema}_dbt_test__audit.fail_store"
    assert spark.table(r.relation).count() == r.failures


def test_singular_test(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.tests["no_negative_revenue"] = {
        "sql": "select * from {{ ref('order_revenue') }} where revenue < 0"}
    eng = Engine(spark, p, schema=schema)
    eng.run()
    assert eng.test().results[0].status == "pass"


def test_build_runs_dag_with_test_edges(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.tests["unique_order_id"] = {
        "type": "unique", "model": "stg_orders", "column": "order_id"}
    eng = Engine(spark, p, schema=schema)
    res = eng.build()
    assert res.ok()
    assert len(res.results) == 3  # 2 models + 1 test


def test_vars_and_env(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.vars["cutoff"] = 10
    p.models["big_orders"] = """
        select * from {{ ref('stg_orders') }} where total_price > {{ var('cutoff') }}
    """
    eng = Engine(spark, p, schema=schema, vars={"cutoff": 100000})
    assert eng.run().ok()
    # CLI var wins over project var (ref: base.py Var precedence)
    assert "100000" in eng.compile_sql("select {{ var('cutoff') }} as v")


def test_hooks(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.model_configs["stg_orders"] = {
        "pre_hook": [f"create table if not exists {schema}.hook_log (id int) using parquet"],
        "post_hook": [f"insert into {schema}.hook_log values (1)"],
    }
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    assert spark.table(f"{schema}.hook_log").count() == 1


def test_undefined_ref_raises(spark, schema):
    p = ProjectDef(name="bad")
    p.models["m"] = "select * from {{ ref('nope') }}"
    with pytest.raises(ParsingError):
        Engine(spark, p, schema=schema)


def test_cycle_detection(spark, schema, sf_dir):
    p = ProjectDef(name="cyc")
    p.models["a"] = "select * from {{ ref('b') }}"
    p.models["b"] = "select * from {{ ref('a') }}"
    eng = Engine(spark, p, schema=schema)
    with pytest.raises(DagCycleError):
        eng.run()


def test_failed_node_skips_descendants(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.models["broken"] = "select nonexistent_col from {{ ref('stg_orders') }}"
    p.models["downstream"] = "select * from {{ ref('broken') }}"
    eng = Engine(spark, p, schema=schema)
    res = eng.run()
    by_name = {r.unique_id.split(".")[-1]: r for r in res.results}
    assert by_name["broken"].status == "error"
    assert by_name["downstream"].status == "skipped"
    assert by_name["order_revenue"].status == "success"


def test_selection(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    eng = Engine(spark, p, schema=schema)
    res = eng.run(select="stg_orders")
    assert {r.unique_id for r in res.results} == {"model.jaffle.stg_orders"}
    res2 = eng.run(select="stg_orders+")  # children too
    assert {r.unique_id for r in res2.results} == {
        "model.jaffle.stg_orders", "model.jaffle.order_revenue"}
    res3 = eng.run(select="+order_revenue")  # ancestors (ephemeral excluded)
    assert {r.unique_id for r in res3.results} == {
        "model.jaffle.stg_orders", "model.jaffle.order_revenue"}


def test_python_model(spark, schema, sf_dir):
    """Python models get real DataFrames (ref: ADR-004; SURVEY §2.E)."""
    p = tpch_project(sf_dir)

    def orders_by_status(dbt, session):
        from pyspark.sql import functions as F

        df = dbt.ref("stg_orders")
        return df.groupBy("status").agg(F.count("*").alias("n"))

    p.python_models["orders_by_status"] = orders_by_status
    p.model_configs["orders_by_status"] = {
        "materialized": "table", "depends_on": ["stg_orders"]}
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    assert eng.table("orders_by_status").count() > 0


def test_seed_from_rows(spark, schema):
    p = ProjectDef(name="seeds")
    p.seeds["countries"] = [
        {"code": "US", "name": "United States"},
        {"code": "FR", "name": "France"},
    ]
    p.models["m"] = "select code from {{ ref('countries') }}"
    eng = Engine(spark, p, schema=schema)
    assert eng.seed().ok()
    assert eng.run().ok()
    assert eng.table("m").count() == 2


def test_show_limit(spark, schema, sf_dir):
    eng = Engine(spark, tpch_project(sf_dir), schema=schema)
    eng.run()
    assert eng.show("select * from {{ ref('stg_orders') }}", limit=3).count() == 3


def test_docs_generate(spark, schema, sf_dir):
    eng = Engine(spark, tpch_project(sf_dir), schema=schema)
    eng.run()
    cat = eng.docs_generate()
    assert "model.jaffle.order_revenue" in cat["nodes"]
    assert "revenue" in cat["nodes"]["model.jaffle.order_revenue"]["columns"]


def test_empty_flag_builds_schemas_with_no_rows(spark, schema, sf_dir):
    """--empty: refs/sources compiled with LIMIT 0
    (ref: tests/functional/adapter/basic/test_empty.py)."""
    eng = Engine(spark, tpch_project(sf_dir), schema=schema)
    res = eng.run(empty=True)
    assert res.ok(), [r.message for r in res.results]
    assert spark.table(f"{schema}.order_revenue").count() == 0
    assert set(spark.table(f"{schema}.order_revenue").columns) == {
        "order_id", "customer_id", "status", "revenue"}
    # a later real run over the empty build refreshes it
    assert eng.run().ok()
    assert eng.table("order_revenue").count() > 0


def test_selection_extra_methods(spark, schema, sf_dir):
    p = tpch_project(sf_dir)
    p.tests["unique_order_id"] = {
        "type": "unique", "model": "order_revenue", "column": "order_id"}
    p.tests["sing"] = {"sql": "select 1 as x where false"}
    eng = Engine(spark, p, schema=schema)
    assert eng.ls(select="test_type:generic") == ["test.jaffle.unique_order_id"]
    assert eng.ls(select="test_type:singular") == ["test.jaffle.sing"]
    assert eng.ls(select="test_name:unique") == ["test.jaffle.unique_order_id"]
    assert len(eng.ls(select="package:jaffle")) == len(eng.ls())
    assert eng.ls(select="config.materialized:table") == ["model.jaffle.order_revenue"]


def test_seed_csv_with_delimiter_and_types(spark, schema, tmp_path):
    """Seed config delimiter + column_types (ref: v1/seed.py:15-24,
    providers.py:1028-1053)."""
    csv = tmp_path / "metrics.csv"
    csv.write_text("id;ratio;when\n1;0.5;2020-01-01\n2;0.75;2020-06-01\n")
    p = ProjectDef(name="sd")
    p.seeds["metrics"] = str(csv)
    p.seed_configs["metrics"] = {
        "delimiter": ";",
        "column_types": {"ratio": "decimal(5,2)", "when": "date"},
    }
    eng = Engine(spark, p, schema=schema)
    assert eng.seed().ok()
    df = spark.table(f"{schema}.metrics")
    types = dict(df.dtypes)
    assert types["ratio"] == "decimal(5,2)" and types["when"] == "date"
    assert df.count() == 2


def test_sort_by_and_analyze_configs(spark, schema, sf_dir):
    """sort_by clusters rows for row-group skipping; analyze records
    column statistics for the CBO."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="sa")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet")
    p.models["t"] = (
        "{{ config(materialized='table', sort_by='o_orderdate', analyze=True) }}"
        "select o_orderkey, o_orderdate, o_totalprice "
        "from {{ source('tpch','orders') }}"
    )
    eng = Engine(spark, p, schema=schema)
    # AQE would coalesce this tiny write into one range partition —
    # disable it so the multi-file layout is observable (at real scale
    # the ranges are many regardless)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert eng.run().ok(), [r.message for r in eng.run().results]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # range clustering: files hold disjoint date ranges, so row-group
    # min/max stats can actually skip for a date predicate
    import pyspark.sql.functions as F

    df = spark.table(f"{schema}.t")
    ranges = sorted(
        (r.lo, r.hi)
        for r in df.groupBy(F.input_file_name().alias("f")).agg(
            F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
        ).collect()
    )
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 <= lo2  # non-overlapping, ordered
    # column stats present for the CBO
    desc = spark.sql(f"DESCRIBE EXTENDED {schema}.t o_totalprice").collect()
    kv = {r.info_name: r.info_value for r in desc}
    assert kv.get("distinct_count") not in (None, "NULL")


def test_inject_ctes_preserves_with_recursive():
    """Ephemeral CTE injection into a model starting WITH RECURSIVE must
    splice AFTER the recursive keyword (it must stay first)."""
    from dbt_core_spark.plans.compiler import inject_ctes_into_sql

    out = inject_ctes_into_sql(
        "with recursive r as (select 1 n union all select n+1 from r where n < 3) "
        "select * from r",
        [("__dbt__cte__e", "select 1 as x")],
    )
    low = out.lower()
    assert low.startswith("with recursive __dbt__cte__e as (select 1 as x),")
    # plain WITH still merges after the keyword
    out2 = inject_ctes_into_sql(
        "with a as (select 1) select * from a", [("c1", "select 2")]
    )
    assert out2.lower().startswith("with c1 as (select 2), a as (select 1)")


def test_fail_fast_skips_remaining(spark, schema, sf_dir):
    """--fail-fast: after the first failure, not-yet-run nodes are
    skipped (ref: flags.FAIL_FAST; runnable.py)."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="ff")
    # a_bad gets a 2-deep dependent chain => highest queue priority, runs
    # first; m_solo is independent and healthy — only fail-fast skips it
    p.models["a_bad"] = "select * from missing_relation_ff"
    p.models["b_child"] = "select * from {{ ref('a_bad') }}"
    p.models["c_grandchild"] = "select * from {{ ref('b_child') }}"
    p.models["m_solo"] = "select 1 as x"
    eng = Engine(spark, p, schema=schema, threads=1)
    res = eng.run(fail_fast=True)
    by = res.by_id
    assert by["model.ff.a_bad"].status == "error"
    assert by["model.ff.m_solo"].status == "skipped"
    assert "fail-fast" in by["model.ff.m_solo"].message
    # without fail_fast the independent node runs fine
    res2 = eng.run()
    assert res2.by_id["model.ff.m_solo"].status == "success"


def test_warn_error_promotes_warnings(spark, schema, sf_dir):
    """--warn-error: a warn-severity test failure becomes a hard fail."""
    from dbt_core_spark import Engine, ProjectDef

    p = ProjectDef(name="we")
    p.models["m"] = "select 1 as id union all select 1"
    p.tests["uniq_warn"] = {"type": "unique", "model": "m", "column": "id",
                            "severity": "warn"}
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    r1 = eng.test()
    assert r1.by_id["test.we.uniq_warn"].status == "warn"  # baseline
    r2 = eng.test(warn_error=True)
    assert r2.by_id["test.we.uniq_warn"].status == "fail"
    assert not r2.ok()


def test_source_column_tests(spark, schema, sf_dir):
    """Source-table column `tests:` expand to generic test nodes against
    source() (ref: sources schema yml; tests/functional/sources/)."""
    p = ProjectDef(name="srct")
    p.add_source("tpch", "orders", f"{sf_dir}/orders.parquet",
                 columns=[{"name": "o_orderkey", "tests": ["unique", "not_null"]},
                          {"name": "o_orderstatus",
                           "tests": [{"accepted_values":
                                      {"values": ["O", "F", "P"]}}]}])
    p.models["stg"] = "select o_orderkey from {{ source('tpch','orders') }}"
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    res = eng.test()
    by_name = {r.unique_id.split(".")[-1]: r for r in res.results}
    assert by_name["source_unique_tpch_orders_o_orderkey"].status == "pass"
    assert by_name["source_not_null_tpch_orders_o_orderkey"].status == "pass"
    assert by_name["source_accepted_values_tpch_orders_o_orderstatus"].status == "pass"
    # indirect selection: selecting the source pulls its tests along
    res2 = eng.test(select="source:tpch.orders")
    assert len(res2.results) == 3


def test_python_model_runs_llm_pipeline_operators(spark, schema, sf_dir):
    """The integration story the LLM-pipeline family is built for: a
    Python model composes corpus operators over dbt.ref() DataFrames
    inside the DAG — here MinHash dedup keeps one doc per near-dup
    cluster, then quality filtering — materialized like any model and
    ref-able downstream."""
    p = ProjectDef(name="llm")
    p.add_source("data", "documents", f"{sf_dir}/documents.parquet")
    p.models["docs"] = "select * from {{ source('data','documents') }}"

    def clean_corpus(dbt, session):
        from pyspark.sql import functions as F

        from dbt_core_spark.operators.dedup import minhash_dedup
        from dbt_core_spark.operators.textstats import quality_features

        docs = dbt.ref("docs")
        kept = minhash_dedup(docs, "text", "doc_id")
        scored = quality_features(kept, "text", "doc_id").filter(
            F.col("quality_score") >= 0.3)
        return kept.join(scored.select("doc_id", "quality_score"), "doc_id")

    p.python_models["clean_corpus"] = clean_corpus
    p.model_configs["clean_corpus"] = {
        "materialized": "table", "depends_on": ["docs"]}
    p.models["by_lang"] = (
        "select lang, count(*) as n from {{ ref('clean_corpus') }} "
        "group by lang")
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    n_docs = eng.table("docs").count()
    n_clean = eng.table("clean_corpus").count()
    assert 0 < n_clean <= n_docs
    assert eng.table("by_lang").count() >= 1
