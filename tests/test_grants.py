"""Grants config + runtime apply (ref: NodeConfig.grants,
core/dbt/artifacts/resources/v1/config.py:113 MergeBehavior.DictKeyAppend;
merge matrix pinned by tests/functional/configs/test_grant_configs.py)."""

from dbt_core_spark import Engine, ProjectDef
from dbt_core_spark.operators.grants import (
    apply_grants,
    current_grants,
    diff_grants,
    merge_grant_layers,
    normalize_grants,
)


def _project(model_sql: str, model_grants=None, project_grants=None) -> ProjectDef:
    p = ProjectDef(name="gr")
    p.models["my_model"] = model_sql
    if project_grants is not None:
        p.model_defaults["+grants"] = project_grants
    if model_grants is not None:
        p.model_configs["my_model"] = {"grants": model_grants}
    return p


def _grants(spark, p, schema):
    eng = Engine(spark, p, schema=schema)
    return eng, eng.manifest.nodes["model.gr.my_model"].config.get("grants")


def test_grant_config_merge_matrix(spark, schema):
    """The reference's test_grant_configs matrix: project < schema-yml
    < in-file config(); '+key' appends, bare key clobbers, strings
    coerce, repeated config() calls accumulate."""
    proj = {"my_select": ["reporter", "bi"]}

    # project only
    _, g = _grants(spark, _project("select 1 as fun", project_grants=proj), schema)
    assert g == {"my_select": ["reporter", "bi"]}

    # in-file clobber
    _, g = _grants(spark, _project(
        "{{ config(grants={'my_select': ['other_user']}) }} select 1 as fun",
        project_grants=proj), schema)
    assert g == {"my_select": ["other_user"]}

    # in-file extend
    _, g = _grants(spark, _project(
        "{{ config(grants={'+my_select': ['other_user']}) }} select 1 as fun",
        project_grants=proj), schema)
    assert g == {"my_select": ["reporter", "bi", "other_user"]}

    # schema-yml extend + in-file extend stack in precedence order
    _, g = _grants(spark, _project(
        "{{ config(grants={'+my_select': ['other_user']}) }} select 1 as fun",
        model_grants={"+my_select": ["someone"]}, project_grants=proj), schema)
    assert g == {"my_select": ["reporter", "bi", "someone", "other_user"]}

    # string coerces to one-element list
    _, g = _grants(spark, _project(
        "{{ config(grants={'+my_select': 'other_user'}) }} select 1 as fun",
        model_grants={"+my_select": ["someone"]}, project_grants=proj), schema)
    assert g == {"my_select": ["reporter", "bi", "someone", "other_user"]}

    # two config() calls both extend
    _, g = _grants(spark, _project(
        "{{ config(grants={'+my_select': ['other_user']}) }}"
        "{{ config(grants={'+my_select': ['alt_user']}) }} select 1 as fun",
        project_grants=proj), schema)
    assert g == {"my_select": ["reporter", "bi", "other_user", "alt_user"]}


def test_grant_merge_unit_semantics():
    """Layer merge + normalize unit behavior, incl. clobber-then-append
    and dedup."""
    a = merge_grant_layers({"select": ["a", "b"]}, {"+select": ["b", "c"]})
    assert normalize_grants(a) == {"select": ["a", "b", "c"]}
    b = merge_grant_layers({"select": ["a"]}, {"select": ["z"]})
    assert normalize_grants(b) == {"select": ["z"]}
    # a fresh '+' key with no inherited base stays additive for the
    # NEXT layer down, but normalizes cleanly standalone
    c = merge_grant_layers(None, {"+select": ["x"]})
    assert "+select" in c
    assert normalize_grants(c) == {"select": ["x"]}
    assert merge_grant_layers({"+select": ["x"]}, {"+select": ["y", "x"]}) == {
        "+select": ["x", "y"]
    }


def test_diff_grants():
    cur = {"select": ["a", "b"], "insert": ["c"]}
    want = {"select": ["b", "d"], "modify": ["e"]}
    to_grant, to_revoke = diff_grants(cur, want)
    assert to_grant == {"select": ["d"], "modify": ["e"]}
    assert to_revoke == {"select": ["a"], "insert": ["c"]}
    assert diff_grants(want, want) == ({}, {})


def test_grants_recorded_and_revoked_on_config_change(spark, schema):
    """Local catalogs have no ACL layer: grants land in the dbt.grants
    table property; a config change revokes exactly the grantees that
    disappeared (diff, not grant-only drift); docs expose the state."""
    p = _project("select 1 as fun", project_grants={"select": ["reporter", "bi"]})
    p.model_configs["my_model"] = {"materialized": "table"}
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    rel = f"{schema}.my_model"
    assert current_grants(spark, rel) == {"select": ["reporter", "bi"]}
    # catalog artifact surfaces it
    cat = eng.docs_generate()
    assert cat["nodes"]["model.gr.my_model"]["grants"] == {
        "select": ["reporter", "bi"]}

    # config change: bi drops off, insert appears
    p2 = _project("select 1 as fun", project_grants={"select": ["reporter"],
                                                     "insert": ["etl"]})
    p2.model_configs["my_model"] = {"materialized": "table"}
    eng2 = Engine(spark, p2, schema=schema)
    assert eng2.run().ok()
    assert current_grants(spark, rel) == {"insert": ["etl"], "select": ["reporter"]}

    # apply_grants reports the diff it acted on
    res = apply_grants(spark, rel, {"select": ["reporter"]})
    assert res["revoked"] == {"insert": ["etl"]}
    assert res["granted"] == {}
    assert res["via"] == "recorded"  # no ACL catalog in local mode
    assert current_grants(spark, rel) == {"select": ["reporter"]}


def test_grants_on_view(spark, schema):
    """View materializations record grants via ALTER VIEW."""
    p = _project("{{ config(grants={'select': ['viewer']}) }} select 1 as fun")
    eng = Engine(spark, p, schema=schema)
    assert eng.run().ok()
    assert current_grants(spark, f"{schema}.my_model") == {"select": ["viewer"]}


def test_malformed_grants_property_reads_as_no_grants(spark, schema):
    """A hand-edited dbt.grants property that is not a JSON object is
    treated as no recorded grants, so apply_grants regrants from scratch."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")
    rel = f"{schema}.hand_edited"
    spark.sql(f"CREATE TABLE {rel} (a INT) USING parquet")
    for bad in ("not json", "[1, 2]"):
        spark.sql(f"ALTER TABLE {rel} SET TBLPROPERTIES ('dbt.grants' = '{bad}')")
        assert current_grants(spark, rel) == {}
    res = apply_grants(spark, rel, {"select": ["reporter"]})
    assert res["granted"] == {"select": ["reporter"]}
    assert current_grants(spark, rel) == {"select": ["reporter"]}
