"""``tpch_mart``: a small mart over TPC-H-like tables plus ``events``,
where Spark execution and writes (table, merge, snapshot, microbatch)
dominate and parse/compile stay at a few percent.

Models: staging views, an ephemeral nation/region lookup, join and
aggregate tables (one with an enforced contract), an incremental merge,
a microbatch model over ``events``, a timestamp snapshot, and the four
generic tests (unique, not_null, accepted_values, relationships).
Every model reads its sources up to ``var('cutoff')``.

Cycle: ``parse`` (a fresh ``Engine`` at the first cutoff, no
partial-parse cache), ``build`` (``Engine.build()`` into an empty
schema), ``rebuild`` (the cutoff advances by a seeded number of days;
a new ``Engine`` re-``build()``s: merge, new snapshot versions, the
next microbatch batches, tests) and ``query`` (``Engine.show`` of a
seeded slice of the revenue table).

Dates are whole days before today (UTC), because the engine's
microbatch windows end at the wall-clock day.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import inputs
import refcheck
from engine_common import (
    NodeClock, clear_target, engine_cycle_metrics, instrument_engine,
    ready_wait, summarize, write_files,
)

SF = 0.01
# a run crossing UTC midnight shifts the microbatch windows by a day
MAX_ADVANCE = 2
MICROBATCH_DAYS = MAX_ADVANCE + 1
QUERIES_PER_CYCLE = 4
# models whose SQL reads var('cutoff'): the ones a cutoff change edits
CUTOFF_MODELS = ("stg_orders", "stg_events")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")


def _day(base: dt.date, offset: int) -> str:
    return (base + dt.timedelta(days=offset)).isoformat()


def project_files(src_dir: str, begin: str, lookback: int) -> dict[str, str]:
    cut = "'{{ var(\"cutoff\") }}'"
    src = "{{ source('tpch', '%s') }}"
    models = {
        "stg_orders": f"""
{{{{ config(materialized='view') }}}}
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
from {src % 'orders'} where o_orderdate < timestamp{cut}""",
        "stg_lineitem": f"""
{{{{ config(materialized='view') }}}}
select l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
from {src % 'lineitem'}""",
        "stg_customer": f"""
{{{{ config(materialized='view') }}}}
select c_custkey, c_nationkey, c_mktsegment from {src % 'customer'}""",
        "stg_events": f"""
{{{{ config(materialized='view', event_time='ts') }}}}
select event_id, ts, event_type, value from {src % 'events'}
where ts < timestamp{cut}""",
        "nation_region": f"""
{{{{ config(materialized='ephemeral') }}}}
select n.n_nationkey, n.n_name, r.r_name
from {src % 'nation'} n join {src % 'region'} r on n.n_regionkey = r.r_regionkey""",
        "customer_orders": """
{{ config(materialized='table') }}
select c.c_custkey, cast(count(o.o_orderkey) as bigint) as n_orders,
       cast(sum(cast(o.o_totalprice as decimal(18,2))) as decimal(28,2)) as spent,
       max(o.o_orderdate) as last_order_at
from {{ ref('stg_customer') }} c join {{ ref('stg_orders') }} o
  on o.o_custkey = c.c_custkey
group by c.c_custkey""",
        "revenue_by_nation": """
{{ config(materialized='table') }}
select nr.r_name, nr.n_name, cast(date_trunc('week', o.o_orderdate) as date) as week,
       cast(sum(cast(l.l_extendedprice as decimal(18,2))
                * (1 - cast(l.l_discount as decimal(4,2)))) as decimal(28,4)) as revenue,
       count(*) as n_lines
from {{ ref('stg_orders') }} o
join {{ ref('stg_lineitem') }} l on l.l_orderkey = o.o_orderkey
join {{ ref('stg_customer') }} c on c.c_custkey = o.o_custkey
join {{ ref('nation_region') }} nr on nr.n_nationkey = c.c_nationkey
group by 1, 2, 3""",
        "orders_inc": """
{{ config(materialized='incremental', unique_key='o_orderkey',
          incremental_strategy='merge') }}
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
from {{ ref('stg_orders') }}
{% if is_incremental() %}
where o_orderdate >= (select max(o_orderdate) from {{ this }})
{% endif %}""",
        "daily_events": f"""
{{{{ config(materialized='incremental', incremental_strategy='microbatch',
          event_time='ts', batch_size='day', begin='{begin}',
          lookback={lookback}) }}}}
select cast(date_trunc('day', ts) as timestamp) as ts, event_type,
       count(*) as n, cast(sum(cast(value as decimal(18,2))) as decimal(28,2)) as total
from {{{{ ref('stg_events') }}}}
group by 1, 2""",
    }
    files = {"dbt_project.yml": "name: tpch_mart\nprofile: null\n"}
    for name, sql in models.items():
        files[f"models/{name}.sql"] = sql.strip() + "\n"
    files["snapshots/customer_snap.sql"] = """
{% snapshot customer_snap %}
{{ config(unique_key='c_custkey', strategy='timestamp', updated_at='last_order_at') }}
select c_custkey, n_orders, spent, last_order_at from {{ ref('customer_orders') }}
{% endsnapshot %}
"""
    yml = ["version: 2", "sources:", "  - name: tpch", "    tables:"]
    for t in TABLES:
        yml += [f"      - name: {t}",
                f"        meta: {{location: '{src_dir}/{t}.parquet'}}"]
    yml += """models:
  - name: stg_orders
    columns:
      - name: o_orderstatus
        tests:
          - accepted_values: {values: ['F', 'O', 'P']}
  - name: orders_inc
    columns:
      - name: o_orderkey
        tests: [unique, not_null]
      - name: o_custkey
        tests:
          - relationships: {to: "ref('stg_customer')", field: c_custkey}
  - name: customer_orders
    config:
      contract: {enforced: true}
    columns:
      - name: c_custkey
        data_type: bigint
        tests: [not_null]
      - name: n_orders
        data_type: bigint
      - name: spent
        data_type: decimal(28,2)
      - name: last_order_at
        data_type: timestamp_ntz
""".rstrip("\n").split("\n")
    files["models/schema.yml"] = "\n".join(yml) + "\n"
    return files


# DuckDB references, one per checked relation, at cutoff ``{c}``
REFERENCE_SQL = {
    "customer_orders": """
select c.c_custkey as c, count(o.o_orderkey) as n,
       sum(cast(o.o_totalprice as decimal(18,2))) as s, max(o.o_orderdate) as t
from customer c join orders o on o.o_custkey = c.c_custkey
where o.o_orderdate < timestamp '{c}' group by 1""",
    "revenue_by_nation": """
select r.r_name, n.n_name, cast(date_trunc('week', o.o_orderdate) as date),
       sum(cast(l.l_extendedprice as decimal(18,2)) * (1 - cast(l.l_discount as decimal(4,2)))),
       count(*)
from orders o join lineitem l on l.l_orderkey = o.o_orderkey
join customer c on c.c_custkey = o.o_custkey
join nation n on n.n_nationkey = c.c_nationkey
join region r on r.r_regionkey = n.n_regionkey
where o.o_orderdate < timestamp '{c}' group by 1, 2, 3""",
    "orders_inc": """
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
from orders where o_orderdate < timestamp '{c}'""",
    "daily_events": """
select cast(date_trunc('day', ts) as timestamp), event_type, count(*), sum(cast(value as decimal(18,2)))
from events where ts < timestamp '{c}' and ts >= timestamp '{begin}' group by 1, 2""",
}

# SCD-2 history of customer_orders across the two cutoffs: the first
# build's rows, closed where the second cutoff brought a later order,
# plus the new current rows
SNAPSHOT_SQL = """
with a as ({co0}), b as ({co1})
select a.c, a.n, a.s, a.t, a.t as valid_from,
       case when b.t is not null and b.t > a.t then b.t end as valid_to
from a left join b on a.c = b.c
union all
select b.c, b.n, b.s, b.t, b.t, null
from b left join a on a.c = b.c where a.c is null or b.t > a.t"""


class TpchMart:
    name = "tpch_mart"

    def __init__(self, spark, seed: int, threads: int) -> None:
        self.spark, self.seed, self.threads = spark, seed, threads
        self.rng = random.Random(seed * 104729 + 3)
        self.schema = f"pb_mart_{os.getpid()}"
        self.today = dt.datetime.now(dt.timezone.utc).date()
        self.clock = None
        self.engine = None
        self.last = None

    def generate(self, out: str) -> dict:
        rng = random.Random(self.seed)
        # the rebuild advances the cutoff from today-advance to today;
        # the microbatch windows do not depend on the seed, so every seed
        # runs the same number of batches
        self.advance = rng.randint(1, MAX_ADVANCE)
        self.cutoffs = (_day(self.today, -self.advance), _day(self.today, 0))
        self.begin = _day(self.today, -MICROBATCH_DAYS)
        self.src = os.path.join(out, "src")
        rows = inputs.tpch(self.src, self.seed, SF,
                           inputs.base_day_us(self.today))
        self.root = os.path.join(out, "project")
        write_files(self.root, project_files(self.src, self.begin,
                                             MICROBATCH_DAYS))
        return {**rows, "advance_days": self.advance}

    def instrument(self, tracer) -> None:
        instrument_engine(tracer)
        self.clock = NodeClock()

    def _engine(self, cutoff: str):
        from dbt_core_spark import Engine, ProjectDef

        return Engine(self.spark, ProjectDef.from_dir(self.root),
                      schema=self.schema, threads=self.threads,
                      vars={"cutoff": cutoff},
                      callbacks=[self.clock] if self.clock else None)

    def _build(self, eng) -> dict:
        info = summarize(eng.build())
        if self.clock is not None:
            info["ready_wait_s"] = ready_wait(self.clock.take(), eng.manifest)
        return info

    def cycle(self, loop, repeat: bool = True) -> None:
        def parse():
            self.engine = self._engine(self.cutoffs[0])
            return {"nodes": len(self.engine.manifest.nodes)}

        if self.engine is not None:
            self.engine.drop_schema()
        clear_target(self.root)
        loop.op("parse", parse)
        loop.op("build", lambda: self._build(self.engine))

        def rebuild():
            self.engine = self._engine(self.cutoffs[1])
            info = self._build(self.engine)
            info["reparsed_per_changed"] = (self.engine.manifest.reparse_count
                                            / len(CUTOFF_MODELS))
            return info

        loop.op("rebuild", rebuild)

        weeks = max(1, inputs.HISTORY_DAYS // 7 - 1)
        for _ in range(QUERIES_PER_CYCLE if repeat else 1):
            week = _day(self.today, -7 * self.rng.randint(1, weeks))
            sql = ("select r_name, sum(revenue) as revenue, "
                   "sum(n_lines) as n_lines from {{ ref('revenue_by_nation') }} "
                   f"where week <= date'{week}' group by r_name order by r_name")

            def query(week=week, sql=sql):
                rows = self.engine.show(sql, limit=10).collect()
                self.last = (week, [tuple(r) for r in rows])
                return {"rows": len(rows)}

            loop.op("query", query)

    def cycle_metrics(self, records, per: float) -> dict:
        return engine_cycle_metrics(records, per, self.threads)

    def check(self) -> list[str]:
        """Final tables against DuckDB over the same parquet at the last
        cutoff; the snapshot against its SCD-2 history across both."""
        con = refcheck.duckdb_conn({t: f"{self.src}/{t}.parquet" for t in TABLES})
        try:
            c0, c1 = self.cutoffs
            errors: list[str] = []
            for name, sql in REFERENCE_SQL.items():
                got = self.spark.table(f"{self.schema}.{name}").collect()
                want = con.execute(sql.format(c=c1, begin=self.begin)).fetchall()
                errors += refcheck.compare(f"tpch_mart {name}", got, want)
            snap = self.spark.sql(
                "select c_custkey, n_orders, spent, last_order_at, "
                f"dbt_valid_from, dbt_valid_to from {self.schema}.customer_snap"
            ).collect()
            co = REFERENCE_SQL["customer_orders"]
            want = con.execute(SNAPSHOT_SQL.format(
                co0=co.format(c=c0), co1=co.format(c=c1))).fetchall()
            errors += refcheck.compare("tpch_mart customer_snap", snap, want)
            if self.last is None:
                return errors + ["tpch_mart: no query ran"]
            week, rows = self.last
            want = con.execute(f"""
                select r.r_name, sum(cast(l.l_extendedprice as decimal(18,2))
                         * (1 - cast(l.l_discount as decimal(4,2)))), count(*)
                from orders o join lineitem l on l.l_orderkey = o.o_orderkey
                join customer c on c.c_custkey = o.o_custkey
                join nation n on n.n_nationkey = c.c_nationkey
                join region r on r.r_regionkey = n.n_regionkey
                where o.o_orderdate < timestamp '{c1}'
                  and cast(date_trunc('week', o.o_orderdate) as date) <= date '{week}'
                group by 1""").fetchall()
            errors += refcheck.compare("tpch_mart query", rows, want)
            return errors
        finally:
            con.close()

    def cleanup(self) -> None:
        if self.engine is not None:
            self.engine.drop_schema()
