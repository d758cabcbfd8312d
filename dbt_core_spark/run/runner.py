"""Thread-pooled DAG execution.

Re-expresses GraphRunnableTask.execute_nodes/run_queue (ref:
core/dbt/task/runnable.py:308-441): a pool of worker threads pops ready
nodes from the GraphQueue, compiles each (Jinja render at execution
time, ref: compilation.py:541-571), runs its materialization, marks
done to release children; failures skip all descendants
(ref: _mark_dependent_errors task/runnable.py:445-458).

Spark-side concurrency: all workers share one SparkSession (job
submission is thread-safe); each worker tags its jobs into a FAIR
scheduler pool so concurrent model builds interleave on the cluster
instead of convoying (SURVEY §4 "thread-pool pipelining").
"""

from __future__ import annotations

import datetime as _dt
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import SparkSession

from dbt_core_spark.exceptions import ExecutionError
from dbt_core_spark.operators import relations as R
from dbt_core_spark.operators.materializations import MATERIALIZATIONS
from dbt_core_spark.operators.snapshot import materialize_snapshot
from dbt_core_spark.operators.tests import execute_test
from dbt_core_spark.plans.compiler import compile_node
from dbt_core_spark.plans.graph import GraphQueue, Linker, select_nodes
from dbt_core_spark.plans.nodes import Manifest, Node, NodeType
from dbt_core_spark.sources.readers import register_source
from dbt_core_spark.streaming.microbatch import MicrobatchBuilder
from dbt_core_spark.functions.context import RenderContext, render


@dataclass
class NodeResult:
    unique_id: str
    status: str  # success | error | skipped | pass | warn | fail
    execution_time: float = 0.0
    message: str = ""
    relation: Optional[str] = None
    failures: Optional[int] = None
    batch_results: Optional[list] = None


@dataclass
class RunResults:
    results: list[NodeResult] = field(default_factory=list)
    elapsed: float = 0.0

    @property
    def by_id(self) -> dict[str, NodeResult]:
        return {r.unique_id: r for r in self.results}

    def ok(self) -> bool:
        return all(
            r.status in ("success", "pass", "warn", "partial success")
            for r in self.results
        )


class GraphRunner:
    def __init__(
        self,
        spark: SparkSession,
        manifest: Manifest,
        schema: str,
        cli_vars: Optional[dict[str, Any]] = None,
        threads: int = 4,
        full_refresh: bool = False,
        event_time_start: Optional[_dt.datetime] = None,
        event_time_end: Optional[_dt.datetime] = None,
        on_run_start: Optional[list[str]] = None,
        on_run_end: Optional[list[str]] = None,
        empty: bool = False,
        defer_relations: Optional[dict[str, str]] = None,
        favor_state: bool = False,
        fail_fast: bool = False,
        warn_error: bool = False,
        on_event: Optional[Any] = None,
        event_manager: Optional[Any] = None,
    ):
        self.spark = spark
        self.manifest = manifest
        self.schema = schema
        self.cli_vars = cli_vars or {}
        self.threads = threads
        self.full_refresh = full_refresh
        self.event_time_start = event_time_start
        self.event_time_end = event_time_end
        self.on_run_start = on_run_start or []
        self.on_run_end = on_run_end or []
        self.empty = empty
        self.defer_relations = defer_relations or {}
        self.favor_state = favor_state
        self.fail_fast = fail_fast
        self.warn_error = warn_error
        # structured-event callback (ref: the events/EventManager system,
        # core/dbt/events/ — reduced to node lifecycle dicts here):
        # receives {"event", "ts", "unique_id", ...} per node start/finish
        self.on_event = on_event
        # typed-event fan-out (events.EventManager); on_event keeps the
        # legacy flat-dict contract for existing consumers
        self.event_manager = event_manager
        self.relations: dict[str, str] = {}

    def _emit(self, event: str, **data: Any) -> None:
        """Fire a typed lifecycle event (events.py — reference codes) to
        the EventManager when one is attached, and the same flat dict to
        the legacy ``on_event`` callable.  Observability must never fail
        the run."""
        from dbt_core_spark import events as E

        ctor = {
            "NodeStart": lambda d: E.node_start(d.pop("unique_id"), **d),
            "NodeFinish": lambda d: E.node_finished(
                d.pop("unique_id"), d.pop("status"), **d),
            "StatsLine": lambda d: E.stats_line(d.pop("stats")),
            "RunResultError": lambda d: E.run_result_error(
                d.pop("unique_id"), d.pop("message")),
        }.get(event)
        ev = ctor(dict(data)) if ctor else E.Event(
            "Z999", "debug", event, event, dict(data))
        if self.event_manager is not None:
            self.event_manager.fire(ev)
        if self.on_event is None:
            return
        try:
            # legacy contract: the flat dict keeps the ORIGINAL event
            # name ("NodeFinish", not the typed "NodeFinished") so
            # pre-typed consumers matching on it keep working; the
            # typed code/level/msg keys are additive
            self.on_event({**ev.to_dict(), "event": event})
        except Exception:
            pass  # observability must never fail the run

    # -- relation naming (ref: relation_name components.py:174-199) ---------

    def relation_for(self, node: Node) -> str:
        return f"{self.schema}.{node.identifier}"

    def _prepare(self, resource_types: Optional[set[NodeType]], select: Optional[str],
                 add_test_edges: bool = False, exclude: Optional[str] = None,
                 indirect_selection: str = "eager"):
        R.ensure_database(self.spark, self.schema)
        for src in self.manifest.sources.values():
            self.relations[src.unique_id] = register_source(self.spark, src, self.schema)
        # pre-populate the relation cache with already-built relations, so
        # refs across invocations resolve (ref: adapter relation cache,
        # task/runnable.py:460-486)
        for uid, node in self.manifest.nodes.items():
            if node.is_refable and not node.is_ephemeral:
                rel = self.relation_for(node)
                if R.relation_exists(self.spark, rel):
                    self.relations.setdefault(uid, rel)
                    node.relation_name = rel
        # defer: unselected upstreams missing here resolve to the state
        # environment's relations; --favor-state prefers state even over
        # an existing local relation (ref: providers.py:587-608,594)
        for uid, rel in self.defer_relations.items():
            if self.favor_state:
                self.relations[uid] = rel
            else:
                self.relations.setdefault(uid, rel)
        linker = Linker()
        graph = linker.link_graph(self.manifest)
        if add_test_edges:
            Linker.add_test_edges(self.manifest, graph)
        selected = select_nodes(self.manifest, graph, select)
        if selected is not None:
            # indirect selection: tests attached to the selected nodes
            # ride along per the mode (ref: graph/selector.py
            # expand_selection; eager is dbt's default)
            from dbt_core_spark.plans.graph import expand_indirect_tests

            selected |= expand_indirect_tests(
                self.manifest, graph, selected, indirect_selection)
        excluded = select_nodes(self.manifest, graph, exclude) or set()
        include = set()
        for uid, node in self.manifest.nodes.items():
            if not node.config.get("enabled", True):
                continue
            if resource_types and node.resource_type not in resource_types:
                continue
            if selected is not None and uid not in selected:
                continue
            if uid in excluded:
                continue
            if node.is_ephemeral:
                continue  # never materialized (ref: §2.A ephemeral)
            include.add(uid)
        # expose the selection to compile contexts (ref:
        # selected_resources providers.py:1503)
        self.manifest.selected_resources = sorted(include)
        # queue must include upstream placeholders so ordering works: build
        # subgraph on included nodes with transitive edges preserved
        full_order_graph = graph
        import networkx as nx

        condensed = nx.DiGraph()
        condensed.add_nodes_from(include)
        for uid in include:
            for anc in nx.ancestors(full_order_graph, uid):
                if anc in include:
                    condensed.add_edge(anc, uid)
        return GraphQueue(condensed), include

    # -- public entry points -------------------------------------------------

    def run(self, select: Optional[str] = None,
            resource_types: Optional[set[NodeType]] = None,
            add_test_edges: bool = False,
            exclude: Optional[str] = None,
            indirect_selection: str = "eager") -> RunResults:
        t0 = time.time()
        queue, _ = self._prepare(resource_types, select, add_test_edges, exclude,
                                 indirect_selection)
        results = RunResults()
        self._run_hooks(self.on_run_start, "on-run-start")
        failed: set[str] = set()
        aborted: list[bool] = []  # non-empty once fail-fast tripped

        def worker() -> None:
            while True:
                uid = queue.get()
                if uid is None:
                    return
                node = self.manifest.nodes[uid]
                # --fail-fast: after the first failure, every not-yet-run
                # node is marked skipped (ref: flags.FAIL_FAST,
                # runnable.py fail_fast handling)
                if aborted:
                    results.results.append(
                        NodeResult(uid, "skipped", message="fail-fast abort")
                    )
                    queue.mark_done(uid)
                    continue
                # skip if any ancestor failed (ref: runnable.py:445-458)
                if any(p in failed for p in self._ancestors_in(queue.graph, uid)):
                    results.results.append(
                        NodeResult(uid, "skipped", message="upstream failure")
                    )
                    failed.add(uid)
                    queue.mark_done(uid)
                    continue
                self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", uid)
                # query-comment analog (ref: config/project.py:633):
                # tag Spark jobs with the node id for cluster-UI attribution
                self.spark.sparkContext.setJobDescription(
                    f"{self.manifest.project_name}: {uid}")
                self._emit("NodeStart", unique_id=uid,
                           resource_type=node.resource_type.value)
                res = self._run_node(node)
                if res.status == "warn" and self.warn_error:
                    # --warn-error: warnings are promoted to failures
                    # (ref: flags.WARN_ERROR)
                    res = NodeResult(res.unique_id, "fail", res.execution_time,
                                     res.message or "warning escalated by warn_error",
                                     res.relation, res.failures, res.batch_results)
                if res.status in ("error", "fail"):
                    failed.add(uid)
                    if self.fail_fast:
                        aborted.append(True)
                self._emit("NodeFinish", unique_id=uid, status=res.status,
                           execution_time=round(res.execution_time, 3))
                results.results.append(res)
                queue.mark_done(uid)

        if self.threads <= 1:
            worker()
        else:
            with ThreadPoolExecutor(max_workers=self.threads) as pool:
                futs = [pool.submit(worker) for _ in range(self.threads)]
                for f in futs:
                    f.result()
        self._run_hooks(self.on_run_end, "on-run-end")
        results.elapsed = time.time() - t0
        counts = {"pass": 0, "warn": 0, "error": 0, "skip": 0,
                  "total": len(results.results)}
        for r in results.results:
            if r.status in ("error", "fail"):
                counts["error"] += 1
                self._emit("RunResultError", unique_id=r.unique_id,
                           message=r.message or r.status)
            elif r.status == "warn":
                counts["warn"] += 1
            elif r.status == "skipped":
                counts["skip"] += 1
            else:
                counts["pass"] += 1
        self._emit("StatsLine", stats=counts)
        return results

    @staticmethod
    def _ancestors_in(graph, uid) -> set:
        import networkx as nx

        return nx.ancestors(graph, uid)

    def _run_hooks(self, hooks: list[str], label: str) -> None:
        """ref: RunTask.safe_run_hooks task/run.py:621-716"""
        for h in hooks:
            node = Node(unique_id=f"operation.{self.manifest.project_name}.{label}",
                        name=label, package=self.manifest.project_name,
                        resource_type=NodeType.Operation, raw_code=h)
            ctx = RenderContext(self.manifest, node, mode="runtime", spark=self.spark,
                                relations=self.relations, cli_vars=self.cli_vars)
            self.spark.sql(render(h, ctx))

    # -- node execution ------------------------------------------------------

    def _run_node(self, node: Node) -> NodeResult:
        t0 = time.time()
        rel = self.relation_for(node)
        try:
            self._node_hooks(node, "pre_hook")
            if node.resource_type is NodeType.Seed:
                MATERIALIZATIONS["seed"](self.spark, node, rel)
                status, msg = "success", "seed"
            elif node.resource_type is NodeType.Snapshot:
                self.relations[node.unique_id] = rel
                sql = self._compile(node)
                materialize_snapshot(self.spark, node, rel, sql)
                status, msg = "success", "snapshot"
            elif node.resource_type is NodeType.UnitTest:
                from dbt_core_spark.operators.unit_tests import run_unit_test

                tdef = node.test_metadata["def"]
                ur = run_unit_test(
                    self.spark, self.manifest, node.name, tdef["model"],
                    tdef.get("given", {}), tdef.get("expect", []),
                    relations=self.relations, cli_vars=self.cli_vars,
                    overrides=tdef.get("overrides"),
                )
                self._node_hooks(node, "post_hook")
                return NodeResult(
                    node.unique_id,
                    ur.status if ur.status != "fail" else "fail",
                    message=ur.message,
                    execution_time=time.time() - t0,
                    failures=len(ur.missing_rows) + len(ur.unexpected_rows),
                )
            elif node.resource_type is NodeType.Test:
                sql = self._compile(node)
                outcome = execute_test(
                    self.spark, node, sql, audit_schema=f"{self.schema}_dbt_test__audit"
                )
                self._node_hooks(node, "post_hook")
                return NodeResult(
                    node.unique_id, outcome.status,
                    execution_time=time.time() - t0,
                    failures=outcome.failures, relation=outcome.stored_at,
                )
            elif node.language == "python":
                status, msg = self._run_python_model(node, rel)
            else:
                mat = node.config.get("materialized", "view")
                if mat == "streaming_table":
                    sql = self._compile_with_stream_sources(node)
                    from dbt_core_spark.operators.contracts import enforce_contract
                    from dbt_core_spark.operators.streaming_table import (
                        materialize_streaming_table,
                    )

                    # shape check on the streaming plan (analysis only);
                    # constraint aggregation would be a separate streaming
                    # query — not run here (documented)
                    enforce_contract(self.spark, node,
                                     df=self.spark.sql(sql), check_constraints=False)
                    self.relations[node.unique_id] = rel
                    stream_locs = [
                        src.external_location
                        for dep in node.depends_on
                        if (src := self.manifest.sources.get(dep)) is not None
                        and src.config.get("stream")
                    ]
                    materialize_streaming_table(
                        self.spark, node, rel, sql,
                        source_locations=stream_locs,
                    )
                    status, msg = "success", "streaming_table"
                elif mat == "incremental" and node.config.get("incremental_strategy") == "microbatch":
                    batches = self._run_microbatch(node, rel)
                    self._node_hooks(node, "post_hook")
                    # node status mirrors the reference's batch semantics
                    # (task/run.py:483-562): every batch failed → error;
                    # a mix → partial success (retryable; counts as ok)
                    n_err = sum(1 for b in batches if b.get("status") == "error")
                    if batches and n_err == len(batches):
                        bstatus = "error"
                    elif n_err:
                        bstatus = "partial success"
                    else:
                        bstatus = "success"
                    msgs = "; ".join(
                        b.get("message", "") for b in batches
                        if b.get("status") == "error")[:2000]
                    return NodeResult(
                        node.unique_id, bstatus,
                        execution_time=time.time() - t0,
                        message=msgs, relation=rel, batch_results=batches,
                    )
                else:
                    self.relations[node.unique_id] = rel
                    is_inc = (
                        mat == "incremental"
                        and R.relation_exists(self.spark, rel)
                        and not self.full_refresh
                    )
                    sql = self._compile(node, is_incremental=is_inc)
                    # contract shape check = Catalyst analysis only, no job
                    # (ref: ContractConfig v1/config.py:34-36)
                    from dbt_core_spark.operators.contracts import enforce_contract

                    enforce_contract(self.spark, node, sql=sql)
                    fn = MATERIALIZATIONS.get(mat)
                    if fn is None:
                        raise ExecutionError(f"unknown materialization '{mat}'")
                    if mat == "incremental":
                        fn(self.spark, node, rel, sql, full_refresh=self.full_refresh)
                    else:
                        fn(self.spark, node, rel, sql)
                    status, msg = "success", mat
            self.relations[node.unique_id] = rel
            node.relation_name = rel
            if node.config.get("persist_docs"):
                from dbt_core_spark.operators.contracts import persist_docs

                persist_docs(self.spark, node, rel)
            if node.config.get("grants") is not None:
                from dbt_core_spark.operators.grants import apply_grants

                apply_grants(
                    self.spark, rel, node.config["grants"],
                    relation_kind=R.relation_type(self.spark, rel) or "table",
                )
            self._node_hooks(node, "post_hook")
            return NodeResult(node.unique_id, status, time.time() - t0, msg, rel)
        except Exception as e:
            return NodeResult(
                node.unique_id, "error", time.time() - t0,
                f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=3)}",
            )

    def _compile_with_stream_sources(self, node: Node) -> str:
        """Compile a streaming_table model: its ``stream: true`` sources
        resolve to streaming temp views instead of catalog tables, so the
        compiled SQL produces a streaming DataFrame."""
        from dbt_core_spark.operators.streaming_table import (
            streaming_view_for_source,
        )

        overridden = dict(self.relations)
        for dep in node.depends_on:
            src = self.manifest.sources.get(dep)
            if src is not None and src.config.get("stream"):
                view = f"__stream_{src.source_name}_{src.name}"
                streaming_view_for_source(self.spark, src, view)
                overridden[dep] = view
        return compile_node(
            self.manifest, node, self.spark, overridden,
            cli_vars=self.cli_vars,
        )

    def _compile(self, node: Node, is_incremental: bool = False,
                 event_time_filter: Optional[tuple[str, str, str]] = None) -> str:
        return compile_node(
            self.manifest, node, self.spark, self.relations,
            cli_vars=self.cli_vars, is_incremental=is_incremental,
            event_time_filter=event_time_filter,
            resolve_limit=0 if self.empty else None,
        )

    def _node_hooks(self, node: Node, key: str) -> None:
        hooks = node.config.get(key) or []
        hooks = hooks if isinstance(hooks, list) else [hooks]
        for h in hooks:
            sql = h["sql"] if isinstance(h, dict) else h
            ctx = RenderContext(self.manifest, node, mode="runtime", spark=self.spark,
                                relations=self.relations, cli_vars=self.cli_vars)
            self.spark.sql(render(sql, ctx))

    # -- python models (ref: ADR-004; submit_python_job providers.py:1512) ---

    def _run_python_model(self, node: Node, rel: str) -> tuple[str, str]:
        """Python models are first-class here: ``session`` IS the live
        SparkSession and ``dbt.ref()`` returns a real DataFrame."""
        self.relations[node.unique_id] = rel

        runner = self

        class _DbtObj:
            def __init__(self, n: Node):
                self._node = n
                self.config = _PyConfig(n)
                self.this = rel

            def ref(self, name: str):
                target = runner.manifest.resolve_ref(name)
                if target is None:
                    raise ExecutionError(f"python model ref('{name}') not found")
                return runner.spark.table(runner.relations[target.unique_id])

            def source(self, source_name: str, table_name: str):
                target = runner.manifest.resolve_source(source_name, table_name)
                if target is None:
                    raise ExecutionError(f"source('{source_name}','{table_name}') not found")
                return runner.spark.table(runner.relations[target.unique_id])

            def is_incremental(self) -> bool:
                return (
                    self._node.config.get("materialized") == "incremental"
                    and R.relation_exists(runner.spark, rel)
                    and not runner.full_refresh
                )

        class _PyConfig:
            def __init__(self, n: Node):
                self._cfg = n.config

            def get(self, key: str, default=None):
                return self._cfg.get(key, default)

        df = node.python_fn(_DbtObj(node), self.spark)  # type: ignore[attr-defined]
        mat = node.config.get("materialized", "table")
        if mat == "incremental" and R.relation_exists(self.spark, rel) and not self.full_refresh:
            df.createOrReplaceTempView(f"__py_{node.name}")
            MATERIALIZATIONS["incremental"](
                self.spark, node, rel, f"select * from __py_{node.name}"
            )
        else:
            from dbt_core_spark.operators.contracts import enforce_contract
            from dbt_core_spark.operators.materializations import _as_list

            enforce_contract(self.spark, node, df=df)
            R.write_table(self.spark, rel, df, mode="overwrite",
                          partition_by=_as_list(node.config.get("partition_by")))
        return "success", "python"

    # -- microbatch loop (ref: task/run.py:483-562) --------------------------

    def _run_microbatch(self, node: Node, rel: str) -> list[dict]:
        cfg = node.config
        event_time = cfg["event_time"]
        batch_size = cfg["batch_size"]
        begin = cfg.get("begin")
        if isinstance(begin, str):
            begin = _dt.datetime.fromisoformat(begin)
        if begin is not None and begin.tzinfo is None:
            begin = begin.replace(tzinfo=_dt.timezone.utc)
        self.relations[node.unique_id] = rel
        is_inc = R.relation_exists(self.spark, rel) and not self.full_refresh
        builder = MicrobatchBuilder(
            batch_size=batch_size, begin=begin, lookback=cfg.get("lookback", 1),
            event_time_start=self.event_time_start, event_time_end=self.event_time_end,
        )
        partition_by = node.config.get("partition_by")
        part_cols = (
            partition_by if isinstance(partition_by, list)
            else [partition_by] if partition_by else []
        )

        def run_one(batch) -> dict:
            start_iso = batch.start.strftime("%Y-%m-%d %H:%M:%S")
            end_iso = batch.end.strftime("%Y-%m-%d %H:%M:%S")
            try:
                sql = self._compile(
                    node, is_incremental=is_inc,
                    event_time_filter=(event_time, start_iso, end_iso),
                )
                df = self.spark.sql(sql)
                # per-batch contract enforcement: the shape check is
                # analysis-only; constraints aggregate only this batch's
                # (event-time-filtered) rows, so cost stays O(batch)
                from dbt_core_spark.operators.contracts import enforce_contract

                enforce_contract(self.spark, node, df=df)
                if not R.relation_exists(self.spark, rel):
                    R.write_table(self.spark, rel, df, partition_by=part_cols)
                elif part_cols:
                    # partitioned table: dynamic partition overwrite touches
                    # only this batch's partitions — O(batch), not O(table);
                    # this is what makes a 100 TB backfill tractable
                    target_cols = [
                        f.name for f in self.spark.table(rel).schema.fields]
                    df.select(*target_cols).write.mode("overwrite").insertInto(rel)
                else:
                    # unpartitioned fallback: replace rows in window (full
                    # rewrite — fine locally, configure partition_by at scale)
                    existing = self.spark.table(rel).filter(
                        f"NOT ({event_time} >= timestamp'{start_iso}' "
                        f"AND {event_time} < timestamp'{end_iso}')"
                    )
                    R.rebuild_table(self.spark, rel,
                                    existing.unionByName(df, allowMissingColumns=True))
                return {"batch": batch.batch_id, "status": "success",
                        "start": start_iso, "end": end_iso}
            except Exception as e:  # per-batch failure → retryable
                return {"batch": batch.batch_id, "status": "error",
                        "start": start_iso, "end": end_iso,
                        "message": str(e)}

        batches = builder.build_batches(is_incremental=is_inc)
        # dynamic overwrite set ONCE around the whole run: the session
        # conf is process-global, so per-batch toggling would race under
        # concurrent batches
        old_mode = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out: list[dict] = []
            workers = int(cfg.get("concurrent_batches") or 1)
            if batches and not R.relation_exists(self.spark, rel):
                # first batch creates the table serially; the rest can fan out
                out.append(run_one(batches[0]))
                batches = batches[1:]
            if workers > 1 and part_cols and len(batches) > 1:
                # concurrent batches (ref: dbt concurrent_batches config):
                # disjoint event-time windows → disjoint partitions, and
                # dynamic partition overwrite is per-partition atomic, so
                # parallel batches cannot clobber each other.  Requires
                # partition_by — the unpartitioned fallback rewrites the
                # whole table and must stay serial.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=workers) as ex:
                    out.extend(ex.map(run_one, batches))
            else:
                out.extend(run_one(b) for b in batches)
            return out
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", old_mode)
