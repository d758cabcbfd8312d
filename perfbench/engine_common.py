"""Engine-path helpers, apart from any one project: on-disk project
files, run summaries, node lifecycle timing and the layer
instrumentation of parse, compile, run and materialize."""

from __future__ import annotations

import os
import shutil
import threading
import time
from typing import Any

OK_STATUSES = ("success", "pass", "partial success")


def write_files(root: str, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


def clear_target(root: str) -> None:
    """Remove ``target/`` (artifacts and the partial-parse cache), so the
    next ``Engine`` parses from scratch like a fresh checkout."""
    shutil.rmtree(os.path.join(root, "target"), ignore_errors=True)


def summarize(results) -> dict[str, Any]:
    """ok, nodes finished and runner busy seconds of one RunResults."""
    bad = [r for r in results.results if r.status not in OK_STATUSES]
    return {
        "ok": not bad,
        "error": "; ".join(f"{r.unique_id}={r.status}: {r.message[:300]}"
                           for r in bad[:3]),
        "nodes": len(results.results) - len(bad),
        "node_s": sum(r.execution_time for r in results.results),
    }


class NodeClock:
    """Engine event callback: records when each node started and
    finished, to measure how long a ready node waited for a worker."""

    def __init__(self) -> None:
        self.events: list[tuple[str, str, float]] = []
        self._lock = threading.Lock()

    def __call__(self, event) -> None:
        if event.name in ("NodeStart", "NodeFinished"):
            with self._lock:
                self.events.append((event.name, event.data.get("unique_id"),
                                    time.perf_counter()))

    def take(self) -> list[tuple[str, str, float]]:
        with self._lock:
            out, self.events = self.events, []
        return out


def ready_wait(events: list[tuple[str, str, float]], manifest) -> float:
    """Sum over nodes of (start − time its last in-run parent finished).

    A node's parents are its ``depends_on`` nodes run in the same
    invocation, plus the tests on those parents (``build`` orders a
    child after its parents' tests).  Nodes with no parent in the run
    count from the invocation's first start."""
    starts = {u: t for e, u, t in events if e == "NodeStart"}
    finishes = {u: t for e, u, t in events if e == "NodeFinished"}
    if not starts:
        return 0.0
    first = min(starts.values())
    tests_on: dict[str, list[str]] = {}
    for uid in finishes:
        node = manifest.nodes.get(uid)
        if node is not None and node.resource_type.value == "test":
            for dep in node.depends_on:
                tests_on.setdefault(dep, []).append(uid)
    total = 0.0
    for uid, t_start in starts.items():
        node = manifest.nodes.get(uid)
        parents = [p for p in (node.depends_on if node else []) if p in finishes]
        gates = parents + [t for p in parents for t in tests_on.get(p, [])
                           if t != uid]
        ready = max((finishes[p] for p in gates if finishes[p] <= t_start),
                    default=first)
        total += max(0.0, t_start - ready)
    return total


def instrument_engine(tracer) -> None:
    """Wrap the engine's layer boundaries (module functions, methods and
    the materialization registry) with spans and counters."""
    from tracing import instrument

    from dbt_core_spark import api, project
    from dbt_core_spark.functions import context
    from dbt_core_spark.operators import (
        contracts, materializations, relations, snapshot, tests,
    )
    from dbt_core_spark.plans import compiler, graph, parser
    from dbt_core_spark.run import runner
    from dbt_core_spark.sources import readers

    def sql_bytes(tr, out, args, kwargs):
        tr.count("plans.compiler.sql_bytes", len(out or ""))

    def artifact_bytes(tr, out, args, kwargs):
        eng = args[0]
        target = os.path.join(eng.project.project_root or "", "target")
        size = 0
        for name in ("run_results.json", "manifest.json"):
            p = os.path.join(target, name)
            if os.path.exists(p):
                size += os.path.getsize(p)
        comp = os.path.join(target, "compiled")
        for dirpath, _, files in os.walk(comp):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        tr.count("run.artifacts.bytes", size)

    def batches(tr, out, args, kwargs):
        tr.count("streaming.microbatch.batches", len(out or []))

    instrument(tracer, project.ProjectDef, "from_dir", "project.load_s")
    instrument(tracer, parser, "parse_project", "plans.parser.parse_s")
    instrument(tracer, graph.Linker, "link_graph", "plans.graph.link_s")
    instrument(tracer, graph, "select_nodes", "plans.graph.select_s")
    instrument(tracer, compiler, "compile_node", "plans.compiler.compile_s",
               "plans.compiler.calls", sql_bytes)
    instrument(tracer, context, "render", "functions.context.render_s",
               "functions.context.calls")
    for fn in ("relation_exists", "relation_type", "ensure_database"):
        instrument(tracer, relations, fn, "operators.relations.catalog_s",
                   "operators.relations.catalog_calls")
    instrument(tracer, readers, "register_source",
               "sources.readers.register_source_s")
    instrument(tracer, api.Engine, "_write_artifacts", "run.artifacts.write_s",
               on_result=artifact_bytes)
    for kind in ("view", "table", "incremental"):
        instrument(tracer, materializations, f"materialize_{kind}",
                   f"operators.materializations.{kind}_s",
                   f"operators.materializations.{kind}_count")
    instrument(tracer, snapshot, "materialize_snapshot",
               "operators.snapshot.snapshot_s", "operators.snapshot.count")
    instrument(tracer, runner.GraphRunner, "_run_microbatch",
               "streaming.microbatch.batch_s", on_result=batches)
    instrument(tracer, tests, "execute_test", "operators.tests.test_s",
               "operators.tests.count")
    instrument(tracer, contracts, "enforce_contract",
               "operators.contracts.enforce_s")


def engine_cycle_metrics(records, per: float, threads: int) -> dict[str, float]:
    """Runner metrics from the build/rebuild operations of the traced
    cycles: busy node seconds, busy ratio and ready-to-start waits."""
    runs = [r for r in records if r.kind in ("build", "rebuild") and r.ok]
    node_s = sum(r.info.get("node_s", 0.0) for r in runs)
    wall = sum(r.seconds for r in runs)
    reparsed = [r.info["reparsed_per_changed"] for r in runs
                if "reparsed_per_changed" in r.info]
    return {
        "run.runner.node_s": node_s * per,
        "run.runner.worker_busy_ratio": node_s / (threads * wall) if wall else 0.0,
        "run.runner.ready_wait_s":
            sum(r.info.get("ready_wait_s", 0.0) for r in runs) * per,
        "plans.partial.reparsed_per_changed":
            sum(reparsed) / len(reparsed) if reparsed else 0.0,
    }
