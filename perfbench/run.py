"""Layered benchmark for dbt_core_spark.

    python3 perfbench/run.py --workload tpch_mart --seed 1 --seconds 1 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json):

- ``tpch_mart``  the engine path: parse, compile, materializations, tests
- ``llm_corpus`` LLM-data operators, no Engine

One client runs a closed loop of cycles of operations (``parse``,
``build``, ``rebuild``, ``query``) for at least ``--seconds`` and at
least one cycle, after set-up and an untimed warm-up cycle.  Outputs
are then checked against independent references (DuckDB, NumPy),
outside the timed region.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run measures half its window
untraced and half traced; the difference is the tracing overhead.
Spans of the traced half are written to ``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
# Spark's Python workers import the package's UDF modules by name
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import harness  # noqa: E402
import layers  # noqa: E402
from stats import median  # noqa: E402

SETUP_REPEATS = 3
WORKLOADS = ("tpch_mart", "llm_corpus")


def make_workload(name: str, spark, seed: int, threads: int):
    if name == "tpch_mart":
        from wl_tpch_mart import TpchMart as cls
    else:
        from wl_llm_corpus import LlmCorpus as cls
    return cls(spark, seed, threads)


def end_to_end(wl, loop: harness.Loop, setup_s: float, rss_mb: float
               ) -> tuple[dict, dict]:
    metrics, detail = harness.timing_metrics(
        loop, ("build", "rebuild", "query"))
    builds = loop.infos("build")
    metrics["nodes_per_s"] = (sum(i["nodes"] for i in builds)
                              / sum(loop.samples("build")))
    metrics["setup_s"] = setup_s
    metrics["py_peak_rss_mb"] = rss_mb
    return metrics, detail


def measure(wl, loop: harness.Loop, tracer, window: float, traced: bool
            ) -> tuple[list[float], list[float], int]:
    """Whole cycles for at least ``window`` seconds and one cycle.  A
    traced run switches tracing on halfway, after at least one untraced
    cycle, and runs at least one traced cycle.  Returns the untraced and
    traced cycle times and the index of the first traced operation."""
    untraced: list[float] = []
    traced_s: list[float] = []
    first_traced_op = 0
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if (elapsed >= window and (untraced or traced_s)
                and (not traced or traced_s)):
            return untraced, traced_s, first_traced_op
        if traced and not tracer.enabled and untraced and elapsed >= window / 2:
            tracer.enabled = True
            first_traced_op = loop.attempted
        c0 = time.perf_counter()
        wl.cycle(loop)
        (traced_s if traced and tracer.enabled else untraced).append(
            time.perf_counter() - c0)


def run_workload(args, spark, work: str, out_dir: str, cores: int,
                 session_s: float) -> dict:
    wl = make_workload(args.workload, spark, args.seed, cores)
    try:
        setups, sizes = [], {}
        for k in range(SETUP_REPEATS):
            d = os.path.join(work, f"inputs{k}")
            t = time.perf_counter()
            sizes = wl.generate(d)
            setups.append(time.perf_counter() - t)
            if k + 1 < SETUP_REPEATS:
                shutil.rmtree(d, ignore_errors=True)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            wl.instrument(tracer)
        loop = harness.Loop(tracer,
                            harness.SparkStats(spark) if args.trace else None)

        t = time.perf_counter()
        loop.record = False
        # warm-up: every operation once, for JIT, codegen, Python workers
        # and file caches
        wl.cycle(loop, repeat=False)
        warmup_s = time.perf_counter() - t
        loop.record = True
        warm_errors, loop.errors = loop.errors, []

        untraced, traced, first_traced_op = measure(
            wl, loop, tracer, args.seconds, bool(args.trace))
        rss_mb = harness.peak_rss_mb()
        if tracer is not None:
            tracer.enabled = False

        try:
            check_errors = wl.check()
        except Exception as e:
            check_errors = [f"check raised {type(e).__name__}: {e}"]
        errors = warm_errors + loop.errors + check_errors
        for e in errors[:20]:
            print("ERROR " + e, file=sys.stderr)
        # the output check counts as one more operation
        attempted = loop.attempted + 1
        failed = loop.failed + bool(warm_errors or check_errors)

        if args.trace:
            metrics, detail = layer_metrics(
                wl, loop, tracer, first_traced_op, len(traced),
                median(untraced), median(traced)), {}
            metrics["harness.session_start_s"] = session_s
            metrics["harness.warmup_s"] = warmup_s
            tracer.dump(os.path.join(
                out_dir, f"spans_{args.workload}_s{args.seed}.jsonl"))
        else:
            metrics, detail = end_to_end(wl, loop, median(setups), rss_mb)
        report = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "sizes": sizes, "session_start_s": session_s,
            "warmup_s": warmup_s, "cycles": len(untraced) + len(traced),
            "samples": {k: loop.samples(k)
                        for k in ("parse", "build", "rebuild", "query")},
            "tails": detail, "errors": errors[:20],
            "failed_ratio": failed / attempted,
        }
        with open(os.path.join(out_dir, f"report_{args.workload}_s{args.seed}"
                               f"_t{int(args.trace)}.json"), "w") as f:
            json.dump({**report, "metrics": metrics}, f, indent=1)
        print(json.dumps(report), file=sys.stderr)
        return {
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": metrics[name], "unit": unit}
                        for name, unit in (layers.PER_LAYER if args.trace
                                           else layers.END_TO_END)},
        }
    finally:
        wl.cleanup()


def run(args) -> dict:
    cores = (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
             else os.cpu_count() or 1)
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work, cores)
        try:
            spark.range(1).collect()
            return run_workload(args, spark, work, out_dir, cores,
                                time.perf_counter() - t0)
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(wl, loop, tracer, first_op: int, cycles: int,
                  untraced_cycle_s: float, traced_cycle_s: float) -> dict:
    """Per-layer metrics of the traced half, per cycle."""
    ops = set(range(first_op, loop.attempted))
    per = 1.0 / max(cycles, 1)
    out = {name: 0.0 for name, _ in layers.PER_LAYER}
    for name, secs in tracer.layer_seconds(ops).items():
        if not name.startswith("op."):
            out[name] = secs * per
    for name, val in tracer.counters.items():
        out[name] = val * per
    for name, val in loop.spark_totals.items():
        out[name] = val * per
    out.update(wl.cycle_metrics(loop.records[first_op:], per))
    out["harness.unattributed_s"] = tracer.unattributed(ops) * per
    out["harness.trace_overhead_s"] = traced_cycle_s - untraced_cycle_s
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
