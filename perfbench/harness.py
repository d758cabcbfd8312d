"""Session lifetime, Spark job accounting and the closed-loop driver.

One client runs one operation at a time, so the Spark work an operation
caused is the set of jobs whose ids were issued between its start and
its end: ``SparkStats`` reads them from the scheduler's job counter and
the application status store (both work with the UI disabled), without
relying on job groups, which the runner's worker threads do not
inherit.
"""

from __future__ import annotations

import os
import resource
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from stats import median, tail

SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.skipped_stages",
              "spark.tasks", "spark.failed_tasks",
              "spark.shuffle_write_bytes", "spark.executor_run_s")


def start_session(work: str, cores: int):
    """A SparkSession on ``local[cores]`` whose scratch, warehouse and
    temp files all stay under ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # the launcher and driver JVMs, py4j and Python workers read these
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from dbt_core_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class SparkStats:
    """Per-operation Spark deltas from the scheduler and status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> int:
        return int(self._dag.nextJobId())

    def jobs_since(self, mark: int) -> int:
        return self.mark() - mark

    def delta(self, mark: int) -> dict[str, float]:
        end = self.mark()
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["spark.jobs"] = float(end - mark)
        seen: set[int] = set()
        for job_id in range(mark, end):
            try:
                job = self._store.job(job_id)
            except Exception:
                continue  # evicted from the status store
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    out["spark.skipped_stages"] += 1
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.failed_tasks"] += st.numFailedTasks()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
        return out


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    info: dict = field(default_factory=dict)


class Loop:
    """Runs operations, one at a time, and keeps their samples."""

    def __init__(self, tracer=None, spark_stats: Optional[SparkStats] = None):
        self.records: list[OpRecord] = []
        self.errors: list[str] = []
        self.tracer = tracer
        self.spark_stats = spark_stats
        self.spark_totals: dict[str, float] = dict.fromkeys(SPARK_KEYS, 0.0)
        self.record = True

    def op(self, kind: str, fn: Callable[[], Optional[dict]]) -> None:
        """Time one operation.  ``fn`` returns an info dict; ``ok: False``
        in it, or an exception, counts the operation as failed."""
        op_id = len(self.records)
        tracing = self.tracer is not None and self.tracer.enabled and self.record
        mark = self.spark_stats.mark() if tracing and self.spark_stats else None
        if tracing:
            self.tracer.op_begin(kind, op_id)
        t0 = time.perf_counter()
        try:
            info = fn() or {}
            ok = bool(info.get("ok", True))
            if not ok:
                self.errors.append(f"{kind}: {info.get('error', 'not ok')}")
        except Exception as e:  # an operation that raises is a failed one
            info, ok = {}, False
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:2000])
        dt = time.perf_counter() - t0
        if tracing:
            self.tracer.op_end()
        if mark is not None:
            for k, v in self.spark_stats.delta(mark).items():
                self.spark_totals[k] += v
        if self.record:
            self.records.append(OpRecord(kind, dt, ok, info))

    def samples(self, kind: str) -> list[float]:
        return [r.seconds for r in self.records if r.kind == kind and r.ok]

    def infos(self, kind: str) -> list[dict]:
        return [r.info for r in self.records if r.kind == kind and r.ok]

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)


def timing_metrics(loop: Loop, kinds: tuple[str, ...]) -> tuple[dict, dict]:
    """``<kind>_p50_s`` and ``<kind>_tail_s`` per operation kind, plus
    the percentile and sample count behind each tail."""
    metrics, detail = {}, {}
    for kind in kinds:
        xs = loop.samples(kind)
        if not xs:
            raise RuntimeError(f"no successful '{kind}' operation")
        t = tail(xs)
        metrics[f"{kind}_p50_s"] = median(xs)
        metrics[f"{kind}_tail_s"] = t["value"]
        detail[f"{kind}_tail_s"] = {k: v for k, v in t.items() if k != "value"}
    return metrics, detail
