"""The layered benchmark (perfbench/) wraps package functions by name.
Resolve every name it patches, so a rename fails here instead of in
``perfbench/run.py --trace 1``.  No Spark session is started."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESOLVE = """
import importlib
import engine_common, layers, tracing
engine_common.instrument_engine(tracing.Tracer())
for mod, fn in layers.LLM_OPERATORS:
    getattr(importlib.import_module(f"dbt_core_spark.operators.{mod}"), fn)
"""


def test_perfbench_hooks_resolve():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT, os.path.join(ROOT, "perfbench")]))
    out = subprocess.run([sys.executable, "-c", _RESOLVE], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
