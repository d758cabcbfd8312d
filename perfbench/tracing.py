"""Spans and counters recorded from the benchmark's own files.

The traced run wraps the package's module-level functions and methods
at the layer boundaries (``instrument``); the program itself carries no
tracing code.  Spans live in memory as ``(name, start, end, parent,
op_id, thread)`` and are written out once, when the run ends.

Worker threads of the engine's runner start with an empty span stack;
their spans take the enclosing operation's root span as parent, so an
operation's self time is its wall time minus the union of everything
the layers below it covered, on any thread.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Optional

from stats import self_time


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index or -1, op_id, thread id)
        self.spans: list[tuple[str, float, float, int, int, int]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.op_id = -1
        self._op_root = -1
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent,
                               self.op_id, threading.get_ident()))
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        stack = self._stack()
        stack.pop()
        name, start, _, parent, op, tid = self.spans[idx]
        self.spans[idx] = (name, start, time.perf_counter(), parent, op, tid)

    def op_begin(self, kind: str, op_id: int) -> None:
        """Open an operation's root span; layer spans on any thread nest
        under it until ``op_end``."""
        self.op_id = op_id
        self._op_root = -1
        self._op_root = self.begin(f"op.{kind}")

    def op_end(self) -> None:
        self.end(self._op_root)
        self._op_root = -1

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    def wrap(self, fn: Callable, name: str, calls: Optional[str] = None,
             on_result: Optional[Callable[["Tracer", Any, tuple, dict], None]] = None
             ) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if calls:
                tracer.count(calls)
            if on_result is not None:
                on_result(tracer, out, args, kwargs)
            return out

        return traced

    # -- aggregation ---------------------------------------------------------

    def layer_seconds(self, ops: Optional[set[int]] = None) -> dict[str, float]:
        """Busy seconds per span name: the summed duration of each span
        not nested inside another span of the same name (recursion and
        re-entry count once)."""
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, parent, op, _) in enumerate(self.spans):
            if ops is not None and op not in ops:
                continue
            p = parent
            nested = False
            while p >= 0:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                out[name] += end - start
        return dict(out)

    def unattributed(self, ops: Optional[set[int]] = None) -> float:
        """Operation wall time minus the union of its top-level layer
        spans, summed over operations."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent, op, _ in self.spans:
            if parent >= 0:
                children[parent].append((start, end))
        total = 0.0
        for i, (name, start, end, parent, op, _) in enumerate(self.spans):
            if parent == -1 and name.startswith("op.") and (
                    ops is None or op in ops):
                total += self_time(start, end, children.get(i, []))
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op, tid in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op,
                                    "thread": tid}) + "\n")


def instrument(tracer: Tracer, owner: Any, attr: str, name: str,
               calls: Optional[str] = None, on_result=None) -> None:
    """Replace ``owner.attr`` with a traced wrapper, and every other
    reference to the same function object that the package holds: names
    bound by ``from module import fn`` and values of module-level
    registries such as the materialization table."""
    raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
    is_classmethod = isinstance(raw, classmethod)
    orig = raw.__func__ if is_classmethod else raw
    wrapped = tracer.wrap(orig, name, calls, on_result)
    setattr(owner, attr, classmethod(wrapped) if is_classmethod else wrapped)
    if is_classmethod or isinstance(owner, type):
        return
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("dbt_core_spark") or mod is None:
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, wrapped)
            elif isinstance(val, dict):
                for dk, dv in list(val.items()):
                    if dv is orig:
                        val[dk] = wrapped
