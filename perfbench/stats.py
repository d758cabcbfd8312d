"""Sample statistics shared by every workload (no Spark imports).

``tail`` implements the benchmark's tail rule: report the highest
percentile that still has at least ``TAIL_BEYOND`` samples beyond it,
and say which percentile that was.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    above it.

    With ``n`` samples sorted ascending, the sample at 1-based rank
    ``n - TAIL_BEYOND`` has exactly ``TAIL_BEYOND`` samples beyond it,
    so its percentile ``100 * (n - TAIL_BEYOND) / n`` is the highest one
    the rule allows.  Below ``2 * TAIL_BEYOND`` samples that rank falls
    under the median, which is no tail; the rule then reports the median
    (percentile 50) and flags the value as short of samples instead of
    quoting a lower order statistic as a tail.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    if n >= 2 * TAIL_BEYOND:
        rank = n - TAIL_BEYOND
        return {"value": float(ordered[rank - 1]),
                "percentile": round(100.0 * rank / n, 3),
                "samples": n, "beyond": TAIL_BEYOND, "short": False}
    return {"value": median(values), "percentile": 50.0, "samples": n,
            "beyond": n - (n + 1) // 2, "short": True}


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it covered by child spans.

    Children may overlap (worker threads run concurrently under one
    operation), so the covered part is the length of the union of the
    child intervals clipped to the parent, not the sum of their
    durations.
    """
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(s, start), min(e, end)) for s, e in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered
