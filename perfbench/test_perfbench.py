"""Unit tests of the benchmark's own arithmetic and input generation.
No Spark session; run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from stats import TAIL_BEYOND, median, self_time, tail  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- self time --------------------------------------------------------------

def test_self_time_without_children_is_duration():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(6.0)


def test_self_time_counts_overlapping_children_once():
    # two worker threads inside one operation: [1, 5] ∪ [3, 6] covers 5 s
    assert self_time(0.0, 10.0, [(3.0, 6.0), (1.0, 5.0)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    assert self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)


def test_self_time_nested_children_and_empty_intervals():
    assert self_time(0.0, 4.0, [(1.0, 3.0), (1.5, 2.0), (2.0, 2.0)]) == \
        pytest.approx(2.0)


def test_tracer_unattributed_and_layer_seconds():
    tr = Tracer()
    tr.enabled = True
    tr.op_begin("build", 0)
    outer = tr.begin("a")
    inner = tr.begin("a")  # re-entry of the same layer counts once
    tr.end(inner)
    tr.end(outer)
    tr.op_end()
    spans = tr.spans
    op_dur = spans[0][2] - spans[0][1]
    a_dur = spans[1][2] - spans[1][1]
    assert tr.layer_seconds()["a"] == pytest.approx(a_dur)
    assert tr.unattributed() == pytest.approx(op_dur - a_dur)
    assert spans[2][3] == 1 and spans[1][3] == 0 and spans[0][3] == -1


# -- tail rule --------------------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(xs)
    assert sum(x > t["value"] for x in xs) == TAIL_BEYOND
    assert t["percentile"] == pytest.approx(90.0)
    assert not t["short"]


def test_tail_is_the_highest_such_percentile():
    xs = [float(i) for i in range(1, 41)]
    t = tail(xs)
    assert t["value"] == 30.0 and t["percentile"] == pytest.approx(75.0)
    # one rank higher would leave only nine samples beyond
    assert sum(x > 31.0 for x in xs) == TAIL_BEYOND - 1


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(xs) == tail(sorted(xs))


def test_tail_with_few_samples_falls_back_to_median():
    xs = [3.0, 1.0, 2.0, 10.0]
    t = tail(xs)
    assert t["short"] and t["percentile"] == 50.0
    assert t["value"] == median(xs)
    assert t["samples"] == 4


def test_tail_at_exactly_twenty_samples_is_the_median_rank():
    xs = [float(i) for i in range(20)]
    t = tail(xs)
    assert not t["short"] and t["percentile"] == pytest.approx(50.0)
    assert sum(x > t["value"] for x in xs) == TAIL_BEYOND


# -- seed determinism -------------------------------------------------------

def _project_hash(root: str, seed: int) -> str:
    """Hash of every generated input's rows and of the tpch_mart project."""
    from wl_tpch_mart import project_files

    d = os.path.join(root, f"seed{seed}")
    base = inputs.base_day_us(inputs.dt.date(2024, 6, 1))
    inputs.tpch(d, seed, 0.001, base)
    inputs.documents(f"{d}/documents.parquet", seed, 80)
    inputs.embeddings(f"{d}/embeddings.parquet", seed, 50)
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        table = pq.read_table(os.path.join(d, name))
        h.update(name.encode())
        h.update(json.dumps(table.to_pydict(), default=str).encode())
    files = project_files("SRC", "2024-05-30", 2)
    h.update(json.dumps(files, sort_keys=True).encode())
    return h.hexdigest()


def test_same_seed_gives_same_inputs(tmp_path):
    assert _project_hash(str(tmp_path / "a"), 7) == \
        _project_hash(str(tmp_path / "b"), 7)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _project_hash(str(tmp_path / "a"), 7) != \
        _project_hash(str(tmp_path / "b"), 8)


def test_planted_duplicates_are_near_copies(tmp_path):
    from wl_llm_corpus import shingles

    planted = inputs.documents(str(tmp_path / "d.parquet"), 3, 300)
    texts = pq.read_table(str(tmp_path / "d.parquet")).column("text").to_pylist()
    assert planted
    for src, copy in planted:
        a, b = shingles(texts[src]), shingles(texts[copy])
        assert len(a & b) / len(a | b) >= 0.7
