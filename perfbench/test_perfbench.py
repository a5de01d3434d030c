"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from stats import (  # noqa: E402
    Span,
    Tracer,
    self_time_by_name,
    self_times,
    tail,
    valid_metric_name,
    valid_metric_unit,
)
from workloads import WORKLOADS, block_bounds  # noqa: E402


# ------------------------------------------------------------ tail ----
def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, p, beyond = tail(xs)
    assert (value, p, beyond) == (90, 90, 10)


def test_tail_is_highest_such_percentile():
    for n in (11, 13, 16, 26, 39, 57, 100, 1000):
        xs = [float(i) for i in range(n)]
        value, p, beyond = tail(xs)
        assert beyond >= 10
        # one percentile higher leaves fewer than ten beyond it
        assert n - math.ceil((p + 1) * n / 100) < 10
        assert value == sorted(xs)[n - beyond - 1]


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0, 12.0]
    assert tail(xs) == tail(sorted(xs)) == tail(list(reversed(xs)))


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


# ------------------------------------------------------- self time ----
def _span(i, name, start, end, parent=None, op=None):
    return Span(name, start, end, i, parent, op)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0, op=1),
        _span(1, "build", 1.0, 4.0, parent=0, op=1),
        _span(2, "action", 5.0, 9.0, parent=0, op=1),
        _span(3, "load", 2.0, 3.0, parent=1, op=1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 4.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 6.0, parent=0),
        _span(2, "b", 4.0, 8.0, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_by_name_filters_ops():
    spans = [
        _span(0, "op", 0.0, 2.0, op=1),
        _span(1, "build", 0.5, 1.0, parent=0, op=1),
        _span(2, "op", 2.0, 5.0, op=2),
        _span(3, "build", 2.0, 4.0, parent=2, op=2),
    ]
    assert self_time_by_name(spans, {2}) == pytest.approx({"op": 1.0, "build": 2.0})
    assert self_time_by_name(spans)["build"] == pytest.approx(2.5)


def test_tracer_nests_and_inherits_op(tmp_path):
    tr = Tracer(enabled=True)
    with tr.span("op", op=7):
        with tr.span("build"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 7), ("build", 0, 7)]
    assert all(s.end >= s.start for s in tr.spans)
    path = tmp_path / "spans.jsonl"
    tr.write_jsonl(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["op", "build"]
    assert set(rows[0]) == {"name", "start", "end", "span_id", "parent", "op"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", op=1):
        pass
    assert tr.spans == []


# ---------------------------------------------------- determinism ----
def test_block_bounds_cover_rows_and_follow_seed():
    for seed in range(20):
        bounds = block_bounds(100_000, 6, seed)
        assert bounds == block_bounds(100_000, 6, seed)
        assert bounds[0][0] == 0 and bounds[-1][1] == 100_000
        assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))
        # cuts move at most a quarter block each way: every block keeps half its share
        assert all(hi - lo >= 100_000 / 6 / 2 - 1 for lo, hi in bounds)
    assert block_bounds(100_000, 6, 1) != block_bounds(100_000, 6, 2)


def test_latency_sample_leaves_ten_beyond_the_tail():
    from workloads import BENCH13, REACTIVE_BLOCKS, resolve

    per_pass = {"bench13_sf0.1": len(BENCH13), "reactive_ingest_sf0.1": REACTIVE_BLOCKS}
    for name in WORKLOADS:
        n = resolve(name).warm_passes * per_pass[name]
        assert tail([0.0] * n)[2] >= 10


def test_generated_tables_are_deterministic():
    from datagen import build_tables

    a, b = build_tables(0.001, 42), build_tables(0.001, 42)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(build_tables(0.001, 43)["events"])


# ---------------------------------------------------- metric names ----
def test_metric_name_charset():
    for ok in ("setup_s", "plan.s", "exec.slot_busy_ratio", "op-p50", "9lives"):
        assert valid_metric_name(ok), ok
    for bad in ("", "_lead", ".lead", "has space", "ms/op", "x" * 65, "naïve", "a:b"):
        assert not valid_metric_name(bad), bad


def test_declared_metrics_have_valid_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)
    units = [m["unit"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(valid_metric_unit(u) for u in units)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
