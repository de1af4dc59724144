"""Tests of the benchmark's own arithmetic, plus one smoke run per workload.

    python3 -m pytest cdcbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from layers import derive  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (  # noqa: E402
    lateness, min_samples, percentile, self_time, union_length, weighted_percentile,
)


def test_min_samples_leave_ten_beyond():
    assert min_samples(0.5) == 20
    assert min_samples(0.75) == 40
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000


def test_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError):
        percentile(range(19), 0.5)
    with pytest.raises(ValueError):
        percentile(range(99), 0.9)
    assert percentile(range(101), 0.5) == 50
    assert percentile(range(101), 0.9) == 90
    assert percentile(range(40), 0.75) == pytest.approx(29.25)


def test_percentile_smoke_rule_allows_tiny_samples():
    assert percentile([3.0, 1.0], 0.5, beyond=0) == 2.0


def test_weighted_percentile_counts_each_event():
    # 30 events committed at 1 s, 60 at 2 s, 10 at 5 s
    pairs = [(2.0, 60), (1.0, 30), (5.0, 10)]
    assert weighted_percentile(pairs, 0.5) == 2.0
    assert weighted_percentile(pairs, 0.9) == 2.0
    assert weighted_percentile(pairs + [(5.0, 1)], 0.9) == 5.0
    with pytest.raises(ValueError):
        weighted_percentile([(1.0, 99)], 0.9)


def test_union_length_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([]) == 0
    assert union_length([(3, 3), (2, 1)]) == 0


def test_self_time_subtracts_covered_part_of_children():
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(1, 3), (2, 4)]) == 7
    # children reaching outside the span count only inside it
    assert self_time((0, 10), [(-5, 1), (9, 20)]) == 8


def test_lateness_is_never_negative():
    assert lateness([1.0, 2.0, 3.0], [1.5, 1.9, 3.25]) == [0.5, 0.0, 0.25]


def test_spans_nest_and_new_traces_are_roots():
    tr = Tracer()
    with tr.span("outer", new_trace=True) as outer:
        with tr.span("inner") as inner:
            tr.count("calls", 3)
    with tr.span("next", new_trace=True) as nxt:
        pass
    assert inner["parent"] == outer["id"] and inner["trace"] == outer["trace"]
    assert nxt["parent"] is None and nxt["trace"] != outer["trace"]
    assert tr.counters["calls@inner"] == 3


def _span(tr, name, start, end, parent=None, **attrs):
    rec = {"id": len(tr.spans) + 1, "name": name, "parent": parent, "trace": 1,
           "start": start, "end": end, "attrs": attrs}
    tr.spans.append(rec)
    return rec["id"]


def test_derive_self_time_gaps_and_per_merge_counts():
    tr = Tracer()
    b1 = _span(tr, "streaming.apply_batch", 10.0, 12.0, query=1)
    m1 = _span(tr, "lake.merge", 10.2, 11.8, b1, rows_in=100)
    _span(tr, "lake.bloom_build", 11.0, 11.5, m1)
    b2 = _span(tr, "streaming.apply_batch", 12.5, 14.0, query=1)
    _span(tr, "lake.merge", 12.5, 13.5, b2, rows_in=300)
    # a batch of another query: no gap is taken across queries
    b3 = _span(tr, "streaming.apply_batch", 20.0, 21.0, query=2)
    _span(tr, "lake.merge", 20.0, 21.0, b3, rows_in=0)
    tr.window_counters = {"key_hash@lake.bloom_build": 30}
    jobs = {1: {"group": "lake.merge", "submitted": 10.5, "tasks": 4, "cpu_s": 0.8,
                "shuffle_bytes": 400},
            2: {"group": "lake.merge", "submitted": 99.0, "tasks": 9, "cpu_s": 9.0,
                "shuffle_bytes": 9}}
    micro = {"decode_events_per_s": 1.0, "binlog_bytes_per_event": 1.0,
             "normalize_rows_per_s": 1.0, "span_cost_s": 0.0, "span_cost_group_s": 0.0}
    m, n = derive(tr, (0.0, 50.0), jobs, micro)
    assert m["streaming.trigger_gap_s"][0] == pytest.approx(0.5)
    assert n["streaming.trigger_gap_s"] == 1
    assert m["streaming.apply_batch_self_s"][0] == pytest.approx((0.4 + 0.5 + 0.0) / 3)
    assert m["lake.merge_self_s"][0] == pytest.approx((1.1 + 1.0 + 1.0) / 3)
    assert m["streaming.events_per_batch"][0] == pytest.approx(400 / 3)
    assert m["lake.key_hash_calls_per_merge"][0] == pytest.approx(10)
    assert m["lake.merge.jobs"][0] == pytest.approx(1 / 3)  # job 2 is outside the window
    assert m["lake.merge.task_cpu_s_per_event"][0] == pytest.approx(0.8 / 400)


@pytest.mark.parametrize("workload", ["binlog-backfill", "live-tail"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    root = os.path.dirname(BENCH)
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(out["metrics"]) == sorted(names)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    for k, v in out["metrics"].items():
        assert v["unit"] == units[k] and isinstance(v["value"], float)
