"""Per-layer metrics of a traced run, derived from its spans, its span
counters and the Spark event log. Layer times are means per operation
(with the operation count printed beside them): a run holds too few
micro-batches for a layer percentile to have ten samples beyond it.

Which end-to-end metric each layer metric should move, and on which
workload, is listed in ``cdcbench/README.md``.
"""

from __future__ import annotations

import os
import time

from stats import self_time


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def derive(tracer, window, jobs, micro) -> tuple[dict, dict]:
    """``window`` is the timed phase ``(t0, t1)``; ``jobs`` is
    :func:`spans.read_event_log` output; ``micro`` holds the one-thread
    decode/normalize measurements and the measured cost of one span. Returns ``(metrics, sample counts)``."""
    t0, t1 = window
    spans = tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def timed(name):
        return [s for s in spans if s["name"] == name and t0 <= s["start"] and s["end"] <= t1]

    def dur(s):
        return s["end"] - s["start"]

    def self_of(s):
        return self_time((s["start"], s["end"]),
                         [(c["start"], c["end"]) for c in kids.get(s["id"], [])])

    def child_sum(s, name):
        return sum(dur(c) for c in kids.get(s["id"], []) if c["name"] == name)

    def under(s, name):
        """Spans named ``name`` anywhere below ``s``."""
        out, todo = [], list(kids.get(s["id"], []))
        while todo:
            c = todo.pop()
            if c["name"] == name:
                out.append(c)
            todo.extend(kids.get(c["id"], []))
        return out

    batches = sorted(timed("streaming.apply_batch"), key=lambda s: s["start"])
    merges = timed("lake.merge")
    compacts = timed("lake.compact")
    lookups = timed("lake.lookup")
    events = sum(m["attrs"].get("rows_in", 0) for m in merges)
    gaps = [b["start"] - a["end"] for a, b in zip(batches, batches[1:])
            if a["attrs"].get("query") == b["attrs"].get("query")]

    def group(g):
        sel = [j for j in jobs.values() if j["group"] == g and t0 <= j["submitted"] <= t1]
        return (len(sel), sum(j["tasks"] for j in sel), sum(j["cpu_s"] for j in sel),
                sum(j["shuffle_bytes"] for j in sel))

    m_jobs, m_tasks, m_cpu, m_shuffle = group("lake.merge")
    l_jobs = group("lake.lookup")[0]
    cand = [c for lk in lookups for c in under(lk, "lake.candidate_paths")]
    listed = sum(c["attrs"].get("files_listed", 0) for c in cand)
    read = sum(c["attrs"].get("files_read", 0) for c in cand)
    nm, nl = max(len(merges), 1), max(len(lookups), 1)
    counters = tracer.window_counters
    elapsed = max(t1 - t0, 1e-9)
    in_win = [x for x in spans if t0 <= x["start"] <= t1]
    n_group = sum(1 for x in in_win if x["attrs"].get("job_group"))
    overhead = (n_group * micro["span_cost_group_s"]
                + (len(in_win) - n_group + sum(counters.values())) * micro["span_cost_s"])

    s, b, c = "s", "B", "count"
    out = {
        "session.get_spark_s": (_mean(dur(x) for x in spans if x["name"] == "session.get_spark"), s),
        "sources.decode_events_per_s": (micro["decode_events_per_s"], "1/s"),
        "sources.binlog_bytes_per_event": (micro["binlog_bytes_per_event"], b),
        "functions.normalize_rows_per_s": (micro["normalize_rows_per_s"], "1/s"),
        "streaming.apply_batch_s": (_mean(dur(x) for x in batches), s),
        "streaming.apply_batch_self_s": (_mean(self_of(x) for x in batches), s),
        "streaming.trigger_gap_s": (_mean(gaps), s),
        "streaming.events_per_batch": (events / max(len(batches), 1), c),
        "lake.merge_s": (_mean(dur(x) for x in merges), s),
        "lake.merge_self_s": (_mean(self_of(x) for x in merges), s),
        "lake.merge.jobs": (m_jobs / nm, c),
        "lake.merge.tasks": (m_tasks / nm, c),
        "lake.merge.task_cpu_s_per_event": (m_cpu / max(events, 1), s),
        "lake.merge.shuffle_bytes_per_event": (m_shuffle / max(events, 1), b),
        "lake.bytes_written_per_event": (
            sum(w["attrs"].get("bytes", 0) for m in merges for w in under(m, "lake.walk_written"))
            / max(events, 1), b),
        "lake.bloom_build_s_per_merge": (
            sum(dur(x) for m in merges for x in under(m, "lake.bloom_build")) / nm, s),
        "lake.key_hash_calls_per_merge": (counters.get("key_hash@lake.bloom_build", 0) / nm, c),
        "lake.lookup.commit_at_s": (sum(child_sum(lk, "lake.commit_at") for lk in lookups) / nl, s),
        "lake.lookup.candidate_paths_s": (sum(dur(x) for x in cand) / nl, s),
        "lake.lookup.bloom_probes": (
            sum(len(under(x, "lake.bloom_probe")) for x in cand) / nl, c),
        "lake.lookup.files_read": (read / nl, c),
        "lake.lookup.files_pruned_ratio": (1.0 - read / listed if listed else 0.0, "1"),
        "lake.lookup.jobs": (l_jobs / nl, c),
        "lake.compact_s": (_mean(dur(x) for x in compacts), s),
        "lake.compact_bytes_rewritten": (
            _mean(sum(w["attrs"].get("bytes", 0) for w in under(x, "lake.walk_written"))
                  for x in compacts), b),
        "lake.delta_files_live.max": (max((x["attrs"].get("deltas", 0) for x in cand), default=0), c),
        "trace.spans": (len(spans), c),
        "trace.overhead_share": (overhead / elapsed, "1"),
    }
    samples = {"streaming.apply_batch_s": len(batches), "lake.merge_s": len(merges),
               "lake.compact_s": len(compacts), "lake.lookup": len(lookups),
               "streaming.trigger_gap_s": len(gaps)}
    return out, samples


def write_spans(tracer, trace_dir: str, tag: str) -> str:
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{tag}-{int(time.time())}-{os.getpid()}.jsonl")
    tracer.write(path)
    return path
