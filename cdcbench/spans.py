"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the engine's layers from the
benchmark's own files: call sites in ``workloads.py`` plus the wrappers that
:func:`instrument` installs over engine functions for the length of a run.
Nothing inside ``mysql_secure_agent_spark`` is edited. A span holds a name,
start, end, parent span and trace id (one trace per micro-batch or per
lookup). Spans stay in memory and are written out as JSON lines when the
run ends.

Spans opened with ``job_group=True`` also set the Spark job group to the
span name, so the Spark event log attributes jobs, tasks, task CPU and
shuffle bytes to the layer that submitted them (see :func:`read_event_log`).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self.window_counters: Counter = Counter()
        self.sc = None  # SparkContext, set once the session is up
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        # parent for spans opened on threads with no open span of their own
        # (the manifest walk's thread pool runs inside a merge)
        self._hint: dict | None = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else self._hint

    @contextmanager
    def span(self, name: str, new_trace: bool = False, job_group: bool = False,
             hint: bool = False, **attrs):
        parent = None if new_trace else self.current()
        attrs["job_group"] = job_group
        sid = next(self._ids)
        trace = sid if new_trace or parent is None else parent["trace"]
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": trace, "start": time.time(), "end": None, "attrs": attrs}
        prev_group = None
        if job_group and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        st = self._stack()
        st.append(rec)
        if hint:
            self._hint = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if hint:
                self._hint = None
            if job_group and self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, n: int = 1) -> None:
        """Count an event under ``key@<innermost open span name>``."""
        cur = self.current()
        with self._lock:
            self.counters[f"{key}@{cur['name'] if cur else '-'}"] += n

    def open_window(self) -> None:
        """Start counting afresh (the timed phase begins)."""
        with self._lock:
            self.counters.clear()

    def close_window(self) -> None:
        with self._lock:
            self.window_counters = Counter(self.counters)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(s, default=str) + "\n")
            f.write(json.dumps({"counters": dict(self.counters)}) + "\n")

    def span_cost_s(self, job_group: bool, n: int = 200) -> float:
        """Measured cost of one empty span on this host, with or without the
        Spark job-group calls (the direct tracing overhead)."""
        probe = Tracer()
        probe.sc = self.sc
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", job_group=job_group):
                pass
        return (time.perf_counter() - t) / n


def _wrap(tracer: Tracer, fn, name: str, job_group: bool = False,
          hint: bool = False, on_result=None):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(name, job_group=job_group, hint=hint) as rec:
            out = fn(*args, **kwargs)
            if on_result is not None:
                rec["attrs"].update(on_result(args, kwargs, out))
            return out

    return wrapped


def _candidate_attrs(args, kwargs, out):
    commit = args[1]
    buckets = args[2] if len(args) > 2 else kwargs.get("buckets")
    listed = [e for b, es in commit.files.items()
              if buckets is None or int(b) in buckets for e in es]
    return {"files_read": len(out), "files_listed": len(listed),
            "deltas": sum(e["kind"] == "delta" for e in listed)}


def _walk_attrs(args, kwargs, out):
    return {"bytes": sum(e.get("bytes", 0) for es in out.values() for e in es)}


def _merge_attrs(args, kwargs, out):
    return {"rows_in": out.get("rows_in", 0) if isinstance(out, dict) else 0}


@contextmanager
def instrument(tracer: Tracer):
    """Install span wrappers over the engine's layer entry points for the
    duration of the block, then restore the originals."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from mysql_secure_agent_spark.lake import bloom as bloom_mod
    from mysql_secure_agent_spark.lake import table as table_mod

    LT = table_mod.LakeTable
    saved = [
        (LT, "merge", LT.merge),
        (LT, "compact", LT.compact),
        (LT, "commit_at", LT.commit_at),
        (LT, "candidate_paths", LT.candidate_paths),
        (LT, "_walk_written", LT._walk_written),
        (table_mod, "_file_key_bloom", table_mod._file_key_bloom),
        (bloom_mod, "bloom_contains", bloom_mod.bloom_contains),
        (bloom_mod, "key_hash", bloom_mod.key_hash),
        (DataStreamWriter, "foreachBatch", DataStreamWriter.foreachBatch),
    ]
    LT.merge = _wrap(tracer, LT.merge, "lake.merge", job_group=True, hint=True,
                     on_result=_merge_attrs)
    LT.compact = _wrap(tracer, LT.compact, "lake.compact", job_group=True, hint=True)
    LT.commit_at = _wrap(tracer, LT.commit_at, "lake.commit_at")
    LT.candidate_paths = _wrap(tracer, LT.candidate_paths, "lake.candidate_paths",
                               on_result=_candidate_attrs)
    LT._walk_written = _wrap(tracer, LT._walk_written, "lake.walk_written",
                             on_result=_walk_attrs)
    table_mod._file_key_bloom = _wrap(tracer, table_mod._file_key_bloom,
                                      "lake.bloom_build")
    bloom_mod.bloom_contains = _wrap(tracer, bloom_mod.bloom_contains,
                                     "lake.bloom_probe")
    key_hash = bloom_mod.key_hash

    def counted_key_hash(*a, **k):
        tracer.count("key_hash")
        return key_hash(*a, **k)

    bloom_mod.key_hash = counted_key_hash
    foreach = DataStreamWriter.foreachBatch
    queries = itertools.count(1)

    def traced_foreach(self, func):
        query = next(queries)

        def handler(df, epoch_id):
            with tracer.span("streaming.apply_batch", new_trace=True,
                             job_group=True, query=query):
                return func(df, epoch_id)

        return foreach(self, handler)

    DataStreamWriter.foreachBatch = traced_foreach
    try:
        yield tracer
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def read_event_log(path: str) -> dict:
    """Per job group: jobs, tasks, executor CPU seconds and shuffle bytes
    written, from a Spark event log (JSON lines). Jobs are keyed to their
    group through the ``spark.jobGroup.id`` property set by traced spans;
    each job also carries its submission time (epoch seconds)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id") or "-",
                    "submitted": ev.get("Submission Time", 0) / 1000.0,
                    "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                j = jobs[jid]
                j["tasks"] += 1
                j["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                j["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return jobs
