"""The two workloads, each run against the engine's public API in a fresh
process. Both report every end-to-end metric (see ``README.md`` for the
definitions shared across workloads):

``binlog-backfill`` -- closed loop over rounds: a ``BinlogDirectoryTail``
drains pre-written rotated ``mysql-bin.NNNNNN`` files into a fresh 4-bucket
``LakeTable`` (several files per trigger), the table is compacted, and one
client then runs point lookups against it. Binary decode and the merge write
job do the work; every delta file holds more than ``KEY_BLOOM_MAX_ROWS``
rows, so key blooms are skipped.

``live-tail`` -- a preloaded 4-bucket table is kept fresh by
``CdcPipeline.run_stream_continuous`` (normalize on, fixed ``processingTime``
trigger, size-triggered compaction) from an open-loop generator process;
after the stream drains, one closed-loop client runs point lookups on the
table it produced. Small batches make lag a matter of per-micro-batch fixed
cost (trigger, planning, normalize UDF, per-row driver blooms, commit);
lookups exercise bucket, stats and bloom pruning over the piled-up deltas.
Binlog decode is bypassed. Lookups do not run beside the stream: sharing
three task slots with merges made their latency bimodal and its percentiles
swing by ~16% between seeds.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import inputs
from stats import lateness, percentile, union_length, weighted_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_HEAP = "2g"  # sized for a 15 GB host shared with other jobs


@dataclass(frozen=True)
class BackfillSize:
    events: int = 60_000
    convs: int = 2_000
    max_turns: int = 65_536  # most events write a fresh key: big deltas
    files: int = 12
    per_trigger: int = 4  # -> 3 merges of 20k events per drain
    round_s: float = 4.0  # nominal drain time on a 4-core host
    buckets: int = 4
    keys: int = 400
    lookups: int = 40
    warm_lookups: int = 5


@dataclass(frozen=True)
class LiveSize:
    preload: int = 5_000
    live_events: int = 120_000  # > rate x the longest run
    convs: int = 2_000
    max_turns: int = 64
    buckets: int = 4
    rate: float = 600.0  # events/s, well under the sustainable rate
    flush_s: float = 0.5  # generator file cadence
    trigger_s: float = 2.0
    max_deltas: int = 6  # compact_policy
    keys: int = 400
    warm_batches: int = 2
    warm_lookups: int = 5
    min_lookups: int = 40


SMOKE = {
    "binlog-backfill": BackfillSize(events=3_000, files=4, per_trigger=2, keys=40,
                                    lookups=4, warm_lookups=2),
    "live-tail": LiveSize(preload=1_000, live_events=20_000, keys=40, warm_batches=1,
                          warm_lookups=2, min_lookups=4),
}


class NullTracer:
    def span(self, *a, **k):
        return contextlib.nullcontext({"attrs": {}})

    def open_window(self):
        pass

    def close_window(self):
        pass


# ---------------------------------------------------------------- session
def start_session(ctx):
    """Fresh local Spark sized for this host: ``cores`` task slots, a
    private local dir and event log, repo on the workers' PYTHONPATH."""
    from mysql_secure_agent_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "sparklocal"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions":
            # a fixed, pre-touched heap: the JVM's resident set no longer
            # depends on when it chose to grow the heap
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
    }
    if ctx.trace:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = os.path.join(ctx.work, "eventlog")
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
        os.makedirs(extra["spark.eventLog.dir"], exist_ok=True)
    with ctx.tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark(app_name=f"cdcbench-{ctx.workload}", cores=ctx.cores,
                          extra_conf=extra)
        took = time.perf_counter() - t
    if ctx.trace:
        ctx.tracer.sc = spark.sparkContext
    return spark, took


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def reset_peak_rss() -> None:
    """Restart this process's VmHWM, so input generation does not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    def hwm(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    pid = jvm_pid(spark)
    return hwm("self") + (hwm(pid) if pid else 0.0)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# ------------------------------------------------------------- correctness
TABLE_DTYPES = {"conv_id": object, "turn_idx": "int32", "role": object,
                "text": object, "tool": object, "ts": "datetime64[ns]"}


def as_declared(df: pd.DataFrame) -> pd.DataFrame:
    """The oracle frame in the table's declared types (the oracle's dict
    replay widens ``int`` keys to int64)."""
    return (df[list(TABLE_DTYPES)].astype(TABLE_DTYPES)
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


def table_matches(spark, tbl, expected: pd.DataFrame) -> tuple[bool, str]:
    """The table's final state against the oracle, sorted by
    (conv_id, turn_idx), dtypes compared."""
    got = (tbl.read(spark).toPandas().sort_values(["conv_id", "turn_idx"])
           .reset_index(drop=True))
    try:
        pd.testing.assert_frame_equal(got, as_declared(expected), check_dtype=True)
    except AssertionError as e:
        return False, str(e)[:500]
    return True, ""


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, np.datetime64)) or hasattr(v, "tzinfo"):
        return pd.Timestamp(v)
    return v


def row_tuple(rec) -> tuple:
    return tuple(_norm(rec[c]) for c in TABLE_DTYPES)


def storage_bytes_per_row(tbl, versions, events: pd.DataFrame, applied) -> float:
    """Live file bytes ÷ live rows, averaged over ``versions`` (those the
    timed phase committed, so the compaction phase at the end of a run
    does not decide the figure). ``applied(v)`` is the mask of ``events``
    that version ``v`` holds."""
    shares = []
    for v in versions:
        commit = tbl.commit_at(v)
        nbytes = sum(e.get("bytes") or os.path.getsize(os.path.join(tbl.root, e["path"]))
                     for es in commit.files.values() for e in es)
        sub = events[applied(v)].sort_values("source_lsn")
        rows = int((sub.groupby(["conv_id", "turn_idx"])["op"].last() != "D").sum())
        shares.append(nbytes / max(rows, 1))
    return float(np.mean(shares))


def lineage(tbl) -> pd.DataFrame:
    """The table's own per-merge lineage rows with each version's commit
    time, in version order."""
    import pyarrow.parquet as pq

    m = pq.read_table(os.path.join(tbl.root, "_metrics")).to_pandas()
    m = m[m["batch_id"] != "NOP"].sort_values("version").reset_index(drop=True)
    m["committed_at"] = [tbl.commit_at(int(v), resolve=False).committed_at
                         for v in m["version"]]
    return m


def timed_lookup(ctx, spark, tbl, key) -> tuple[float, list]:
    with ctx.tracer.span("lake.lookup", new_trace=True, job_group=True):
        t = time.perf_counter()
        rows = tbl.lookup(spark, key).collect()
        return time.perf_counter() - t, rows


def lookup_ok(rows, expected) -> bool:
    if expected is None:
        return len(rows) == 0
    return len(rows) == 1 and row_tuple(rows[0].asDict()) == expected


# ------------------------------------------------------------ micro layers
def decode_rate(paths) -> dict:
    """One-thread binary decode (``binlog_file_to_packets`` +
    ``packets_to_changelog``) over the given binlog files."""
    from mysql_secure_agent_spark.sources.binlog_file import (
        ROTATE_EVERY, binlog_file_to_packets, file_number,
    )
    from mysql_secure_agent_spark.sources.binlog_packets import packets_to_changelog

    blobs = []
    for p in paths:
        with open(p, "rb") as f:
            blobs.append((p, f.read()))
    cols = list(TABLE_DTYPES)
    n = 0
    t = time.perf_counter()
    for p, data in blobs:
        pk = binlog_file_to_packets(data, lsn_base=file_number(p) * ROTATE_EVERY,
                                    verify_checksum=True)
        n += len(packets_to_changelog(pk, inputs.SCHEMA_NAME, inputs.TABLE_NAME, cols))
    took = time.perf_counter() - t
    nbytes = sum(len(d) for _, d in blobs)
    return {"decode_events_per_s": n / took, "binlog_bytes_per_event": nbytes / max(n, 1)}


def span_costs(tracer) -> dict:
    """Cost of one span with and without its job-group calls, measured
    while the session is up (for the tracing-overhead estimate)."""
    return {"span_cost_s": tracer.span_cost_s(job_group=False),
            "span_cost_group_s": tracer.span_cost_s(job_group=True)}


def normalize_rate(texts: pd.Series) -> float:
    """Rows per second of the normalize UDF's function on one thread."""
    from mysql_secure_agent_spark.functions.normalize import normalize_text_udf

    t = time.perf_counter()
    normalize_text_udf.func(texts)
    return len(texts) / (time.perf_counter() - t)


# ----------------------------------------------------------- binlog-backfill
def binlog_backfill(ctx) -> dict:
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.streaming.binlog_tail import BinlogDirectoryTail

    size = ctx.size
    spark, session_s = start_session(ctx)
    logs = os.path.join(ctx.work, "logs")
    cache, meta = inputs.backfill_inputs(spark, ctx.cache, ctx.seed, size, logs)  # untimed
    reset_peak_rss()
    expected = pd.read_parquet(os.path.join(cache, "expected.parquet"))
    exp_rows = {(r["conv_id"], int(r["turn_idx"])): row_tuple(r)
                for r in as_declared(expected).to_dict("records")}
    keys = meta["keys"]
    res = {"lookups": [], "lag": [], "busy": [], "events": 0, "merges": 0,
           "failed": 0, "rounds": 0}

    def drain(i: int, record: bool):
        """One round: the files into a fresh table."""
        root = os.path.join(ctx.work, f"backfill-{i}")
        tbl = LakeTable.create(os.path.join(root, "table"), TRANSCRIPT_SCHEMA,
                               PRIMARY_KEY, n_buckets=size.buckets)
        tail = BinlogDirectoryTail(tbl, logs, inputs.SCHEMA_NAME, inputs.TABLE_NAME,
                                   max_files_per_trigger=size.per_trigger)
        start = time.time()
        merged = tail.run(spark, os.path.join(root, "checkpoint"))
        if record:
            for m in merged:
                ct = tbl.commit_at(m["version"], resolve=False).committed_at
                res["lag"] += [(ct - start, meta["files"][f]) for f in m["files"]]
                res["busy"].append((ct - m["wall_ms"] / 1000.0, ct))
                res["events"] += m["rows_in"]
                res["merges"] += 1
            res["rounds"] += 1
        return tbl, merged

    def serve(tbl, n_lookups: int, record: bool) -> None:
        """Compact the drained table, then run the lookup client on it."""
        tbl.compact(spark)
        for j in range(n_lookups):
            key = keys[(res["rounds"] * n_lookups + j) % len(keys)]
            lat, rows = timed_lookup(ctx, spark, tbl, key)
            if record:
                res["lookups"].append(lat)
                res["failed"] += not lookup_ok(
                    rows, exp_rows.get((key["conv_id"], key["turn_idx"])))

    t = time.perf_counter()
    # warm-up: one whole round (the JIT keeps speeding merges up for a while)
    serve(drain(0, record=False)[0], size.warm_lookups, record=False)
    setup_s = session_s + (time.perf_counter() - t)

    ctx.tracer.open_window()
    t0 = time.time()
    # a fixed number of rounds for --seconds (not a clock-driven count: a
    # faster host would run more, warmer rounds and shift the pooled figures)
    for i in range(max(1, round(ctx.seconds / size.round_s))):
        tbl, merged = drain(i + 1, record=True)
    serve(tbl, size.lookups, record=True)
    t1 = time.time()
    ctx.tracer.close_window()
    rss = peak_rss_mb(spark)

    ok, msg = table_matches(spark, tbl, expected)
    events = pd.read_parquet(os.path.join(cache, "events.parquet"))
    by_version = sorted((m["version"], m["files"]) for m in merged)

    def applied(v):
        files = {f for mv, fs in by_version if mv <= v for f in fs}
        return events["file"].isin(files)

    out = {
        "setup_s": setup_s,
        "window": (t0, t1),
        "ingest_events_per_s": res["events"] / union_length(res["busy"]),
        "lag_pairs": res["lag"],
        "lookups": res["lookups"],
        "storage_bytes_per_row": storage_bytes_per_row(
            tbl, range(1, tbl.current_version() + 1), events, applied),
        "peak_rss_mb": rss,
        "attempted": res["merges"] + len(res["lookups"]) + 1,
        "failed": res["failed"] + (not ok),
        "notes": {"rounds": res["rounds"], "merges": res["merges"],
                  "events": res["events"], "table_check": msg or "ok"},
    }
    if ctx.trace:
        files = sorted(os.path.join(logs, f) for f in meta["files"])[: size.per_trigger]
        texts = pd.read_parquet(os.path.join(cache, "texts.parquet"))["text"]
        out["micro"] = {**decode_rate(files), "normalize_rows_per_s": normalize_rate(texts),
                        **span_costs(ctx.tracer)}
    stop_session(spark)
    return out


# ---------------------------------------------------------------- live-tail
def live_tail(ctx) -> dict:
    from mysql_secure_agent_spark import oracle
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import (
        CHANGELOG_SCHEMA, PRIMARY_KEY, TRANSCRIPT_SCHEMA,
    )
    from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline

    size = ctx.size
    cache, meta = inputs.live_inputs(ctx.cache, ctx.seed, size)  # untimed
    reset_peak_rss()
    spark, session_s = start_session(ctx)
    keys = meta["keys"]
    feed = os.path.join(ctx.work, "feed")
    os.makedirs(os.path.join(feed, "data"))

    t = time.perf_counter()
    tbl = LakeTable.create(os.path.join(ctx.work, "table"), TRANSCRIPT_SCHEMA,
                           PRIMARY_KEY, n_buckets=size.buckets)
    pipe = CdcPipeline(tbl, feed, compact_policy={"max_deltas": size.max_deltas})
    pipe.apply_batch(spark, spark.read.schema(CHANGELOG_SCHEMA).parquet(
        os.path.join(cache, "preload.parquet")), "preload")
    base_version = tbl.current_version()
    preload_s = time.perf_counter() - t

    stop_file = os.path.join(ctx.work, "feedgen.stop")
    gen_log = os.path.join(ctx.work, "feedgen.json")
    start = time.time() + 1.0  # after the generator's imports
    gen = subprocess.Popen([
        sys.executable, os.path.join(HERE, "feedgen.py"),
        "--events", os.path.join(cache, "live.parquet"),
        "--out", os.path.join(feed, "data"), "--rate", str(size.rate),
        "--flush", str(size.flush_s), "--start", repr(start),
        "--stop-file", stop_file, "--log", gen_log,
    ])
    errors: list[BaseException] = []

    def stream():
        try:
            pipe.run_stream_continuous(
                spark, os.path.join(ctx.work, "checkpoint"),
                trigger_seconds=size.trigger_s, max_files_per_trigger=10_000,
                # the run stops the stream itself once it has drained
                heartbeat_seconds=3600.0, idle_stop_seconds=60.0,
                max_runtime_seconds=170.0)
        except BaseException as e:  # re-raised on the main thread
            errors.append(e)

    lookups: list[tuple] = []  # (latency, v0, v1, key, rows)

    def lookup_once(i: int) -> None:
        key = keys[i % len(keys)]
        v0 = tbl.current_version()
        lat, rows = timed_lookup(ctx, spark, tbl, key)
        lookups.append((lat, v0, tbl.current_version(), key, rows))

    def check_stream(phase: str) -> None:
        if errors or not th.is_alive():
            raise RuntimeError(f"stream ended during {phase}") from (errors or [None])[0]

    def drain_and_stop() -> None:
        """Once every published event is committed, stop the (then idle)
        stream instead of waiting out its idle timer."""
        last, deadline = None, time.time() + 60
        if os.path.exists(gen_log):  # absent if the generator had to be killed
            with open(gen_log) as f:
                last = int(live_lsn0) + sum(p["n"] for p in json.load(f)) - 1
        while last is not None and th.is_alive() and not errors and time.time() < deadline:
            if os.listdir(os.path.join(tbl.root, "_metrics")) and lineage(tbl)["lsn_max"].max() >= last:
                break
            time.sleep(0.1)
        for q in spark.streams.active:
            q.stop()

    live_lsn0 = pd.read_parquet(os.path.join(cache, "live.parquet"),
                                columns=["source_lsn"])["source_lsn"].iat[0]
    th = threading.Thread(target=stream, name="live-tail-stream", daemon=True)
    try:
        while not os.listdir(os.path.join(feed, "data")):  # first file is out
            time.sleep(0.05)
        t_stream = time.perf_counter()
        th.start()
        # warm-up: the first batches, and lookups of the timed shape
        i = 0
        while (tbl.current_version() - base_version < size.warm_batches
               or i < size.warm_lookups):
            check_stream("warm-up")
            lookup_once(i)
            i += 1
        setup_s = session_s + preload_s + (time.perf_counter() - t_stream)

        ctx.tracer.open_window()
        t0 = time.time()
        while time.time() - t0 < ctx.seconds:
            check_stream("the timed phase")
            time.sleep(0.2)
        t1 = time.time()
    finally:
        open(stop_file, "w").close()
        try:
            gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait(timeout=30)
        if th.is_alive():
            drain_and_stop()
        th.join(timeout=120)
    if errors:
        raise errors[0]
    if th.is_alive():
        raise RuntimeError("stream did not drain")
    # the lookup client, closed loop, on the table the tail produced
    warm_n = len(lookups)
    t_read = time.time()
    for j in range(size.min_lookups):
        lookup_once(i + j)
    t_end = time.time()
    ctx.tracer.close_window()
    rss = peak_rss_mb(spark)

    # ---- derive metrics from the table's lineage and the generator's log
    with open(gen_log) as f:
        published = json.load(f)
    live = pd.read_parquet(os.path.join(cache, "live.parquet"))
    n_pub = sum(p["n"] for p in published)
    delivered = pd.concat([pd.read_parquet(os.path.join(feed, "data", p["file"]))
                           for p in published], ignore_index=True)
    preload = pd.read_parquet(os.path.join(cache, "preload.parquet"))
    events = pd.concat([preload, delivered], ignore_index=True)

    lin = lineage(tbl)
    lsn = int(live_lsn0) + np.arange(n_pub)
    due = start + np.arange(n_pub) / size.rate
    lsn_max = lin["lsn_max"].to_numpy()
    if np.any(np.diff(lsn_max) < 0):
        raise RuntimeError("micro-batches applied the feed out of order")
    at = np.searchsorted(lsn_max, lsn, side="left")
    applied = at < len(lin)
    commit_t = np.where(applied, lin["committed_at"].to_numpy()[np.minimum(at, len(lin) - 1)],
                        np.inf)
    in_win = (due >= t0) & (due <= t1)
    lag = commit_t[in_win] - due[in_win]
    unapplied = int(np.sum(~applied))

    def staleness(t):
        pend = due[(due <= t) & (commit_t > t)]
        return float(t - pend.min()) if len(pend) else 0.0

    third = (t1 - t0) / 3.0
    grid_first = np.linspace(t0, t0 + third, 30)
    grid_last = np.linspace(t1 - third, t1, 30)
    stale_first = max(staleness(t) for t in grid_first)
    stale_last = max(staleness(t) for t in grid_last)
    backlog_grew = stale_last > 1.5 * stale_first + 2.0 * size.trigger_s

    win = lin[(lin["committed_at"] >= t0) & (lin["committed_at"] <= t1)
              & (lin["version"] > base_version)]
    busy = [(c - w / 1000.0, c) for c, w in zip(win["committed_at"], win["wall_ms"])]
    late = lateness([p["due"] for p in published], [p["published"] for p in published])

    # ---- correctness: final table and every lookup against the oracle
    expected = oracle.replay(events)
    ok, msg = table_matches(spark, tbl, expected)
    versions = lin["version"].to_numpy()
    hw = np.maximum.accumulate(lsn_max)
    looked = {(k["conv_id"], k["turn_idx"]) for _, _, _, k, _ in lookups}
    ev = events[events.set_index(["conv_id", "turn_idx"]).index.isin(looked)]
    hist: dict[tuple, list] = {}
    for r in ev.sort_values("source_lsn").to_dict("records"):
        img = None if r["op"] == "D" else row_tuple({**r, "turn_idx": int(r["turn_idx"])})
        hist.setdefault((r["conv_id"], int(r["turn_idx"])), []).append((r["source_lsn"], img))

    def state_at(key, v):
        i = np.searchsorted(versions, v, side="right") - 1
        mark = hw[i] if i >= 0 else 0
        img = None
        for l, im in hist.get(key, []):
            if l > mark:
                break
            img = im
        return img

    timed_lk = lookups[warm_n:]
    bad = 0
    for lat, v0, v1, key, rws in lookups:
        k = (key["conv_id"], key["turn_idx"])
        if not any(lookup_ok(rws, state_at(k, v)) for v in range(v0, v1 + 1)):
            bad += 1
    out = {
        "setup_s": setup_s,
        "window": (t0, t_end),
        "ingest_events_per_s": win["rows_in"].sum() / union_length(busy),
        "lag_pairs": [(float(x), 1) for x in lag],
        "lookups": [x[0] for x in timed_lk],
        "storage_bytes_per_row": storage_bytes_per_row(
            tbl, [v for v in range(base_version + 1, tbl.current_version() + 1)
                  if t0 <= tbl.commit_at(v, resolve=False).committed_at <= t_end],
            events,
            lambda v: events["source_lsn"] <= hw[np.searchsorted(versions, v, side="right") - 1]),
        "peak_rss_mb": rss,
        "attempted": len(lin) + len(lookups) + 2,
        "failed": bad + (not ok) + (unapplied > 0 or backlog_grew),
        "notes": {
            "merges_in_window": int(len(win)), "events_published": n_pub,
            "drain_s": t_read - t1,
            "unapplied_events": unapplied,
            "generator_late_s": {"p50": float(np.median(late)), "max": float(max(late))},
            "staleness_s": {"first_third_max": stale_first, "last_third_max": stale_last},
            "backlog_grew": bool(backlog_grew), "table_check": msg or "ok",
            "lookup_mismatches": bad,
        },
    }
    if ctx.trace:
        sample = inputs.decode_sample(spark, cache, 6_000)
        files = sorted(os.path.join(sample, f) for f in os.listdir(sample)
                       if f.startswith("mysql-bin."))
        out["micro"] = {**decode_rate(files),
                        "normalize_rows_per_s": normalize_rate(live["text"].dropna()),
                        **span_costs(ctx.tracer)}
    stop_session(spark)
    return out


WORKLOADS = {"binlog-backfill": binlog_backfill, "live-tail": live_tail}
SIZES = {"binlog-backfill": BackfillSize(), "live-tail": LiveSize()}


#: Lag has one sample per event; lookups have 40 per run, where p75 is the
#: highest percentile with ten samples beyond it (p90 would need 100
#: lookups, ~20 s more per run than the run budget allows).
LAG_Q, LOOKUP_Q = (0.5, 0.9), (0.5, 0.75)


def lag_percentiles(pairs, beyond: int) -> dict:
    return {q: weighted_percentile(pairs, q, beyond) for q in LAG_Q}


def lookup_percentiles(lat, beyond: int) -> dict:
    return {q: percentile(lat, q, beyond) for q in LOOKUP_Q}


def stop_active() -> None:
    """Stop a session left running by a failed workload."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        stop_session(spark)
