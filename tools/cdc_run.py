"""One CDC throughput measurement in a fresh process (fresh JVM → driver
flags apply; run under `taskset -c 0..N-1` to emulate an N-core cluster
without freeriding on idle host cores).

env: CDC_CORES, CDC_FEED, CDC_REPS (default 3), CDC_MFPT (default 64),
CDC_WORK (scratch dir), CDC_MEM (default 6g per 8 cores, scaled).
Prints one JSON line:
{"cores": N, "walls": [...], "best": s, "cpu_s": [...], "best_cpu": s}

``cpu_s`` is the per-rep sum of executor task run time (from the Spark
event log): the total CPU the ENGINE spent applying the feed. On this host,
hypervisor steal/memory-bus contention inflates wall clock but the CPU sums
expose it — the ratio cpu_low/cpu_high across parallelism levels is the
steal-robust engine-scaling signal recorded alongside the wall numbers.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cores = int(os.environ["CDC_CORES"])
feed = os.environ["CDC_FEED"]
reps = int(os.environ.get("CDC_REPS", "3"))
mfpt = int(os.environ.get("CDC_MFPT", "64"))
work = os.environ.get("CDC_WORK", "/tmp/cdc_run")
mem = os.environ.get("CDC_MEM", "24g")
nb = int(os.environ.get("CDC_BUCKETS", "64"))
mpb = os.environ.get("CDC_MPB", "27m")
codec = os.environ.get("CDC_CODEC", "zstd")
arrow_batch = os.environ.get("CDC_ARROW_BATCH", "10000")

os.environ["SPARK_DRIVER_MEMORY"] = mem
# evlog dir is PER-PROCESS: event-log files restart stage IDs at 0, so a
# shared dir lets an old file's TaskEnd events (same stage id) leak into
# this run's per-window CPU sums — r3's p16 cpu list had samples exceeding
# cores × wall, which is physically impossible and traced to exactly this.
evdir = os.path.join(work, f"evlog{cores}", str(os.getpid()))
os.makedirs(evdir, exist_ok=True)

from mysql_secure_agent_spark.session import get_spark
from mysql_secure_agent_spark.lake.table import LakeTable
from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline
from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
from pyspark.sql import functions as F

spark = get_spark(
    app_name=f"cdc_run_{cores}",
    cores=cores,
    shuffle_partitions=int(os.environ.get("CDC_SHUFFLE", 2 * cores)),
    extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # sized so the 64-file feed scans as ~64 tasks: whole waves at both
        # parallelism levels (poor wave packing showed up as a 15-20% wall
        # hit at the high level), and map-task count stays low enough that
        # shuffle segment count (maps × n_buckets) doesn't thrash local IO
        "spark.sql.files.maxPartitionBytes": mpb,
        "spark.local.dir": os.path.join(work, "sparklocal"),
        # pin + pre-zero the heap: lazy first-touch zeroing during GC heap
        # expansion showed up as 30-90 s whole-JVM stalls on this VM.
        # ParallelGC over default G1: G1's concurrent marking threads burn
        # ~25% extra CPU AND memory bandwidth on this pipeline (measured
        # A/B at p16: 343 vs 265 task-cpu-seconds, 24.2s vs 19.0s wall) —
        # throughput batch work wants the throughput collector.
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
            + os.environ.get("CDC_XJAVA", "")
        ).strip(),
        "spark.sql.parquet.compression.codec": codec,
        # shuffle/spill block codec (lz4 default; zstd trades CPU for bytes —
        # relevant when the host is memory-bandwidth constrained)
        "spark.io.compression.codec": os.environ.get("CDC_IOCODEC", "lz4"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": arrow_batch,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": evdir,
        # The feed dir holds 64 log-segment files; above the default
        # parallelPartitionDiscovery threshold (32) Spark launches a
        # cluster-wide listing JOB per micro-batch plan — pure fixed
        # overhead on a posix dir listing the driver does in microseconds.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
        # AQE off for the merge job: the pipeline controls its partitioning
        # explicitly (one repartition to n_buckets, one merge-kernel task
        # per bucket), so AQE contributes nothing here but a driver re-plan
        # barrier per micro-batch (each query stage materializes as its own
        # job) plus a coalesce of the exchange to a non-multiple of the core
        # count (22 tasks at p16 = 1.4 waves). Event-log A/B: per-rep inter-job
        # gap 1.2s -> 0.47s, one 3-stage job per batch. General sessions
        # (session.get_spark) keep AQE on — ad-hoc queries benefit.
        "spark.sql.adaptive.enabled": os.environ.get("CDC_AQE", "false"),
        **json.loads(os.environ.get("CDC_EXTRA_CONF", "{}")),
    },
)


def _stage_cpu_sums(evdir: str, windows: list[tuple[float, float]]) -> list[float]:
    """Per-window sum of 'Executor Run Time' (ms) over stages submitted in
    that window — total engine CPU per timed rep, from the event log."""
    import glob

    sums = [0.0] * len(windows)
    stage_window: dict[int, int] = {}
    for f in glob.glob(os.path.join(evdir, "*", "events_*")) + glob.glob(
        os.path.join(evdir, "local-*")
    ):
        if f.endswith(".zstd"):
            continue
        with open(f, errors="replace") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except Exception:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerStageSubmitted":
                    sub = e["Stage Info"].get("Submission Time", 0) / 1000
                    for w, (lo, hi) in enumerate(windows):
                        if lo <= sub <= hi:
                            stage_window[e["Stage Info"]["Stage ID"]] = w
                            break
                elif ev == "SparkListenerTaskEnd":
                    w = stage_window.get(e.get("Stage ID"))
                    if w is not None:
                        m = e.get("Task Metrics") or {}
                        sums[w] += m.get("Executor Run Time", 0)
    return [round(s / 1000, 1) for s in sums]
# Warmup outside the timed window: a complete small-scale pass through the
# SAME pipeline — spawns the python worker pool and JIT-compiles the
# codegen'd scan/sort/window/write paths and the Arrow bridge.
from mysql_secure_agent_spark.sources.changelog_spark import write_feed_spark

wfeed = os.path.join(work, "warmfeed")
if not os.path.exists(wfeed):
    write_feed_spark(spark, wfeed, n_events=400_000, n_convs=20_000, n_files=4)
wt = os.path.join(work, f"warmtbl{cores}")
wc = os.path.join(work, f"warmck{cores}")
shutil.rmtree(wt, ignore_errors=True)
shutil.rmtree(wc, ignore_errors=True)
wtbl = LakeTable.create(wt, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=nb, overwrite=True)
CdcPipeline(wtbl, wfeed, normalize=True).run_stream(spark, wc)
shutil.rmtree(wt, ignore_errors=True)
shutil.rmtree(wc, ignore_errors=True)

# The small pass above is NOT enough: back-to-back instrumented JVMs showed
# the first full-size replay burning 1.9-2.6x the CPU of later replays
# (606/487/280 and 782/.../~300 task-cpu-s on the same 64M feed) — C2
# compilation of the parquet/shuffle/snappy/Arrow hot paths only completes
# under full-size pressure. That inflation is SYSTEMATIC (always the first
# replay), and it weighs 3x heavier on the short high-parallelism runs —
# exactly the asymmetry that depressed the r3 median efficiency. One
# UNTIMED full-size replay per JVM retires it; pre-registered as part of
# the design (warmup by POSITION, never by sample value).
if os.environ.get("CDC_WARM_FULL", "1") == "1":
    fwt = os.path.join(work, f"fwarmtbl{cores}")
    fwc = os.path.join(work, f"fwarmck{cores}")
    shutil.rmtree(fwt, ignore_errors=True)
    shutil.rmtree(fwc, ignore_errors=True)
    ftbl = LakeTable.create(
        fwt, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=nb, overwrite=True
    )
    CdcPipeline(ftbl, feed, normalize=True).run_stream(
        spark, fwc, max_files_per_trigger=mfpt
    )
    shutil.rmtree(fwt, ignore_errors=True)
    shutil.rmtree(fwc, ignore_errors=True)

def _spin_probe(sec: float = 0.4) -> float:
    """Single-thread userspace spin rate (M iters/s) — a pure-CPU host-health
    probe recorded BEFORE each timed replay. It never adjusts any number
    (metric-blind diagnostic): hypervisor steal phases on this VM inflate
    walls AND task-CPU 2-6×, and the probe makes each sample's host
    condition attributable post hoc (a slow rep with a normal spin rate is
    the engine's fault; with a depressed spin rate it is the host's)."""
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < sec:
        n += 1
    return round(n / sec / 1e6, 2)


walls = []
windows = []
spins = []
spins_post = []
for i in range(reps):
    spins.append(_spin_probe())
    tbl_dir = os.path.join(work, f"tbl{cores}")
    ck_dir = os.path.join(work, f"ck{cores}")
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)
    table = LakeTable.create(
        tbl_dir, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=nb, overwrite=True
    )
    pipe = CdcPipeline(table, feed, normalize=True)
    t0 = time.time()
    pipe.run_stream(spark, ck_dir, max_files_per_trigger=mfpt)
    t1 = time.time()
    # post-replay probe: a rep bracketed by two healthy probes is unlikely
    # to have spanned a hypervisor-steal window (they last minutes here) —
    # the pair feeds the metric-blind host-validity gate in bench.py
    spins_post.append(_spin_probe())
    walls.append(round(t1 - t0, 2))
    windows.append((t0, t1))
    shutil.rmtree(tbl_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)
spark.stop()
try:
    cpu_s = _stage_cpu_sums(evdir, windows)
except Exception:
    cpu_s = []
if not os.environ.get("CDC_KEEP_EVLOG"):  # keep for per-stage diagnostics
    shutil.rmtree(evdir, ignore_errors=True)
out = {
    "cores": cores,
    "walls": walls,
    "best": min(walls),
    "spin_mips": spins,
    "spin_post": spins_post,
}
if cpu_s:
    out["cpu_s"] = cpu_s
    out["best_cpu"] = min(c for c in cpu_s if c > 0) if any(cpu_s) else 0.0
print(json.dumps(out))
