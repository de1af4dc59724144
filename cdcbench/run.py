"""CDC benchmark entry point: one workload, one seed, one fresh process.

    python3 cdcbench/run.py --workload binlog-backfill --seed 1 --seconds 30 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is a
JSON object holding every end-to-end metric; with ``--trace 1`` the same run
is made with spans recorded around each layer and the object holds every
per-layer metric instead (spans are written to ``.cdcbench/traces/``). The
line before it is a report with each metric's sample count and the run's
notes. ``--smoke`` shrinks the inputs for a quick functional check.

The process exits non-zero without a result when the engine package is not
next to the benchmark, when a workload cannot run, or when a stream fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "replication_lag_p50_s": "s",
    "replication_lag_p90_s": "s",
    "lookup_p50_s": "s",
    "lookup_p75_s": "s",
    "storage_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}


class Ctx:
    def __init__(self, a):
        import workloads

        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = bool(a.trace)
        sizes = workloads.SMOKE if a.smoke else workloads.SIZES
        self.size = sizes[a.workload]
        # Spark task slots + the live-tail generator process <= nproc
        self.cores = max(1, (os.cpu_count() or 2) - 1)
        base = os.path.join(ROOT, ".cdcbench")
        self.cache = os.path.join(base, "cache")
        self.traces = os.path.join(base, "traces")
        self.work = os.path.join(base, "runs", f"{a.workload}-{os.getpid()}-{int(time.time())}")
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer()
        else:
            self.tracer = workloads.NullTracer()


def environment(ctx) -> None:
    """Runtime hygiene, set before the JVM starts: the repo on the Python
    workers' path (the session's worker daemon module lives in it), a
    driver heap sized for a small host, UTC, and every scratch file under
    this run's private directory."""
    import workloads

    os.makedirs(os.path.join(ctx.work, "tmp"), exist_ok=True)
    os.makedirs(ctx.cache, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = workloads.DRIVER_HEAP
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "sparklocal")
    os.environ["TZ"] = "UTC"
    time.tzset()


def end_to_end(out: dict, beyond: int) -> tuple[dict, dict]:
    from workloads import lag_percentiles, lookup_percentiles

    lag = lag_percentiles(out["lag_pairs"], beyond)
    lk = lookup_percentiles(out["lookups"], beyond)
    values = {
        "setup_s": out["setup_s"],
        "ingest_events_per_s": out["ingest_events_per_s"],
        "replication_lag_p50_s": lag[0.5],
        "replication_lag_p90_s": lag[0.9],
        "lookup_p50_s": lk[0.5],
        "lookup_p75_s": lk[0.75],
        "storage_bytes_per_row": out["storage_bytes_per_row"],
        "peak_rss_mb": out["peak_rss_mb"],
    }
    n_events = sum(n for _, n in out["lag_pairs"])
    samples = {"setup_s": 1, "ingest_events_per_s": n_events,
               "replication_lag_p50_s": n_events, "replication_lag_p90_s": n_events,
               "lookup_p50_s": len(out["lookups"]), "lookup_p75_s": len(out["lookups"]),
               "storage_bytes_per_row": 1, "peak_rss_mb": 1}
    return ({k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in values.items()}, samples)


def per_layer(ctx, out: dict) -> tuple[dict, dict, str]:
    from layers import derive, write_spans
    from spans import read_event_log

    logs = os.path.join(ctx.work, "eventlog")
    jobs = {}
    for name in os.listdir(logs):
        jobs.update({f"{name}:{k}": v for k, v in
                     read_event_log(os.path.join(logs, name)).items()})
    values, samples = derive(ctx.tracer, out["window"], jobs, out["micro"])
    path = write_spans(ctx.tracer, ctx.traces, f"{ctx.workload}-s{ctx.seed}")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}, samples, path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["binlog-backfill", "live-tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mysql_secure_agent_spark")):
        print("cdcbench: engine package mysql_secure_agent_spark not found next to "
              "the benchmark; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from stats import MIN_BEYOND

    ctx = Ctx(a)
    environment(ctx)

    try:
        if ctx.trace:
            from spans import instrument

            with instrument(ctx.tracer):
                out = workloads.WORKLOADS[a.workload](ctx)
        else:
            out = workloads.WORKLOADS[a.workload](ctx)
        metrics, samples = end_to_end(out, 0 if a.smoke else MIN_BEYOND)
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "end_to_end": metrics, "samples": samples,
                  "failed_op_ratio": out["failed"] / out["attempted"],
                  "notes": out["notes"]}
        if ctx.trace:
            metrics, layer_samples, path = per_layer(ctx, out)
            report.update(per_layer=metrics, layer_samples=layer_samples, spans=path)
    except Exception:
        traceback.print_exc()
        workloads.stop_active()
        return 1
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
