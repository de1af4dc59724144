"""Cluster entry point: the spark-submit driver for the CDC ingest job.

The deployment shape the engine targets (north rule): a multi-executor
cluster where the driver script is submitted with the packaged library —

    python tools/make_pyfiles.py                         # build the zip
    spark-submit \
      --master <cluster-master> \
      --py-files mysql_secure_agent_spark.zip \
      --conf spark.sql.shuffle.partitions=<2x total cores> \
      tools/cluster_job.py \
        --feed  <dir with data/*.parquet changelog segments> \
        --table <lake table root (created if absent)> \
        --checkpoint <streaming checkpoint dir> \
        [--buckets 4096] [--continuous] [--metrics]

Unlike the local harnesses (tools/cdc_run.py, bench.py) this script builds
NO SparkSession configuration of its own beyond SQL-level settings: master,
executor count/memory, and JVM flags belong to spark-submit, so the same
script runs unchanged at N and 4N executors — the two-cluster-size scaling
measurement is two spark-submit invocations differing only in
--num-executors (locally emulated by bench.py with taskset-pinned
local[N] JVMs; see BENCH/BASELINE.md).

Sizing guidance at 10^10-event scale, per SURVEY §7: buckets ≈ total
cluster cores × 4 (wave packing of the bucket-aligned write), shuffle
partitions ≈ 2× total cores, `spark.sql.files.maxPartitionBytes` sized so
one trigger's files split into ≥ 1 whole wave of scan tasks.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--feed", required=True, help="changelog feed dir (data/*.parquet)")
    p.add_argument("--table", required=True, help="lake table root")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument(
        "--max-files-per-trigger", type=int, default=64, dest="mfpt",
        help="log segments per micro-batch",
    )
    p.add_argument(
        "--continuous", action="store_true",
        help="live tail (processingTime trigger + heartbeats) instead of "
        "drain-and-exit (availableNow)",
    )
    p.add_argument(
        "--no-normalize", action="store_true",
        help="skip the Arrow text-normalize stage",
    )
    p.add_argument(
        "--metrics", action="store_true",
        help="print the per-batch lineage table after the run",
    )
    args = p.parse_args(argv)

    # Import AFTER spark-submit has set up sys.path from --py-files.
    from pyspark.sql import SparkSession

    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline

    # getOrCreate picks up the submit-time master/executor config untouched.
    spark = SparkSession.builder.appName("cdc-ingest").getOrCreate()

    try:
        table = LakeTable(args.table)
        table.commit_at(resolve=False)  # probe: exists?
    except FileNotFoundError:
        table = LakeTable.create(
            args.table, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=args.buckets
        )

    pipe = CdcPipeline(table, args.feed, normalize=not args.no_normalize)
    if args.continuous:
        out = pipe.run_stream_continuous(spark, args.checkpoint)
        print(out)
    else:
        pipe.run_stream(spark, args.checkpoint, max_files_per_trigger=args.mfpt)

    if args.metrics:
        table.metrics(spark).orderBy("batch_id").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
