"""Scale-level replay: one bench-scale feed through the pipeline, reduced
to an order-insensitive content hash.

The pandas oracle proves correctness at fixture scale; it cannot replay a
10^8-event feed. This script replays the feed once and reduces the final
table state to a content hash (xor of per-row hashes — commutative, so no
global sort is needed), with its row count, wall time, commit-JSON size
and driver memory. Compare the hash across runs and engine versions. The
merge has one implementation (``lake.table._merge_kernel``) in two
placements; ``tests/test_driver_merge.py`` checks at fixture scale that
both placements write the same table.

Usage: python tools/scale_check.py [feed_dir] [n_events_if_generating]
Defaults to the bench feed location; generates 6.4M events if absent.

With ``--maintainer`` the check adds the incremental-maintenance
rehearsal (r4 verdict stretch item): replay the SAME feed in two halves
against one table, refreshing a SecondaryIndex after each half. The
first refresh is the O(table) backfill; the second must be O(second
half's delta) — its wall and written-entry count are reported next to a
forced full rebuild at the same head for direct comparison, and the
final index state is hash-compared against the main table's projection
(order-insensitive content hash, no driver collect).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def content_hash(df) -> tuple[int, str]:
    """(row_count, hex hash) — xor + sum of per-row xxhash64 over all columns
    rendered to string (null-safe). Order-insensitive, no driver collect."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns]
    h = F.xxhash64(*cols)
    # xor is order-insensitive and overflow-free; the mod-sum adds
    # multiplicity sensitivity (xor alone cancels even duplicates) and stays
    # far under long range at 10^8 rows
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            F.sum(F.pmod(F.col("h"), F.lit(1_000_000_007))).alias("m"),
        )
        .first()
    )
    return int(row["n"]), f"{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}:{row['m']}"


def main() -> None:
    import pyspark.sql  # noqa: F401  (import before session env tweaks)

    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.session import get_spark
    from mysql_secure_agent_spark.sources.changelog_spark import write_feed_spark
    from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    run_maintainer = "--maintainer" in sys.argv
    # --maintainer-only: skip the full replay and run just the maintainer
    # phase against the given feed
    maintainer_only = "--maintainer-only" in sys.argv
    run_maintainer = run_maintainer or maintainer_only
    feed = args[0] if args else "/dev/shm/cdc_bench_sf0.1/feed"
    n_events = int(args[1]) if len(args) > 1 else 6_400_000
    work = "/dev/shm/scale_check"
    os.makedirs(work, exist_ok=True)

    spark = get_spark(app_name="scale_check", cores=16, shuffle_partitions=32)
    if not os.path.exists(os.path.join(feed, "data", "_SUCCESS")):
        feed = os.path.join(work, "feed")
        if not os.path.exists(os.path.join(feed, "data", "_SUCCESS")):
            write_feed_spark(
                spark, feed, n_events=n_events,
                # files sized ~10M events so a 640M-event rehearsal still
                # streams in bounded micro-batches at mfpt=64
                n_convs=max(200, n_events // 50),
                n_files=max(16, n_events // 10_000_000),
                zipf_s=1.2, seed=42, strict_ops=False,
            )

    replay = None
    if not maintainer_only:
        tbl_dir = os.path.join(work, "tbl")
        ck_dir = os.path.join(work, "ck")
        shutil.rmtree(tbl_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
        table = LakeTable.create(
            tbl_dir, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=64, overwrite=True
        )
        pipe = CdcPipeline(table, feed, normalize=True)
        t0 = time.time()
        pipe.run_stream(spark, ck_dir, max_files_per_trigger=64)
        wall = time.time() - t0
        n, h = content_hash(table.read(spark))
        head = table.commit_at(resolve=False)
        commit_path = os.path.join(
            tbl_dir, "_commits", f"v{head.version:08d}.json"
        )
        replay = {
            "rows": n,
            "hash": h,
            "wall_s": round(wall, 2),
            "commit_json_bytes": os.path.getsize(commit_path),
            "n_manifests": len(head.manifests),
        }
        shutil.rmtree(tbl_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)

    # Driver-memory + commit-metadata footprint: the merge path must stay
    # O(batch) in driver memory and O(MAX_MANIFESTS) in commit size no
    # matter the event count — compare these numbers across 64M/640M runs.
    maintainer_out = None
    if run_maintainer:
        maintainer_out = _maintainer_rehearsal(spark, feed, work)

    import resource

    py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm_hwm_mb = next(
                int(line.split()[1]) // 1024
                for line in f
                if line.startswith("VmHWM")
            )
    except Exception:
        jvm_hwm_mb = None
    print(
        json.dumps(
            {
                "feed": feed,
                "replay": replay,
                "maintainer": maintainer_out,
                "driver_python_peak_rss_mb": py_rss_mb,
                "driver_jvm_peak_rss_mb": jvm_hwm_mb,
            }
        )
    )
    spark.stop()
    ok = maintainer_out is None or maintainer_out["index_match"]
    sys.exit(0 if ok else 1)


def _maintainer_rehearsal(spark, feed: str, work: str) -> dict:
    """Two-half replay with a SecondaryIndex refreshed after each half.
    Reports: backfill wall (refresh #1 = O(table) by design), incremental
    wall (refresh #2 — must be O(delta)), a forced full rebuild wall at
    the same head (the O(table) yardstick refresh #2 must beat), and the
    index-vs-main-projection content-hash match."""
    import glob

    from pyspark.sql import functions as F

    from mysql_secure_agent_spark.lake.index import SecondaryIndex
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline

    src = sorted(glob.glob(os.path.join(feed, "data", "*.parquet")))
    if len(src) < 2:
        raise RuntimeError(f"need >=2 feed files for a two-half replay, got {len(src)}")
    stage = os.path.join(work, "mfeed", "data")
    tbl_dir = os.path.join(work, "mtbl")
    idx_dir = os.path.join(work, "midx")
    ck_dir = os.path.join(work, "mck")
    for d in (os.path.dirname(stage), tbl_dir, idx_dir, ck_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(stage)
    open(os.path.join(stage, "_SUCCESS"), "w").close()

    def link(files):
        for f in files:
            os.link(f, os.path.join(stage, os.path.basename(f)))

    table = LakeTable.create(
        tbl_dir, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=64, overwrite=True
    )
    pipe = CdcPipeline(table, os.path.dirname(stage), normalize=True)
    # Uneven split ON PURPOSE: bulk first, a small tail as the delta. A
    # half/half split makes the "delta" the size of the table, where a
    # full rebuild legitimately wins (measured: 13.2 s incremental vs
    # 6.7 s rebuild at 640M events) — the O(delta) claim is about the
    # steady state, where a refresh consumes a FEW commits against a big
    # table, so the rehearsal models exactly that: ~1/16 of the feed as
    # the increment.
    n_tail = max(1, len(src) // 16)
    half = len(src) - n_tail
    out: dict = {}

    link(src[:half])
    pipe.run_stream(spark, ck_dir, max_files_per_trigger=64)
    # high-cardinality value column: a low-cardinality col (role) would
    # collapse the index onto 4 buckets and measure skew, not refresh
    idx = SecondaryIndex.create(idx_dir, table, "ts", n_buckets=16)
    t0 = time.time()
    m1 = idx.refresh(spark)
    out["backfill_wall_s"] = round(time.time() - t0, 2)
    out["backfill_metrics"] = {
        k: m1[k] for k in ("rows_in", "upserts", "deletes") if k in m1
    }

    link(src[half:])
    pipe.run_stream(spark, ck_dir, max_files_per_trigger=64)
    head = table.commit_at(resolve=False).version
    t0 = time.time()
    m2 = idx.refresh(spark)
    out["incremental_wall_s"] = round(time.time() - t0, 2)
    out["incremental_metrics"] = {
        k: m2[k]
        for k in ("rows_in", "upserts", "deletes", "index_buckets_pruned_read")
        if k in m2
    }
    out["head_version"] = head
    out["incremental_was_rebuild"] = bool(m2.get("rebuild"))

    # the O(table) yardstick: a forced rebuild at the SAME head
    t0 = time.time()
    idx._rebuild(spark)
    out["full_rebuild_wall_s"] = round(time.time() - t0, 2)

    # steady-state tiny delta: a Zipf-heavy feed slice touches most hot
    # keys (the 1/16-slice run above changed 2.6M of 4M keys — refresh
    # cost is O(changed keys), so it rightly approached the rebuild).
    # The claim that actually matters day-to-day is a SMALL key delta:
    # merge a 10k-key update batch directly and time the refresh.
    lsn_col = "source_lsn"
    if lsn_col in table.read(spark).columns:
        hwm = int(table.read(spark).agg(F.max(F.col(lsn_col))).first()[0])
    else:
        hwm = 1 << 60
    sample = (
        table.read(spark)
        .select("conv_id", "turn_idx")
        .limit(10_000)
        .withColumn("op", F.lit("U"))
        .withColumn("role", F.lit("assistant"))
        .withColumn("text", F.lit("tiny-delta rewrite"))
        .withColumn("tool", F.lit(None).cast("string"))
        .withColumn("ts", F.current_timestamp())
        .withColumn(
            "source_lsn",
            F.lit(hwm) + F.monotonically_increasing_id() + 1,
        )
    )
    table.merge(spark, sample, "tinydelta.1")
    t0 = time.time()
    m3 = idx.refresh(spark)
    out["tiny_delta_wall_s"] = round(time.time() - t0, 2)
    out["tiny_delta_metrics"] = {
        k: m3[k] for k in ("rows_in", "upserts", "deletes") if k in m3
    }
    out["tiny_delta_was_rebuild"] = bool(m3.get("rebuild"))

    n_i, h_i = content_hash(
        idx.table.read(spark).select("ts", *PRIMARY_KEY)
    )
    n_m, h_m = content_hash(
        table.read(spark).select("ts", *PRIMARY_KEY)
    )
    out["index_rows"], out["main_rows"] = n_i, n_m
    out["index_match"] = (n_i, h_i) == (n_m, h_m)
    for d in (os.path.dirname(stage), tbl_dir, idx_dir, ck_dir):
        shutil.rmtree(d, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
