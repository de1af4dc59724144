"""Multi-source (sharded) CDC ingest: N upstream change feeds → ONE lake table.

A production transcript store is sharded — N MySQL servers, each with its own
binlog and its own (file, pos) sequence, each owning a disjoint slice of the
key space (conversations hash to shards). The reference agent tails exactly
one server (``Updater.java:48-60``, single ``BinlogPosition`` in
``state/AgentState.java:14-17``); ingesting a fleet needs:

* a per-source applied watermark — the MySQL ``gtid_executed`` analog
  (``state.GtidSet``), persisted write-data-then-state so a crash replays
  rather than skips;
* a global total order per key — per-source lsns collide across shards, so
  each source's lsn is namespaced into the table's single ``source_lsn``
  column: ``global_lsn = (source_index << LSN_BITS) | per_source_lsn``.
  A key lives on exactly one shard, so per-key ordering (the correctness
  contract, ``Updater.java:148-186``) is preserved; the namespacing only
  makes lsns globally unique so changefeed cursors / file-skipping stats
  stay well-defined;
* exactly-once across the fleet: the batch id is derived from the gtid set
  the batch advances TO — a crash between the table commit and the state
  save re-reads the same window, produces the same batch id, and the
  commit-log's applied-batch check skips it (the same replay-idempotence
  argument as the reference's flush-then-state ordering,
  ``BucketOutput.java:127-138``).

Scale shape: each source contributes a filtered scan (lsn > watermark —
pushed to parquet row groups); the union feeds ONE merge, so the per-batch
shuffle is the same single bucket-clustered exchange as the single-source
path regardless of shard count.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake.table import LakeTable
from ..schemas import CHANGELOG_SCHEMA
from ..state import GtidSet

# Per-source lsn width. 2^44 ≈ 1.7e13 events per shard before overflow —
# comfortably above the 10^10-event target; 2^19 shards fit alongside it in
# the sign-positive half of an int64.
LSN_BITS = 44


def global_lsn(source_index: int, lsn_col: F.Column) -> F.Column:
    return (F.lit(source_index).cast("long") * F.lit(1 << LSN_BITS)) + lsn_col


class MultiSourceIngest:
    """Drain N shard feeds into one LakeTable with a GtidSet watermark.

    ``feeds`` maps source id → feed dir (each the layout ``write_feed``
    produces: ``<dir>/data/*.parquet`` of CHANGELOG_SCHEMA rows). Source
    indices come from a PERSISTED registry in the table root
    (``_sources.json``): assigned first-seen, append-only, never reassigned
    or reused — a purely positional assignment (sorted order) would shift
    when a shard whose id sorts earlier joins, colliding the new shard's
    global-lsn namespace with an already-committed one (and a changefeed
    cursor past the old ceiling would silently skip the new shard's files).
    Adding a NEW shard is safe (fresh index, empty watermark ⇒ full drain);
    removing one leaves its index reserved; renaming is not safe — the id
    is durable state, exactly like a server UUID in a MySQL GTID set.
    """

    def __init__(self, table: LakeTable, feeds: dict[str, str]):
        self.table = table
        self.feeds = dict(feeds)
        self.source_index = self._load_or_assign_indices()

    def _load_or_assign_indices(self) -> dict[str, int]:
        import json

        path = os.path.join(self.table.root, "_sources.json")
        reg: dict[str, int] = {}
        if os.path.exists(path):
            with open(path) as f:
                reg = json.load(f)
        new = [s for s in sorted(self.feeds) if s not in reg]
        if new:
            nxt = max(reg.values(), default=-1) + 1
            for s in new:
                reg[s] = nxt
                nxt += 1
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(reg, f, indent=1)
            os.replace(tmp, path)
        return reg

    # ------------------------------------------------------------------ read
    def _source_frame(
        self, spark: SparkSession, source: str, after_lsn: int
    ) -> DataFrame:
        df = (
            spark.read.schema(CHANGELOG_SCHEMA)
            .parquet(os.path.join(self.feeds[source], "data"))
            .filter(F.col("source_lsn") > F.lit(after_lsn))  # row-group pruned
        )
        return df.select(
            "op",
            *[f.name for f in CHANGELOG_SCHEMA.fields if f.name not in
              ("op", "source_lsn", "binlog_file", "binlog_pos")],
            global_lsn(self.source_index[source], F.col("source_lsn")).alias(
                "source_lsn"
            ),
            F.concat(F.lit(f"{source}/"), F.col("binlog_file")).alias("binlog_file"),
            "binlog_pos",
            F.lit(source).alias("_source"),
            F.col("source_lsn").alias("_source_lsn"),
        )

    # ----------------------------------------------------------------- drain
    def run_once(
        self,
        spark: SparkSession,
        state_path: str,
    ) -> dict[str, Any]:
        """One fleet-wide drain: read every shard past its watermark, merge
        as ONE batch, advance + persist the GtidSet after the commit.

        Idempotent end to end: re-running after any crash point either sees
        the advanced state file (reads nothing new) or reproduces the same
        batch id (commit-log skip). Returns the merge metrics plus the new
        ``gtid_executed`` string.
        """
        gtid = GtidSet.load(state_path)
        frames = [
            self._source_frame(spark, s, gtid.sources.get(s, -1)) for s in sorted(self.feeds)
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)

        # Tiny pre-merge agg (column-pruned scan of lsn only): the per-source
        # high-water marks this drain will advance to. Also the batch id —
        # deterministic for a fixed window, so replays dedup in the commit log.
        marks = {
            r["_source"]: r["hi"]
            for r in union.groupBy("_source").agg(F.max("_source_lsn").alias("hi")).collect()
        }
        new_gtid = GtidSet(dict(gtid.sources))
        for s, hi in marks.items():
            if hi is not None:
                new_gtid.advance(s, hi)
        if new_gtid.sources == gtid.sources:
            return {"skipped": True, "gtid_executed": gtid.to_string()}
        batch_id = f"msrc:{new_gtid.to_string()}"

        metrics = self.table.merge(spark, union.drop("_source", "_source_lsn"), batch_id)
        new_gtid.save(state_path)  # state strictly after data (crash ⇒ replay)
        metrics["gtid_executed"] = new_gtid.to_string()
        return metrics

    # ---------------------------------------------------------------- stream
    def run_streams(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        state_path: str,
        max_files_per_trigger: int = 4,
        concurrent: bool = True,
    ) -> dict[str, Any]:
        """Streaming drain: one availableNow Structured Streaming query per
        shard (its own checkpoint under ``checkpoint_root/<source>``), all
        started CONCURRENTLY into the shared table. Batch ids are namespaced
        ``<source>:<epoch>`` so each shard's replay window dedups
        independently; the GtidSet advances after every committed batch.

        Concurrency model (the Iceberg optimistic-commit shape): the heavy
        merge work — scan, dedup exchange, bucket-aligned write — runs in
        parallel across shard queries on the whole cluster; only the O(ms)
        commit-pointer swing serializes, inside ``LakeTable._commit_lock``.
        The GtidSet is guarded by its own driver-side mutex: per-shard
        advances commute (disjoint source keys), so lock ordering is
        commit-then-gtid with no cycle. ``concurrent=False`` restores the
        r3 sequential drain (N shards = N× drain latency — kept only for
        A/B and debugging).
        """
        import threading

        gtid = GtidSet.load(state_path)
        gtid_lock = threading.Lock()
        totals: dict[str, Any] = {"batches": 0, "sources": {}}

        def _start(source: str):
            idx = self.source_index[source]
            floor = gtid.sources.get(source, -1)

            def handle(batch_df: DataFrame, epoch_id: int, _src=source, _idx=idx, _floor=floor) -> None:
                fresh = batch_df.filter(F.col("source_lsn") > F.lit(_floor))
                shifted = fresh.select(
                    "op",
                    *[f.name for f in CHANGELOG_SCHEMA.fields if f.name not in
                      ("op", "source_lsn", "binlog_file", "binlog_pos")],
                    global_lsn(_idx, F.col("source_lsn")).alias("source_lsn"),
                    F.concat(F.lit(f"{_src}/"), F.col("binlog_file")).alias("binlog_file"),
                    "binlog_pos",
                )
                m = self.table.merge(spark, shifted, f"{_src}:{epoch_id}")
                if m.get("skipped"):
                    # replayed epoch whose merge the commit log skipped (a
                    # prior crash landed the data but not the checkpoint):
                    # the watermark must STILL advance to this batch's
                    # ceiling, or gtid.json permanently lags the table and
                    # a later run_once re-merges already-applied rows
                    hi = fresh.agg(F.max("source_lsn")).collect()[0][0]
                else:
                    hi = (
                        int(m["lsn_max"]) - (_idx << LSN_BITS)
                        if m.get("lsn_max") is not None
                        else None
                    )
                with gtid_lock:
                    if hi is not None:
                        gtid.advance(_src, int(hi))
                        gtid.save(state_path)
                    totals["batches"] += 1

            return (
                spark.readStream.schema(CHANGELOG_SCHEMA)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(os.path.join(self.feeds[source], "data"))
                .writeStream.foreachBatch(handle)
                .option("checkpointLocation", os.path.join(checkpoint_root, source))
                .trigger(availableNow=True)
                .start()
            )

        if concurrent:
            queries = [(s, _start(s)) for s in sorted(self.feeds)]
            for source, q in queries:
                q.awaitTermination()
                totals["sources"][source] = gtid.sources.get(source, -1)
        else:
            for source in sorted(self.feeds):
                q = _start(source)
                q.awaitTermination()
                totals["sources"][source] = gtid.sources.get(source, -1)

        totals["gtid_executed"] = gtid.to_string()
        return totals
