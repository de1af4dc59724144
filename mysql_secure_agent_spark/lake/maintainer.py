"""Shared incremental-maintenance core for derived index tables.

``SecondaryIndex`` (scalar (value, key) entries) and ``AnnIndex`` (exploded
(band_bucket, key) entries) share one crash-safety design: a refresh cursor
``(seq, lsn, main version)`` that travels INSIDE the merge batch id —
``{seq}.{tag}{lsn}_{version}`` — so it commits atomically with the entries
through the index table's applied-batch ledger (no window where entries are
applied but the cursor is stale; see ``index.py``'s module docstring for
the full argument), a commit-window ``read_changes`` delta bounded to the
head snapshot, a bucket-pruned time-travel read recovering OLD values (the
feed carries only new images), and a ``_rebuild`` full backfill as the
recovery path when the cursor cannot be honored (snapshot expired, window
rewritten) — with shard-safe lsn stamping (upserts carry the row's own lsn,
deletes of vanished entries the stale entry's lsn+1; a global-max stamp
would let a huge higher-shard lsn shadow a lower-shard key's future
inserts).

This base class owns that skeleton ONCE. Subclasses provide only the entry
derivation:

* ``_old_projection(keys)`` — columns to read from the cursor-version
  snapshot of changed keys (the old state needed to delete stale entries);
* ``_window_entries(changes, old, keys)`` — the refresh merge batch
  (op U/D + index-key columns + source_lsn) from the changefeed window
  LEFT-joined to the old state;
* ``_index_key_cols(keys)`` — the index table's key tuple;
* ``_fresh_entries(state, keys)`` — the full (index keys + source_lsn) set
  derived from the main table's head state, for rebuilds.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup_changelog import last_image_wins
from .table import SYS_DELETED, SYS_LSN, LakeTable


class IncrementalIndexMaintainer:
    TAG = "idx"  # batch-id namespace; MUST stay stable per index kind

    # set by subclass __init__
    table: LakeTable
    main: LakeTable

    @property
    def _id_re(self) -> re.Pattern:
        return re.compile(rf"^(\d+)\.{self.TAG}(-?\d+)_(\d+)$")

    # ------------------------------------------------------- subclass hooks
    def _old_projection(self, keys: list[str]) -> list[F.Column]:
        raise NotImplementedError

    def _window_entries(
        self, changes: DataFrame, old: DataFrame, keys: list[str]
    ) -> DataFrame:
        raise NotImplementedError

    def _index_key_cols(self, keys: list[str]) -> list[str]:
        raise NotImplementedError

    def _fresh_entries(
        self, state: DataFrame, keys: list[str]
    ) -> DataFrame:
        raise NotImplementedError

    # --------------------------------------------------------------- cursor
    def _cursor(self) -> dict[str, int]:
        """Recover (seq, lsn, version) from the index table's own applied
        ledger — the newest refresh id IS the cursor, committed atomically
        with its entries."""
        commit = self.table.commit_at(resolve=False)
        best = (-1, -1, 0)
        for bid in commit.applied_batches:
            m = self._id_re.match(bid)
            if m:
                t = (int(m.group(1)), int(m.group(2)), int(m.group(3)))
                if t[0] > best[0]:
                    best = t
        return {"seq": best[0], "cursor_lsn": best[1], "cursor_version": best[2]}

    # --------------------------------------------------------------- refresh
    def refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Catch the index up to the main table's current head.

        Cost: one changefeed read (listing-pruned to the window's files),
        one time-travel read of the main table pruned to the changed keys'
        buckets, one lake merge of O(changed keys) index entries.
        """
        cur = self._cursor()
        main_commit = self.main.commit_at(resolve=False)
        head_version = main_commit.version
        if head_version == cur["cursor_version"]:
            return {"skipped": True, "reason": "index already at main head"}
        if cur["cursor_version"] < self.main.version_floor():
            # the cursor's snapshot was expired (or this is a fresh index
            # on an already-expired table): the old-value time-travel read
            # is impossible — full backfill instead of wedging forever
            return self._rebuild(spark)
        keys = main_commit.key_cols

        # The delta is bounded by the COMMIT WINDOW (cursor_version, head],
        # pinned to the head snapshot — both bounds matter: a merge racing
        # this refresh must not slip events past the recorded cursor, and a
        # scalar lsn cursor would silently drop every lower-namespaced
        # shard's events once one higher-shard lsn had been seen. If the
        # window's history was rewritten beyond a cursor-consumed
        # compaction, fall back to a full rebuild.
        try:
            changes = self.main.read_changes(
                spark,
                since_lsn=-1,
                since_version=cur["cursor_version"],
                version=head_version,
            )
        except ValueError:
            return self._rebuild(spark)
        changes = changes.persist()
        try:
            # old state: main table AT THE CURSOR VERSION, pruned to the
            # changed keys' buckets, semi-joined to those keys. Bucket ids
            # are only meaningful under the layout of the version being
            # read — after a rebucket between cursor and head, fall back
            # to an unpruned time-travel read rather than miss files.
            old_commit = self.main.commit_at(cur["cursor_version"], resolve=False)
            same_layout = (
                old_commit.n_buckets == main_commit.n_buckets
                and old_commit.bucket_cols == main_commit.bucket_cols
            )
            # ONE scalar-agg job over the cached changes computes both the
            # touched-bucket set (collect_set is tiny: ≤ n_buckets ints)
            # and the new cursor lsn.
            aggs = [F.max("source_lsn").alias("_hi")]
            if same_layout:
                aggs.append(
                    F.collect_set(
                        self.main._bucket_expr(main_commit)
                    ).alias("_bs")
                )
            stats = changes.agg(*aggs).collect()[0]
            touched = (
                sorted(int(b) for b in stats["_bs"]) if same_layout else None
            )
            old = (
                self.main.read(
                    spark, version=cur["cursor_version"], buckets=touched
                )
                .select(*keys, *self._old_projection(keys))
                .join(changes.select(*keys), keys, "leftsemi")
            )
            entries = self._window_entries(changes, old, keys)
            # the batch id carries the POST-refresh cursor: it lands in the
            # ledger in the same atomic commit as the entries, so _cursor()
            # recovery can never lag the data.
            hi = stats["_hi"]
            to_lsn = int(hi) if hi is not None else cur["cursor_lsn"]
            batch_id = f"{cur['seq'] + 1}.{self.TAG}{to_lsn}_{head_version}"
            metrics = self.table.merge(spark, entries, batch_id)
        except ValueError as e:
            # expire_versions can land CONCURRENTLY after the floor check
            # above — recover through the rebuild path instead of crashing
            if "expired" in str(e):
                return self._rebuild(spark)
            raise
        finally:
            changes.unpersist()
        if touched is not None:
            metrics["index_buckets_pruned_read"] = touched
        return metrics

    def _rebuild(self, spark: SparkSession) -> dict[str, Any]:
        """Full backfill — the recovery path when the incremental cursor
        cannot be honored. The DynamoDB-GSI-backfill analog: recompute the
        full entry set at head, delete index entries the head state no
        longer supports, upsert the rest — one idempotent merge whose
        batch id advances the cursor to head atomically. Lsn stamping is
        shard-safe (see module docstring)."""
        cur = self._cursor()
        head_commit = self.main.commit_at()
        head_version = head_commit.version
        keys = head_commit.key_cols
        ikeys = self._index_key_cols(keys)
        # snapshot cursor lsn from listing metadata (display/ordering only)
        to_lsn = max(
            (
                int(e["lsn_max"])
                for es in head_commit.files.values()
                for e in es
                if e.get("lsn_max") is not None
            ),
            default=max(cur["cursor_lsn"], 0),
        )
        raw = self.main._read_files(spark, head_commit)
        if raw is None:
            fresh = None
        else:
            state = last_image_wins(
                raw, key_cols=keys, order_col=SYS_LSN, strategy="max_by"
            ).filter(~F.col(SYS_DELETED))
            fresh = self._fresh_entries(state, keys).persist()
        try:
            iraw = self.table._read_files(spark, self.table.commit_at())
            entries_parts = []
            if iraw is not None:
                existing = last_image_wins(
                    iraw, key_cols=ikeys, order_col=SYS_LSN, strategy="max_by"
                ).filter(~F.col(SYS_DELETED))
                gone = existing.select(
                    *ikeys, F.col(SYS_LSN).alias("_elsn")
                )
                if fresh is not None:
                    gone = gone.join(
                        fresh.select(*ikeys), ikeys, "left_anti"
                    )
                entries_parts.append(
                    gone.select(
                        F.lit("D").alias("op"),
                        *ikeys,
                        (F.col("_elsn") + 1).alias("source_lsn"),
                    )
                )
            if fresh is not None:
                entries_parts.append(
                    fresh.select(
                        F.lit("U").alias("op"), *ikeys, "source_lsn"
                    )
                )
            if not entries_parts:
                return {"skipped": True, "reason": "empty main and index"}
            entries = entries_parts[0]
            for p in entries_parts[1:]:
                entries = entries.unionByName(p)
            batch_id = f"{cur['seq'] + 1}.{self.TAG}{to_lsn}_{head_version}"
            metrics = self.table.merge(spark, entries, batch_id)
        finally:
            if fresh is not None:
                fresh.unpersist()
        metrics["rebuild"] = True
        return metrics
