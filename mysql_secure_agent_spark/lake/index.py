"""Secondary index over a non-key column of a LakeTable, maintained O(delta).

The main table's point ``lookup`` is bucket-pruned only for the bucket key
(``table.py::lookup``); a predicate on any other column scans every bucket.
An OLTP source would CREATE INDEX — this is the lake analog: the index is
itself a small ``LakeTable`` of ``(indexed col, src key cols)`` rows, KEYED by
that whole tuple and BUCKETED by the indexed column alone, so

* ``lookup_index(value)`` prunes to 1/n_buckets of the *index* metadata (the
  usual driver-side Murmur3 bucket math), yielding the matching src keys;
* fetching the full rows then prunes the *main* table to exactly the buckets
  those keys hash to.

Maintenance rides the changefeed (``read_changes``): per refresh the index
applies one idempotent lake merge containing (a) upserts for the net new
``(value, key)`` pairs, (b) deletes for pairs whose value changed or whose
key was deleted. Old values are NOT in the changefeed (it carries the new
image), so the refresher time-travels: it reads the main table at the
version of the PREVIOUS refresh, pruned to the changed keys' buckets — an
O(touched-buckets) read, never O(table). This is the same
materialized-view-index shape as a DynamoDB GSI or a Postgres index build +
WAL apply: index writes are deferred, batched, and idempotent.

The refresh cursor ((last lsn, main version)) travels INSIDE the refresh's
batch id (``{seq}.idx{lsn}_{version}``), so it commits atomically with the
merge through the index table's applied-batch ledger — there is no window
where entries are applied but the cursor is stale (a sidecar cursor written
after the merge would lose changes that land between a crash and the retry:
the retry's changefeed read would span them, but the merge would be skipped
as already-applied). The numeric ``{seq}.`` prefix makes old refresh ids
fold into the ledger's high-water mark like streaming epochs, keeping commit
metadata O(1) in the number of refreshes; the newest id — the cursor — is
always kept verbatim.

Reference scope note: the reference agent has no secondary indexes (it ships
changes outward; indexing is the warehouse's job) — this exceeds it, because
this lake IS the warehouse here.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .maintainer import IncrementalIndexMaintainer
from .table import SYS_LSN, LakeTable, _type_from_ddl


class SecondaryIndex(IncrementalIndexMaintainer):
    META = "_index.json"

    def __init__(self, root: str, main: LakeTable):
        self.root = root
        self.main = main
        with open(os.path.join(root, self.META)) as f:
            meta = json.load(f)
        self.col: str = meta["col"]
        self.table = LakeTable(root)

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        root: str,
        main: LakeTable,
        col: str,
        n_buckets: int = 16,
        overwrite: bool = False,
    ) -> "SecondaryIndex":
        commit = main.commit_at(resolve=False)
        types = dict(commit.schema)
        if col not in types:
            raise KeyError(f"no column {col!r} in the main table schema")
        if col in commit.key_cols:
            raise ValueError(
                f"{col!r} is a key column — the main table already prunes on it"
            )
        fields = [T.StructField(col, _type_from_ddl(types[col]), True)] + [
            T.StructField(k, _type_from_ddl(types[k]), False)
            for k in commit.key_cols
        ]
        LakeTable.create(
            root,
            T.StructType(fields),
            key_cols=[col, *commit.key_cols],
            bucket_cols=[col],
            n_buckets=n_buckets,
            overwrite=overwrite,
        )
        meta = {"col": col}
        with open(os.path.join(root, cls.META), "w") as f:
            json.dump(meta, f)
        return cls(root, main)

    # ------------------------------------------------ maintenance hooks
    # (cursor/refresh/_rebuild skeleton lives in IncrementalIndexMaintainer;
    # this class supplies only the scalar (value, key) entry derivation)
    TAG = "idx"

    def _old_projection(self, keys):
        return [F.col(self.col).alias("_old")]

    def _index_key_cols(self, keys):
        return [self.col, *keys]

    def _window_entries(self, changes, old, keys):
        # every `old` key is in `changes` (semi-join upstream) — a LEFT
        # join from the changes side loses nothing.
        paired = changes.select(
            "op", *keys, F.col(self.col).alias("_new"), "source_lsn"
        ).join(old, keys, "left")
        # delete the stale entry when the key vanished or its value moved;
        # NULL values are not indexed (lookup of NULL is unsupported).
        dels = paired.filter(
            F.col("_old").isNotNull()
            & (
                (F.col("op") == "D")
                | F.col("_new").isNull()
                | (F.col("_new") != F.col("_old"))
            )
        ).select(
            F.lit("D").alias("op"),
            F.col("_old").alias(self.col),
            *keys,
            F.col("source_lsn"),
        )
        ups = paired.filter(
            (F.col("op") == "U") & F.col("_new").isNotNull()
        ).select(
            F.lit("U").alias("op"),
            F.col("_new").alias(self.col),
            *keys,
            F.col("source_lsn"),
        )
        return ups.unionByName(dels)

    def _fresh_entries(self, state, keys):
        return state.filter(F.col(self.col).isNotNull()).select(
            F.col(self.col),
            *keys,
            F.col(SYS_LSN).alias("source_lsn"),
        )

    # ---------------------------------------------------------------- lookup
    def lookup_keys(self, spark: SparkSession, value: Any) -> DataFrame:
        """src-key rows whose ``col`` equals ``value`` — touches 1/n_buckets
        of the index's metadata and files. ``LakeTable.lookup`` reads in the
        driver, so every matched entry is materialized there before the
        caller's ``.limit(max_keys + 1)`` applies."""
        return self.table.lookup(spark, {self.col: value}).drop(self.col)

    def lookup_keys_range(
        self, spark: SparkSession, lo: Any = None, hi: Any = None
    ) -> DataFrame:
        """src-key rows whose ``col`` ∈ [lo, hi] (inclusive; None = open
        side). The indexed column is the index table's FIRST key column, so
        ``read(key_range=...)`` prunes at the listing level against the
        key stats sorted compaction recorded — a narrow range over a
        compacted 10^10-entry index opens only the files whose (col, ...)
        interval intersects, plus un-statted recent deltas."""
        return self.table.read(spark, key_range={self.col: (lo, hi)})

    def _fetch_matched(self, spark: SparkSession, matched: list) -> DataFrame:
        """Matched index rows → ONE main read pruned to their buckets →
        broadcast semi-join (the key list is small by construction)."""
        from .bucketing import bucket_for

        commit = self.main.commit_at(resolve=False)
        keys = commit.key_cols
        if not matched:
            return self.main.read(spark, buckets=[])
        types = dict(commit.schema)
        buckets = sorted(
            {
                bucket_for(
                    [r[c] for c in commit.bucket_cols],
                    [types[c] for c in commit.bucket_cols],
                    commit.n_buckets,
                )
                for r in matched
            }
        )
        keys_df = spark.createDataFrame(
            [tuple(r[c] for c in keys) for r in matched],
            T.StructType(
                [T.StructField(c, _type_from_ddl(types[c]), False) for c in keys]
            ),
        )
        base = self.main.read(spark, buckets=buckets)
        return base.join(F.broadcast(keys_df), keys, "leftsemi")

    def lookup(
        self, spark: SparkSession, value: Any, max_keys: int = 100_000
    ) -> DataFrame:
        """Full main-table rows whose ``col`` equals ``value``: index probe →
        matched keys → ONE main read pruned to those keys' buckets → join.

        The matched key set is collected driver-side to compute the bucket
        list (the same O(matches) trade as ``LakeTable.lookup``'s driver-side
        hash); ``max_keys`` guards against using a low-selectivity value as a
        full scan — raise the cap or scan the table if you mean that.
        """
        matched = self.lookup_keys(spark, value).limit(max_keys + 1).collect()
        if len(matched) > max_keys:
            raise ValueError(
                f"index lookup for {value!r} matched more than {max_keys} keys; "
                "raise max_keys or use a full read with a filter"
            )
        return self._fetch_matched(spark, matched).filter(
            F.col(self.col) == F.lit(value)
        )

    def range_lookup(
        self,
        spark: SparkSession,
        lo: Any = None,
        hi: Any = None,
        max_keys: int = 100_000,
    ) -> DataFrame:
        """Full main-table rows whose ``col`` ∈ [lo, hi]: the range probe
        over the index (listing-pruned on compacted index files), then the
        same bucket-pruned main fetch as ``lookup``. The final re-filter on
        the MAIN row's current ``col`` value makes stale index entries
        harmless between refreshes (same contract as ``lookup``)."""
        if lo is None and hi is None:
            raise ValueError("range_lookup needs at least one bound")
        matched = (
            self.lookup_keys_range(spark, lo, hi).limit(max_keys + 1).collect()
        )
        if len(matched) > max_keys:
            raise ValueError(
                f"index range [{lo!r}, {hi!r}] matched more than {max_keys} "
                "keys; raise max_keys or use a full read with a filter"
            )
        out = self._fetch_matched(spark, matched)
        if lo is not None:
            out = out.filter(F.col(self.col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(self.col) <= F.lit(hi))
        return out
