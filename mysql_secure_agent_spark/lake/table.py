"""LakeTable — a bucketed merge-on-read Parquet table with an atomic commit log.

This is the engine's MERGE INTO target. The north-star design calls for an
Iceberg table; no Iceberg runtime jar exists in this sandbox, so this module
implements the required subset of Iceberg v2 semantics from scratch, Spark-
first:

  * **Keyed upsert/delete application** — the destination-side contract of the
    reference agent (every emitted event is keyed by the table PK,
    ``output/ColumnDefinition.java:10-11``, ``output/Event.java:14-43``):
    replaying the changelog in log order reproduces the source table.
  * **Merge-on-read**: a merge appends per-bucket *delta* files (upsert rows +
    delete tombstones, each carrying its ``source_lsn``); reads reconcile
    base+delta with a last-image-wins reduction. This is the scale path — a
    10^10-event feed cannot afford copy-on-write amplification per micro-batch.
  * **Bucket partitioning** on the conversation key (``bucket(N, conv_id)``
    layout): merges and compactions touch only the buckets present in the
    batch (partition pruning), and a hot conversation hashes to one bucket
    whose reconcile is still bounded by that conversation's size.
  * **Atomic commits**: each merge writes data files, then a versioned
    manifest JSON, then atomically swings the CURRENT pointer
    (``os.replace``). A crash mid-merge leaves orphan files that no manifest
    references — the analog of the reference's flush-data-then-state ordering
    (``output/BucketOutput.java:127-138``) which yields at-least-once delivery
    with exactly-once *effect*.
  * **Exactly-once batch application**: commits record applied ``batch_id``s;
    a replayed micro-batch (Structured Streaming retry after a successful
    commit) is skipped. This is the batch-id high-water-mark from SURVEY §7.
  * **Schema evolution**: ``add_column`` / ``modify_column_type`` create a new
    schema version; readers project old files through the current schema
    (missing columns read as NULL), mirroring Iceberg add-column semantics and
    replacing the reference's re-infer-on-arity-mismatch loop
    (``Updater.java:188-217``).
  * **Time travel**: any committed version can be read back.

Single-writer (one streaming driver), many-reader — same operational model as
the reference agent (one ``Updater`` loop, ``Updater.java:48-60``).
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import time
import uuid
import dataclasses
import functools
import operator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..operators.dedup_changelog import last_image_wins

# System columns stored in every data file (never exposed by read()).
SYS_DELETED = "_deleted"
SYS_LSN = "source_lsn"


def _require_ts_micros(spark: SparkSession) -> None:
    """Lake data files always carry int64-micros timestamps (the Iceberg/
    modern-parquet physical type). Spark's legacy INT96 default writes NO
    column statistics, which would silently blind both the manifests'
    stats_cols pruning (read_where) and executor-side row-group skipping on
    time predicates — set at every lake write chokepoint so the guarantee
    holds under sessions the engine didn't build (driver harnesses,
    spark-submit defaults)."""
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")


@functools.lru_cache(maxsize=None)
def _type_from_ddl(ddl: str) -> T.DataType:
    # public-ish helper used by schema= strings; a JVM round trip per call,
    # so each DDL string is parsed once
    return T._parse_datatype_string(ddl)


def _footer_stats(paths: list[str]) -> tuple[int, int, int | None, int | None]:
    """(rows, deletes, lsn_min, lsn_max) from parquet footers; deletes reads
    only the boolean tombstone column."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows = deletes = 0
    lsn_min: int | None = None
    lsn_max: int | None = None
    for p in paths:
        pf = pq.ParquetFile(p)
        md = pf.metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == SYS_LSN and col.statistics is not None:
                    mn, mx = col.statistics.min, col.statistics.max
                    lsn_min = mn if lsn_min is None else min(lsn_min, mn)
                    lsn_max = mx if lsn_max is None else max(lsn_max, mx)
        tbl = pf.read(columns=[SYS_DELETED])
        s = pc.sum(pc.cast(tbl.column(0), "int64")).as_py()
        deletes += int(s or 0)
    return rows, deletes, lsn_min, lsn_max


def _canon_stat_bound(v: Any) -> Any:
    """JSON-safe, ORDER-PRESERVING canonical form for a footer stat bound.
    Temporal bounds become fixed-width strings (lexicographic == chronologic:
    every rendered value has identical width, zero-padded fields), so they
    survive the JSON manifest and compare correctly against query bounds
    canonicalized through this same function. int/float/str pass through;
    anything else returns None (the column stays un-prunable, conservative).
    Naive timestamps are rendered as-is — parquet stores timestamp values in
    a single epoch; both the stat and the query bound pass through here, so
    the comparison is internally consistent without a tz decision."""
    import datetime as _dt

    if isinstance(v, bool):  # bool is an int subclass; no ordering value
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S") + f".{v.microsecond:06d}"
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d")
    return None


def _file_key_stats(path: str, cols: list[str]) -> dict[str, list[Any]]:
    """Per-file min/max for the given columns from the parquet FOOTER only
    (no data pages read). Returns only columns with complete stats in every
    row group and JSON-representable bounds (int/float/str, plus temporal
    types via ``_canon_stat_bound``'s fixed-width rendering) — anything else
    is simply omitted and the file stays un-prunable (conservative).

    Parquet writers may truncate string bounds, but the spec's truncation
    keeps them conservative (min truncated down, max prefix-incremented),
    so intersection tests on these values never skip a file they shouldn't.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {}
    for ci in range(md.row_group(0).num_columns if md.num_row_groups else 0):
        names[md.row_group(0).column(ci).path_in_schema] = ci
    out: dict[str, list[Any]] = {}
    for c in cols:
        ci = names.get(c)
        if ci is None:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _canon_stat_bound(st.min), _canon_stat_bound(st.max)
            if lo is None or hi is None:
                ok = False
                break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        if ok and mn is not None:
            out[c] = [mn, mx]
    return out


def _file_key_bloom(hashes: list[int] | None) -> dict[str, Any] | None:
    """Manifest bloom over a file's bucket-key hashes (``F.hash``, the h1 of
    ``lake.bloom``) — recorded only for files at/below ``KEY_BLOOM_MAX_ROWS``
    rows (the micro-batch deltas range stats cannot prune; a bulk file's
    bloom would bloat driver metadata and compaction will key-sort it soon
    anyway). ``hashes`` is None when the bucket-key types are not
    driver-hashable: a lookup could not probe such a bloom."""
    from .bloom import KEY_BLOOM_MAX_ROWS, build_bloom

    if hashes is None or len(hashes) > KEY_BLOOM_MAX_ROWS:
        return None
    return build_bloom(hashes)


def _last_images(t, keys: list[str]):
    """The max-``source_lsn`` row per key of a pyarrow table, in key order:
    sorted by (key, lsn), an ordered ``group_by``'s "last" row index is each
    key's max-lsn image."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = t.take(pc.sort_indices(t, [(c, "ascending") for c in keys + [SYS_LSN]]))
    t = t.append_column("_i", pa.array(np.arange(t.num_rows, dtype=np.int64)))
    last = t.group_by(keys, use_threads=False).aggregate([("_i", "last")])
    return t.take(last["_i_last"]).drop_columns(["_i"])


def _write_lake_parquet(t, path: str) -> None:
    """Write one lake data file with pyarrow in the encoding Spark's writer
    gives the same rows: zstd level 3, no embedded Arrow schema,
    and dictionary pages only for flat columns with fewer distinct values
    than half the rows (parquet-mr falls back to PLAIN for the rest, such as
    free text, timestamps and lsns)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    dictionary = [
        f.name for f in t.schema
        if not pat.is_nested(f.type)
        and 2 * pc.count_distinct(t[f.name]).as_py() < t.num_rows
    ]
    pq.write_table(
        t, path, compression="zstd", compression_level=3,
        use_dictionary=dictionary, store_schema=False,
    )


def _merge_meta_schema():
    """The metadata row ``_merge_kernel`` returns for each bucket it wrote."""
    import pyarrow as pa

    return pa.schema(
        [
            ("bucket", pa.int32()),
            ("rows_in", pa.int64()),
            ("rows", pa.int64()),
            ("deletes", pa.int64()),
            ("lsn_min", pa.int64()),
            ("lsn_max", pa.int64()),
            ("event_ts_min", pa.float64()),
            ("event_ts_max", pa.float64()),
            ("key_hashes", pa.list_(pa.int32())),
        ]
    )


def _merge_kernel(
    t, key_cols: list[str], n_buckets: int, file_schema, transform,
    out_dir: str, hashable: bool,
):
    """The data work of one merge, on a pyarrow table of projected change
    images carrying ``_h = F.hash(bucket_cols)`` (and ``_event_ts`` when
    the merge has a lag column): the whole batch in the driver placement,
    one bucket partition of it in the executor placement.

    Keeps the max-``source_lsn`` image per key (``_last_images``), applies
    the transform's Arrow form, and writes one file per bucket,
    ``out_dir/_bucket=k/part-{k:05d}.c000.zstd.parquet``. Each file is
    written under a unique temp name and moved into place with
    ``os.replace``, so a retried or speculative task replaces its file
    instead of adding a second one. Returns one ``_merge_meta_schema`` row
    per bucket: the input and output counts, the lsn bounds of the kept
    images, the event-time bounds of the input, and the key hashes for the
    file's bloom (only for buckets of at most ``KEY_BLOOM_MAX_ROWS`` rows
    whose key types the driver can hash)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .bloom import KEY_BLOOM_MAX_ROWS

    b_in = np.mod(t["_h"].to_numpy().astype(np.int64), n_buckets)
    ts = t["_event_ts"] if "_event_ts" in t.column_names else None
    t = _last_images(t, key_cols)
    if transform is not None:
        t = transform.arrow(t)
    hashes = t["_h"].to_numpy()
    buckets = np.mod(hashes.astype(np.int64), n_buckets)
    t = t.select(file_schema.names).cast(file_schema)
    rows = []
    for b in np.unique(buckets).tolist():
        sel = np.flatnonzero(buckets == b)
        part = t.take(sel)
        bucket_dir = os.path.join(out_dir, f"_bucket={b}")
        os.makedirs(bucket_dir, exist_ok=True)
        path = os.path.join(bucket_dir, f"part-{b:05d}.c000.zstd.parquet")
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        _write_lake_parquet(part, tmp)
        os.replace(tmp, path)
        lsn = pc.min_max(part[SYS_LSN])
        mask = b_in == b
        ts_b = None if ts is None else pc.min_max(ts.filter(pa.array(mask)))
        rows.append(
            {
                "bucket": b,
                "rows_in": int(np.count_nonzero(mask)),
                "rows": part.num_rows,
                "deletes": pc.sum(pc.cast(part[SYS_DELETED], pa.int64())).as_py(),
                "lsn_min": lsn["min"].as_py(),
                "lsn_max": lsn["max"].as_py(),
                "event_ts_min": None if ts_b is None else ts_b["min"].as_py(),
                "event_ts_max": None if ts_b is None else ts_b["max"].as_py(),
                "key_hashes": (
                    hashes[sel].tolist()
                    if hashable and sel.size <= KEY_BLOOM_MAX_ROWS
                    else None
                ),
            }
        )
    return pa.Table.from_pylist(rows, schema=_merge_meta_schema())


def _entry_intersects(
    entry: dict[str, Any], key_range: dict[str, tuple[Any, Any]]
) -> bool:
    """True unless the entry's recorded key stats PROVE the file holds no
    row in the range. Entries without stats for a column are always kept."""
    stats = entry.get("key_stats")
    if not stats:
        return True
    for c, (lo, hi) in key_range.items():
        s = stats.get(c)
        if s is None:
            continue
        mn, mx = s
        try:
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return False
        except TypeError:  # bound/stat type mismatch — keep (conservative)
            continue
    return True


# Where a merge runs ``_merge_kernel``: a batch the optimizer estimates under
# this many bytes runs it in the driver, on one Arrow collect; larger batches
# run it in the executors, one task per bucket. Both placements write the same
# files. On a 4-core host a live-tail batch of ~1,200 events (~65 KB) merged
# in ~0.1 s in the driver against ~0.6 s as a shuffle job. A binlog backfill
# trigger of 20k decoded events (~1.7 MB) stays in the executors: with a
# 4 MiB cut its lookup p50 was x1.10 slower in 6 of 6 cdcbench pairs.
DRIVER_MERGE_MAX_BYTES = 1 << 20


# Bounds on driver-side metadata: the commit JSON must stay O(1)-ish no
# matter how many micro-batches have been applied (10^10 events at seconds-
# cadence triggers = millions of commits — an O(history) rewrite per commit
# is a driver-side scale-killer; Iceberg avoids it with manifest lists).
MAX_APPLIED_BATCHES = 256   # recent batch ids kept verbatim; older → hwm
MAX_MANIFESTS = 64          # manifest-list length before a rollup merge
APPLIED_EPOCH_LAG = 8       # numeric epochs older than max-LAG may prune


def _epoch_int(batch_id: str) -> int | None:
    """Streaming epoch prefix of a batch id ('7', '7.2', '7.tail' → 7);
    None for non-numeric ids (backfill/import tags)."""
    head = batch_id.split(".", 1)[0]
    try:
        return int(head)
    except ValueError:
        return None


# The hash behind bucket assignment is part of the table FORMAT: changing it
# silently re-buckets new deltas away from a key's existing files, breaking
# bucket-pruned reads. Every commit JSON records it; Murmur3 (``F.hash``) is
# the only function this engine writes or reads (``Commit.from_json``
# refuses any other).
BUCKET_FUNCTION = "murmur3"


@dataclass
class Commit:
    # Field order is the commit JSON's key order (``to_json``), except that
    # ``bucket_function`` is written after ``n_buckets`` and ``files`` (the
    # resolved view) is never written.
    version: int
    schema: list[tuple[str, str]]  # (name, spark ddl type) in order
    key_cols: list[str]
    bucket_cols: list[str]
    n_buckets: int
    # Ordered manifest-file names under _commits/; the resolved file set is
    # the union of their "add" dicts. Compaction/rewrite resets the chain to
    # one full manifest.
    manifests: list[str] = field(default_factory=list)
    applied_batches: dict[str, int] = field(default_factory=dict)  # batch_id -> version
    # Exactly-once high-water mark: every streaming epoch <= hwm is applied
    # even if its id was pruned from applied_batches. Safe because Structured
    # Streaming only retries the LATEST unfinished batch — epoch e+1 never
    # starts before every sub-merge of epoch e committed.
    applied_hwm: int = -1
    # Changefeed retention floor: compaction collapses per-key history (and
    # drops tombstones), so an incremental reader whose cursor is older than
    # the highest lsn swallowed by a compaction can no longer get a faithful
    # delta — the analog of MySQL purging binlogs out from under a replica
    # (the reference surfaces server error 1236 for that,
    # ``BinlogClient.java`` reconnect path). read_changes() refuses cursors
    # below this. -1 = nothing compacted yet.
    changefeed_floor: int = -1
    # Names dropped by DROP COLUMN whose physical data may still live in
    # old files (drop is metadata-only). Projection is by NAME (no Iceberg
    # field ids), so re-ADDing one of these names without purging would
    # resurrect the old values — add_column() forces a physical rewrite for
    # names on this list.
    dropped_cols: list[str] = field(default_factory=list)
    # RENAME COLUMN mapping: logical (current) name -> prior physical names,
    # newest first. Renames are metadata-only (the Iceberg renameColumn
    # analog — no 100 TB rewrite for a name change): files written before
    # the rename keep the old physical column, and ``_read_files`` projects
    # ``coalesce(logical, *priors)`` so every reader sees the logical name.
    # Sound because each file holds exactly ONE of the names (the rename
    # guard refuses a target name that any live file could physically hold).
    # Full-rewrite operations (purge/modify/rebucket) materialize the
    # logical names and clear this map.
    renamed_cols: dict[str, list[str]] = field(default_factory=dict)
    # VALUE columns whose per-file min/max are recorded in manifests — on
    # micro-batch deltas too, where key stats are useless (arrival order
    # spans the key domain) but a time-like column's range is narrow. These
    # stats feed read_where()'s two-phase candidate pruning; they may NOT
    # prune read(key_range=...) reconciliation directly (a value column is
    # mutable across a key's images — see read()'s docstring).
    stats_cols: list[str] = field(default_factory=list)
    # Wall-clock commit time (epoch seconds), stamped once in _write_commit.
    # Powers AS-OF-TIMESTAMP time travel (version_asof/read_asof). Single
    # writer ⇒ non-decreasing in practice; version order stays the
    # authoritative order and asof resolution tolerates clock jitter by
    # scanning, never assuming strict monotonicity.
    committed_at: float | None = None
    # Highest DDL-event lsn applied to this table. DDL idempotence cannot be
    # judged from schema state alone: ADD(c) then DROP(c) leaves the schema
    # exactly as if ADD were never applied, so a state-only "pending" check
    # re-applies the ADD forever (and vice versa). Events at or below this
    # mark are consumed regardless of what the schema looks like; replaying
    # a crashed micro-batch sees the mark persisted by the DDL's own commit
    # and skips it — the same replay-idempotence design as applied_batches.
    ddl_hwm: int = -1
    parent: int | None = None
    summary: dict[str, Any] = field(default_factory=dict)
    # bucket (as str) -> list of file entries {path, kind: base|delta}.
    # RESOLVED view — populated from the manifest chain on load; the commit
    # JSON itself persists only the manifest-file names (O(delta) writes).
    files: dict[str, list[dict[str, Any]]] = field(default_factory=dict)

    def is_applied(self, batch_id: str) -> bool:
        if batch_id in self.applied_batches:
            return True
        e = _epoch_int(batch_id)
        return e is not None and e <= self.applied_hwm

    def successor(
        self, version: int, summary: dict[str, Any], **changes: Any
    ) -> "Commit":
        """The commit of a state transition from this one — the ONLY way a
        new commit is derived, so a new field is carried by every
        transition. Every field is copied (containers too, so the two
        commits never alias), ``parent`` becomes this version, the resolved
        ``files`` view is dropped and ``committed_at`` cleared so
        ``_write_commit`` stamps the new commit's own instant (a copied
        stamp would make ``version_asof`` resolve past it). ``changes``
        names what the transition alters."""
        carried = {
            f.name: copy.copy(v)
            for f in dataclasses.fields(self)
            if isinstance(v := getattr(self, f.name), (list, dict))
        }
        return dataclasses.replace(
            self,
            **{
                **carried,
                "version": version,
                "parent": self.version,
                "files": {},
                "committed_at": None,
                "summary": summary,
                **changes,
            },
        )

    def to_json(self) -> str:
        d: dict[str, Any] = {}
        for f in dataclasses.fields(self):
            if f.name == "files":
                continue
            d[f.name] = getattr(self, f.name)
            if f.name == "n_buckets":
                d["bucket_function"] = BUCKET_FUNCTION
        return json.dumps(d, indent=1)

    @staticmethod
    def from_json(s: str) -> "Commit":
        d = json.loads(s)
        bf = d.get("bucket_function", BUCKET_FUNCTION)
        if bf != BUCKET_FUNCTION:
            raise ValueError(
                f"unsupported bucket_function {bf!r}: tables are bucketed "
                f"with {BUCKET_FUNCTION!r} only"
            )
        d["schema"] = [tuple(x) for x in d["schema"]]
        return Commit(
            **{
                f.name: d[f.name]
                for f in dataclasses.fields(Commit)
                if f.name != "files" and f.name in d
            }
        )


class LakeTable:
    """Bucketed merge-on-read table; see module docstring."""

    def __init__(self, root: str):
        self.root = root
        # Serializes the COMMIT-POINTER swing (version assignment + commit
        # JSON + current swap) across in-process writer threads — the
        # single-driver analog of Iceberg's optimistic catalog commit. The
        # heavy work of a merge (scan, dedup exchange, bucket write) runs
        # outside it, so N concurrent merges overlap on the cluster and only
        # the O(ms) pointer swings serialize. Cross-PROCESS writers would
        # need a real catalog/lock service, exactly as Iceberg does.
        import threading

        self._commit_lock = threading.RLock()

    # ---------------------------------------------------------------- layout
    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def _metrics_dir(self) -> str:
        return os.path.join(self.root, "_metrics")

    def _current_path(self) -> str:
        return os.path.join(self._commits_dir, "CURRENT")

    # Naming hooks — a BranchView (lake/refs.py) overrides these so branch
    # commits/manifests live in their own filename namespace and main's
    # version line stays contiguous and linear.
    def _commit_fname(self, v: int) -> str:
        return f"v{v:08d}.json"

    def _mname(self, version: int, suffix: str = "") -> str:
        return f"m{version:08d}{suffix}.json"

    def _swing_pointer(self, version: int) -> None:
        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, self._current_path())  # atomic pointer swing

    @staticmethod
    def _wap_tag(wap_id: str) -> str:
        # filename-safe fixed-width tag for arbitrary wap ids
        return hashlib.sha1(wap_id.encode()).hexdigest()[:16]

    def _staged_path(self, tag: str) -> str:
        return os.path.join(self._commits_dir, f"staged-{tag}.json")

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        bucket_cols: list[str] | None = None,
        n_buckets: int = 16,
        overwrite: bool = False,
        stats_cols: list[str] | None = None,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(root, "_commits")):
            if not overwrite:
                raise FileExistsError(f"table already exists at {root}")
            shutil.rmtree(root)
        t = cls(root)
        os.makedirs(t._commits_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        os.makedirs(t._metrics_dir, exist_ok=True)
        # Default bucketing on the FULL key: a hot conversation then spreads
        # over buckets by turn_idx (hash includes it), and bucket_cols ⊆
        # key_cols keeps the merge single-shuffle (see merge()). Pass
        # bucket_cols=["conv_id"] instead to co-locate whole conversations
        # (conversation-lookup pruning at the cost of hot-conv write skew).
        names = {f.name for f in schema.fields}
        bad = sorted(set(stats_cols or []) - names)
        if bad:
            raise ValueError(f"stats_cols {bad} not in schema")
        commit = Commit(
            version=0,
            schema=[(f.name, f.dataType.simpleString()) for f in schema.fields],
            key_cols=list(key_cols),
            bucket_cols=list(bucket_cols or key_cols),
            n_buckets=n_buckets,
            stats_cols=list(stats_cols or []),
            summary={"operation": "create"},
        )
        t._write_commit(commit)
        return t

    # -------------------------------------------------------------- metadata
    def current_version(self) -> int:
        with open(self._current_path()) as f:
            return int(f.read().strip())

    def version_floor(self) -> int:
        """Oldest version still readable (time travel below it was expired
        by ``expire_versions``); 0 when nothing has ever been expired."""
        p = os.path.join(self._commits_dir, "FLOOR")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def commit_at(self, version: int | None = None, resolve: bool = True) -> Commit:
        """Load a commit. ``resolve=True`` materializes the full file listing
        from the manifest chain into ``commit.files`` (needed by readers,
        compaction, vacuum). ``resolve=False`` skips that: the merge/metadata
        paths only need schema/keys/applied-batches, and resolving O(live
        files) per micro-batch would make commit-time driver memory grow with
        table size — at 10^10 events the listing is millions of entries while
        a merge only APPENDS a delta manifest."""
        v = self.current_version() if version is None else version
        floor = self.version_floor()
        if v < floor and v not in self.tag_versions().values():
            # tagged versions stay readable below the floor (Iceberg keeps
            # tagged snapshots through expireSnapshots the same way)
            raise ValueError(
                f"version {v} expired: expire_versions() retains only "
                f"versions >= {floor} (time-travel floor) and tagged versions"
            )
        with open(os.path.join(self._commits_dir, self._commit_fname(v))) as f:
            commit = Commit.from_json(f.read())
        if resolve:
            self._resolve(commit)
        return commit

    def _resolve(self, commit: Commit) -> None:
        """Materialize ``commit.files`` from its manifest chain (adds only)."""
        for name in commit.manifests:
            for b, entries in self._load_manifest(name).items():
                commit.files.setdefault(b, []).extend(entries)

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._commits_dir, name)

    def _load_manifest(self, name: str) -> dict[str, list[dict[str, Any]]]:
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        if name not in cache:
            with open(self._manifest_path(name)) as f:
                cache[name] = json.loads(f.read())["add"]
        return cache[name]

    def _write_manifest(self, name: str, add: dict[str, list[dict[str, Any]]]) -> str:
        path = self._manifest_path(name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps({"add": add}))
        os.replace(tmp, path)
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        cache[name] = add
        return name

    def _extend_manifests(
        self, parent: Commit, version: int, delta: dict[str, list[dict[str, Any]]]
    ) -> list[str]:
        """Append one delta manifest to the parent's chain, rolling up the
        oldest half when the chain exceeds MAX_MANIFESTS — the commit JSON
        stays O(MAX_MANIFESTS) no matter how many merges have run. Rolled-up
        files are NEW files; old commits keep resolving through the old ones
        (time travel unaffected)."""
        chain = list(parent.manifests)
        if delta:  # empty micro-batches (heartbeats) add no manifest
            chain.append(self._write_manifest(self._mname(version), delta))
        if len(chain) > MAX_MANIFESTS:
            k = len(chain) // 2
            merged: dict[str, list[dict[str, Any]]] = {}
            for name in chain[:k]:
                for b, entries in self._load_manifest(name).items():
                    merged.setdefault(b, []).extend(entries)
            rollup = self._write_manifest(self._mname(version, ".rollup"), merged)
            chain = [rollup] + chain[k:]
        return chain

    @staticmethod
    def _prune_applied(applied: dict[str, int], hwm: int) -> tuple[dict[str, int], int]:
        """Bound the applied-batch set: keep the newest MAX_APPLIED_BATCHES
        ids verbatim; numeric epochs older than max-APPLIED_EPOCH_LAG fold
        into the high-water mark (is_applied covers them). Non-numeric ids
        (imports/backfills — few) are kept verbatim."""
        if len(applied) <= MAX_APPLIED_BATCHES:
            return applied, hwm
        epochs = [e for e in (_epoch_int(b) for b in applied) if e is not None]
        if not epochs:
            return applied, hwm
        cutoff = max(epochs) - APPLIED_EPOCH_LAG
        kept: dict[str, int] = {}
        for b, v in applied.items():  # insertion order = application order
            e = _epoch_int(b)
            if e is not None and e < cutoff:
                hwm = max(hwm, e)
            else:
                kept[b] = v
        return kept, hwm

    def schema(self, version: int | None = None) -> T.StructType:
        return self._declared_schema(self.commit_at(version))

    @staticmethod
    def _declared_schema(commit: Commit) -> T.StructType:
        """The commit's logical columns, all nullable — what reads return."""
        return T.StructType(
            [T.StructField(n, _type_from_ddl(dt), True) for n, dt in commit.schema]
        )

    def _stored_schema(self, commit: Commit) -> T.StructType:
        fields = list(self._declared_schema(commit).fields)
        # prior physical names of renamed columns, typed as their logical
        # column: files written before the rename surface their values here
        # (and read the logical name as NULL); _read_files coalesces.
        types = dict(commit.schema)
        for logical, priors in commit.renamed_cols.items():
            for p in priors:
                fields.append(T.StructField(p, _type_from_ddl(types[logical]), True))
        fields.append(T.StructField(SYS_LSN, T.LongType(), True))
        fields.append(T.StructField(SYS_DELETED, T.BooleanType(), True))
        return T.StructType(fields)

    def _write_commit(self, commit: Commit) -> None:
        if commit.committed_at is None:
            commit.committed_at = time.time()
        path = os.path.join(self._commits_dir, self._commit_fname(commit.version))
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(commit.to_json())
        os.replace(tmp, path)
        self._swing_pointer(commit.version)

    def _history_ceiling(self, commit: Commit, entries: list[dict[str, Any]]) -> int:
        """Changefeed floor after a rewrite that collapses ``entries``: the
        highest lsn they hold, never below ``commit``'s floor. Every file
        the engine writes records its lsn range — merge deltas from the
        merge kernel's metadata rows, rewrites from their footers
        (``_rewrite``).
        A table written before purge/modify recorded it can still list
        files without one (a table root reopened across runs, as
        ``tools/cluster_job.py`` does); those fall back to one footer scan
        of exactly those files, paid at rewrite time, never on read."""
        ceil = [e.get("lsn_max") for e in entries]
        legacy = [e["path"] for e, mx in zip(entries, ceil) if mx is None]
        if legacy:
            ceil.append(_footer_stats([os.path.join(self.root, p) for p in legacy])[3])
        return max([commit.changefeed_floor] + [int(x) for x in ceil if x is not None])

    def _walk_written(
        self,
        out_dir: str,
        rel_dir: str,
        kind: str,
        footer_lsn_stats: bool = False,
        key_stats_cols: list[str] | None = None,
        key_hashes: dict[int, list[int] | None] | None = None,
    ) -> dict[str, list[dict[str, Any]]]:
        """Manifest entries for the ``_bucket=``-partitioned parquet files a
        rewrite just wrote under ``out_dir`` — the ONE implementation every
        rewrite path (merge, compact, rebucket, purge, modify) records its
        files through, so a new stats field lands in all manifests at once
        instead of silently diverging between them. ``footer_lsn_stats``
        reads each file's footer for its lsn range (``_rewrite``; merge
        deltas get exact batch-level stamps from the merge kernel's
        metadata rows); ``key_stats_cols`` additionally records per-file
        key min/max for listing-level range pruning of key-sorted files.
        ``key_hashes`` (bucket → the ``F.hash`` of every row's bucket key,
        from a merge) gives each bucket's file its key bloom
        (``_file_key_bloom``)."""
        todo: list[tuple[str, str, str]] = []  # (bucket, rel path, abs path)
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith("_bucket="):
                continue
            b = str(int(d.split("=")[1]))
            for fn in sorted(os.listdir(os.path.join(out_dir, d))):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(rel_dir, d, fn)
                todo.append((b, p, os.path.join(self.root, p)))

        def _entry_for(item: tuple[str, str, str]) -> dict[str, Any]:
            b, _, abs_p = item
            entry: dict[str, Any] = {"bytes": os.path.getsize(abs_p)}
            if footer_lsn_stats:
                _, _, mn, mx = _footer_stats([abs_p])
                if mn is not None and mx is not None:
                    entry["lsn_min"], entry["lsn_max"] = int(mn), int(mx)
            if key_stats_cols:
                ks = _file_key_stats(abs_p, key_stats_cols)
                if ks:
                    entry["key_stats"] = ks
            if key_hashes is not None:
                kb = _file_key_bloom(key_hashes.get(int(b)))
                if kb:
                    entry["key_bloom"] = kb
            return entry

        # The per-file stats builders are pyarrow footer reads — IO-bound
        # and GIL-releasing. A merge writes up to n_buckets delta files per
        # commit and this walk sat on the driver's critical path
        # sequentially (~2 ms/file → ~0.25 s of every bench merge at 128
        # buckets); a small thread pool cuts the fixed cost without
        # changing a single recorded byte.
        if len(todo) > 1 and (footer_lsn_stats or key_stats_cols):
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(todo))) as ex:
                stats = list(ex.map(_entry_for, todo))
        else:
            stats = [_entry_for(t) for t in todo]

        files: dict[str, list[dict[str, Any]]] = {}
        for (b, p, _abs), st in zip(todo, stats):
            files.setdefault(b, []).append({"path": p, "kind": kind, **st})
        return files

    # ------------------------------------------------------------- bucketing
    def _bucket_expr(self, commit: Commit) -> F.Column:
        """bucket = pmod(hash(bucket_cols), n_buckets) with the table
        format's Murmur3 (``BUCKET_FUNCTION``) — deliberately the SAME
        function Spark's HashPartitioning uses, so after
        ``repartition(n_buckets, *bucket_cols)`` partition id == bucket id
        exactly and a ``partitionBy("_bucket")`` write emits one file per
        bucket per task with NO extra exchange (see merge())."""
        return F.pmod(F.hash(*commit.bucket_cols), F.lit(commit.n_buckets)).cast("int")

    # ------------------------------------------------------------------ read
    def candidate_paths(
        self,
        commit: Commit,
        buckets: list[int] | None = None,
        min_lsn_exclusive: int | None = None,
        key_range: dict[str, tuple[Any, Any]] | None = None,
        key_probe: int | None = None,
    ) -> list[str]:
        """Listing-level file planning (the Iceberg ``planFiles`` analog):
        bucket pruning, lsn-cursor pruning, key-range pruning, and — for a
        point lookup — per-file key-BLOOM pruning, all against stats
        recorded in the manifest; no footer is opened. Entries without the
        relevant stats are kept (conservative).

        ``key_probe`` is the Murmur3 h1 of the full bucket-key tuple
        (``lake.bloom.key_hash``): delta files whose recorded bloom proves
        the key absent are dropped — the pruning layer that works where
        min/max cannot (arrival-ordered micro-batch deltas span the whole
        key domain). Sound for reconciliation: every image of a key,
        including its tombstone, carries the same bucket-key tuple, so a
        file the bloom excludes holds NO image of the looked-up key."""
        from .bloom import bloom_contains

        paths: list[str] = []
        for b, entries in commit.files.items():
            if buckets is not None and int(b) not in buckets:
                continue
            for e in entries:
                if (
                    min_lsn_exclusive is not None
                    and e.get("lsn_max") is not None
                    and e["lsn_max"] <= min_lsn_exclusive
                ):
                    continue
                if key_range is not None and not _entry_intersects(e, key_range):
                    continue
                if (
                    key_probe is not None
                    and e.get("key_bloom") is not None
                    and not bloom_contains(e["key_bloom"], key_probe)
                ):
                    continue
                paths.append(os.path.join(self.root, e["path"]))
        return paths

    def _read_files(
        self,
        spark: SparkSession,
        commit: Commit,
        buckets: list[int] | None = None,
        min_lsn_exclusive: int | None = None,
        key_range: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame | None:
        """Raw base+delta rows (with system columns) for the given buckets.

        ``min_lsn_exclusive`` skips files whose recorded lsn_max is ≤ the
        cursor — listing-level pruning: an incremental reader of a 10^6-file
        table opens only the files its cursor can touch, no footer reads.
        ``key_range`` additionally skips files whose recorded per-file key
        stats (written by every ``_rewrite``) cannot intersect the range.
        Every file records its lsn range; entries
        without stats for a range column (merge deltas carry no key stats,
        files written before ``set_stats_cols`` none for its columns) are
        kept — parquet row-group stats still prune them executor-side."""
        paths = self.candidate_paths(commit, buckets, min_lsn_exclusive, key_range)
        if not paths:
            return None
        # Explicit schema → files written before an ADD COLUMN project the new
        # column as NULL (Iceberg-style schema evolution on read).
        df = spark.read.schema(self._stored_schema(commit)).parquet(*paths)
        if commit.renamed_cols:
            # RENAME COLUMN resolution: a pre-rename file holds the value
            # under a prior physical name (logical reads NULL there); a
            # post-rename file holds it under the logical name (priors read
            # NULL). Each row comes from exactly one file, so a per-row
            # coalesce newest-name-first reconstructs the column without
            # rewriting a byte of data.
            for logical, priors in commit.renamed_cols.items():
                df = df.withColumn(logical, F.coalesce(F.col(logical), *[F.col(p) for p in priors]))
            df = df.select(
                *[n for n, _ in commit.schema], SYS_LSN, SYS_DELETED
            )
        return df

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
        key_range: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """Reconciled current state: last image per key, tombstones dropped.

        ``key_range`` = ``{key_col: (lo, hi)}`` (inclusive; None = unbounded
        side) restricts the scan to that range of KEY columns, pruned at the
        LISTING level against per-file stats recorded by sorted compaction —
        a range scan of a 10^10-row table opens only the base files whose
        key interval intersects, plus un-statted deltas. Only key columns
        are accepted: every image of a key (including its tombstone) carries
        the same key value, so a file whose stats exclude the range can hold
        no image of any qualifying key and skipping it cannot change
        last-image reconciliation. A value column would NOT be safe — an old
        in-range image of a key whose latest image is out-of-range would
        resurrect.
        """
        commit = self.commit_at(version)
        return self._reconciled_state(spark, commit, buckets, key_range)

    def version_asof(self, ts: Any) -> int:
        """Newest version committed at or before ``ts`` (epoch seconds or a
        datetime; naive datetimes are read as UTC) — Iceberg's
        TIMESTAMP AS OF resolution. Scans commit metadata newest-first
        (``resolve=False``, O(metadata) per step, typically 1-2 reads for a
        recent timestamp; bounded by the expiry retention window overall),
        which stays correct under wall-clock jitter where a binary search
        would not. Pre-timestamp-era commits (None) match any ts."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        ts = float(ts)
        floor = self.version_floor()
        for v in range(self.current_version(), floor - 1, -1):
            c = self.commit_at(v, resolve=False)
            if c.committed_at is None or c.committed_at <= ts:
                return v
        raise ValueError(
            f"no retained version committed at or before {ts} "
            f"(floor {floor} is newer; expired history cannot be read)"
        )

    def read_asof(self, spark: SparkSession, ts: Any, **kw) -> DataFrame:
        """``read()`` at the newest version committed at or before ``ts``."""
        return self.read(spark, version=self.version_asof(ts), **kw)

    def set_stats_cols(self, cols: list[str]) -> int:
        """Metadata-only commit declaring VALUE columns whose per-file
        min/max get recorded in every future manifest entry (deltas
        included) — the hidden-partitioning analog for ``read_where``.
        Files written before this commit carry no stats and stay
        un-prunable (conservative); the next ``compact()`` rewrites them
        with stats."""
        with self._commit_lock:
            commit = self.commit_at(resolve=False)
            names = {n for n, _ in commit.schema}
            bad = sorted(set(cols) - names)
            if bad:
                raise ValueError(f"stats_cols {bad} not in schema")
            if list(cols) == commit.stats_cols:
                return commit.version  # idempotent
            version = commit.version + 1
            new_commit = commit.successor(
                version,
                {"operation": "set_stats_cols", "columns": list(cols)},
                manifests=self._extend_manifests(commit, version, {}),
                stats_cols=list(cols),
            )
            self._write_commit(new_commit)
            return new_commit.version

    def read_where(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple[Any, Any]],
        version: int | None = None,
    ) -> DataFrame:
        """Reconciled current state restricted to rows whose FINAL image
        satisfies ``ranges`` (``{col: (lo, hi)}``, inclusive, None =
        unbounded side) — the time-slice read of the transcript lake
        (``WHERE ts BETWEEN ...``), sound for VALUE columns where
        ``read(key_range=...)`` is not.

        Value-column pruning cannot filter reconciliation directly: a key's
        old in-range image would resurrect when its latest image moved out
        of range. The sound plan is two-phase (the Iceberg-CDC candidate
        trick):

          1. **candidate keys** — scan only files whose recorded stats
             intersect the range (listing-level; files without stats are
             kept) with the row predicate pushed into the parquet scan, and
             project the distinct key tuples. A key whose final image is
             in-range necessarily has that image in an intersecting file,
             so phase 1 cannot miss a qualifying key.
          2. **exact reconciliation** — read ONLY the candidate keys'
             buckets, LEFT SEMI join to the candidates (AQE broadcasts the
             candidate set when small), reconcile last-image-wins, drop
             tombstones, and re-apply the predicate to the final images —
             keys that were superseded out of range or deleted fall out.

        Scale shape at 10^10 events: the feed arrives roughly time-ordered,
        so delta files carry narrow ``ts`` ranges and a time slice opens
        O(slice) files in phase 1, then O(candidate-bucket) files in phase
        2 — never a full-table scan. ``stats_cols`` must cover the range
        columns for pruning to bite (correctness never depends on it).
        """
        commit = self.commit_at(version)
        names = {n for n, _ in commit.schema}
        bad = sorted(set(ranges) - names)
        if bad:
            raise ValueError(f"range columns {bad} not in schema {sorted(names)}")
        cols = [n for n, _ in commit.schema]
        empty = spark.createDataFrame([], self._declared_schema(commit))

        def _apply(df: DataFrame) -> DataFrame:
            for c, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
            return df

        # stats in manifests are canonicalized (temporals → fixed-width
        # strings); the listing-level intersect test must compare bounds in
        # the SAME space. A bound that doesn't canonicalize disables pruning
        # for that column (None side = unbounded).
        canon = {
            c: (_canon_stat_bound(lo), _canon_stat_bound(hi))
            for c, (lo, hi) in ranges.items()
        }
        # _read_files (not a bare parquet read): it resolves RENAME COLUMN
        # priors, so a renamed range column still reads its old files'
        # values — the listing-level intersect test stays conservative for
        # them (their stats sit under the prior physical name)
        raw = self._read_files(spark, commit, key_range=canon)
        if raw is None:
            return empty
        cand = _apply(raw).select(*commit.key_cols).distinct()
        # small by construction (distinct keys of the slice); pin it so the
        # bucket-collect action and the phase-2 semi-join don't recompute
        # the phase-1 scan twice
        cand = cand.localCheckpoint(eager=True)
        buckets = None
        if set(commit.bucket_cols) <= set(commit.key_cols):
            buckets = [
                r[0]
                for r in cand.select(self._bucket_expr(commit).alias("_b"))
                .distinct()
                .collect()
            ]
            if not buckets:
                return empty
        key_rng = {c: v for c, v in canon.items() if c in set(commit.key_cols)}
        base = self._read_files(
            spark, commit, buckets=buckets, key_range=key_rng or None
        )
        if base is None:
            return empty
        joined = base.join(cand, on=list(commit.key_cols), how="leftsemi")
        rec = last_image_wins(
            joined, key_cols=commit.key_cols, order_col=SYS_LSN, strategy="max_by"
        )
        return _apply(rec.filter(~F.col(SYS_DELETED))).select(*cols)

    def _reconciled_state(
        self,
        spark: SparkSession,
        commit: Commit,
        buckets: list[int] | None = None,
        key_range: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """read()'s body over an already-loaded (resolved) commit — shared
        with read_staged(), which reconciles a commit that CURRENT never
        points at."""
        if key_range:
            bad = sorted(set(key_range) - set(commit.key_cols))
            if bad:
                raise ValueError(
                    f"key_range columns {bad} are not key columns "
                    f"{commit.key_cols}: listing-level range pruning is only "
                    "sound for columns immutable across a key's images"
                )
        raw = self._read_files(spark, commit, buckets, key_range=key_range)
        cols = [n for n, _ in commit.schema]
        if raw is None:
            return spark.createDataFrame([], self._declared_schema(commit))
        if key_range:
            # the same predicate, executor-side: prunes row groups inside
            # surviving files and drops out-of-range keys BEFORE the
            # reconcile shuffle (key filters commute with per-key dedup)
            for c, (lo, hi) in key_range.items():
                if lo is not None:
                    raw = raw.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    raw = raw.filter(F.col(c) <= F.lit(hi))
        # max_by: partial map-side combine, so the shuffle moves one row per
        # key per map partition instead of every image (hot-key feeds)
        reconciled = last_image_wins(
            raw, key_cols=commit.key_cols, order_col=SYS_LSN, strategy="max_by"
        )
        return reconciled.filter(~F.col(SYS_DELETED)).select(*cols)

    def lookup(self, spark: SparkSession, key: dict[str, Any]) -> DataFrame:
        """Point lookup by (a prefix of) the bucket key, run in the driver:
        the smallest query the engine serves starts no Spark job.

        One resolved commit serves the whole lookup — its bucket layout, its
        listing and its files — so a concurrent commit (a ``rebucket``
        included) cannot make it read one snapshot's bucket id in another's
        layout. The bucket id and the bloom probe come from one driver-side
        Murmur3 chain (``lake.bucketing``/``lake.bloom``);
        ``candidate_paths`` keeps that bucket's files whose key stats and
        bloom admit the key. pyarrow reads them through the stored schema
        (ADD COLUMN files fill NULL, MODIFY'd types widen) with the key
        equality pushed into the scan, where row-group stats skip the rest
        of sorted base files. RENAME priors coalesce newest-name-first, the
        max-``source_lsn`` image per key wins, tombstones drop, and the
        result becomes a DataFrame over a local relation: ``collect()``,
        ``first()`` and ``take()`` on it run no job (an aggregate such as
        ``count()``, or an Arrow ``toPandas()``, runs one small local job).

        The read is eager: files are read when ``lookup()`` is called, not
        when the DataFrame is collected.

        ``key`` must cover all of ``bucket_cols`` (else the bucket is
        undetermined); other key columns just narrow the match.
        """
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        from .bloom import key_hash

        commit = self.commit_at()
        missing = [c for c in commit.bucket_cols if c not in key]
        if missing:
            raise KeyError(f"lookup key must include bucket cols; missing {missing}")
        bad = sorted(set(key) - set(commit.key_cols))
        if bad:
            raise ValueError(f"lookup columns {bad} are not key columns {commit.key_cols}")
        types = dict(commit.schema)
        # one Murmur3 chain serves both pruning layers: bucket id is
        # h mod n_buckets (bucket_for's math) and h itself is the bloom
        # probe for per-file key_bloom entries (lake.bloom)
        h = key_hash(
            [key[c] for c in commit.bucket_cols],
            [types[c] for c in commit.bucket_cols],
        )
        paths = self.candidate_paths(
            commit,
            [h % commit.n_buckets],
            key_range={c: (v, v) for c, v in key.items()},
            key_probe=h,
        )
        stored = to_arrow_schema(self._stored_schema(commit))
        # a renamed key column holds its value under exactly one of its
        # names per row, so matching any of them matches the coalesce
        match = functools.reduce(operator.and_, [
            functools.reduce(operator.or_, [
                ds.field(n) == pa.scalar(v, stored.field(c).type)
                for n in [c, *commit.renamed_cols.get(c, [])]
            ])
            for c, v in key.items()
        ])
        t = ds.dataset(paths, schema=stored, format="parquet").to_table(filter=match)
        for logical, priors in commit.renamed_cols.items():
            i = t.schema.get_field_index(logical)
            t = t.set_column(i, logical, pc.coalesce(t[logical], *[t[p] for p in priors]))
        t = _last_images(t, list(commit.key_cols))
        t = t.filter(pc.equal(t[SYS_DELETED], False))
        declared = self._declared_schema(commit)
        return spark.createDataFrame(t.select(declared.names), declared)

    def read_changes(
        self,
        spark: SparkSession,
        since_lsn: int,
        to_lsn: int | None = None,
        version: int | None = None,
        since_version: int | None = None,
    ) -> DataFrame:
        """Incremental changefeed OUT of the lake: the net change per key in
        ``(since_lsn, to_lsn]`` as changelog rows (``op`` U/D + payload +
        ``source_lsn``) — directly consumable by another ``merge()``, the
        JSONL sink, or a downstream training-data refresh ("what changed
        since my last snapshot"). The lake becomes a replication SOURCE, not
        just a sink — the reference's agent is exactly this read against
        MySQL's binlog (``BinlogClient.java`` tail loop), re-expressed over
        the table's own lsn-stamped files.

        Cost is O(delta), not O(table): file entries carry their lsn range
        in the manifest, so files at or below the cursor are dropped from
        the LISTING (no footer reads, no tasks); within surviving files the
        lsn predicate prunes parquet row groups executor-side. A consumer
        polling a 10^10-row table reads only the micro-batches it missed.

        Cursors older than ``changefeed_floor`` raise: compaction collapsed
        that history (dropped intermediate images and tombstones), the same
        way a purged binlog invalidates a lagging replica (MySQL error 1236
        — the reference reconnect path surfaces it rather than silently
        missing deletes). Poll faster than you compact, or gate compaction
        on downstream cursors.
        ``version`` pins the read to that committed snapshot (time-travel
        changefeed). An incremental maintainer that captures the head
        version and THEN reads the feed must pass it: a merge landing in
        between would otherwise slip events into the delta that the
        recorded cursor version does not cover — and with multi-shard
        namespaced lsns a ``to_lsn`` bound cannot exclude them (per-shard
        lsn sequences are not globally ordered across commits).

        ``since_version`` selects the delta by COMMIT WINDOW instead of lsn:
        the net change carried by the delta files added in
        ``(since_version, version]``. This is the only sound cursor for
        multi-shard tables — a scalar ``since_lsn`` cursor silently drops
        every lower-namespaced shard's events once any higher shard has been
        seen (shard lsn sequences are not globally ordered). ``since_lsn``
        is ignored when ``since_version`` is given, and ``to_lsn`` must be
        None (an lsn upper bound is meaningless across shards — raising
        beats silently returning events past the caller's recorded bound).
        Raises when the window's history was REWRITTEN — detected as any
        path referenced at ``since_version`` no longer referenced at head
        (compaction, rebucket, purge and modify all replace listings; this
        also catches a compaction that reconciles a bucket to EMPTY and a
        purge whose rewritten files are delta-kind) — the consumer must
        full-resync, exactly like an lsn cursor below the floor.
        """
        commit = self.commit_at(version)
        if since_version is not None:
            if to_lsn is not None:
                raise ValueError(
                    "to_lsn cannot combine with since_version: shard-"
                    "namespaced lsns are not globally ordered, so an lsn "
                    "upper bound over a commit window is not meaningful"
                )
            base_commit = self.commit_at(since_version)
            old_paths = {
                e["path"]
                for entries in base_commit.files.values()
                for e in entries
            }
            head_paths = {
                e["path"] for entries in commit.files.values() for e in entries
            }
            # A rewrite inside the window is HARMLESS iff it was a
            # compaction whose every input (= dropped path) was already
            # referenced at the cursor version: its output base is then a
            # pure reconciliation of history the cursor has fully consumed,
            # so the window's net change lives entirely in the window's
            # OTHER (delta) files and the base can simply be skipped. This
            # is what keeps `maintain()`'s refresh-then-compact ordering
            # incremental ACROSS cycles — without it, the first refresh
            # after any compaction would fall back to a full O(table)
            # rebuild. A compaction that consumed a window delta (a file
            # the cursor has NOT seen), or any non-compact rewrite
            # (rebucket/purge/modify change layout or content), still
            # raises: those windows are genuinely unreadable incrementally.
            harmless_adds: set[str] = set()
            rewritten = (
                not old_paths <= head_paths
                or commit.changefeed_floor != base_commit.changefeed_floor
            )
            if rewritten:
                # Walk the window on manifest NAMES (resolve=False): names
                # are immutable once written (_load_manifest caches on that
                # assumption), so path-set work is only paid at the rare
                # versions that actually drop a manifest — not O(live files)
                # per intermediate version. An expired/missing intermediate
                # commit surfaces as the SAME documented full-resync error
                # as a genuine rewrite, so every caller (maintainer.refresh
                # catches ValueError) hits one recovery path.
                def _paths_of(manifests: set[str]) -> set[str]:
                    return {
                        e["path"]
                        for m in manifests
                        for es in self._load_manifest(m).values()
                        for e in es
                    }

                _rewrite_err = ValueError(
                    f"history in versions ({since_version}, "
                    f"{commit.version}] was rewritten "
                    "(compaction of unconsumed deltas, rebucket, "
                    "purge, modify, or an expired intermediate "
                    "version) — an incremental read over "
                    "the window is impossible; full-resync the "
                    "consumer instead"
                )
                prev_manifests = set(base_commit.manifests)
                for w in range(since_version + 1, commit.version + 1):
                    try:
                        cw = self.commit_at(w, resolve=False)
                    except (ValueError, OSError) as exc:
                        raise _rewrite_err from exc
                    cur_manifests = set(cw.manifests)
                    if prev_manifests - cur_manifests:
                        pprev = _paths_of(prev_manifests)
                        pcur = _paths_of(cur_manifests)
                        dropped = pprev - pcur
                        if dropped:
                            if (
                                cw.summary.get("operation") != "compact"
                                or not dropped <= old_paths
                            ):
                                raise _rewrite_err
                            harmless_adds |= pcur - pprev
                    prev_manifests = cur_manifests
            new_files = {
                b: [
                    e
                    for e in es
                    if e["path"] not in old_paths
                    and e["path"] not in harmless_adds
                ]
                for b, es in commit.files.items()
            }
            new_files = {b: es for b, es in new_files.items() if es}
            if any(
                e["kind"] != "delta" for es in new_files.values() for e in es
            ):
                raise ValueError(
                    f"history in versions ({since_version}, {commit.version}] "
                    "was rewritten (non-delta files appeared outside a "
                    "cursor-consumed compaction) — an incremental read over "
                    "the window is impossible; full-resync the consumer "
                    "instead"
                )
            read_commit = dataclasses.replace(commit, files=new_files)
            win_lo, win_hi = None, None
        else:
            if since_lsn < commit.changefeed_floor:
                raise ValueError(
                    f"changefeed cursor {since_lsn} predates compacted history "
                    f"(floor {commit.changefeed_floor}): deltas before the floor "
                    "were collapsed and tombstones dropped; re-read the full "
                    "table state instead"
                )
            read_commit = commit
            win_lo, win_hi = since_lsn, to_lsn
        cols = [n for n, _ in commit.schema]
        out_schema = T.StructType(
            [T.StructField("op", T.StringType(), False)]
            + [T.StructField(n, _type_from_ddl(dt), True) for n, dt in commit.schema]
            + [T.StructField("source_lsn", T.LongType(), True)]
        )
        raw = self._read_files(
            spark, read_commit, min_lsn_exclusive=win_lo
        )
        if raw is None:
            return spark.createDataFrame([], out_schema)
        win = raw
        if win_lo is not None:
            win = win.filter(F.col(SYS_LSN) > F.lit(win_lo))
        if win_hi is not None:
            win = win.filter(F.col(SYS_LSN) <= F.lit(win_hi))
        last = last_image_wins(
            win, key_cols=commit.key_cols, order_col=SYS_LSN, strategy="max_by"
        )
        return last.select(
            F.when(F.col(SYS_DELETED), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            *cols,
            F.col(SYS_LSN).alias("source_lsn"),
        )

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: str | int,
        op_col: str = "op",
        post_dedup_transform=None,
        wap_id: str | None = None,
        lag_col: str | None = None,
    ) -> dict[str, Any]:
        """Apply one micro-batch of changelog rows (MERGE INTO equivalent).

        ``batch_df`` columns: ``op`` (I/U/D) + payload columns (subset of the
        table schema; missing ones null-filled) + ``source_lsn``. Upserts keep
        the new image; deletes become tombstones. Within the batch the max-LSN
        image per key wins (the reference applies events strictly in log
        order on one thread, ``Updater.java:148-186`` — the max-lsn rule
        re-creates that total-order semantics under parallelism).

        Returns merge metrics. Idempotent per ``batch_id``: a replayed batch
        is skipped (exactly-once effect).

        One kernel (``_merge_kernel``, pyarrow) does the data work: keep the
        max-``source_lsn`` image per key, run the transform's Arrow form,
        write one zstd parquet file per bucket, and return one metadata row
        per bucket. It runs in one of two placements, chosen by size, which
        write the same table state (recorded as the metrics' ``placement``):

        * **driver** — when the optimizer's planning-only size estimate of
          ``batch_df`` is under ``DRIVER_MERGE_MAX_BYTES`` (1 MiB; a
          module constant, not an option): one Spark job collects the
          projected batch with Arrow and the driver runs the kernel on it.
        * **executor** — larger batches (and RDD-backed ones, whose size is
          unknown): the projected batch is repartitioned on the bucket key
          into ``n_buckets`` partitions and each task runs the kernel on its
          bucket (``mapInArrow``); the metadata rows come back in the same
          job. One exchange, no further shuffle.

        Both placements hash the bucket key with ``F.hash`` before the
        kernel; the hashes give each bucket's file its key bloom. Everything
        after the files are written — manifest entries, WAP staging, the
        batch ledger, the commit and the lineage row — is shared.

        ``post_dedup_transform`` (optional) runs on the *deduped* rows — the
        right place for normalization UDFs: it touches one row per key
        instead of every change image. It is an object with
        ``arrow(table)`` and the ``columns`` it rewrites (``CdcPipeline``'s
        ``PostDedupTransform``). It must leave the bucket columns alone
        (``ValueError`` otherwise): the kernel buckets rows by the hash
        taken before the transform.

        ``wap_id`` switches the merge into WRITE-AUDIT-PUBLISH mode (the
        Iceberg ``wap.id`` staged-commit workflow): all cluster work runs
        exactly as a normal merge, but instead of swinging CURRENT the
        result is recorded as a STAGED commit invisible to readers.
        ``read_staged``/``audit_staged`` then inspect the would-be table
        state, and ``publish_staged`` (atomic pointer swing, rebased onto
        whatever head exists by then) or ``abort_staged`` (file reclaim)
        settles it. Exactly-once still holds: the batch_id is registered
        only at publish, and a publish that finds the batch already applied
        degrades to a skip.
        """
        t0 = time.time()
        batch_id = str(batch_id)
        # resolve=False: a merge only APPENDS a delta manifest — it never
        # needs the resolved table listing, so merge-path driver memory is
        # O(batch) regardless of how many live files the table has.
        commit = self.commit_at(resolve=False)
        clash = set(commit.bucket_cols) & set(
            post_dedup_transform.columns if post_dedup_transform else ()
        )
        if clash:
            raise ValueError(
                f"post_dedup_transform rewrites bucket columns {sorted(clash)}: "
                "rows are bucketed by the key hash taken before the transform"
            )
        if commit.is_applied(batch_id):
            return {"skipped": True, "batch_id": batch_id}

        batch_cols = set(batch_df.columns)

        def _src(c: str):
            # Rename-lag relabeling: a binlog row image carries no column
            # names — the decoder labels values from whatever tableDefinition
            # it holds, so a feed can keep shipping a column under its
            # pre-RENAME name. Accept the newest prior name as the same
            # physical slot (exactly what position-based decode means).
            if c in batch_cols:
                return F.col(c)
            for p in commit.renamed_cols.get(c, []):
                if p in batch_cols:
                    return F.col(p)
            return F.lit(None)

        columns = [
            *[_src(c).cast(dt).alias(c) for c, dt in commit.schema],
            F.col(SYS_LSN).cast("long").alias(SYS_LSN),
            (F.col(op_col) == F.lit("D")).alias(SYS_DELETED),
        ]
        event_ts = None
        if lag_col is not None and lag_col in batch_cols:
            # event-time bounds of the input: replication lag — the CDC
            # SLO — is commit wall time minus these, recorded per batch in
            # the lineage metrics. cast("double") = tz-independent epoch
            # seconds.
            event_ts = F.col(lag_col).cast("timestamp").cast("double")

        # Data dir is keyed by batch AND attempt: the version is only
        # assigned under the commit lock AFTER the write, so concurrent
        # merges (multi-shard ingest) never race on a directory. The attempt
        # suffix matters for DUPLICATE submissions of the same batch_id (a
        # replay racing an in-flight first attempt): with a purely
        # batch-deterministic dir, the loser's mode("overwrite") write
        # clobbers — and its losing-path rmtree then deletes — the very
        # files the winner's commit manifest references. Each attempt stages
        # privately; a crashed attempt's orphan dir is unreferenced by any
        # commit and is exactly what vacuum()/expire_versions() reclaim.
        batch_tag = hashlib.sha1(batch_id.encode()).hexdigest()[:16]
        attempt_tag = uuid.uuid4().hex[:8]
        rel_dir = os.path.join("data", f"b{batch_tag}_{attempt_tag}")
        out_dir = os.path.join(self.root, rel_dir)
        placement, obs, key_hashes = self._write_delta(
            batch_df, columns, event_ts, commit, post_dedup_transform, out_dir
        )
        delta = self._walk_written(
            out_dir, rel_dir, "delta",
            # VALUE-column stats on deltas (key stats would be useless —
            # micro-batch arrival order spans the key domain, but a
            # time-like stats_col is narrow per batch): read_where()'s
            # candidate phase prunes these files at the listing level
            key_stats_cols=list(commit.stats_cols) or None,
            key_hashes=key_hashes,
        )
        touched = sorted(int(b) for b in delta)
        n_files = sum(len(es) for es in delta.values())
        lag: dict[str, Any] = {}
        if obs.get("event_ts_max") is not None:
            now = time.time()
            lag = {
                "event_ts_min": obs["event_ts_min"],
                "event_ts_max": obs["event_ts_max"],
                # freshest / oldest event's end-to-end replication lag
                # at commit time — the per-batch CDC SLO reading
                "ingest_lag_s": round(now - obs["event_ts_max"], 3),
                "ingest_lag_oldest_s": round(now - obs["event_ts_min"], 3),
            }
        n_in, n_out, n_del = obs["rows_in"], obs["rows"], obs["deletes"]
        lsn_min, lsn_max = obs["lsn_min"], obs["lsn_max"]
        metrics = {
            "batch_id": batch_id,
            "version": None,  # assigned under the commit lock below
            "rows_in": n_in,
            "rows_after_dedup": n_out,
            "dedup_dropped": n_in - n_out,
            "deletes": n_del,
            "upserts": n_out - n_del,
            "lsn_min": lsn_min,
            "lsn_max": lsn_max,
            "buckets_touched": sorted(touched),
            "files_written": n_files,
            "placement": placement,
            "wall_ms": None,  # filled below
            "skipped": False,
            **lag,
        }

        # File-level lsn range (batch-level stats — conservative but exact at
        # the batch boundary): lets incremental readers skip whole files from
        # the LISTING, before any footer is opened (see read_changes).
        if lsn_min is not None and lsn_max is not None:
            for entries in delta.values():
                for e in entries:
                    e["lsn_min"], e["lsn_max"] = int(lsn_min), int(lsn_max)

        if wap_id is not None:
            # WRITE-AUDIT-PUBLISH: record the delta as a staged commit that
            # no reader resolves. The staged JSON pins the parent head and
            # its own delta manifest; CURRENT is untouched, so the swing
            # (and the batch_id registration that makes replays skip)
            # happens only in publish_staged().
            with self._commit_lock:
                head = self.commit_at(resolve=False)
                if head.is_applied(batch_id):
                    shutil.rmtree(out_dir, ignore_errors=True)
                    return {"skipped": True, "batch_id": batch_id}
                tag = self._wap_tag(wap_id)
                staged_path = self._staged_path(tag)
                if os.path.exists(staged_path):
                    shutil.rmtree(out_dir, ignore_errors=True)
                    raise FileExistsError(
                        f"staged commit with wap_id {wap_id!r} already "
                        "exists: publish or abort it first"
                    )
                delta_manifest = (
                    self._write_manifest(f"m-staged-{tag}.json", delta)
                    if delta
                    else None
                )
                staged = head.successor(
                    -1,  # unassigned until publish
                    {
                        "operation": "wap_stage",
                        "wap_id": wap_id,
                        "batch_id": batch_id,
                        "delta_manifest": delta_manifest,
                        "rows_in": metrics["rows_in"],
                        "deletes": metrics["deletes"],
                        "upserts": metrics["upserts"],
                    },
                    manifests=head.manifests
                    + ([delta_manifest] if delta_manifest else []),
                )
                tmp = staged_path + ".tmp"
                with open(tmp, "w") as f:
                    f.write(staged.to_json())
                os.replace(tmp, staged_path)
            metrics["staged"] = True
            metrics["wap_id"] = wap_id
            metrics["wall_ms"] = int((time.time() - t0) * 1000)
            self._append_metrics(metrics)
            return metrics

        # Optimistic commit: all cluster work is done; re-read the head and
        # swing the pointer under the lock. A concurrent shard's merge that
        # landed since our snapshot just means our parent is ITS commit —
        # the data files staged above are version-independent.
        with self._commit_lock:
            head = self.commit_at(resolve=False)
            if head.is_applied(batch_id):
                # another thread (or a replay race) committed this batch
                # while we were writing: our staging dir is an orphan of a
                # duplicate attempt — drop it and report the skip.
                shutil.rmtree(out_dir, ignore_errors=True)
                return {"skipped": True, "batch_id": batch_id}
            version = head.version + 1
            metrics["version"] = version
            applied = dict(head.applied_batches)
            applied[batch_id] = version
            applied, hwm = self._prune_applied(applied, head.applied_hwm)
            new_commit = head.successor(
                version,
                {"operation": "merge", **{k: metrics[k] for k in ("batch_id", "rows_in", "deletes", "upserts")}},
                manifests=self._extend_manifests(head, version, delta),
                applied_batches=applied,
                applied_hwm=hwm,
            )
            self._write_commit(new_commit)
        metrics["wall_ms"] = int((time.time() - t0) * 1000)
        self._append_metrics(metrics)
        return metrics

    @staticmethod
    def _merges_in_driver(batch_df: DataFrame) -> bool:
        """True when ``merge`` should run its kernel in the driver: the
        optimizer's planning-only size estimate of the batch (no job; exact
        for a local relation, the file bytes for a file source, unbounded
        for an RDD) is under ``DRIVER_MERGE_MAX_BYTES``."""
        size = batch_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(size) < DRIVER_MERGE_MAX_BYTES

    def _write_delta(
        self, batch_df, columns, event_ts, commit: Commit, transform, out_dir: str
    ) -> tuple[str, dict[str, Any], dict[int, list[int] | None]]:
        """Write the batch's delta files under ``out_dir/_bucket=k/`` with
        ``_merge_kernel``, in the driver or in the executors
        (``_merges_in_driver``); either way one Spark action. Returns the
        placement, the merge observation folded from the kernel's metadata
        rows, and each bucket's key hashes (None above the bloom cap or for
        bucket-key types the driver cannot hash)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

        from .bucketing import HASHABLE_KEY_TYPES

        types = dict(commit.schema)
        # the declared columns, then the system columns, all nullable: the
        # schema Spark's writer gives the same rows
        file_schema = (
            to_arrow_schema(self._declared_schema(commit))
            .append(pa.field(SYS_LSN, pa.int64()))
            .append(pa.field(SYS_DELETED, pa.bool_()))
        )
        kernel = functools.partial(
            _merge_kernel,
            key_cols=list(commit.key_cols),
            n_buckets=commit.n_buckets,
            file_schema=file_schema,
            transform=transform,
            out_dir=out_dir,
            hashable=all(types[c].lower() in HASHABLE_KEY_TYPES for c in commit.bucket_cols),
        )
        # the lag bound reads the UNPROJECTED batch: after a rename or drop
        # of ``lag_col`` the feed still ships it, but the projection no
        # longer holds it
        lag = [] if event_ts is None else [event_ts.alias("_event_ts")]
        projected = batch_df.select(*columns, *lag)
        key_hash = F.hash(*commit.bucket_cols).alias("_h")
        os.makedirs(out_dir)
        if self._merges_in_driver(batch_df):
            placement = "driver"
            meta = kernel(projected.select("*", key_hash).toArrow())
        else:
            placement = "executor"

            def run(batches):
                batches = list(batches)
                if batches:
                    yield from kernel(pa.Table.from_batches(batches)).to_batches()

            # partition id == pmod(F.hash(bucket_cols), n_buckets) == bucket:
            # one task per bucket, which holds that bucket's images in memory
            # (the batch / n_buckets, more for a hot bucket). The hash is
            # taken after the exchange, so it is not shuffled.
            meta = (
                projected.repartition(commit.n_buckets, *commit.bucket_cols)
                .select("*", key_hash)
                .mapInArrow(run, from_arrow_schema(_merge_meta_schema()))
                .toArrow()
            )
        obs = {k: pc.sum(meta[k]).as_py() or 0 for k in ("rows_in", "rows", "deletes")}
        for k in ("lsn", "event_ts"):
            obs[f"{k}_min"] = pc.min(meta[f"{k}_min"]).as_py()
            obs[f"{k}_max"] = pc.max(meta[f"{k}_max"]).as_py()
        key_hashes = dict(zip(meta["bucket"].to_pylist(), meta["key_hashes"].to_pylist()))
        return placement, obs, key_hashes

    def merge_partial(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: str | int,
        presence_col: str = "_present",
        op_col: str = "op",
        post_dedup_transform=None,
    ) -> dict[str, Any]:
        """MERGE a micro-batch of PARTIAL row images (binlog_row_image=
        MINIMAL): each changelog row carries only the columns its image
        contained plus a ``presence_col`` array naming them
        (``packets_to_changelog(emit_presence=True)``). Absent columns keep
        their pre-batch table value instead of being nulled — the semantics
        the reference never needed (it assumes FULL images and replaces
        whole rows, ``Updater.java:148-186``) but every MINIMAL-configured
        upstream requires.

        Physical shape, per batch of K touched keys on a table of B buckets:
        one partial-agg groupBy folds the batch to K net events (map-side
        combine, no window — hot keys collapse in the scan tasks); the
        distinct touched bucket ids (≤ n_buckets ints) are collected to
        prune the base read to only those buckets' files at the LISTING
        level; one bucket-local join fills never-set columns from the base
        image; then the standard ``merge`` path appends the delta. Base
        scan cost is O(touched buckets), never O(table).
        """
        batch_id = str(batch_id)
        commit = self.commit_at(resolve=False)
        if commit.is_applied(batch_id):
            return {"skipped": True, "batch_id": batch_id}

        from ..operators.partial_image import fold_partial_images, resolve_against_base

        value_cols = [c for c, _ in commit.schema if c not in commit.key_cols]
        types = dict(commit.schema)
        # partial-JSON diff columns ride next to their document column as
        # `{col}_patch` (binlog_row_value_options=PARTIAL_JSON under a
        # MINIMAL before-image — packets_to_changelog emits them when the
        # diffs can't be materialized from the wire alone); the fold
        # composes them per key and resolve applies them against base.
        json_patch_cols = [
            c for c in value_cols
            if types.get(c) == "string" and f"{c}_patch" in batch_df.columns
        ]
        # project to the full table schema: columns the batch never mentions
        # enter as NULL with an empty presence claim → base fallback.
        projected = batch_df.select(
            F.col(op_col).alias("op"),
            *[
                (
                    F.col(c) if c in batch_df.columns else F.lit(None)
                ).cast(dt).alias(c)
                for c, dt in commit.schema
            ],
            *[F.col(f"{c}_patch") for c in json_patch_cols],
            F.col("source_lsn").cast("long").alias("source_lsn"),
            F.col(presence_col).alias(presence_col),
        )
        folded = fold_partial_images(
            projected, commit.key_cols, value_cols, presence_col=presence_col,
            json_patch_cols=json_patch_cols,
        ).persist()
        try:
            # touched buckets: bounded by n_buckets, so this collect is O(B)
            # ints — the price of listing-level base pruning (the same trade
            # as lookup()); the fold itself is cached, not recomputed.
            touched = [
                r[0]
                for r in folded.select(
                    self._bucket_expr(commit).alias("_b")
                ).distinct().collect()
            ]
            base = self.read(spark, buckets=touched)
            full = resolve_against_base(
                folded, base, commit.key_cols, value_cols,
                json_patch_cols=json_patch_cols,
            )
            metrics = self.merge(
                spark,
                full,
                batch_id,
                op_col="op",
                post_dedup_transform=post_dedup_transform,
            )
        finally:
            folded.unpersist()
        if not metrics.get("skipped"):
            metrics["partial_image"] = True
            metrics["buckets_pruned_read"] = sorted(int(b) for b in touched)
        return metrics

    # ------------------------------------------------------------ compaction
    # ---------------------------------------------------- write-audit-publish
    def staged_ids(self) -> list[str]:
        """wap_ids of every staged (unpublished, unaborted) commit."""
        out = []
        for name in sorted(os.listdir(self._commits_dir)):
            if name.startswith("staged-") and name.endswith(".json"):
                with open(os.path.join(self._commits_dir, name)) as f:
                    out.append(json.loads(f.read())["summary"]["wap_id"])
        return out

    def staged_commit(self, wap_id: str, resolve: bool = True) -> Commit:
        """Load a staged commit by wap_id (resolve=True materializes its
        file listing — the parent chain plus the staged delta manifest)."""
        path = self._staged_path(self._wap_tag(wap_id))
        if not os.path.exists(path):
            raise FileNotFoundError(f"no staged commit with wap_id {wap_id!r}")
        with open(path) as f:
            commit = Commit.from_json(f.read())
        if resolve:
            self._resolve(commit)
        return commit

    def read_staged(self, spark: SparkSession, wap_id: str) -> DataFrame:
        """The table state the staged commit WOULD publish: parent state +
        staged delta, reconciled last-image-wins — what the audit inspects.
        Current readers are unaffected (CURRENT still points at the parent
        chain's head)."""
        return self._reconciled_state(spark, self.staged_commit(wap_id))

    def audit_staged(
        self, spark: SparkSession, wap_id: str, expectations: dict[str, str]
    ) -> dict[str, Any]:
        """Run row-level expectations over the staged state in ONE agg pass.

        ``expectations`` maps name -> boolean SQL expression over the table
        columns; a row where the expression is false OR NULL counts as a
        violation (stricter than SQL CHECK's null-passes rule — an audit
        that can't evaluate a constraint should not wave the row through).
        Returns {"rows", "violations": {name: count}, "passed"}. The audit
        is a single distributed aggregate — no collect of data rows, so it
        holds at any table size.
        """
        df = self.read_staged(spark, wap_id)
        aggs = [F.count(F.lit(1)).alias("__rows")] + [
            F.sum(
                F.when(F.expr(sql), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"__x{i}")
            for i, sql in enumerate(expectations.values())
        ]
        row = df.agg(*aggs).collect()[0]
        violations = {
            name: int(row[f"__x{i}"] or 0)
            for i, name in enumerate(expectations.keys())
        }
        return {
            "rows": int(row["__rows"]),
            "violations": violations,
            "passed": all(v == 0 for v in violations.values()),
        }

    def publish_staged(self, wap_id: str) -> dict[str, Any]:
        """Atomically make a staged commit the table head (Iceberg
        cherry-pick). Rebases onto whatever head exists NOW: merge deltas
        are append-only and listing-independent, so a staged delta manifest
        applies to any later head unchanged — the same argument that lets
        merge() itself commit optimistically. Refused (ValueError) if the
        table's physical layout or schema changed since staging (rebucket /
        schema DDL): the staged files were written under the old layout.
        Exactly-once: if the staged batch_id was applied meanwhile, the
        publish degrades to a skip and the staged files are reclaimed."""
        with self._commit_lock:
            staged = self.staged_commit(wap_id, resolve=False)
            s = staged.summary
            batch_id = s["batch_id"]
            head = self.commit_at(resolve=False)
            if head.is_applied(batch_id):
                self.abort_staged(wap_id)
                return {"skipped": True, "batch_id": batch_id, "wap_id": wap_id}
            if (
                head.n_buckets != staged.n_buckets
                or head.bucket_cols != staged.bucket_cols
                or head.schema != staged.schema
            ):
                raise ValueError(
                    f"table layout/schema changed since wap_id {wap_id!r} "
                    "was staged (rebucket or DDL): abort and re-stage"
                )
            version = head.version + 1
            delta = (
                dict(self._load_manifest(s["delta_manifest"]))
                if s.get("delta_manifest")
                else {}
            )
            applied = dict(head.applied_batches)
            applied[batch_id] = version
            applied, hwm = self._prune_applied(applied, head.applied_hwm)
            new_commit = head.successor(
                version,
                {
                    "operation": "wap_publish",
                    "wap_id": wap_id,
                    "batch_id": batch_id,
                    "rows_in": s.get("rows_in"),
                    "deletes": s.get("deletes"),
                    "upserts": s.get("upserts"),
                },
                manifests=self._extend_manifests(head, version, delta),
                applied_batches=applied,
                applied_hwm=hwm,
            )
            self._write_commit(new_commit)
            # the delta now lives in the published chain (m{version}.json);
            # drop the staged metadata (data files are shared, not copied)
            if s.get("delta_manifest"):
                self._drop_manifest(s["delta_manifest"])
            os.remove(self._staged_path(self._wap_tag(wap_id)))
            return {
                "skipped": False,
                "version": version,
                "batch_id": batch_id,
                "wap_id": wap_id,
            }

    def abort_staged(self, wap_id: str) -> int:
        """Discard a staged commit: its metadata and the data files ONLY it
        references (the parent chain is untouched). Returns files removed."""
        with self._commit_lock:
            staged = self.staged_commit(wap_id, resolve=False)
            s = staged.summary
            removed = 0
            if s.get("delta_manifest"):
                for entries in self._load_manifest(s["delta_manifest"]).values():
                    for e in entries:
                        p = os.path.join(self.root, e["path"])
                        if os.path.exists(p):
                            os.remove(p)
                            removed += 1
                        d = os.path.dirname(p)
                        if os.path.isdir(d) and not os.listdir(d):
                            os.rmdir(d)
                self._drop_manifest(s["delta_manifest"])
            os.remove(self._staged_path(self._wap_tag(wap_id)))
            return removed

    def _drop_manifest(self, name: str) -> None:
        p = self._manifest_path(name)
        if os.path.exists(p):
            os.remove(p)
        cache = getattr(self, "_manifest_cache", None)
        if cache is not None:
            cache.pop(name, None)

    def delta_file_counts(self) -> dict[int, int]:
        c = self.commit_at()
        return {
            int(b): sum(1 for e in entries if e["kind"] == "delta")
            for b, entries in c.files.items()
        }

    def delta_stats(self) -> dict[int, dict[str, int]]:
        """Per-bucket delta pressure: file count + total bytes (recorded in
        the manifest at commit — no stat calls)."""
        c = self.commit_at()
        out: dict[int, dict[str, int]] = {}
        for b, entries in c.files.items():
            n = nbytes = 0
            for e in entries:
                if e["kind"] != "delta":
                    continue
                n += 1
                nbytes += e["bytes"]
            out[int(b)] = {"n_deltas": n, "bytes": nbytes}
        return out

    def compact_by_policy(
        self,
        spark: SparkSession,
        max_delta_bytes: int = 1 << 30,
        max_deltas: int = 16,
    ) -> dict[str, Any]:
        """Size-triggered compaction — the analog of the reference's
        1 GiB / 15 min output flush policy (``BucketOutput.java:29-30,
        113-125``): rewrite exactly the buckets whose accumulated delta
        bytes exceed ``max_delta_bytes`` or whose delta-file count exceeds
        ``max_deltas``. Bounds read amplification without full-table
        rewrites; untouched buckets keep their files."""
        stats = self.delta_stats()
        todo = sorted(
            b
            for b, s in stats.items()
            if s["bytes"] >= max_delta_bytes or s["n_deltas"] >= max_deltas
        )
        if not todo:
            return {"compacted_buckets": [], "skipped": True}
        return self.compact(spark, buckets=todo, min_deltas=1)

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        min_deltas: int = 1,
        sort_within_buckets: bool = True,
        target_file_rows: int | None = None,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
    ) -> dict[str, Any]:
        """Rewrite buckets with >= min_deltas delta files into a reconciled
        base file; tombstones are dropped (full-bucket rewrite ⇒ nothing older
        survives for them to mask).

        ``sort_within_buckets`` (default) orders each rewritten bucket by the
        key columns, so base-file row groups carry tight key min/max stats —
        point lookups (``lookup()``) and key-range scans then skip row groups
        instead of reading the whole bucket. The sort is per-partition (no
        extra exchange) and compaction is the rare amortized path, so the
        cost rides the rewrite it was already paying.

        ``target_file_rows`` splits each sorted bucket into multiple files of
        at most that many rows (``maxRecordsPerFile``). Because rows are
        key-sorted, each split file covers a CONTIGUOUS key interval, and its
        footer min/max — recorded into the manifest entry as ``key_stats`` —
        become tight listing-level bounds: ``read(key_range=...)`` then skips
        whole files without opening a footer (Iceberg's sorted-rewrite +
        planFiles shape). Stats collection is footer-metadata-only, O(files
        written), paid once at compaction.

        ``sort_cols`` overrides the sort order (Iceberg's replaceSortOrder):
        a table whose dominant read is a time slice compacts with
        ``sort_cols=["ts"]`` so split files cover contiguous TIME intervals
        and ``read_where``'s candidate phase prunes compacted bases as
        tightly as the time-ordered deltas it replaced — compaction
        otherwise smears each bucket's full ts range across every file and
        DESTROYS the very stats locality the deltas had.

        ``zorder_cols`` clusters on the MORTON CODE of several columns
        (``lake/zorder.py`` — Iceberg's zOrder rewrite): each split file
        covers a small hyperrectangle, so per-file stats stay tight in
        EVERY listed dimension — key scans and time slices prune the same
        files, where a linear sort serves only its own column. Rank bounds
        come from one column-pruned min/max pass over the raw inputs (no
        shuffle; bounds shape clustering quality, never correctness).
        Mutually exclusive with ``sort_cols``."""
        t0 = time.time()
        commit = self.commit_at()
        counts = {
            int(b): sum(1 for e in entries if e["kind"] == "delta")
            for b, entries in commit.files.items()
        }
        todo = sorted(
            b
            for b, n in counts.items()
            if n >= min_deltas and (buckets is None or b in buckets)
        )
        if not todo:
            return {"compacted_buckets": [], "skipped": True}
        if sort_cols is not None and zorder_cols is not None:
            raise ValueError("sort_cols and zorder_cols are mutually exclusive")
        names = {n for n, _ in commit.schema}
        for arg, cols in (("sort_cols", sort_cols), ("zorder_cols", zorder_cols)):
            bad = sorted(set(cols or []) - names)
            if bad:
                raise ValueError(f"{arg} {bad} not in schema")

        raw = self._read_files(spark, commit, todo)
        order: list[str] | Column = []
        if zorder_cols is not None:
            from .zorder import _numeric, zvalue

            types = dict(commit.schema)
            # rank bounds: one column-pruned min/max scan of the raw inputs
            # (superset images — conservative bounds are exactly as good)
            aggs = []
            for c in zorder_cols:
                x = _numeric(c, types[c])
                aggs += [F.min(x).alias(f"_lo_{c}"), F.max(x).alias(f"_hi_{c}")]
            b = raw.agg(*aggs).first()
            bounds = {c: (b[f"_lo_{c}"], b[f"_hi_{c}"]) for c in zorder_cols}
            order = zvalue(zorder_cols, types, bounds)
        elif sort_cols is not None:
            order = list(sort_cols)
        elif sort_within_buckets:
            order = list(commit.key_cols)
        self._rewrite(
            spark, commit, raw,
            {"operation": "compact", "buckets": todo},
            reconcile=True,
            keep={b: es for b, es in commit.files.items() if int(b) not in todo},
            order=order,
            max_rows=target_file_rows,
        )
        return {
            "compacted_buckets": todo,
            "wall_ms": int((time.time() - t0) * 1000),
            "skipped": False,
        }

    def _rewrite(
        self,
        spark: SparkSession,
        commit: Commit,
        raw: DataFrame | None,
        summary: dict[str, Any],
        reconcile: bool,
        keep: dict[str, list[dict[str, Any]]] | None = None,
        order: list[str] | Column | None = None,
        max_rows: int | None = None,
        **changes: Any,
    ) -> Commit:
        """The one rewrite pipeline behind compact, rebucket, purge and
        modify: write ``raw`` (stored-schema rows) as the successor of
        ``commit`` (``changes`` as in ``Commit.successor``), listing
        ``keep``'s entries plus the new files in ONE full manifest — the
        consolidation point of the manifest chain.

        Rows are clustered on ``bucket_cols`` into the successor's
        ``n_buckets`` partitions, so partition id == ``_bucket`` and the
        write needs no further exchange. ``reconcile`` keeps each key's last
        image and drops tombstones (a full-bucket rewrite leaves nothing
        older for them to mask), writes ``base`` files and raises the
        changefeed floor to the replaced files' highest lsn; otherwise every
        image stays and the files are ``delta``.

        ``order`` (column names, or one computed key such as the Z-order
        Morton code) sorts each bucket with ``_bucket`` as the LEADING key:
        the parquet writer requires its input ordered by the partition
        column and otherwise inserts its own NON-STABLE sort on ``_bucket``
        alone, scrambling the within-bucket order (each task holds one
        bucket, so the leading key costs nothing). ``max_rows`` caps rows
        per file (``maxRecordsPerFile``), so sorted split files cover
        contiguous intervals. Every file records its footer lsn range and
        key/stats-column bounds."""
        keep = keep or {}
        if reconcile:
            changes["changefeed_floor"] = self._history_ceiling(
                commit,
                [e for b, es in commit.files.items() if b not in keep for e in es],
            )
        new = commit.successor(commit.version + 1, summary, **changes)
        files = {b: list(es) for b, es in keep.items()}
        if raw is not None:
            df = raw.repartition(new.n_buckets, *new.bucket_cols)
            if reconcile:
                df = last_image_wins(
                    df,
                    key_cols=new.key_cols,
                    order_col=SYS_LSN,
                    strategy="window",
                ).filter(~F.col(SYS_DELETED))
            df = df.withColumn("_bucket", self._bucket_expr(new))
            if isinstance(order, Column):
                df = df.withColumn("_z", order).sortWithinPartitions(
                    "_bucket", "_z"
                ).drop("_z")
            elif order:
                df = df.sortWithinPartitions("_bucket", *order)
            rel_dir = os.path.join("data", f"v{new.version:08d}")
            out_dir = os.path.join(self.root, rel_dir)
            _require_ts_micros(spark)
            writer = df.write.partitionBy("_bucket")
            if max_rows is not None:
                writer = writer.option("maxRecordsPerFile", int(max_rows))
            writer.parquet(out_dir)
            for b, es in self._walk_written(
                out_dir, rel_dir, "base" if reconcile else "delta",
                footer_lsn_stats=True,
                key_stats_cols=list(new.key_cols) + list(new.stats_cols),
            ).items():
                files.setdefault(b, []).extend(es)
        new.manifests = [self._write_manifest(self._mname(new.version, ".full"), files)]
        self._write_commit(new)
        return new

    def truncate(
        self,
        batch_id: str | None = None,
        ddl_lsn: int | None = None,
    ) -> int:
        """TRUNCATE TABLE: metadata-only commit that empties the live file
        set — O(1) driver work, no Spark job, no data-file IO. Old files
        stay referenced by older versions for time travel until
        expire_versions/vacuum reclaim them (Iceberg's truncate-as-new-
        snapshot shape).

        Why a CDC engine needs this: MySQL logs TRUNCATE as a bare QUERY
        DDL statement with NO row events. A consumer that only applies row
        images keeps every pre-truncate row forever — the reference's
        information_schema re-diff sees no schema change AND its client
        loop discards QUERY events (Updater.java:62-86,
        BinlogClient.java:191-195), so it diverges silently. Debezium
        models the same gap with an explicit truncate change event.

        The changefeed floor rises to the table's max applied lsn: history
        at or before the truncate is no longer replayable as net changes
        (the same collapsed-history contract as ``compact``); incremental
        consumers behind the floor resync loudly. ``batch_id`` registers
        in the applied ledger so a replayed micro-batch that carried the
        truncate skips (exactly-once); ``ddl_lsn`` advances the DDL
        high-water mark like every other wire-DDL application."""
        with self._commit_lock:
            commit = self.commit_at()  # resolved: the floor needs lsn stats
            if batch_id is not None and commit.is_applied(batch_id):
                return commit.version
            floor = self._history_ceiling(
                commit, [e for es in commit.files.values() for e in es]
            )
            version = commit.version + 1
            applied = dict(commit.applied_batches)
            hwm = commit.applied_hwm
            if batch_id is not None:
                applied[str(batch_id)] = version
                applied, hwm = self._prune_applied(applied, hwm)
            new_commit = commit.successor(
                version,
                {"operation": "truncate"},
                # fresh one-manifest chain referencing nothing: the live set
                # is empty by construction, not by tombstones
                manifests=[self._write_manifest(self._mname(version, ".full"), {})],
                applied_batches=applied,
                applied_hwm=hwm,
                changefeed_floor=floor,
                ddl_hwm=max(
                    commit.ddl_hwm, -1 if ddl_lsn is None else int(ddl_lsn)
                ),
            )
            self._write_commit(new_commit)
        return version

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict[str, Any]:
        """Online bucket-count migration: rewrite the whole table under a new
        ``n_buckets`` in ONE versioned commit. The operational story at
        10^10 rows: a table created at 128 buckets eventually has multi-GB
        buckets — lookups scan too much, merges write hot files — and the
        bucket count must grow without taking the table offline or breaking
        readers. Iceberg models this as a partition-spec evolution; here the
        bucket function is part of every commit, so ONE atomic pointer swing
        re-describes the layout and every subsequent read/merge/lookup
        (all of which resolve ``n_buckets`` from the commit they read, never
        from table-creation state) uses the new wiring automatically.

        Physically identical shape to ``compact`` over all buckets: one
        fused exchange (repartition on bucket_cols into new_n_buckets →
        window dedup rides it → key-sorted bucket-aligned write), tombstones
        dropped. Like compaction, the rewrite collapses replayable history,
        so the changefeed floor rises to the table's max lsn; incremental
        consumers must be caught up past it (same contract as a purged
        binlog, MySQL error 1236).

        Maintenance op, single-writer like ``compact``: run it from the
        table's owning ingest process between micro-batches, not
        concurrently with merges.
        """
        t0 = time.time()
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        commit = self.commit_at()
        if new_n_buckets == commit.n_buckets:
            return {"skipped": True, "n_buckets": commit.n_buckets}
        new = self._rewrite(
            spark, commit, self._read_files(spark, commit),
            {
                "operation": "rebucket",
                "from_n_buckets": commit.n_buckets,
                "to_n_buckets": new_n_buckets,
            },
            reconcile=True,
            order=list(commit.key_cols),
            n_buckets=new_n_buckets,
            renamed_cols={},  # full rewrite materialized the logical names
        )
        return {
            "skipped": False,
            "from_n_buckets": commit.n_buckets,
            "to_n_buckets": new_n_buckets,
            "version": new.version,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    # ------------------------------------------------------ schema evolution
    def add_column(
        self,
        name: str,
        ddl_type: str,
        spark: SparkSession | None = None,
        ddl_lsn: int | None = None,
    ) -> int:
        """ADD COLUMN: metadata-only commit; old files read the column as NULL.

        Re-adding a name that was previously DROPped requires a physical
        purge first (old files may still hold the old values and projection
        is by name): pass ``spark`` and the purge-rewrite runs automatically,
        else this raises."""
        commit = self.commit_at(resolve=False)
        if name in {n for n, _ in commit.schema}:
            return commit.version  # idempotent
        if name in commit.dropped_cols:
            if spark is None:
                raise ValueError(
                    f"column {name!r} was dropped and old files may still "
                    "hold its values; pass spark= so add_column can purge, "
                    "or call purge_dropped_columns() first"
                )
            self.purge_dropped_columns(spark)
            commit = self.commit_at(resolve=False)
        version = commit.version + 1
        new_commit = commit.successor(
            version,
            {"operation": "add_column", "column": name, "type": ddl_type},
            schema=commit.schema + [(name, ddl_type)],
            manifests=self._extend_manifests(commit, version, {}),
            ddl_hwm=max(commit.ddl_hwm, -1 if ddl_lsn is None else int(ddl_lsn)),
        )
        self._write_commit(new_commit)
        return new_commit.version

    def drop_column(self, name: str, ddl_lsn: int | None = None) -> int:
        """DROP COLUMN: metadata-only commit — readers project files through
        the commit schema (``_read_files`` passes an explicit schema), so the
        physical column in existing files simply stops being read; new merges
        stop writing it (merge projects to the commit schema). The name goes
        on ``dropped_cols`` so a later re-ADD forces a physical purge instead
        of resurrecting stale values (no Iceberg field ids to hide behind).

        The reference models this the same way it models every schema change:
        a fresh ``tableDefinition`` emitted when the incoming row arity stops
        matching (``Updater.java:188-217``) — columns are matched by
        position/name, not id, which is exactly the name-collision hazard
        ``dropped_cols`` guards."""
        commit = self.commit_at(resolve=False)
        if name not in {n for n, _ in commit.schema}:
            return commit.version  # idempotent
        if name in set(commit.key_cols) | set(commit.bucket_cols):
            raise ValueError(f"cannot drop key/bucket column {name!r}")
        version = commit.version + 1
        new_commit = commit.successor(
            version,
            {"operation": "drop_column", "column": name},
            schema=[(n, dt) for n, dt in commit.schema if n != name],
            manifests=self._extend_manifests(commit, version, {}),
            # the dropped column's prior physical names hold its stale
            # values in old files too — reserve them all against re-ADD
            dropped_cols=sorted(
                set(commit.dropped_cols)
                | {name}
                | set(commit.renamed_cols.get(name, []))
            ),
            renamed_cols={
                k: v for k, v in commit.renamed_cols.items() if k != name
            },
            stats_cols=[c for c in commit.stats_cols if c != name],
            ddl_hwm=max(commit.ddl_hwm, -1 if ddl_lsn is None else int(ddl_lsn)),
        )
        self._write_commit(new_commit)
        return new_commit.version

    def rename_column(
        self,
        old: str,
        new: str,
        spark: SparkSession | None = None,
        ddl_lsn: int | None = None,
    ) -> int:
        """RENAME COLUMN: metadata-only commit — the Iceberg ``renameColumn``
        analog (MySQL ``ALTER TABLE … RENAME COLUMN old TO new`` /
        ``CHANGE old new type``). At 100 TB a name change must not rewrite a
        byte of data: files written before the rename keep the old physical
        column; the commit records ``new → [old, …prior names]`` and every
        read reconstructs the logical column with a per-row
        ``coalesce(new, old, …)`` (sound — each row lives in exactly one
        file, and the guards below ensure no live file can physically hold
        more than one of the names).

        The old name becomes *reserved* (via ``dropped_cols``): re-ADDing it
        without a physical purge would resurrect the renamed column's values
        out of pre-rename files — the same name-collision hazard drop_column
        guards, because projection here is by name, not Iceberg field id.
        Renaming TO a reserved name (previously dropped, or a prior name of
        another rename) likewise forces a purge first: pass ``spark=`` to
        run it automatically. Key/bucket columns may be renamed — the stored
        values (and therefore the bucket layout and file stats) are
        unchanged; ``key_cols``/``bucket_cols`` follow the new name.

        The reference has no rename path at all — its re-infer-on-arity-
        mismatch loop (``Updater.java:188-217``) only notices column-COUNT
        changes, so a pure rename silently relabels downstream output; this
        engine applies it transactionally like every other DDL."""
        commit = self.commit_at(resolve=False)
        names = {n for n, _ in commit.schema}
        if old not in names:
            if new in names:
                return commit.version  # idempotent DDL replay
            raise KeyError(old)
        if new in names:
            raise ValueError(f"rename target {new!r} already exists")
        if new in (SYS_LSN, SYS_DELETED, "_bucket", "_present"):
            raise ValueError(f"rename target {new!r} is a reserved system name")
        haunted = set(commit.dropped_cols) | {
            p for ps in commit.renamed_cols.values() for p in ps
        }
        if new in haunted:
            if spark is None:
                raise ValueError(
                    f"column name {new!r} may still exist physically in old "
                    "files (previously dropped or renamed-away); pass spark= "
                    "so rename_column can purge first, or call "
                    "purge_dropped_columns()"
                )
            self.purge_dropped_columns(spark)
            commit = self.commit_at(resolve=False)
        renamed = dict(commit.renamed_cols)
        priors = [old] + renamed.pop(old, [])
        renamed[new] = priors
        version = commit.version + 1
        new_commit = commit.successor(
            version,
            {"operation": "rename_column", "from": old, "to": new},
            schema=[(new if n == old else n, dt) for n, dt in commit.schema],
            key_cols=[new if c == old else c for c in commit.key_cols],
            bucket_cols=[new if c == old else c for c in commit.bucket_cols],
            manifests=self._extend_manifests(commit, version, {}),
            # reserve the old physical name against re-ADD resurrection
            dropped_cols=sorted(set(commit.dropped_cols) | {old}),
            renamed_cols=renamed,
            # future files record stats under the new logical name; old
            # files' stats sit under the prior physical name and simply stop
            # pruning (conservative — a rename is never a rewrite)
            stats_cols=[new if c == old else c for c in commit.stats_cols],
            ddl_hwm=max(commit.ddl_hwm, -1 if ddl_lsn is None else int(ddl_lsn)),
        )
        self._write_commit(new_commit)
        return new_commit.version

    def purge_dropped_columns(self, spark: SparkSession) -> int:
        """Physically rewrite every live file projected through the current
        schema, clearing ``dropped_cols`` AND materializing renamed columns
        under their logical names (clearing ``renamed_cols``). The rare
        amortized path (same cost class as compaction); reads already behave
        as if purged."""
        commit = self.commit_at()
        if not commit.dropped_cols and not commit.renamed_cols:
            return commit.version
        return self._rewrite(
            spark, commit, self._read_files(spark, commit),
            {"operation": "purge_dropped", "columns": commit.dropped_cols},
            reconcile=False,
            dropped_cols=[],
            renamed_cols={},  # full rewrite materialized the logical names
        ).version

    def modify_column_type(
        self,
        spark: SparkSession,
        name: str,
        ddl_type: str,
        ddl_lsn: int | None = None,
    ) -> int:
        """MODIFY COLUMN: schema change + full rewrite casting existing data
        (DDL events are rare; correctness over cleverness)."""
        commit = self.commit_at()
        names = [n for n, _ in commit.schema]
        if name not in names:
            raise KeyError(name)
        cur = dict(commit.schema)
        if cur[name] == ddl_type:
            return commit.version
        raw = self._read_files(spark, commit)
        return self._rewrite(
            spark, commit,
            None if raw is None else raw.withColumn(name, F.col(name).cast(ddl_type)),
            {"operation": "modify_column", "column": name, "type": ddl_type},
            reconcile=False,
            schema=[(n, ddl_type if n == name else dt) for n, dt in commit.schema],
            renamed_cols={},  # full rewrite materialized the logical names
            ddl_hwm=max(commit.ddl_hwm, -1 if ddl_lsn is None else int(ddl_lsn)),
        ).version

    # --------------------------------------------------------------- lineage
    def _append_metrics(self, metrics: dict[str, Any]) -> None:
        """Per-batch lineage row (offset range, counts, merge stats) — the
        engine's replacement for the reference's structured JSON log
        (``log/Logger.java:25-40``), queryable as a table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        row = {
            k: [metrics.get(k)]
            for k in (
                "batch_id",
                "version",
                "rows_in",
                "rows_after_dedup",
                "dedup_dropped",
                "upserts",
                "deletes",
                "lsn_min",
                "lsn_max",
                "files_written",
                "wall_ms",
            )
        }
        row["buckets_touched"] = [json.dumps(metrics.get("buckets_touched"))]
        table = pa.table(row)
        # where the merge kernel ran ("driver"/"executor"); a typed string
        # column, so a heartbeat's NULL reads back with the merges' rows
        table = table.append_column(
            "placement", pa.array([metrics.get("placement")], type=pa.string())
        )
        # event-time lag stamps (merge(lag_col=...)): explicit float64 so a
        # row without them (heartbeats, lag-less merges) still writes a
        # typed column — a null-typed parquet column would clash on read
        for k in (
            "event_ts_min",
            "event_ts_max",
            "ingest_lag_s",
            "ingest_lag_oldest_s",
        ):
            table = table.append_column(
                k, pa.array([metrics.get(k)], type=pa.float64())
            )
        # staged (write-audit-publish) merges have no version yet — tag
        # their lineage row by wap id instead
        stem = (
            f"m{metrics['version']:08d}"
            if metrics.get("version") is not None
            else f"mstaged-{self._wap_tag(str(metrics.get('wap_id')))}"
        )
        pq.write_table(
            table,
            os.path.join(
                self._metrics_dir, f"{stem}-{uuid.uuid4().hex[:8]}.parquet"
            ),
        )

    def heartbeat(self) -> dict[str, Any]:
        """NOP keep-alive lineage row — the live-tail liveness signal
        (reference: TIMEOUT → NOP keep-alive, ``client/EventReader.java:8-14``,
        ``Updater.java:162-164``). Proves the pipeline is alive when the feed
        is idle; appends to the metrics table without creating a commit."""
        m = {
            "batch_id": "NOP",
            "version": self.current_version(),
            "rows_in": 0,
            "rows_after_dedup": 0,
            "dedup_dropped": 0,
            "upserts": 0,
            "deletes": 0,
            "lsn_min": 0,
            "lsn_max": 0,
            "buckets_touched": [],
            "files_written": 0,
            "wall_ms": 0,
            "skipped": False,
        }
        self._append_metrics(m)
        return m

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        if not os.listdir(self._metrics_dir):
            return None
        return spark.read.parquet(self._metrics_dir)

    def rollback(self, version: int) -> int:
        """Roll the table back to an earlier committed version by writing a
        NEW commit that references that version's state (schema, manifests,
        applied-batch ledger, DDL marks). The log stays append-only — time
        travel over the bad history still works, and vacuum() keeps every
        file the restored state references.

        The CDC recovery story: a poison batch was merged (bad upstream
        data, mis-applied DDL) → roll back to the last good version, reset
        the stream to the matching checkpoint/lsn cursor, re-drain. Because
        the rolled-back batches leave the applied ledger, the re-drain
        re-applies them (they are no longer 'applied' — exactly-once is per
        committed lineage, not per ever-seen id)."""
        target = self.commit_at(version, resolve=False)
        current = self.commit_at(resolve=False)
        if version == current.version:
            return version
        new_commit = target.successor(
            current.version + 1,
            {"operation": "rollback", "to_version": version},
            parent=current.version,
        )
        self._write_commit(new_commit)
        return new_commit.version

    # ------------------------------------------------------- branches & tags
    # (implementation in lake/refs.py — Iceberg refs analog; see its module
    # docstring for the semantics and the CDC backfill/audit workflow)
    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named snapshot: survives expire_versions (the tagged
        version stays time-travelable below the floor)."""
        from .refs import _check_name, tag_path

        _check_name(name)
        with self._commit_lock:
            if os.path.exists(tag_path(self, name)):
                raise FileExistsError(f"tag {name!r} already exists")
            v = self.current_version() if version is None else version
            self.commit_at(v, resolve=False)  # must exist
            tmp = tag_path(self, name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps({"version": v}))
            os.replace(tmp, tag_path(self, name))
        return v

    def tag_versions(self) -> dict[str, int]:
        out = {}
        for fn in os.listdir(self._commits_dir):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(self._commits_dir, fn)) as f:
                    out[fn[4:-5]] = int(json.loads(f.read())["version"])
        return out

    def drop_tag(self, name: str) -> None:
        from .refs import tag_path

        p = tag_path(self, name)
        if not os.path.exists(p):
            raise FileNotFoundError(f"no tag named {name!r}")
        os.remove(p)

    def list_branches(self) -> list[str]:
        return sorted(
            fn[4:-5]
            for fn in os.listdir(self._commits_dir)
            if fn.startswith("ref-") and fn.endswith(".json")
        )

    def create_branch(self, name: str, at_version: int | None = None):
        from .refs import create_branch

        return create_branch(self, name, at_version)

    def branch(self, name: str):
        from .refs import BranchView

        return BranchView(self.root, name)

    def drop_branch(self, name: str) -> int:
        from .refs import drop_branch

        return drop_branch(self, name)

    def fast_forward(self, name: str) -> dict[str, Any]:
        from .refs import fast_forward

        return fast_forward(self, name)

    def merge_branch(self, name: str) -> dict[str, Any]:
        from .refs import merge_branch

        return merge_branch(self, name)

    def expire_versions(self, keep_last: int = 8) -> dict[str, Any]:
        """Snapshot expiry (Iceberg ``expireSnapshots`` analog): bound time
        travel to the newest ``keep_last`` versions and reclaim everything
        only the expired history references — data files superseded by
        compaction/rebucket, expired commit JSONs, and manifests no retained
        commit resolves through.

        Without expiry the commit log and superseded files grow forever: at
        10^10 events with per-micro-batch commits that is millions of commit
        JSONs and every pre-compaction delta ever written. Expiry is the
        lifecycle valve; ``vacuum()`` is the data-only orphan sweep against
        the SAME retained live set (no commit-log pruning, no floor move).

        Incremental maintainers (``SecondaryIndex.refresh``,
        ``refresh_aggregate``) time-travel to the version of their previous
        refresh: size ``keep_last`` above the oldest maintainer cursor, or
        let the index fall back to its full-rebuild path when its cursor is
        expired (``SecondaryIndex.refresh`` does this automatically).

        Semantics kept intact:
          * reads at any retained version are byte-identical (live set =
            union of ALL retained commits' file listings);
          * the changefeed is unaffected — ``read_changes`` resolves through
            the CURRENT commit's manifest chain, which is always retained
            (the changefeed_floor governs how far back cursors may reach,
            independently of version expiry);
          * ``commit_at``/``read``/``rollback`` below the floor raise a
            clear error instead of FileNotFoundError.

        Run it as offline maintenance (like ``vacuum``): an in-flight merge
        stages data files before its commit exists, and a concurrent walk
        would see them as unreferenced. The in-process commit lock is held
        for the metadata swing; cross-process exclusion is the catalog's
        job, exactly as for Iceberg.
        """
        if keep_last < 1:
            # keep_last=0 would set floor = cur+1, retain NOTHING, and the
            # sweep would delete every data file, commit and manifest —
            # total table destruction from a plausible-looking call.
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._commit_lock:
            cur = self.current_version()
            floor = max(self.version_floor(), cur - keep_last + 1, 0)
            live_files, live_manifests = self._retained_live_set(floor, cur)

            # Persist the floor BEFORE deleting anything: a crash mid-sweep
            # then leaves sub-floor access raising the clear expired-version
            # error (not a raw FileNotFoundError on a half-deleted commit),
            # and re-running expire_versions finishes the cleanup.
            tmp = os.path.join(self._commits_dir, "FLOOR.tmp")
            with open(tmp, "w") as f:
                f.write(str(floor))
            os.replace(tmp, os.path.join(self._commits_dir, "FLOOR"))

            removed = {"data_files": 0, "commits": 0, "manifests": 0}
            removed["data_files"] = self._sweep_data_files(live_files)
            tagged = set(self.tag_versions().values())
            for fn in os.listdir(self._commits_dir):
                p = os.path.join(self._commits_dir, fn)
                if fn.startswith("v") and fn.endswith(".json"):
                    if int(fn[1:-5]) < floor and int(fn[1:-5]) not in tagged:
                        os.remove(p)
                        removed["commits"] += 1
                elif fn.startswith("m") and fn.endswith(".json"):
                    if fn not in live_manifests:
                        os.remove(p)
                        removed["manifests"] += 1
                        cache = getattr(self, "_manifest_cache", None)
                        if cache is not None:
                            cache.pop(fn, None)
        removed["floor"] = floor
        return removed

    def _retained_live_set(
        self, floor: int, cur: int
    ) -> tuple[set[str], set[str]]:
        """(live data-file paths, live manifest names) across every
        retained version in [floor, cur]. A version whose commit JSON never
        existed (sub-batch numbering) is skipped by an explicit existence
        check; a commit whose MANIFEST is missing raises loudly instead —
        treating it as nonexistent would exclude its files from the live
        set and convert a recoverable metadata problem into data loss."""
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        versions = set(range(max(floor, 0), cur + 1))
        # tagged versions are retained regardless of the floor
        versions.update(self.tag_versions().values())
        for v in sorted(versions):
            if not os.path.exists(
                os.path.join(self._commits_dir, f"v{v:08d}.json")
            ):
                continue
            c = self.commit_at(v)
            for entries in c.files.values():
                for e in entries:
                    live_files.add(
                        os.path.normpath(os.path.join(self.root, e["path"]))
                    )
            live_manifests.update(c.manifests)
        # Staged (write-audit-publish) commits are live too: their delta
        # files are referenced by no version until publish, and sweeping
        # them would destroy a pending audit's data.
        for name in os.listdir(self._commits_dir):
            if name.startswith("staged-") and name.endswith(".json"):
                with open(os.path.join(self._commits_dir, name)) as f:
                    c = Commit.from_json(f.read())
                for mname in c.manifests:
                    for entries in self._load_manifest(mname).values():
                        for e in entries:
                            live_files.add(
                                os.path.normpath(
                                    os.path.join(self.root, e["path"])
                                )
                            )
                live_manifests.update(c.manifests)
        # Branch chains are live roots too: every commit of every branch
        # (manifests may reference files no main version knows about).
        from .refs import BranchView

        for name in self.list_branches():
            bv = BranchView(self.root, name)
            for fn in os.listdir(self._commits_dir):
                if not (fn.startswith(f"b-{name}-v") and fn.endswith(".json")):
                    continue
                c = bv.commit_at(int(fn[len(f"b-{name}-v"):-5]))
                for entries in c.files.values():
                    for e in entries:
                        live_files.add(
                            os.path.normpath(os.path.join(self.root, e["path"]))
                        )
                live_manifests.update(c.manifests)
        return live_files, live_manifests

    def _sweep_data_files(self, live_files: set[str]) -> int:
        """Delete everything under data/ the live set does not reference:
        unreferenced parquet, writer sidecars (_SUCCESS, .crc — readers use
        explicit file lists, never directory listings), and the then-empty
        directories bottom-up (per-attempt staging dirs are never reused,
        so without this the directory count grows one per merge forever).
        Returns the count of parquet files removed."""
        removed = 0
        for dirpath, dirnames, filenames in os.walk(self._data_dir, topdown=False):
            for fn in filenames:
                p = os.path.normpath(os.path.join(dirpath, fn))
                if p in live_files:
                    continue
                if p.endswith(".parquet"):
                    removed += 1
                    os.remove(p)
                elif fn == "_SUCCESS" or fn.endswith(".crc"):
                    os.remove(p)
            if dirpath != self._data_dir and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return removed

    def verify_against(
        self,
        spark: SparkSession,
        source: DataFrame,
        value_cols: list[str] | None = None,
        n_chunks: int = 64,
    ) -> dict[str, Any]:
        """Source/replica drift check (pt-table-checksum semantics over the
        reconciled state): order-insensitive per-chunk checksums on both
        sides — ONE pass each, an n_chunks-row comparison on the driver —
        then, only if chunks drifted, a row-level diff restricted to the
        drifted chunks (``operators.validate.diff_keys``). Returns
        ``{"match", "drifted_chunks", "diff"}`` where ``diff`` is a lazy
        DataFrame (None when clean). ``source`` must carry the table's key
        columns; ``value_cols`` defaults to all shared non-key columns —
        pre-canonicalize floats if the source renders them differently."""
        from ..operators.validate import checksum_chunks, diff_chunks, diff_keys

        commit = self.commit_at(resolve=False)
        keys = list(commit.key_cols)
        missing = [c for c in keys if c not in source.columns]
        if missing:
            raise ValueError(f"source lacks key columns {missing}")
        mine = self.read(spark)
        if value_cols is None:
            value_cols = [
                c for c in mine.columns if c not in set(keys) and c in source.columns
            ]
        drift = diff_chunks(
            checksum_chunks(mine, keys, value_cols, n_chunks),
            checksum_chunks(source, keys, value_cols, n_chunks),
        ).collect()
        chunks = sorted(r["chunk"] for r in drift)
        return {
            "match": not chunks,
            "drifted_chunks": chunks,
            "diff": (
                diff_keys(mine, source, keys, chunks, value_cols, n_chunks)
                if chunks
                else None
            ),
        }

    def repair_from(
        self,
        spark: SparkSession,
        source: DataFrame,
        value_cols: list[str] | None = None,
        n_chunks: int = 64,
        batch_id: str | None = None,
        verify: bool = True,
    ) -> dict[str, Any]:
        """Converge THIS table to ``source`` — the pt-table-sync analog
        completing ``verify_against``'s checksum story. Drift is localized
        first (chunk checksums → row diff restricted to drifted chunks, so
        a 3-row drift on a 10^10-row table re-reads only those chunks'
        keyspace), then repaired with ONE ordinary merge: extra rows become
        deletes, missing/changed rows take the source's full image, all at
        a fresh lsn past the applied watermark so the repair wins
        last-image-wins against anything already landed. Idempotent,
        lineage-tracked, changefeed-visible — a downstream consumer sees
        the repair as normal net change, exactly like MySQL replicas see
        pt-table-sync's binlogged fix-up statements.

        ``source`` must carry every table column (a partial source would
        null-fill the rest and manufacture new drift). Returns the
        verify_against report plus repair counts; with ``verify`` it
        re-checksums afterwards and reports ``repaired_match``.

        Multi-shard caveat (namespaced lsns): the repair lsn is
        global-watermark+1 — the highest shard's namespace — so repaired
        keys' FUTURE events from lower-numbered shards would lose
        last-image-wins to the repair image until that shard's lsns catch
        up. Quiesce ingest around a repair on multi-shard tables (the
        same operational rule as pt-table-sync on an active master)."""
        from ..streaming.failover import applied_lsn_watermark

        commit = self.commit_at(resolve=False)
        missing = [c for c, _ in commit.schema if c not in source.columns]
        if missing:
            raise ValueError(
                f"repair source lacks table columns {missing} — a partial "
                "source would null-fill them and manufacture drift"
            )
        keys = list(commit.key_cols)
        rep = self.verify_against(spark, source, value_cols, n_chunks)
        if rep["match"]:
            return {**rep, "repaired": 0, "repaired_match": True}
        diff = rep["diff"]
        lsn = applied_lsn_watermark(self) + 1
        dels = diff.filter(F.col("status") == "only_in_left").select(
            F.lit("D").alias("op"),
            *keys,
            *[
                F.lit(None).cast(dict(commit.schema)[c]).alias(c)
                for c, _ in commit.schema
                if c not in set(keys)
            ],
            F.lit(lsn).cast("long").alias("source_lsn"),
        )
        ups = (
            diff.filter(F.col("status") != "only_in_left")
            .select(*keys)
            .join(source, keys, "inner")
            .select(
                F.lit("U").alias("op"),
                *[F.col(c) for c, _ in commit.schema],
                F.lit(lsn).cast("long").alias("source_lsn"),
            )
        )
        m = self.merge(
            spark, dels.unionByName(ups), batch_id or f"repair.{lsn}"
        )
        out = {**rep, "repaired": m.get("rows_in", 0), "merge": m}
        if verify:
            out["repaired_match"] = self.verify_against(
                spark, source, value_cols, n_chunks
            )["match"]
        return out

    def fsck(self, spark: SparkSession | None = None, deep: bool = False):
        """Integrity audit — see ``lake/fsck.py`` (structural tier is
        driver-only; ``deep=True`` adds the distributed footer/bloom
        evidence pass and needs ``spark``)."""
        from .fsck import verify

        return verify(self, spark=spark, deep=deep)

    def maintain(
        self,
        spark: SparkSession,
        *,
        maintainers: tuple = (),
        max_delta_bytes: int = 1 << 30,
        max_deltas: int = 16,
        keep_last: int = 8,
        run_vacuum: bool = True,
    ) -> dict[str, Any]:
        """One nightly-maintenance call, in the order the dependencies
        demand: (1) refresh every dependent ``maintainer`` (anything with
        ``.refresh(spark)`` — secondary indexes, incremental aggregates,
        join views) WHILE the changefeed history they read is still
        intact; (2) size-policy compaction (which collapses that history);
        (3) snapshot expiry (raises the time-travel floor); (4) orphan
        vacuum (reclaims what expiry unreferenced). Running refreshes
        first is the point — after compaction every incremental maintainer
        would be forced through its full-rebuild recovery path. The
        reference's single loop interleaves flushes with its 1 GiB/15 min
        policy (``BucketOutput.java:29-30``); here maintenance is a
        separate, idempotent pass safe to run on any schedule."""
        out: dict[str, Any] = {"maintainers": []}
        for m in maintainers:
            out["maintainers"].append(m.refresh(spark))
        out["compaction"] = self.compact_by_policy(
            spark, max_delta_bytes=max_delta_bytes, max_deltas=max_deltas
        )
        out["expiry"] = self.expire_versions(keep_last=keep_last)
        if run_vacuum:
            out["vacuumed_files"] = self.vacuum()
        return out

    def vacuum(self) -> int:
        """Data-only orphan sweep: delete files under data/ that no
        RETAINED version references — crashed-attempt staging dirs, files
        superseded by compaction older than the floor. Unlike
        ``expire_versions`` it never prunes the commit log or moves the
        floor; like it, the live set spans every retained version, so time
        travel and maintainer time-travel reads within the retention window
        stay intact (a current-commit-only live set would delete files
        older retained versions still reference). Returns parquet count."""
        with self._commit_lock:
            cur = self.current_version()
            live, _ = self._retained_live_set(self.version_floor(), cur)
            return self._sweep_data_files(live)
