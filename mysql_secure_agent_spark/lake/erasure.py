"""Verifiable key erasure — the right-to-be-forgotten workflow.

CDC's replay-everything architecture is exactly what data-protection
erasure fights: a deleted user's rows survive as history (old delta files,
time travel, tags, branches) long after the tombstone lands. The reference
has no deletion story at all — its JSONL output keeps every image forever
and erasure is the destination's problem. Here the lake owns its files, so
erasure can be a first-class, *verifiable* operation:

``erase_keys`` =
  1. tombstone-merge ``D`` rows for the keys (one normal, idempotent,
     lineage-tracked commit — readers converge immediately);
  2. compact exactly the keys' buckets (driver-side Murmur3 → bucket ids,
     the ``lookup()`` math), so the LIVE listing stops referencing any
     file that still holds the key's images;
  3. ``expire_versions`` + ``vacuum`` to physically reclaim the historical
     files (the Iceberg/Delta "DELETE then VACUUM" story — erasure is not
     complete until retention lets go).

``verify_erased`` is the certificate: a distributed deep scan of EVERY
retained root — all time-travelable main versions, every tag, every branch
head — reporting each surviving (file, row count). Tags and branches are
deliberately NOT auto-destroyed: the report names them and the operator
decides (drop_tag / branch erase / drop_branch), because silently deleting
a named snapshot is worse than failing loudly.

Known residuals, by design: the DLQ (quarantined raw bytes — purge by
batch), external backups, and lineage metrics (counts only, no payload).
"""

from __future__ import annotations

import os
from typing import Any

import pyarrow as pa
from pyspark.sql import SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .bucketing import bucket_for
from .table import LakeTable, _type_from_ddl


def _key_frame(
    spark: SparkSession,
    table: LakeTable,
    keys: list[dict[str, Any]],
    base_lsn: int | None = None,
):
    """The keys as a frame built from Arrow: a local relation with an exact
    size estimate, so a tombstone merge of a few keys runs in the driver.
    With ``base_lsn`` the rows are ``D`` tombstones in key order at
    ``source_lsn = base_lsn + i``."""
    commit = table.commit_at(resolve=False)
    types = dict(commit.schema)
    kc = commit.key_cols
    for k in keys:
        missing = [c for c in kc if c not in k]
        if missing:
            raise KeyError(f"erase key {k} missing key columns {missing}")
    schema = to_arrow_schema(
        T.StructType([T.StructField(c, _type_from_ddl(types[c])) for c in kc])
    )
    # NULLs first, like an ascending Spark sort
    rows = sorted(
        (tuple(k[c] for c in kc) for k in keys),
        key=lambda r: [(v is not None, v) for v in r],
    )
    cols = {c: [r[i] for r in rows] for i, c in enumerate(kc)}
    if base_lsn is not None:
        schema = schema.append(pa.field("op", pa.string())).append(
            pa.field("source_lsn", pa.int64())
        )
        cols["op"] = ["D"] * len(rows)
        cols["source_lsn"] = [base_lsn + i for i in range(len(rows))]
    return spark.createDataFrame(pa.Table.from_pydict(cols, schema=schema)), commit


def erase_keys(
    table: LakeTable,
    spark: SparkSession,
    keys: list[dict[str, Any]],
    *,
    batch_id: str | None = None,
    expire: bool = True,
    keep_last: int = 1,
    verify: bool = True,
) -> dict[str, Any]:
    """Erase ``keys`` (full primary keys) from the table AND its retained
    history. Returns a report: buckets rewritten, files reclaimed, and —
    with ``verify`` — the deep-scan survivors (empty = certified erased
    from every retained root; tags/branches that still hold the key are
    listed, never silently destroyed).

    Multi-shard caveat (namespaced lsns, ``streaming/multi_source``): the
    tombstone lands at global-watermark+1 — in the HIGHEST shard's lsn
    namespace — so a future re-insert of the key from a lower-numbered
    shard would lose last-image-wins against it. That is acceptable for
    terminal removal (the data-protection case this implements: the
    subject's key should not silently come back), but do NOT use
    erase_keys as a general delete on multi-shard tables — emit a normal
    shard-local D event instead."""
    from ..streaming.failover import applied_lsn_watermark

    if not keys:
        return {"erased": True, "survivors": [], "buckets": []}
    # 1. tombstones at fresh lsns (monotone past everything applied), so
    # any concurrent replay of older segments cannot resurrect the keys
    base_lsn = applied_lsn_watermark(table) + 1
    tomb, commit = _key_frame(spark, table, keys, base_lsn)
    types = dict(commit.schema)
    btypes = [types[c] for c in commit.bucket_cols]
    buckets = sorted(
        {
            bucket_for([k[c] for c in commit.bucket_cols], btypes,
                       commit.n_buckets)
            for k in keys
        }
    )

    table.merge(spark, tomb, batch_id or f"erase.{base_lsn}")

    # 2. rewrite exactly the affected buckets: the live listing afterwards
    # references no file holding the keys (tombstones drop with the rewrite)
    comp = table.compact(spark, buckets=buckets, min_deltas=1)

    # 3. let go of the history that still holds the images
    reclaimed = {}
    if expire:
        reclaimed = table.expire_versions(keep_last=keep_last)
        table.vacuum()

    report: dict[str, Any] = {
        "buckets": buckets,
        "compacted": comp,
        "expired": reclaimed,
    }
    if verify:
        survivors = verify_erased(table, spark, keys)
        report["survivors"] = survivors
        report["erased"] = not survivors
    return report


def _roots(table: LakeTable) -> list[tuple[str, Any, int]]:
    """Every retained root: (label, commit-loader table, version)."""
    out: list[tuple[str, Any, int]] = []
    cur = table.current_version()
    floor = table.version_floor()
    for v in range(max(floor, 1), cur + 1):
        out.append((f"version {v}", table, v))
    for name, v in table.tag_versions().items():
        if v < max(floor, 1) or v > cur:  # tags survive expiry
            out.append((f"tag {name} (version {v})", table, v))
    for name in table.list_branches():
        bt = table.branch(name)
        bv = bt.current_version()
        if bv >= 1:
            out.append((f"branch {name} (head {bv})", bt, bv))
    return out


def verify_erased(
    table: LakeTable,
    spark: SparkSession,
    keys: list[dict[str, Any]],
) -> list[dict[str, Any]]:
    """Deep-scan certificate: read every file any retained root references
    — main time travel, tags, branch heads — pruned per ROOT with that
    root's own bucket layout (a rebucket inside retention changes the
    math), and report each file still holding any of the keys with its row
    count and the roots that reference it. Empty list = erased everywhere
    a reader could still look."""
    key_df, commit = _key_frame(spark, table, keys)
    kc = commit.key_cols

    path_roots: dict[str, list[str]] = {}
    for label, t, v in _roots(table):
        c = t.commit_at(v)
        ctypes = dict(c.schema)
        target: set[int] | None = None
        if all(col in ctypes for col in c.bucket_cols):
            try:
                target = {
                    bucket_for(
                        [k[col] for col in c.bucket_cols],
                        [ctypes[col] for col in c.bucket_cols],
                        c.n_buckets,
                    )
                    for k in keys
                }
            except KeyError:
                target = None  # keys don't cover this root's bucket cols
        for b, entries in c.files.items():
            if target is not None and int(b) not in target:
                continue
            for e in entries:
                p = os.path.join(t.root, e["path"])
                path_roots.setdefault(p, []).append(label)

    if not path_roots:
        return []
    scan = (
        spark.read.option("mergeSchema", "true")
        .parquet(*sorted(path_roots))
        .select(*kc, F.col("_metadata.file_path").alias("_fp"))
    )
    hits = (
        scan.join(F.broadcast(key_df), on=kc, how="left_semi")
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    out = []
    for r in hits:
        # file_path is a URI; match on the path suffix
        fp = r["_fp"]
        label_paths = [p for p in path_roots if fp.endswith(p) or p == fp]
        roots = sorted({lab for p in label_paths for lab in path_roots[p]})
        out.append({"path": fp, "n_rows": r["n_rows"], "roots": roots})
    return sorted(out, key=lambda d: d["path"])
