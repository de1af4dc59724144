"""Incremental aggregate-view maintenance over a LakeTable changefeed.

A downstream aggregate (per-conversation turn counts, token sums, per-user
rollups) must not be recomputed from 10^10 base rows every time a micro-batch
of 10^5 changes lands. This operator maintains it with **dirty-group partial
recompute**: the changefeed names exactly which keys changed in
``(since_lsn, to_lsn]`` (O(delta) read — file listing pruned by lsn range,
see ``LakeTable.read_changes``), the distinct GROUPS those keys belong to are
re-aggregated from the base table, and the results are MERGEd into the
aggregate table; groups whose rows all vanished become tombstones.

Why recompute-the-group instead of +/- delta math: pure delta maintenance
only works for self-maintainable aggregates (COUNT/SUM) and needs the
before-image of every update; group recompute handles MAX/MIN/COUNT DISTINCT
and anything else expressible as an aggregate, at the cost of re-reading the
dirty groups' rows. The reference has no analog (its sink is an append-only
changelog, the consumer re-aggregates downstream); this is the engine-side
materialization a training-data pipeline wants ("conversations whose stats
changed since my last snapshot").

Dirty-set correctness: the changefeed carries the NEW image of each changed
key. When the group columns are part of the base key that is sufficient — a
key cannot move between groups, and delete rows always carry their key
columns. When a group column is NOT a key column, a row's update can move it
'a'→'b' (only 'b' appears in the feed) and a delete's tombstone carries NULL
non-key columns — so the refresher must ALSO collect the changed keys' OLD
group values from the base table at the previous refresh's version
(``prev_version``, same time-travel trick as ``SecondaryIndex.refresh``).
Without it group 'a' would keep the moved row's contribution forever; the
function refuses to guess and raises if ``prev_version`` is missing in that
case.

Scale shape: one changefeed read (listing-pruned, snapshot-pinned), one
distinct (partial agg), one semi-join against the base, one groupBy (partial
agg), one anti-join for vanished groups, then the standard merge path. The
base read is pruned to the dirty groups' BUCKETS at the listing level when
the bucket columns are derivable from the group columns
(``bucket_cols ⊆ group_cols``); otherwise it is a full scan filtered by the
semi-join — correct, but O(table) IO, so co-bucket the base by the grouping
key of hot views. No collect beyond the tiny bucket-id set, no window.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..lake.table import LakeTable


def refresh_aggregate(
    spark: SparkSession,
    base: LakeTable,
    agg_table: LakeTable,
    group_cols: list[str],
    agg_cols: list[Column],
    since_lsn: int,
    to_lsn: int,
    batch_id: str,
    prev_version: int | None = None,
    version: int | None = None,
    since_version: int | None = None,
) -> dict[str, Any]:
    """Fold the base table's changes in ``(since_lsn, to_lsn]`` into
    ``agg_table`` (keyed on ``group_cols``; value columns = the aliases of
    ``agg_cols``).

    ``agg_cols`` are aggregate expressions with explicit aliases, evaluated
    per dirty group over the base state at ``version`` (default: current
    head — run the refresh after the merges whose lsn range it covers).
    ``prev_version`` is REQUIRED when ``group_cols`` are not all base key
    columns (see module docstring: old group values of moved/deleted rows
    are not in the changefeed). ``since_version`` selects the delta by
    commit window instead of the (since_lsn, to_lsn] lsn window — REQUIRED
    for multi-shard tables, whose namespaced lsns are not globally ordered
    (a scalar lsn cursor silently drops lower-shard events; see
    ``LakeTable.read_changes``). Idempotent per ``batch_id`` via the merge
    ledger. Returns the merge metrics plus the dirty buckets when pruned.
    """
    head = base.current_version() if version is None else version
    commit = base.commit_at(head)
    group_in_key = set(group_cols) <= set(commit.key_cols)
    delta = base.read_changes(
        spark, since_lsn, to_lsn, version=head, since_version=since_version
    )
    if since_version is not None:
        # read_changes rejects to_lsn with since_version (not meaningful
        # across shards), so the stamp comes from the window itself: the
        # delta's actual max lsn — never a caller-supplied bound the delta
        # could silently exceed
        hi = delta.agg(F.max("source_lsn")).collect()[0][0]
        stamp = int(hi) if hi is not None else -1
    else:
        stamp = to_lsn

    if group_in_key:
        # every changefeed row (U and D) carries its key columns
        dirty = delta.select(*group_cols).distinct()
    else:
        if prev_version is None:
            raise ValueError(
                f"group_cols {group_cols} are not all key columns of the "
                f"base table (keys: {commit.key_cols}): the changefeed only "
                "carries NEW images, so a moved row's old group and a "
                "deleted row's group are invisible — pass prev_version "
                "(the base version of the previous refresh) so old group "
                "values can be read back"
            )
        new_groups = (
            delta.filter(F.col("op") == "U").select(*group_cols).distinct()
        )
        old_groups = (
            base.read(spark, version=prev_version)
            .join(
                delta.select(*commit.key_cols).distinct(),
                on=list(commit.key_cols),
                how="left_semi",
            )
            .select(*group_cols)
            .distinct()
        )
        dirty = new_groups.unionByName(old_groups).distinct()

    dirty = dirty.persist()
    try:
        # listing-level bucket pruning when the dirty groups determine their
        # buckets (the aggregate-view analog of merge_partial's touched-
        # bucket read)
        touched = None
        if set(commit.bucket_cols) <= set(group_cols):
            touched = sorted(
                int(r[0])
                for r in dirty.select(
                    base._bucket_expr(commit).alias("_b")
                )
                .distinct()
                .collect()
            )
        state = base.read(spark, version=head, buckets=touched)
        recomputed = (
            state.join(dirty, on=group_cols, how="left_semi")
            .groupBy(*group_cols)
            .agg(*agg_cols)
        )
        value_cols = [c for c in recomputed.columns if c not in group_cols]
        upserts = recomputed.select(
            F.lit("U").alias("op"),
            *group_cols,
            *value_cols,
            F.lit(stamp).cast("long").alias("source_lsn"),
        )
        # a dirty group with no surviving base rows was fully deleted →
        # tombstone
        gone = dirty.join(recomputed, on=group_cols, how="left_anti").select(
            F.lit("D").alias("op"),
            *group_cols,
            *[F.lit(None).alias(c) for c in value_cols],
            F.lit(stamp).cast("long").alias("source_lsn"),
        )
        metrics = agg_table.merge(spark, upserts.unionByName(gone), batch_id)
    finally:
        dirty.unpersist()
    if not metrics.get("skipped"):
        metrics["incremental_refresh"] = {
            "since_lsn": since_lsn,
            "to_lsn": stamp,
            "base_version": head,
        }
        if since_version is not None:
            metrics["incremental_refresh"]["since_version"] = since_version
        if touched is not None:
            metrics["incremental_refresh"]["base_buckets_pruned_read"] = touched
    return metrics
