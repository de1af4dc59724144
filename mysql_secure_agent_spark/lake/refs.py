"""Branches and tags over the LakeTable commit log (Iceberg refs analog).

A **tag** is an immutable name for a main-line version: it survives
``expire_versions`` (the tagged snapshot stays time-travelable below the
floor, as Iceberg retains tagged snapshots through ``expireSnapshots``).

A **branch** is a writable fork: a full LakeTable surface (merge, WAP,
metadata-only DDL, read, changefeed) whose commits live in their OWN
filename namespace (``b-<name>-v*.json`` commits, ``m-br-<name>-*``
manifests, ``_metrics/br-<name>/`` lineage) so the main line's version
numbers stay contiguous and linear — every existing range-walking consumer
(changefeed windows, expiry, incremental maintainers) is untouched by
branch activity. Data files are shared structurally: a branch commit's
manifest chain starts from the fork's chain and appends branch deltas, the
same append-only argument that makes WAP publishes rebase-safe.

Settling a branch back into main:

* ``fast_forward(name)`` — main unmoved since the fork ⇒ ONE main commit
  (squash) adopting the branch head's manifests/schema/batch ledger.
  O(metadata); no data moves.
* ``merge_branch(name)`` — main advanced ⇒ cherry-pick each branch merge's
  delta manifest onto main in order with per-batch exactly-once, legal
  because merge deltas are listing-independent (the publish_staged rebase
  argument); refused if schema/layout diverged.

Why this shape for CDC: the write-audit-publish flow stages ONE commit; a
branch stages a SEQUENCE — the natural unit for a multi-batch backfill
(import a month of history on a branch while the live stream keeps
committing to main, audit the branch, then merge it), a schema-migration
rehearsal, or a training-data experiment that must not disturb the
production line. The reference has no analog (one binlog cursor, one output
lineage); this is lake-side surface the distributed engine adds.

Lifecycle: vacuum/expiry treat every branch commit and every tagged version
as live roots (``LakeTable._retained_live_set``); ``drop_branch`` removes
the branch's commits and pointer, after which the next sweep reclaims
whatever only the branch referenced.

Branch views refuse the physical-rewrite lifecycle ops (compact, rebucket,
modify_column_type, purge, expiry, vacuum): those rewrite into
version-numbered data directories that belong to the main line. Run them on
main; branches are for merge/audit workflows.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from .table import LakeTable

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _check_name(name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid ref name {name!r} (want [A-Za-z0-9._-]+)")
    return name


def ref_path(table: LakeTable, name: str) -> str:
    return os.path.join(table._commits_dir, f"ref-{name}.json")


def tag_path(table: LakeTable, name: str) -> str:
    return os.path.join(table._commits_dir, f"tag-{name}.json")


def _write_json_atomic(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload))
    os.replace(tmp, path)


class BranchView(LakeTable):
    """A LakeTable bound to a branch ref: same root, same data files, own
    commit/manifest/metrics namespace and own head pointer. Everything that
    goes through ``current_version``/``commit_at``/``_write_commit`` —
    merge, WAP stage/publish, metadata-only DDL, read, read_changes,
    rollback — works on the branch unchanged via these overrides."""

    def __init__(self, root: str, name: str):
        super().__init__(root)
        self.branch = _check_name(name)
        if not os.path.exists(ref_path(self, name)):
            raise FileNotFoundError(f"no branch named {name!r}")
        os.makedirs(self._metrics_dir, exist_ok=True)

    # ----------------------------------------------------------- namespace
    def _current_path(self) -> str:  # only read via current_version/_swing
        return ref_path(self, self.branch)

    def current_version(self) -> int:
        with open(self._current_path()) as f:
            return int(json.load(f)["version"])

    def fork_version(self) -> int:
        with open(self._current_path()) as f:
            return int(json.load(f)["fork"])

    def _swing_pointer(self, version: int) -> None:
        _write_json_atomic(
            self._current_path(), {"version": version, "fork": self.fork_version()}
        )

    def version_floor(self) -> int:
        """Branch commits never expire — ``drop_branch`` is their whole
        lifecycle, and ``create_branch`` materialized the fork commit into
        this namespace. Main's floor governs main's version numbering;
        inheriting it would refuse a perfectly-retained branch head whose
        number predates a later main expiry (found by the erasure deep
        scan: fork at v2, main floor raised to v4, branch read crashed)."""
        return 0

    def _commit_fname(self, v: int) -> str:
        return f"b-{self.branch}-v{v:08d}.json"

    def _mname(self, version: int, suffix: str = "") -> str:
        return f"m-br-{self.branch}-{version:08d}{suffix}.json"

    @property
    def _metrics_dir(self) -> str:
        return os.path.join(self.root, "_metrics", f"br-{self.branch}")

    def _extend_manifests(self, parent, version, delta):
        """Append-only, NO rollup: cherry-pick (merge_branch) recovers each
        branch commit's delta as the single manifest added over its parent —
        a rollup would fold main's chain into a branch-owned file and break
        that diff. Branch chains are short-lived; main rolls up as usual."""
        chain = list(parent.manifests)
        if delta:
            chain.append(self._write_manifest(self._mname(version), delta))
        return chain

    # ------------------------------------------------- refused lifecycle ops
    def _refuse(self, op: str):
        raise ValueError(
            f"{op}() is a main-line lifecycle operation — run it on the "
            f"main table, not branch {self.branch!r}"
        )

    def compact(self, *a, **k):
        self._refuse("compact")

    def compact_by_policy(self, *a, **k):
        self._refuse("compact_by_policy")

    def rebucket(self, *a, **k):
        self._refuse("rebucket")

    def modify_column_type(self, *a, **k):
        self._refuse("modify_column_type")

    def purge_dropped_columns(self, *a, **k):
        self._refuse("purge_dropped_columns")

    def expire_versions(self, *a, **k):
        self._refuse("expire_versions")

    def vacuum(self, *a, **k):
        self._refuse("vacuum")

    def create_branch(self, *a, **k):
        self._refuse("create_branch")  # no branches off branches


# ---------------------------------------------------------------- main-side
def create_branch(table: LakeTable, name: str, at_version: int | None = None) -> "BranchView":
    """Fork a branch at ``at_version`` (default: current head). O(1): copies
    one commit JSON into the branch namespace and writes the ref pointer."""
    _check_name(name)
    with table._commit_lock:
        if os.path.exists(ref_path(table, name)):
            raise FileExistsError(f"branch {name!r} already exists")
        v = table.current_version() if at_version is None else at_version
        base = table.commit_at(v, resolve=False)
        # materialize the fork commit in the branch namespace (content
        # identical; version number carries over — branch-local from here on)
        fork_fname = f"b-{name}-v{v:08d}.json"
        _write_json_atomic_text(
            os.path.join(table._commits_dir, fork_fname), base.to_json()
        )
        _write_json_atomic(ref_path(table, name), {"version": v, "fork": v})
    return BranchView(table.root, name)


def _write_json_atomic_text(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def drop_branch(table: LakeTable, name: str) -> int:
    """Delete the branch pointer and its commits. Data/manifests only the
    branch referenced become unreferenced — the next expire/vacuum sweep
    reclaims them. Returns commit files removed."""
    with table._commit_lock:
        if not os.path.exists(ref_path(table, name)):
            raise FileNotFoundError(f"no branch named {name!r}")
        removed = 0
        prefix = f"b-{name}-v"
        for fn in os.listdir(table._commits_dir):
            if fn.startswith(prefix) and fn.endswith(".json"):
                os.remove(os.path.join(table._commits_dir, fn))
                removed += 1
        os.remove(ref_path(table, name))
    return removed


def fast_forward(table: LakeTable, name: str) -> dict[str, Any]:
    """Adopt the branch head as the new main head — legal only while main
    still sits at the branch's fork point (otherwise use merge_branch).
    One squash commit: the branch head is self-contained (its manifest
    chain already includes main's pre-fork chain), so main simply takes its
    manifests, schema, and batch ledger. The branch's fork pointer advances
    to the new main head, ready for further work."""
    bv = BranchView(table.root, name)
    with table._commit_lock:
        head = table.commit_at(resolve=False)
        fork = bv.fork_version()
        if head.version != fork:
            raise ValueError(
                f"main advanced past the fork (head {head.version} != fork "
                f"{fork}): fast-forward is not possible, use merge_branch"
            )
        bh = bv.commit_at(resolve=False)
        if bh.version == fork:
            return {"skipped": True, "version": head.version}
        version = head.version + 1
        table._write_commit(
            bh.successor(
                version,
                {
                    "operation": "fast_forward",
                    "branch": name,
                    "branch_head": bh.version,
                },
                parent=head.version,
            )
        )
        _write_json_atomic(
            ref_path(table, name), {"version": bh.version, "fork": version}
        )
        return {"skipped": False, "version": version, "branch_head": bh.version}


def merge_branch(table: LakeTable, name: str) -> dict[str, Any]:
    """Cherry-pick a diverged branch onto main: re-apply each branch MERGE
    commit's delta manifest in branch order, one main commit per batch,
    exactly-once by batch_id (a batch main already applied skips). Legal
    because merge deltas are append-only and listing-independent — the same
    rebase argument as publish_staged. Refused when the branch carries
    non-merge commits (DDL, rollback) or the schema/layout diverged: those
    need a human decision, not a silent rebase."""
    bv = BranchView(table.root, name)
    fork = bv.fork_version()
    bh_version = bv.current_version()
    picked, skipped = [], []
    with table._commit_lock:
        head = table.commit_at(resolve=False)
        prev = bv.commit_at(fork, resolve=False)
        for v in range(fork + 1, bh_version + 1):
            bc = bv.commit_at(v, resolve=False)
            op = bc.summary.get("operation")
            if op != "merge":
                raise ValueError(
                    f"branch {name!r} commit {v} is {op!r}, not a merge: "
                    "cherry-pick only rebases merge deltas — fast-forward "
                    "or reconcile manually"
                )
            if (
                head.n_buckets != bc.n_buckets
                or head.bucket_cols != bc.bucket_cols
                or head.schema != bc.schema
            ):
                raise ValueError(
                    f"branch {name!r} schema/layout diverged from main: "
                    "cannot cherry-pick"
                )
            batch_id = str(bc.summary.get("batch_id"))
            new_names = [m for m in bc.manifests if m not in set(prev.manifests)]
            if len(new_names) > 1:
                raise ValueError(
                    f"branch commit {v} added {len(new_names)} manifests — "
                    "not a single-delta merge commit"
                )
            if head.is_applied(batch_id):
                skipped.append(batch_id)
                prev = bc
                continue
            delta = (
                dict(table._load_manifest(new_names[0])) if new_names else {}
            )
            version = head.version + 1
            applied = dict(head.applied_batches)
            applied[batch_id] = version
            applied, hwm = table._prune_applied(applied, head.applied_hwm)
            commit = head.successor(
                version,
                {
                    "operation": "merge",
                    "batch_id": batch_id,
                    "cherry_picked_from": f"{name}@{v}",
                    "rows_in": bc.summary.get("rows_in"),
                    "deletes": bc.summary.get("deletes"),
                    "upserts": bc.summary.get("upserts"),
                },
                manifests=table._extend_manifests(head, version, delta),
                applied_batches=applied,
                applied_hwm=hwm,
            )
            table._write_commit(commit)
            picked.append(batch_id)
            head = commit
            prev = bc
    return {
        "picked": picked,
        "skipped": skipped,
        "version": table.current_version(),
    }
