"""Incremental changefeed OUT of the lake (read_changes): O(delta) reads,
delete visibility, lake-to-lake replication, listing-level file pruning via
manifest lsn stats, and the compaction retention floor (the purged-binlog
analog — MySQL error 1236 in the reference's reconnect path)."""

import json
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
import pyspark.sql.types as T

from mysql_secure_agent_spark.lake.table import SYS_LSN, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _cl(spark, rows):
    """rows: (op, k, v, lsn)"""
    return spark.createDataFrame(rows, "op string, k long, v string, source_lsn long")


@pytest.fixture()
def tbl3(spark, tmp_path):
    """Three merged batches: lsns 1-4, 11-14, 21-24 (batch 3 deletes k=1)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    t.merge(spark, _cl(spark, [("I", 1, "a1", 1), ("I", 2, "b1", 2), ("I", 3, "c1", 3), ("I", 4, "d1", 4)]), "1")
    t.merge(spark, _cl(spark, [("U", 2, "b2", 11), ("I", 5, "e1", 12), ("U", 2, "b3", 14)]), "2")
    t.merge(spark, _cl(spark, [("D", 1, "a1", 21), ("U", 3, "c2", 24)]), "3")
    return t


def test_read_changes_net_delta(spark, tbl3):
    got = {r["k"]: r for r in tbl3.read_changes(spark, since_lsn=4).collect()}
    # net change per key across batches 2+3: k2 last image b3, k5 new,
    # k1 deleted, k3 updated; k4 untouched -> absent
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["op"] == "D" and got[1]["source_lsn"] == 21
    assert (got[2]["op"], got[2]["v"], got[2]["source_lsn"]) == ("U", "b3", 14)
    assert (got[3]["op"], got[3]["v"]) == ("U", "c2")
    assert (got[5]["op"], got[5]["v"]) == ("U", "e1")


def test_read_changes_window_and_empty(spark, tbl3):
    win = {r["k"]: r for r in tbl3.read_changes(spark, 4, to_lsn=14).collect()}
    assert set(win) == {2, 5} and win[2]["v"] == "b3"
    assert tbl3.read_changes(spark, since_lsn=24).count() == 0
    # schema is stable even when empty
    empty = tbl3.read_changes(spark, since_lsn=10**9)
    assert [f.name for f in empty.schema.fields] == ["op", "k", "v", "source_lsn"]


def test_changefeed_replicates_lake_to_lake(spark, tbl3, tmp_path):
    """Seed a replica from the v1 state, then apply the changefeed — replica
    state must equal the source state (deletes included)."""
    rep = LakeTable.create(str(tmp_path / "rep"), SCHEMA, ["k"], n_buckets=2)
    rep.merge(spark, _cl(spark, [("I", 1, "a1", 1), ("I", 2, "b1", 2), ("I", 3, "c1", 3), ("I", 4, "d1", 4)]), "seed")
    rep.merge(spark, tbl3.read_changes(spark, since_lsn=4), "delta")
    src = sorted(tuple(r) for r in tbl3.read(spark).collect())
    dst = sorted(tuple(r) for r in rep.read(spark).collect())
    assert src == dst and len(src) == 4  # k1 deleted, k2-5 live


def test_listing_level_file_pruning(spark, tbl3):
    """Manifest lsn stats drop whole files from the listing: a cursor past
    batches 1-2 must only open batch-3 files."""
    commit = tbl3.commit_at()
    all_entries = [e for es in commit.files.values() for e in es]
    assert all(e.get("lsn_max") is not None for e in all_entries)
    pruned = tbl3._read_files(spark, commit, min_lsn_exclusive=14)
    opened = {
        os.path.basename(os.path.dirname(os.path.dirname(r["f"])))
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    # only batch-3's staging dir (dirs are batch-keyed, data/b<sha1>/...)
    expected = {
        e["path"].split(os.sep)[1]
        for es in commit.files.values()
        for e in es
        if e["lsn_max"] > 14
    }
    surviving = {
        e["path"].split(os.sep)[1]
        for es in commit.files.values()
        for e in es
    }
    assert len(expected) == 1 and len(surviving) == 3
    assert opened == expected

    # purge-rewritten files record their lsn range too: a cursor at the
    # purge's ceiling opens only what was merged after it
    tbl3.drop_column("v")
    tbl3.purge_dropped_columns(spark)
    purged = [e for es in tbl3.commit_at().files.values() for e in es]
    ceiling = max(e["lsn_max"] for e in purged)
    assert ceiling == 24
    tbl3.merge(spark, _cl(spark, [("U", 4, None, 31)]), "4")
    after = tbl3._read_files(spark, tbl3.commit_at(), min_lsn_exclusive=ceiling)
    opened = {
        r["f"].split("/data/")[1].split("/")[0]
        for r in after.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert opened and not opened & {e["path"].split(os.sep)[1] for e in purged}


def test_compaction_floor_guards_cursors(spark, tbl3):
    res = tbl3.compact(spark)
    assert res["compacted_buckets"]
    floor = tbl3.commit_at().changefeed_floor
    assert floor == 24  # ceiling of everything rewritten
    with pytest.raises(ValueError, match="compacted history"):
        tbl3.read_changes(spark, since_lsn=14)
    # cursor at the floor is valid: nothing newer yet -> empty feed
    assert tbl3.read_changes(spark, since_lsn=floor).count() == 0
    # new merges after compaction flow through the feed again
    tbl3.merge(spark, _cl(spark, [("U", 4, "d2", 31)]), "4")
    got = tbl3.read_changes(spark, since_lsn=floor).collect()
    assert len(got) == 1 and got[0]["k"] == 4 and got[0]["v"] == "d2"
    # and the floor survives unrelated commits
    assert tbl3.commit_at().changefeed_floor == 24


def test_floor_covers_files_without_recorded_lsn_range(spark, tbl3):
    """A table written before purge rewrites recorded their lsn range lists
    purge files with no ``lsn_min``/``lsn_max``. Compacting it must still
    raise the floor to those files' highest lsn (footer scan), so a cursor
    inside the collapsed history is refused instead of missing deletes."""
    tbl3.drop_column("v")
    tbl3.purge_dropped_columns(spark)
    head = tbl3.commit_at(resolve=False)
    (name,) = head.manifests
    mpath = os.path.join(tbl3.root, "_commits", name)
    with open(mpath) as f:
        doc = json.load(f)
    for es in doc["add"].values():
        for e in es:
            for k in ("lsn_min", "lsn_max", "key_stats"):
                e.pop(k, None)
    with open(mpath, "w") as f:
        json.dump(doc, f)
    legacy = LakeTable(tbl3.root)  # fresh handle: no cached manifest
    assert legacy.commit_at().changefeed_floor < 24
    legacy.compact(spark)
    assert legacy.commit_at().changefeed_floor == 24
    with pytest.raises(ValueError, match="compacted history"):
        legacy.read_changes(spark, since_lsn=14)


def _purge(spark, t):
    t.drop_column("v")
    t.purge_dropped_columns(spark)


# rewrite -> (run it on a table, kind of the files it writes)
REWRITES = {
    "compact": (lambda spark, t: t.compact(spark), "base"),
    "rebucket": (lambda spark, t: t.rebucket(spark, 3), "base"),
    "purge_dropped_columns": (_purge, "delta"),
    "modify_column_type": (
        lambda spark, t: t.modify_column_type(spark, "v", "binary"), "delta"
    ),
}


@pytest.mark.parametrize("rewrite", list(REWRITES))
def test_compacted_base_entries_carry_lsn_stats(spark, tbl3, rewrite):
    """Every rewrite records each written file's lsn range in its manifest
    entry, equal to the file's own lsn min/max — what lets changefeed
    floors and cursor pruning work from the manifest alone."""
    run, kind = REWRITES[rewrite]
    run(spark, tbl3)
    entries = [e for es in tbl3.commit_at().files.values() for e in es]
    assert entries and all(e["kind"] == kind for e in entries)
    for e in entries:
        lsn = pq.read_table(
            os.path.join(tbl3.root, e["path"]), columns=[SYS_LSN]
        ).column(0)
        assert (e.get("lsn_min"), e.get("lsn_max")) == (
            pc.min(lsn).as_py(), pc.max(lsn).as_py()
        )


def test_read_changes_version_pin(spark, tbl3):
    """version= pins the feed to a committed snapshot: a merge landing after
    the pin is invisible, so an incremental maintainer's (cursor_version,
    delta) pair is consistent even when merges race the refresh."""
    v = tbl3.current_version()
    tbl3.merge(spark, _cl(spark, [("U", 4, "d9", 31)]), "4")

    pinned = {r["k"]: r["v"] for r in
              tbl3.read_changes(spark, since_lsn=4, version=v).collect()}
    assert 4 not in pinned  # lsn-31 event invisible at the pinned snapshot
    assert pinned and set(pinned) == {1, 2, 3, 5}

    head = {r["k"]: r["v"] for r in
            tbl3.read_changes(spark, since_lsn=4).collect()}
    assert head[4] == "d9"


def test_read_changes_since_version_window(spark, tbl3):
    """Commit-window delta: net change carried by files added in
    (since_version, version] — the sound cursor for multi-shard tables."""
    got = {
        r["k"]: (r["op"], r["v"])
        for r in tbl3.read_changes(spark, since_lsn=-1, since_version=1).collect()
    }
    # batches 2+3: k2 upserted twice (net b3), k5 inserted, k1 deleted, k3 updated
    assert got == {
        2: ("U", "b3"),
        5: ("U", "e1"),
        1: ("D", "a1"),
        3: ("U", "c2"),
    }
    # empty window
    v = tbl3.current_version()
    assert tbl3.read_changes(spark, since_lsn=-1, since_version=v).count() == 0


def test_read_changes_since_version_rejects_rewritten_window(spark, tbl3):
    v1 = 1
    tbl3.compact(spark)
    with pytest.raises(ValueError, match="rewritten"):
        tbl3.read_changes(spark, since_lsn=-1, since_version=v1).collect()


def test_read_changes_survives_cursor_consumed_compaction(spark, tbl3):
    """A compaction whose inputs the cursor has fully consumed is INVISIBLE
    to the window delta: the base is skipped and the read carries only the
    post-compaction merges — what keeps maintain()'s refresh-then-compact
    ordering incremental ACROSS cycles instead of forcing every maintainer
    through a full rebuild after each compaction."""
    v = tbl3.current_version()
    tbl3.compact(spark)
    tbl3.merge(spark, _cl(spark, [("U", 9, "z1", 31), ("D", 3, None, 32)]), "b4")
    got = {
        r["k"]: (r["op"], r["v"])
        for r in tbl3.read_changes(spark, since_lsn=-1, since_version=v).collect()
    }
    assert got == {9: ("U", "z1"), 3: ("D", None)}


def test_read_changes_two_compactions_in_window(spark, tbl3):
    """Chained harmless rewrites: compact → merge → (cursor) …  compact of
    STILL-consumed files only happens when the second compaction's inputs
    are cursor-visible; here the second compaction consumes the b4 delta
    the cursor HAS seen (cursor taken after b4), so the window read after
    it still works."""
    tbl3.compact(spark)
    tbl3.merge(spark, _cl(spark, [("U", 9, "z1", 31)]), "b4")
    v = tbl3.current_version()
    tbl3.compact(spark)  # consumes b4's delta — consumed by cursor v
    tbl3.merge(spark, _cl(spark, [("U", 7, "q1", 41)]), "b5")
    got = {
        r["k"]: (r["op"], r["v"])
        for r in tbl3.read_changes(spark, since_lsn=-1, since_version=v).collect()
    }
    assert got == {7: ("U", "q1")}


def test_read_changes_compaction_of_unconsumed_delta_raises(spark, tbl3):
    """A compaction that folded a delta the cursor has NOT consumed makes
    the window genuinely unreadable — the base mixes consumed and
    unconsumed history."""
    v = tbl3.current_version()
    tbl3.merge(spark, _cl(spark, [("U", 9, "z1", 31)]), "b4")
    tbl3.compact(spark)  # consumes b4's delta, unseen by cursor v
    with pytest.raises(ValueError, match="rewritten"):
        tbl3.read_changes(spark, since_lsn=-1, since_version=v).collect()
