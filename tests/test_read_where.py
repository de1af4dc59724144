"""Value-predicate reads over the merge-on-read lake (read_where).

The transcript lake's time-slice read: ``WHERE ts BETWEEN ...`` over a
table keyed on (conv_id, turn_idx) — ts is a VALUE column, so listing-level
pruning cannot filter reconciliation directly (an old in-range image would
resurrect a key whose latest image moved out of range). read_where's
two-phase plan (candidate keys from stat-intersecting files → exact
reconciliation of only those keys → final-image re-filter) must be exact
under updates-out-of-range, updates-into-range, deletes, compaction,
renames, and post-hoc stats enablement — and must actually PRUNE files
when the feed arrives time-ordered (the correlated-lsn case the manifests'
per-delta value stats exist for).

Reference tie-in: the reference has no consumer-side reads at all (it is
binlog-in/JSONL-out, OutputSpec.java); this is lake-side surface the north
star's Iceberg table implies (hidden partitioning / planFiles pruning).
"""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F, types as T

from mysql_secure_agent_spark.lake.table import LakeTable, _canon_stat_bound

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, 0, 0)


def _mk(spark, rows):
    return spark.createDataFrame(
        [Row(op=op, k=k, v=v, ts=ts, source_lsn=lsn) for op, k, v, ts, lsn in rows],
        T.StructType(
            [
                T.StructField("op", T.StringType(), False),
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.StringType(), True),
                T.StructField("ts", T.TimestampType(), True),
                T.StructField("source_lsn", T.LongType(), False),
            ]
        ),
    )


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4, stats_cols=["ts"]
    )


def _slice(tbl, spark, lo, hi):
    return {
        r["k"]: (r["v"], r["ts"])
        for r in tbl.read_where(spark, {"ts": (lo, hi)}).collect()
    }


def test_canon_bound_orders_and_types():
    a = _canon_stat_bound(dt.datetime(2024, 1, 2, 3, 4, 5))
    b = _canon_stat_bound(dt.datetime(2024, 1, 2, 3, 4, 5, 500000))
    c = _canon_stat_bound(dt.datetime(2024, 1, 2, 3, 4, 6))
    assert a < b < c and len(a) == len(b) == len(c)
    assert _canon_stat_bound(dt.date(2024, 1, 2)) == "2024-01-02"
    assert _canon_stat_bound(7) == 7 and _canon_stat_bound("x") == "x"
    assert _canon_stat_bound(True) is None  # bool has no pruning order
    assert _canon_stat_bound(b"\x00") is None
    # tz-aware normalizes to UTC before rendering
    tzaware = dt.datetime(
        2024, 1, 2, 5, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=2))
    )
    assert _canon_stat_bound(tzaware) == _canon_stat_bound(dt.datetime(2024, 1, 2, 3))


def test_delta_manifests_record_ts_stats(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(1), 1), ("I", 2, "b", _ts(2), 2)]), "b0")
    commit = table.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    statted = [e for e in entries if e.get("key_stats", {}).get("ts")]
    assert statted, f"no ts stats recorded in {entries}"
    lo, hi = statted[0]["key_stats"]["ts"]
    assert lo.startswith("2024-01-0") and hi >= lo


def test_time_slice_prunes_time_ordered_deltas(spark, table):
    # three time-ordered micro-batches, disjoint day ranges
    for i, day in enumerate((1, 10, 20)):
        rows = [
            ("I", day * 100 + j, f"v{day}", _ts(day, j), day * 1000 + j)
            for j in range(3)
        ]
        table.merge(spark, _mk(spark, rows), f"b{i}")
    commit = table.commit_at()
    total = sum(len(es) for es in commit.files.values())
    canon = {"ts": (_canon_stat_bound(_ts(9)), _canon_stat_bound(_ts(11)))}
    pruned = table.candidate_paths(commit, key_range=canon)
    assert 0 < len(pruned) < total, (len(pruned), total)
    got = _slice(table, spark, _ts(9), _ts(11))
    assert set(got) == {1000, 1001, 1002}
    assert got[1001] == ("v10", _ts(10, 1))


def test_update_out_of_range_excluded(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "in", _ts(5), 1)]), "b0")
    # later image moves the key out of the slice — the old in-range image
    # must NOT resurrect it
    table.merge(spark, _mk(spark, [("U", 1, "out", _ts(25), 2)]), "b1")
    assert _slice(table, spark, _ts(4), _ts(6)) == {}
    assert _slice(table, spark, _ts(24), _ts(26)) == {1: ("out", _ts(25))}


def test_update_into_range_included_with_final_image(spark, table):
    table.merge(spark, _mk(spark, [("I", 2, "early", _ts(1), 1)]), "b0")
    table.merge(spark, _mk(spark, [("U", 2, "late", _ts(15), 2)]), "b1")
    assert _slice(table, spark, _ts(14), _ts(16)) == {2: ("late", _ts(15))}


def test_deleted_key_excluded(spark, table):
    table.merge(spark, _mk(spark, [("I", 3, "x", _ts(5), 1)]), "b0")
    table.merge(spark, _mk(spark, [("D", 3, None, _ts(5), 2)]), "b1")
    assert _slice(table, spark, _ts(4), _ts(6)) == {}


def test_open_bounds_and_validation(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(3), 1), ("I", 2, "b", _ts(9), 2)]), "b0")
    assert set(_slice(table, spark, None, _ts(5))) == {1}
    assert set(_slice(table, spark, _ts(5), None)) == {2}
    with pytest.raises(ValueError, match="not in schema"):
        table.read_where(spark, {"nope": (1, 2)})


def test_compaction_keeps_stats_and_correctness(spark, table):
    for i, day in enumerate((1, 10, 20)):
        table.merge(
            spark, _mk(spark, [("I", day, f"v{day}", _ts(day), day)]), f"b{i}"
        )
    table.compact(spark)
    commit = table.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    assert all(e.get("key_stats", {}).get("ts") for e in entries)
    assert set(_slice(table, spark, _ts(9), _ts(21))) == {10, 20}


def test_set_stats_cols_post_hoc(spark, tmp_path):
    tbl = LakeTable.create(str(tmp_path / "t2"), SCHEMA, ["k"], n_buckets=4)
    tbl.merge(spark, _mk(spark, [("I", 1, "old", _ts(1), 1)]), "b0")
    v = tbl.set_stats_cols(["ts"])
    assert tbl.set_stats_cols(["ts"]) == v  # idempotent
    tbl.merge(spark, _mk(spark, [("I", 2, "new", _ts(20), 2)]), "b1")
    commit = tbl.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    # pre-declaration file has no stats (stays un-prunable, conservative);
    # post-declaration delta does
    assert any(not e.get("key_stats") for e in entries)
    assert any(e.get("key_stats", {}).get("ts") for e in entries)
    got = {r["k"] for r in tbl.read_where(spark, {"ts": (_ts(1), _ts(2))}).collect()}
    assert got == {1}
    with pytest.raises(ValueError, match="not in schema"):
        tbl.set_stats_cols(["missing"])


def test_read_where_after_rename(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(5), 1)]), "b0")
    table.rename_column("v", "val")
    got = table.read_where(spark, {"ts": (_ts(4), _ts(6))}).collect()
    assert [(r["k"], r["val"]) for r in got] == [(1, "a")]


def test_int_stats_col_prunes(spark, tmp_path):
    # non-temporal stats col: int value column, same two-phase semantics
    tbl = LakeTable.create(
        str(tmp_path / "t3"),
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("n", T.LongType(), True),
            ]
        ),
        ["k"],
        n_buckets=2,
        stats_cols=["n"],
    )

    def mk(rows):
        return spark.createDataFrame(
            [Row(op=o, k=k, n=n, source_lsn=l) for o, k, n, l in rows],
            "op string, k long, n long, source_lsn long",
        )

    tbl.merge(spark, mk([("I", 1, 10, 1), ("I", 2, 20, 2)]), "b0")
    tbl.merge(spark, mk([("I", 3, 1000, 3), ("U", 1, 2000, 4)]), "b1")
    commit = tbl.commit_at()
    total = sum(len(es) for es in commit.files.values())
    pruned = tbl.candidate_paths(commit, key_range={"n": (900, None)})
    assert len(pruned) < total
    got = {r["k"]: r["n"] for r in tbl.read_where(spark, {"n": (900, None)}).collect()}
    assert got == {3: 1000, 1: 2000}
    # key 1's old image (n=10) must not satisfy a low slice anymore
    assert {r["k"] for r in tbl.read_where(spark, {"n": (None, 100)}).collect()} == {2}


def test_compact_sort_cols_time_clusters_base_files(spark, tmp_path):
    """compact(sort_cols=['ts'], target_file_rows=...) splits each bucket
    into contiguous TIME intervals, so a time slice prunes compacted base
    files at the listing level — key-sorted compaction would smear each
    bucket's full ts range across every file."""
    tbl = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=1, stats_cols=["ts"]
    )
    rows = [("I", k, f"v{k}", _ts(1 + k % 28, k % 24), k + 1) for k in range(200)]
    tbl.merge(spark, _mk(spark, rows), "b0")
    tbl.compact(spark, sort_cols=["ts"], target_file_rows=40)
    commit = tbl.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    assert len(entries) >= 4
    spans = sorted(tuple(e["key_stats"]["ts"]) for e in entries)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "split files must cover disjoint time intervals"
    canon = {"ts": (_canon_stat_bound(_ts(3)), _canon_stat_bound(_ts(5)))}
    assert 0 < len(tbl.candidate_paths(commit, key_range=canon)) < len(entries)
    got = {r["k"] for r in tbl.read_where(spark, {"ts": (_ts(3), _ts(5))}).collect()}
    assert got == {k for k in range(200) if 3 <= 1 + k % 28 <= 5 and not (1 + k % 28 == 5 and k % 24 > 0)}


def test_compact_sort_cols_validates(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(1), 1)]), "b0")
    import pytest as _pt

    with _pt.raises(ValueError, match="sort_cols"):
        table.compact(spark, sort_cols=["nope"])


def test_read_asof_timestamp(spark, table):
    """AS-OF-timestamp time travel: a read at b0's commit instant sees b0
    only; just before it sees the empty v0; after everything, the head."""
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(1), 1)]), "b0")
    t1 = table.commit_at(resolve=False).committed_at
    assert t1 is not None
    table.merge(spark, _mk(spark, [("U", 1, "b", _ts(2), 2)]), "b1")
    t2 = table.commit_at(resolve=False).committed_at
    assert table.version_asof(t1) == 1 and table.version_asof(t2) == 2
    assert [r["v"] for r in table.read_asof(spark, t1).collect()] == ["a"]
    assert [r["v"] for r in table.read_asof(spark, t2).collect()] == ["b"]
    assert table.read_asof(spark, t1 - 0.0005).count() == 0  # v0, empty
    # datetime form
    import datetime as dtm

    # nudge past t1: fromtimestamp truncates to microseconds and can land
    # just BEFORE the float commit instant
    when = dtm.datetime.fromtimestamp(t1 + 0.001, dtm.timezone.utc)
    assert table.version_asof(when) == 1
    # before the table existed
    with pytest.raises(ValueError, match="no retained version"):
        table.version_asof(t1 - 10_000)


def test_read_asof_respects_expiry_floor(spark, table):
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(1), 1)]), "b0")
    t1 = table.commit_at(resolve=False).committed_at
    table.merge(spark, _mk(spark, [("U", 1, "b", _ts(2), 2)]), "b1")
    table.expire_versions(keep_last=1)
    with pytest.raises(ValueError, match="expired history"):
        table.version_asof(t1 - 0.0005)


def _branch_then(spark, table, main_advances: bool):
    br = table.create_branch("b")
    br.merge(spark, _mk(spark, [("U", 1, "br", _ts(2), 2)]), "br1")
    if main_advances:
        table.merge(spark, _mk(spark, [("I", 2, "m", _ts(3), 3)]), "m1")


# every state transition: (setup on top of one merged row, the transition)
_TRANSITIONS = {
    "merge": (None, lambda s, t: t.merge(s, _mk(s, [("U", 1, "b", _ts(2), 2)]), "b1")),
    "set_stats_cols": (None, lambda s, t: t.set_stats_cols(["ts", "v"])),
    "wap_publish": (
        lambda s, t: t.merge(s, _mk(s, [("U", 1, "b", _ts(2), 2)]), "b1", wap_id="w"),
        lambda s, t: t.publish_staged("w"),
    ),
    "compact": (None, lambda s, t: t.compact(s)),
    "truncate": (None, lambda s, t: t.truncate()),
    "rebucket": (None, lambda s, t: t.rebucket(s, 8)),
    "add_column": (None, lambda s, t: t.add_column("x", "string")),
    "drop_column": (None, lambda s, t: t.drop_column("v")),
    "rename_column": (None, lambda s, t: t.rename_column("v", "v2")),
    "purge_dropped": (
        lambda s, t: t.drop_column("v"),
        lambda s, t: t.purge_dropped_columns(s),
    ),
    "modify_column": (
        lambda s, t: t.add_column("n", "int"),
        lambda s, t: t.modify_column_type(s, "n", "bigint"),
    ),
    "rollback": (
        lambda s, t: t.merge(s, _mk(s, [("U", 1, "b", _ts(2), 2)]), "b1"),
        lambda s, t: t.rollback(1),
    ),
    "fast_forward": (
        lambda s, t: _branch_then(s, t, main_advances=False),
        lambda s, t: t.fast_forward("b"),
    ),
    "merge_branch": (
        lambda s, t: _branch_then(s, t, main_advances=True),
        lambda s, t: t.merge_branch("b"),
    ),
}


@pytest.mark.parametrize("op", sorted(_TRANSITIONS))
def test_metadata_commit_gets_fresh_timestamp(spark, table, op):
    """Every transition (Commit.successor) must stamp its OWN committed_at —
    a stamp copied from the parent would make version_asof at the parent's
    instant resolve past the new commit."""
    table.merge(spark, _mk(spark, [("I", 1, "a", _ts(1), 1)]), "b0")
    setup, act = _TRANSITIONS[op]
    if setup is not None:
        setup(spark, table)
    parent = table.commit_at(resolve=False)
    act(spark, table)
    c = table.commit_at(resolve=False)
    assert c.version == parent.version + 1 and c.parent == parent.version
    # a cherry-picked batch lands as an ordinary merge commit
    assert c.summary["operation"] == {"merge_branch": "merge"}.get(op, op)
    assert c.committed_at > parent.committed_at
    assert table.version_asof(parent.committed_at) == parent.version
