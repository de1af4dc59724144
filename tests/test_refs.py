"""Branches and tags over the commit log (lake/refs.py — Iceberg refs
analog): branch-isolated merges, fast-forward squash, cherry-pick rebase
with exactly-once, tag retention through snapshot expiry, lifecycle safety.
The reference has one binlog cursor and one output lineage (no analog);
this is lake-side surface the distributed engine adds."""

import os

import pytest
from pyspark.sql import types as T

from mysql_secure_agent_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)
CL = "op string, id long, v string, n long, source_lsn long"


def _batch(spark, rows):
    return spark.createDataFrame(rows, CL)


def _mk(spark, tmp_path, n=20):
    tbl = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=4)
    rows = [("I", i, f"base{i}", i * 10, i + 1) for i in range(n)]
    tbl.merge(spark, _batch(spark, rows), "b0")
    return tbl


def _state(spark, tbl, **kw):
    return sorted((r["id"], r["v"], r["n"]) for r in tbl.read(spark, **kw).collect())


def test_tag_survives_expiry(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    v_tagged = tbl.current_version()
    tagged_state = _state(spark, tbl)
    assert tbl.create_tag("golden") == v_tagged
    with pytest.raises(FileExistsError):
        tbl.create_tag("golden")
    for i in range(6):
        tbl.merge(spark, _batch(spark, [("U", 1, f"u{i}", i, 100 + i)]), f"b{i+1}")
    tbl.expire_versions(keep_last=2)
    assert tbl.version_floor() > v_tagged
    # untagged sub-floor versions raise; the tagged one still reads
    with pytest.raises(ValueError, match="expired"):
        tbl.read(spark, version=v_tagged + 1).collect()
    assert _state(spark, tbl, version=tbl.tag_versions()["golden"]) == tagged_state
    # dropping the tag releases it: the next expiry reclaims the commit
    tbl.drop_tag("golden")
    tbl.expire_versions(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        tbl.read(spark, version=v_tagged).collect()


def test_branch_isolated_merge_and_fast_forward(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    main_state = _state(spark, tbl)
    v_main = tbl.current_version()
    br = tbl.create_branch("backfill")
    assert tbl.list_branches() == ["backfill"]
    br.merge(spark, _batch(spark, [("U", 2, "branched", 222, 200)]), "bf1")
    br.merge(spark, _batch(spark, [("D", 3, None, None, 201)]), "bf2")
    # main is untouched; the branch sees fork + its merges
    assert _state(spark, tbl) == main_state
    assert tbl.current_version() == v_main
    bs = _state(spark, br)
    assert (2, "branched", 222) in bs and not any(r[0] == 3 for r in bs)
    # branch lineage lands in its own metrics namespace
    m = br.metrics(spark).toPandas()
    assert set(m["batch_id"]) >= {"bf1", "bf2"}

    ff = tbl.fast_forward("backfill")
    assert not ff["skipped"] and tbl.current_version() == v_main + 1
    assert _state(spark, tbl) == bs
    # the batch ledger came along: replaying a branch batch on main skips
    r = tbl.merge(spark, _batch(spark, [("U", 2, "dup", 0, 200)]), "bf1")
    assert r["skipped"]
    # branch fork advanced with the ff — further branch work can ff again
    br.merge(spark, _batch(spark, [("U", 5, "again", 5, 300)]), "bf3")
    assert not tbl.fast_forward("backfill")["skipped"]
    assert (5, "again", 5) in _state(spark, tbl)


def test_cherry_pick_when_main_advanced(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    br = tbl.create_branch("exp")
    br.merge(spark, _batch(spark, [("U", 1, "brA", 11, 400)]), "xA")
    br.merge(spark, _batch(spark, [("U", 2, "brB", 22, 401)]), "xB")
    # main moves past the fork → ff must refuse, cherry-pick must work
    tbl.merge(spark, _batch(spark, [("U", 9, "mainC", 99, 402)]), "mC")
    with pytest.raises(ValueError, match="advanced past the fork"):
        tbl.fast_forward("exp")
    res = tbl.merge_branch("exp")
    assert res["picked"] == ["xA", "xB"] and res["skipped"] == []
    st = _state(spark, tbl)
    assert (1, "brA", 11) in st and (2, "brB", 22) in st and (9, "mainC", 99) in st
    # exactly-once carried over: replaying a picked batch skips
    assert tbl.merge(spark, _batch(spark, [("U", 1, "dup", 0, 400)]), "xA")["skipped"]
    # re-running the cherry-pick is a pure skip too
    res2 = tbl.merge_branch("exp")
    assert res2["picked"] == [] and res2["skipped"] == ["xA", "xB"]


def test_cherry_pick_refuses_ddl_commits(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    br = tbl.create_branch("schema-exp")
    br.add_column("extra", "string")
    tbl.merge(spark, _batch(spark, [("U", 9, "mainC", 99, 500)]), "mC")
    with pytest.raises(ValueError, match="not a merge"):
        tbl.merge_branch("schema-exp")
    # fast-forward path DOES carry schema — but only from the fork point
    tbl2 = _mk(spark, tmp_path / "t2")
    br2 = tbl2.create_branch("schema-ff")
    br2.add_column("extra", "string")
    br2.merge(spark, _batch(spark, [("U", 1, "withcol", 1, 501)]), "s1")
    tbl2.fast_forward("schema-ff")
    assert "extra" in [f.name for f in tbl2.schema().fields]


def test_branch_files_survive_vacuum_until_dropped(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    br = tbl.create_branch("keepme")
    br.merge(spark, _batch(spark, [("U", 4, "branchonly", 44, 600)]), "k1")
    bs = _state(spark, br)
    tbl.merge(spark, _batch(spark, [("U", 9, "main", 9, 601)]), "m1")
    assert tbl.vacuum() == 0  # branch-only files are live roots
    assert _state(spark, br) == bs
    dropped = tbl.drop_branch("keepme")
    assert dropped >= 2  # fork copy + ≥1 branch commit
    assert tbl.list_branches() == []
    assert tbl.vacuum() > 0  # now reclaimable
    assert (9, "main", 9) in _state(spark, tbl)


def test_branch_refuses_mainline_lifecycle_ops(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    br = tbl.create_branch("b")
    for op, args in [
        ("compact", (spark,)),
        ("rebucket", (spark, 8)),
        ("expire_versions", ()),
        ("vacuum", ()),
        ("create_branch", ("nested",)),
    ]:
        with pytest.raises(ValueError, match="main-line lifecycle"):
            getattr(br, op)(*args)


def test_branch_wap_composes(spark, tmp_path):
    """WAP on a branch: stage → audit → publish swings the BRANCH head;
    main never sees any of it until fast-forward."""
    tbl = _mk(spark, tmp_path)
    v_main = tbl.current_version()
    br = tbl.create_branch("audit")
    br.merge(
        spark, _batch(spark, [("U", 6, "staged", 66, 700)]), "w1", wap_id="gate"
    )
    assert br.staged_ids() == ["gate"]
    assert (6, "staged", 66) not in _state(spark, br)
    br.publish_staged("gate")
    assert (6, "staged", 66) in _state(spark, br)
    assert tbl.current_version() == v_main and tbl.staged_ids() == []
    tbl.fast_forward("audit")
    assert (6, "staged", 66) in _state(spark, tbl)


def test_branch_readable_after_main_expiry_below_fork(spark, tmp_path):
    """Main expiry raising the floor past the branch's fork point must not
    break branch reads: branch commits are their own retention domain
    (create_branch materialized the fork commit into the branch namespace;
    expiry keeps branch-referenced files live)."""
    tbl = _mk(spark, tmp_path)
    br = tbl.create_branch("old")
    before = _state(spark, br)
    # advance main well past the fork, then expire history below it
    for i in range(3):
        tbl.merge(
            spark,
            _batch(spark, [("U", 50 + i, f"m{i}", i, 900 + i)]),
            f"adv{i}",
        )
    tbl.expire_versions(keep_last=1)
    tbl.vacuum()
    assert tbl.version_floor() > br.current_version()
    # the branch still reads its fork-time state, byte-identical
    assert _state(spark, br) == before
    # and can still take new commits
    br.merge(spark, _batch(spark, [("U", 77, "b", 1, 950)]), "bn")
    assert (77, "b", 1) in _state(spark, br)


def test_branch_truncate_leaves_main_manifests_alone(spark, tmp_path):
    """A branch TRUNCATE writes its full manifest in the branch namespace:
    a branch commit at the same version number as a main compaction must
    not overwrite main's manifest (main then read as empty)."""
    tbl = _mk(spark, tmp_path, n=10)
    br = tbl.create_branch("b")
    tbl.compact(spark)
    assert br.truncate() == tbl.current_version()  # same version number
    assert _state(spark, br) == []
    fresh = LakeTable(tbl.root)
    assert len(_state(spark, fresh)) == 10
