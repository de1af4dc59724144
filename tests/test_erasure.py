"""Verifiable key erasure: tombstone + targeted compaction + expiry, and
the deep-scan certificate over every retained root (versions, tags,
branches)."""

import pyspark.sql.types as T
import pytest

from mysql_secure_agent_spark.lake.erasure import erase_keys, verify_erased
from mysql_secure_agent_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _mk(spark, tmp_path, n=20):
    tbl = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    b1 = spark.createDataFrame(
        [("I", i, f"v{i}", i) for i in range(n)],
        "op string, k long, v string, source_lsn long",
    )
    tbl.merge(spark, b1, "b1")
    b2 = spark.createDataFrame(
        [("U", i, f"w{i}", 100 + i) for i in range(0, n, 2)],
        "op string, k long, v string, source_lsn long",
    )
    tbl.merge(spark, b2, "b2")
    return tbl


def test_erase_keys_end_to_end(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    rep = erase_keys(tbl, spark, [{"k": 3}, {"k": 4}])
    assert rep["erased"], rep["survivors"]
    got = {r["k"] for r in tbl.read(spark).collect()}
    assert 3 not in got and 4 not in got
    assert {0, 1, 2, 5} <= got  # everything else intact
    # history is gone too: the floor rose past the pre-erase versions
    assert tbl.version_floor() >= tbl.current_version()


def test_erase_nonexistent_key_is_clean(spark, tmp_path):
    tbl = _mk(spark, tmp_path, n=5)
    rep = erase_keys(tbl, spark, [{"k": 999}])
    assert rep["erased"]
    assert tbl.read(spark).count() == 5


def test_erase_requires_full_key(spark, tmp_path):
    tbl = _mk(spark, tmp_path, n=5)
    with pytest.raises(KeyError):
        erase_keys(tbl, spark, [{"v": "v1"}])


def test_tag_survivor_reported_not_destroyed(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create_tag("audit")  # pins the pre-erase snapshot
    rep = erase_keys(tbl, spark, [{"k": 3}])
    assert not rep["erased"]
    roots = {r for s in rep["survivors"] for r in s["roots"]}
    assert any("tag audit" in r for r in roots), roots
    # the live table itself is clean
    assert 3 not in {r["k"] for r in tbl.read(spark).collect()}
    # operator decision: drop the tag, reclaim, re-verify
    tbl.drop_tag("audit")
    tbl.vacuum()
    assert verify_erased(tbl, spark, [{"k": 3}]) == []


def test_branch_survivor_reported(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create_branch("rehearsal")
    rep = erase_keys(tbl, spark, [{"k": 5}])
    assert not rep["erased"]
    roots = {r for s in rep["survivors"] for r in s["roots"]}
    assert any("branch rehearsal" in r for r in roots), roots
    tbl.drop_branch("rehearsal")
    tbl.vacuum()
    assert verify_erased(tbl, spark, [{"k": 5}]) == []


def test_erase_without_expire_leaves_history_and_says_so(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    rep = erase_keys(tbl, spark, [{"k": 7}], expire=False)
    assert not rep["erased"]  # time travel still reaches the images
    assert all(s["n_rows"] >= 1 for s in rep["survivors"])
    # completing the lifecycle erases for real
    tbl.expire_versions(keep_last=1)
    tbl.vacuum()
    assert verify_erased(tbl, spark, [{"k": 7}]) == []


def test_tombstone_merge_runs_in_the_driver(spark, tmp_path, monkeypatch):
    """The tombstone frame is built from Arrow — a local relation with an
    exact size estimate — so the tombstone merge of a few keys runs in the
    driver placement. Forcing it into the executor placement gives the same
    erase report."""
    from pyspark.sql import functions as F

    from mysql_secure_agent_spark.lake import table as table_mod

    reports = {}
    for placement, cap in {"executor": 0, "driver": table_mod.DRIVER_MERGE_MAX_BYTES}.items():
        monkeypatch.setattr(table_mod, "DRIVER_MERGE_MAX_BYTES", cap)
        tbl = _mk(spark, tmp_path / placement)
        rep = erase_keys(tbl, spark, [{"k": 4}, {"k": 3}], batch_id="erase")
        rep["compacted"].pop("wall_ms")
        reports[placement] = rep
        lineage = tbl.metrics(spark).filter(F.col("batch_id") == "erase").collect()
        assert [(r["placement"], r["deletes"], r["lsn_max"] - r["lsn_min"]) for r in lineage] == [
            (placement, 2, 1)
        ]
    assert reports["executor"] == reports["driver"]
    assert reports["driver"]["erased"] and reports["driver"]["survivors"] == []
