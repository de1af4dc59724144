"""Driver-side Murmur3 parity + LakeTable point lookup."""

import datetime as dt
import random
import string
import time

import pytest
import pyspark.sql.types as T
from pyspark.sql import Row, functions as F

from mysql_secure_agent_spark.lake.bloom import key_hash

from mysql_secure_agent_spark.lake.bucketing import (
    bucket_for,
    hash_bytes,
    spark_hash_typed,
)
from mysql_secure_agent_spark.lake.table import LakeTable
from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
from mysql_secure_agent_spark.sources.changelog import FeedSpec, write_feed
from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline


def test_murmur3_parity_with_spark_hash(spark):
    """The pure-Python Murmur3 must equal F.hash for every key shape the
    table uses: strings (all byte lengths incl. multi-byte UTF-8 tails),
    ints, longs, and chained (string, int) composites."""
    rnd = random.Random(1234)
    strs = [
        "",
        "a",
        "ab",
        "abc",
        "abcd",
        "abcde",
        "c00000042",
        "naïve—utf8✓",
        "日本語テキスト",
    ] + ["".join(rnd.choices(string.printable, k=rnd.randint(0, 40))) for _ in range(60)]
    ints = [0, 1, -1, 42, -2147483648, 2147483647] + [
        rnd.randint(-(1 << 31), (1 << 31) - 1) for _ in range(40)
    ]
    longs = [0, 1, -1, (1 << 40), -(1 << 40), (1 << 62)] + [
        rnd.randint(-(1 << 62), 1 << 62) for _ in range(40)
    ]

    df = spark.createDataFrame(
        [Row(s=s, i=i, l=l) for s, i, l in zip(strs, ints * 3, longs * 3)],
        schema="s string, i int, l long",
    )
    got = df.select(
        F.hash("s").alias("hs"),
        F.hash("i").alias("hi"),
        F.hash("l").alias("hl"),
        F.hash("s", "i").alias("hsi"),
    ).collect()
    for row, s, i, l in zip(got, strs, ints * 3, longs * 3):
        assert row["hs"] == spark_hash_typed([s], ["string"]), repr(s)
        assert row["hi"] == spark_hash_typed([i], ["int"]), i
        assert row["hl"] == spark_hash_typed([l], ["bigint"]), l
        assert row["hsi"] == spark_hash_typed([s, i], ["string", "int"]), (s, i)

    # a DATE hashes as its days since the epoch, as the datetime.date that
    # pyarrow and PySpark hand back
    days = [dt.date(1970, 1, 1), dt.date(1969, 12, 31), dt.date(2026, 3, 1), dt.date(1, 1, 1)]
    got = spark.createDataFrame([(d,) for d in days], "d date").select(F.hash("d")).collect()
    for (h,), d in zip(got, days):
        assert h == spark_hash_typed([d], ["date"]), d


def test_murmur3_null_passthrough(spark):
    row = spark.createDataFrame(
        [Row(s=None, i=7)], schema="s string, i int"
    ).select(F.hash("s", "i")).collect()[0][0]
    assert row == spark_hash_typed([None, 7], ["string", "int"])


def test_spark_hash_bytes_tail_is_signed():
    # multi-byte UTF-8 puts bytes >= 0x80 in the unaligned tail — the signed
    # byte semantics is where a naive port diverges
    assert hash_bytes("é".encode("utf-8"), 42) != hash_bytes(b"\x43\xa9", 42)


def test_lookup_equals_filtered_read(spark, tmp_path, lookup_matches_read):
    spec = FeedSpec(n_events=4000, n_convs=80, seed=77)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    table = LakeTable.create(
        str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=16
    )
    CdcPipeline(table, feed).run_backfill(spark)

    full = table.read(spark).toPandas()
    some = full.sample(5, random_state=3)
    for _, r in some.iterrows():
        key = {"conv_id": r["conv_id"], "turn_idx": int(r["turn_idx"])}
        got = table.lookup(spark, key).toPandas()
        assert len(got) == 1
        assert got.iloc[0]["text"] == r["text"]
        lookup_matches_read(table, key)

    # a missing key returns empty, not an error
    assert table.lookup(spark, {"conv_id": "zzz", "turn_idx": 0}).count() == 0
    assert lookup_matches_read(table, {"conv_id": "zzz", "turn_idx": 0}) == []

    # prefix keys (bucket cols only satisfied when bucketing on full key)
    with pytest.raises(KeyError):
        table.lookup(spark, {"conv_id": some.iloc[0]["conv_id"]})


def test_lookup_after_sorted_compaction(spark, tmp_path, lookup_matches_read):
    spec = FeedSpec(n_events=3000, n_convs=50, seed=78)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=6)
    table = LakeTable.create(
        str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=8
    )
    CdcPipeline(table, feed).run_stream(spark, str(tmp_path / "ckpt"))
    before = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    r = table.compact(spark)  # sort_within_buckets default ON
    assert not r["skipped"]
    after = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )
    k = before.iloc[17]
    got = table.lookup(
        spark, {"conv_id": k["conv_id"], "turn_idx": int(k["turn_idx"])}
    ).toPandas()
    assert len(got) == 1 and got.iloc[0]["text"] == k["text"]
    for _, k in before.iloc[::9].iterrows():
        lookup_matches_read(table, {"conv_id": k["conv_id"], "turn_idx": int(k["turn_idx"])})


def test_bucket_for_matches_table_bucketing(spark, tmp_path):
    """bucket_for must agree with the table's _bucket_expr for real keys —
    otherwise lookup reads the wrong bucket and silently returns empty."""
    spec = FeedSpec(n_events=1500, n_convs=40, seed=79)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=2)
    table = LakeTable.create(
        str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=16
    )
    CdcPipeline(table, feed).run_backfill(spark)
    commit = table.commit_at(resolve=False)
    rows = (
        table.read(spark)
        .select(*commit.bucket_cols)
        .withColumn(
            "b", F.pmod(F.hash(*commit.bucket_cols), F.lit(commit.n_buckets))
        )
        .distinct()
        .collect()
    )
    types = dict(commit.schema)
    for r in rows:
        vals = [r[c] for c in commit.bucket_cols]
        assert (
            bucket_for(vals, [types[c] for c in commit.bucket_cols], commit.n_buckets)
            == r["b"]
        )


SMALL = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n", T.IntegerType(), True),
    ]
)
SMALL_DDL = "conv_id string, turn_idx int, text string, n int, op string, source_lsn long"


def _small(spark, tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"), SMALL, PRIMARY_KEY, bucket_cols=["conv_id"], n_buckets=4
    )


def _rows(convs, lsn0, op="U"):
    return [(c, i, f"{c}-{i}-{lsn0}", lsn0 + i, op, lsn0 + 10 * j + i)
            for j, c in enumerate(convs) for i in range(3)]


def test_lookup_equals_read_through_schema_evolution(spark, tmp_path, lookup_matches_read):
    """ADD COLUMN (old files fill NULL), RENAME of a value and of a key
    column (pre-rename files hold the old physical name) and MODIFY int →
    bigint: the in-process read must resolve each like read() does."""
    tbl = _small(spark, tmp_path)
    tbl.merge(spark, spark.createDataFrame(_rows(["a", "b", "c"], 100), SMALL_DDL), "b1")
    tbl.merge(spark, spark.createDataFrame(_rows(["b"], 200, op="D"), SMALL_DDL), "b2")

    def check_all(key_col="conv_id"):
        for c in ["a", "b", "c", "zz"]:
            lookup_matches_read(tbl, {key_col: c})
        lookup_matches_read(tbl, {key_col: "a", "turn_idx": 2})

    tbl.add_column("score", "double")
    tbl.merge(spark, spark.createDataFrame(
        [("a", 1, "a-new", 7, 0.5, "U", 300)],
        SMALL_DDL.replace("n int,", "n int, score double,"),
    ), "b3")
    check_all()
    tbl.rename_column("text", "body")
    tbl.rename_column("conv_id", "cid")
    tbl.merge(spark, spark.createDataFrame(
        [("c", 0, "c-renamed", 9, 1.5, "U", 400), ("d", 0, "d-new", 1, None, "U", 401)],
        "cid string, turn_idx int, body string, n int, score double, op string, source_lsn long",
    ), "b4")
    check_all("cid")
    assert [r.body for r in tbl.lookup(spark, {"cid": "c"}).collect()] == [
        "c-renamed", "c-1-100", "c-2-100"]
    tbl.modify_column_type(spark, "n", "bigint")
    check_all("cid")
    assert dict(tbl.lookup(spark, {"cid": "a"}).dtypes)["n"] == "bigint"


def test_lookup_on_branch_view(spark, tmp_path, lookup_matches_read):
    tbl = _small(spark, tmp_path)
    tbl.merge(spark, spark.createDataFrame(_rows(["a", "b"], 100), SMALL_DDL), "b1")
    br = tbl.create_branch("dev")
    br.merge(spark, spark.createDataFrame(
        _rows(["a"], 200) + _rows(["b"], 300, op="D"), SMALL_DDL), "b2")
    for c in ["a", "b", "zz"]:
        lookup_matches_read(br, {"conv_id": c})
        lookup_matches_read(tbl, {"conv_id": c})
    assert br.lookup(spark, {"conv_id": "b"}).count() == 0
    assert tbl.lookup(spark, {"conv_id": "b"}).count() == 3


def test_lookup_timestamps_under_non_utc_session_zone(spark, tmp_path, lookup_matches_read):
    spec = FeedSpec(n_events=600, n_convs=12, seed=80)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=2)
    table = LakeTable.create(
        str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=4
    )
    CdcPipeline(table, feed).run_backfill(spark)
    keys = table.read(spark).select("conv_id", "turn_idx").limit(4).collect()
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        for k in keys:
            rows = lookup_matches_read(table, {"conv_id": k.conv_id, "turn_idx": k.turn_idx})
            assert len(rows) == 1 and rows[0].ts is not None
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_lookup_starts_no_spark_job(spark, tmp_path):
    tbl = _small(spark, tmp_path)
    empty = tbl.lookup(spark, {"conv_id": "a"})  # no file to read at all
    assert empty.collect() == [] and empty.schema == tbl.schema()
    tbl.merge(spark, spark.createDataFrame(_rows(["a", "b"], 100), SMALL_DDL), "b1")
    tbl.merge(spark, spark.createDataFrame(_rows(["a"], 200), SMALL_DDL), "b2")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("lookup-no-job", "point lookups")
        assert len(tbl.lookup(spark, {"conv_id": "a"}).collect()) == 3
        assert tbl.lookup(spark, {"conv_id": "zz"}).collect() == []
        # a later job in another group: once the listener has seen it, it
        # has seen everything the lookups submitted before it
        sc.setJobGroup("lookup-control", "a job that must be recorded")
        tbl.read(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(100):
        if tracker.getJobIdsForGroup("lookup-control"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("lookup-control")
    assert tracker.getJobIdsForGroup("lookup-no-job") == []


def test_lookup_reads_one_snapshot_across_a_rebucket(spark, tmp_path, monkeypatch):
    """A rebucket 4 → 6 committing right after lookup first reads CURRENT
    must not send the lookup to bucket ``h % 4`` of the 6-bucket layout:
    bucket, listing and files all come from one resolved commit."""
    tbl = _small(spark, tmp_path)
    convs = [f"c{i}" for i in range(40)]
    tbl.merge(spark, spark.createDataFrame(_rows(convs, 100), SMALL_DDL), "b1")
    conv = next(c for c in convs
                if key_hash([c], ["string"]) % 4 != key_hash([c], ["string"]) % 6)
    current = tbl.current_version
    armed = [True]

    def current_then_rebucket():
        v = current()
        if armed[0]:
            armed[0] = False
            tbl.rebucket(spark, 6)
        return v

    monkeypatch.setattr(tbl, "current_version", current_then_rebucket)
    rows = tbl.lookup(spark, {"conv_id": conv, "turn_idx": 1}).collect()
    assert not armed[0] and tbl.commit_at(resolve=False).n_buckets == 6
    assert [r.text for r in rows] == [f"{conv}-1-100"]
