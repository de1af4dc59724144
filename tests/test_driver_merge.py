"""LakeTable.merge's two placements of its merge kernel write the same table.

Small batches run the kernel in the driver (one Arrow collect, then pyarrow
dedup, bucketing and per-bucket parquet writes); large ones run it in the
executors, one task per bucket. Each test forces each placement by setting
``DRIVER_MERGE_MAX_BYTES`` to 0 (executor) and to 1 << 40 (driver), runs the
same seeded batch sequence on a fresh table per placement, and checks:
equal ``read()`` (values and dtypes), equal manifest entries apart from
``path`` and ``bytes`` (blooms, key stats and lsn ranges included), a clean
deep ``fsck.verify``, and the placement each merge recorded in its lineage
row. Batches are built from Arrow tables, so their size estimate is exact
and small.
"""

import datetime as dt
import os
import random
import time

import pyarrow as pa
import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from mysql_secure_agent_spark.config import ColumnConfig, Config, SchemaConfig, TableConfig
from mysql_secure_agent_spark.lake import fsck
from mysql_secure_agent_spark.lake import table as table_mod
from mysql_secure_agent_spark.lake.table import LakeTable
from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline, PostDedupTransform

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
KEY = ["conv_id", "turn_idx"]
PLACEMENTS = {"executor": 0, "driver": 1 << 40}
T0 = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)


def _arrow_type(name):
    return {
        "op": pa.string(), "conv_id": pa.string(), "turn_idx": pa.int32(),
        "role": pa.string(), "text": pa.string(), "tool": pa.string(),
        "n": pa.int32(), "ts": pa.timestamp("us", tz="UTC"), "source_lsn": pa.int64(),
    }[name]


def _frame(spark, rows, cols):
    schema = pa.schema([(c, _arrow_type(c)) for c in cols])
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))


def _batch(spark, seed, lsn0, n=60, cols=("conv_id", "turn_idx", "role", "n", "ts")):
    """``n`` seeded change images with lsns from ``lsn0``: inserts,
    updates and deletes over a few conversations, so keys repeat within
    the batch and some values are NULL."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        row = {
            "op": rng.choice("IUUD"),
            "conv_id": f"c{rng.randrange(6)}",
            "turn_idx": rng.randrange(5),
            "role": rng.choice(["user", "assistant", None]),
            "text": rng.choice(["hi", " a  b ", "é", None]),
            "n": rng.choice([rng.randrange(-5, 10**6), None]),
            "ts": rng.choice([T0 + dt.timedelta(seconds=rng.randrange(10**6)), None]),
            "source_lsn": lsn0 + i,
        }
        rows.append({c: row[c] for c in ("op", *cols, "source_lsn")})
    return _frame(spark, rows, ["op", *cols, "source_lsn"])


def _entries(tbl):
    return {
        b: [{k: v for k, v in e.items() if k not in ("path", "bytes")} for e in es]
        for b, es in sorted(tbl.commit_at().files.items())
    }


def _placements(spark, tbl):
    """The placements the table's merges recorded in their lineage rows."""
    return {r["placement"] for r in tbl.metrics(spark).select("placement").collect()}


def _rows(spark, tbl, read=None):
    df = read if read is not None else tbl.read(spark)
    return df.dtypes, sorted(df.collect(), key=lambda r: (r["conv_id"], r["turn_idx"]))


def _run_both(monkeypatch, tmp_path, scenario):
    """Run ``scenario(root)`` once per placement; return {placement: its result}."""
    out = {}
    for name, cap in PLACEMENTS.items():
        monkeypatch.setattr(table_mod, "DRIVER_MERGE_MAX_BYTES", cap)
        out[name] = scenario(str(tmp_path / name))
    return out


def _assert_equivalent(spark, tables):
    a, b = tables["executor"], tables["driver"]
    assert _rows(spark, a) == _rows(spark, b)
    assert _entries(a) == _entries(b)
    assert _placements(spark, a) == {"executor"} and _placements(spark, b) == {"driver"}
    for t in (a, b):
        report = fsck.verify(t, spark, deep=True)
        assert report["ok"], report["errors"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batches_with_deletes(spark, tmp_path, monkeypatch, seed):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        for i in range(3):
            m = tbl.merge(spark, _batch(spark, seed * 10 + i, 1000 * i), f"b{i}", lag_col="ts")
        return tbl, m

    out = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, {k: t for k, (t, _) in out.items()})
    lineage = [
        {
            k: v for k, v in m.items()
            if k not in ("wall_ms", "ingest_lag_s", "ingest_lag_oldest_s", "placement")
        }
        for _, m in out.values()
    ]
    assert lineage[0] == lineage[1] and lineage[0]["deletes"] > 0


def test_empty_ddl_split_sub_batch(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        full = _batch(spark, 7, 0)
        tbl.merge(spark, full.filter(F.col("source_lsn") <= 30), "b.0")
        # the sub-batch between two DDLs at the same lsn: no row at all
        empty = full.filter(F.col("source_lsn") <= 30).filter(F.col("source_lsn") > 30)
        m = tbl.merge(spark, empty, "b.1", lag_col="ts")
        tbl.merge(spark, full.filter(F.col("source_lsn") > 30), "b.tail")
        return tbl, m

    out = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, {k: t for k, (t, _) in out.items()})
    for _, m in out.values():
        assert (m["rows_in"], m["rows_after_dedup"], m["files_written"]) == (0, 0, 0)
        assert m["lsn_min"] is None and "ingest_lag_s" not in m


def test_feed_with_pre_rename_column_name(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _batch(spark, 1, 0), "b0")
        tbl.rename_column("role", "speaker")
        # the feed still ships the column under its old name
        tbl.merge(spark, _batch(spark, 2, 1000), "b1")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    assert "speaker" in tables["driver"].read(spark).columns


@pytest.mark.parametrize("ddl", ["rename", "drop"])
def test_lag_col_after_rename_or_drop(spark, tmp_path, monkeypatch, ddl):
    """The feed keeps shipping ``ts`` after the table renames or drops it:
    the lag bound still comes from the batch, while the projection no
    longer holds a ``ts`` column."""

    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _batch(spark, 1, 0), "b0", lag_col="ts")
        if ddl == "rename":
            tbl.rename_column("ts", "happened_at")
        else:
            tbl.drop_column("ts")
        m = tbl.merge(spark, _batch(spark, 2, 1000), "b1", lag_col="ts")
        return tbl, m

    out = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, {k: t for k, (t, _) in out.items()})
    bounds = [(m["event_ts_min"], m["event_ts_max"]) for _, m in out.values()]
    assert bounds[0] == bounds[1] and None not in bounds[0]


def test_after_add_column_and_modify_column_type(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _batch(spark, 1, 0), "b0")
        tbl.add_column("text", "string")
        cols = ("conv_id", "turn_idx", "role", "n", "ts", "text")
        tbl.merge(spark, _batch(spark, 2, 1000, cols=cols), "b1")
        tbl.modify_column_type(spark, "n", "bigint")
        tbl.merge(spark, _batch(spark, 3, 2000, cols=cols), "b2")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    assert dict(tables["driver"].read(spark).dtypes)["n"] == "bigint"


@pytest.mark.parametrize("stats_col", ["ts", "role"])
def test_stats_cols(spark, tmp_path, monkeypatch, stats_col):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4, stats_cols=[stats_col])
        for i in range(2):
            tbl.merge(spark, _batch(spark, 40 + i, 1000 * i), f"b{i}")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    for es in tables["driver"].commit_at().files.values():
        assert all(stats_col in e["key_stats"] for e in es)


def test_compound_bucket_cols(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, bucket_cols=KEY, n_buckets=5)
        for i in range(2):
            tbl.merge(spark, _batch(spark, 50 + i, 1000 * i), f"b{i}")
        return tbl

    _assert_equivalent(spark, _run_both(monkeypatch, tmp_path, scenario))


def test_date_bucket_key(spark, tmp_path, monkeypatch):
    """A DATE bucket key: both placements bloom the deltas from ``F.hash``
    with the same bytes, and a lookup prunes by them."""
    schema = T.StructType(
        [
            T.StructField("day", T.DateType(), False),
            T.StructField("n", T.IntegerType(), True),
        ]
    )
    arrow = pa.schema([("op", pa.string()), ("day", pa.date32()), ("n", pa.int32()),
                       ("source_lsn", pa.int64())])
    d0 = dt.date(2026, 3, 1)

    def scenario(root):
        tbl = LakeTable.create(root, schema, ["day"], n_buckets=4)
        for i in range(2):
            rng = random.Random(60 + i)
            rows = [
                {"op": rng.choice("IUD"), "day": d0 + dt.timedelta(days=rng.randrange(-400, 400)),
                 "n": rng.randrange(100), "source_lsn": 1000 * i + j}
                for j in range(80)
            ]
            tbl.merge(spark, spark.createDataFrame(pa.Table.from_pylist(rows, schema=arrow)), f"b{i}")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    a, b = tables["executor"], tables["driver"]
    assert sorted(a.read(spark).collect()) == sorted(b.read(spark).collect())
    assert _entries(a) == _entries(b)
    assert all("key_bloom" in e for es in _entries(b).values() for e in es)
    live = b.read(spark).first()
    assert b.lookup(spark, {"day": live["day"]}).collect() == [live]
    for t in (a, b):
        report = fsck.verify(t, spark, deep=True)
        assert report["ok"], report["errors"]


def test_replayed_batch_is_skipped(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _batch(spark, 1, 0), "b0")
        version = tbl.current_version()
        replay = tbl.merge(spark, _batch(spark, 2, 1000), "b0")
        assert replay == {"skipped": True, "batch_id": "b0"}
        assert tbl.current_version() == version
        return tbl

    _assert_equivalent(spark, _run_both(monkeypatch, tmp_path, scenario))


def test_wap_staged_merge(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _batch(spark, 1, 0), "b0")
        m = tbl.merge(spark, _batch(spark, 2, 1000), "b1", wap_id="w1")
        assert m["staged"] and tbl.current_version() == 1
        staged = _rows(spark, tbl, tbl.read_staged(spark, "w1"))
        tbl.publish_staged("w1")
        return tbl, staged

    out = _run_both(monkeypatch, tmp_path, scenario)
    assert out["executor"][1] == out["driver"][1]
    _assert_equivalent(spark, {k: t for k, (t, _) in out.items()})


def test_non_utc_session_time_zone(spark, tmp_path, monkeypatch):
    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4, stats_cols=["ts"])
        for i in range(2):
            tbl.merge(spark, _batch(spark, 60 + i, 1000 * i), f"b{i}", lag_col="ts")
        return tbl

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        tables = _run_both(monkeypatch, tmp_path, scenario)
        _assert_equivalent(spark, tables)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    # stored instants are zone-independent: re-read under UTC
    assert _rows(spark, tables["executor"]) == _rows(spark, tables["driver"])


def test_pipeline_apply_batch_with_normalize_and_hashed_column(spark, tmp_path, monkeypatch):
    config = Config(
        schemas={"main": SchemaConfig(tables={"transcripts": TableConfig(
            columns={"tool": ColumnConfig(hash=True)})})},
        crypto_salt="sodium chloride",
    )
    cols = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

    def batch(seed, lsn0):
        rng = random.Random(seed)
        rows = [
            {
                "op": rng.choice("IUD"), "conv_id": f"c{rng.randrange(4)}",
                "turn_idx": rng.randrange(4), "role": "user",
                "text": rng.choice(["  café \t x", "café\x01\x07", "a\nb", None]),
                "tool": rng.choice(["1", "2", "search", None]),
                "ts": T0 + dt.timedelta(seconds=i), "source_lsn": lsn0 + i,
            }
            for i in range(40)
        ]
        return _frame(spark, rows, ["op", *cols, "source_lsn"])

    def scenario(root):
        tbl = LakeTable.create(root, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=4)
        feed = f"{root}-feed"
        pipe = CdcPipeline(tbl, feed, config=config)
        assert isinstance(pipe._post_dedup(), PostDedupTransform)
        for i in range(2):
            pipe.apply_batch(spark, batch(70 + i, 1000 * i), i)
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    tools = {r["tool"] for r in tables["driver"].read(spark).collect()}
    assert "AnZXUjEr5i2a57kXUtI6dXftv+E=" in tools and "1" not in tools


def test_driver_merge_runs_one_spark_job(spark, tmp_path):
    tbl = LakeTable.create(str(tmp_path / "t"), SCHEMA, KEY, n_buckets=4)
    batch = _batch(spark, 1, 0)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("driver-merge", "one small merge")
        tbl.merge(spark, batch, "b0", lag_col="ts")
        # a later job in another group: once the listener has seen it, it
        # has seen every job the merge submitted before it
        sc.setJobGroup("driver-merge-control", "a job that must be recorded")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(100):
        if tracker.getJobIdsForGroup("driver-merge-control"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("driver-merge-control")
    assert len(tracker.getJobIdsForGroup("driver-merge")) == 1
    assert _placements(spark, tbl) == {"driver"}


def test_transform_arrow_form_equals_spark_form(spark):
    texts = [
        "café",            # NFD → NFC
        "a\x01b\x07c\x1f",       # control characters stripped
        "  a \t\t b  ",          # whitespace folded and trimmed
        "line\nbreak\tkept",     # newline kept, tab folded
        None,
        "",
    ]
    tools = ["1", "2", None, "caf\u00e9", "x" * 70, ""]
    df = _frame(
        spark,
        [{"conv_id": "c", "turn_idx": i, "text": t, "tool": u}
         for i, (t, u) in enumerate(zip(texts, tools))],
        ["conv_id", "turn_idx", "text", "tool"],
    )
    tr = PostDedupTransform(normalize=True, hashed=["tool"], salt="sodium chloride")
    spark_form = tr(df).toArrow()
    arrow_form = tr.arrow(df.toArrow())
    assert arrow_form.equals(spark_form)
    got = arrow_form.to_pydict()
    assert got["tool"][:3] == [
        "AnZXUjEr5i2a57kXUtI6dXftv+E=", "jUdn9gOx372QFiYR9zRyZp0VQEw=", None,
    ]
    assert got["text"][:3] == ["caf\u00e9", "abc", "a b"]


def test_hot_key_batch(spark, tmp_path, monkeypatch):
    """One key with 5,000 images in a batch (plus a few cold keys): the
    whole hot key lands in one kernel call, whose max-lsn image wins."""
    rng = random.Random(5)
    rows = [
        {"op": "U" if i else "I", "conv_id": "hot", "turn_idx": 0, "role": "user",
         "n": i, "ts": T0 + dt.timedelta(seconds=i), "source_lsn": 10_000 + i}
        for i in range(5000)
    ]
    rows += [
        {"op": "I", "conv_id": f"c{i}", "turn_idx": rng.randrange(3), "role": None,
         "n": -i, "ts": None, "source_lsn": 20_000 + i}
        for i in range(40)
    ]
    rng.shuffle(rows)
    cols = ["op", "conv_id", "turn_idx", "role", "n", "ts", "source_lsn"]

    def scenario(root):
        tbl = LakeTable.create(root, SCHEMA, KEY, n_buckets=4)
        tbl.merge(spark, _frame(spark, rows, cols), "hot", lag_col="ts")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    hot = tables["executor"].lookup(spark, {"conv_id": "hot", "turn_idx": 0}).collect()
    assert [r["n"] for r in hot] == [4999]


@pytest.mark.parametrize("partition", ["whole batch", "one bucket"])
def test_kernel_rerun_replaces_its_files(spark, tmp_path, partition):
    """A retried or speculative task runs the kernel again on the same
    partition into the same ``out_dir``: each bucket still holds exactly
    one file, the metadata rows repeat, and no temp file is left behind.
    The driver placement runs the kernel on the whole batch, the executor
    placement on one bucket's partition."""
    projected = _batch(spark, 3, 0).select(
        "conv_id", "turn_idx", "role", "n", "ts", "source_lsn",
        (F.col("op") == "D").alias("_deleted"),
    )
    if partition == "one bucket":
        projected = projected.filter(F.pmod(F.hash("conv_id"), F.lit(4)) == 2)
    t = projected.select("*", F.hash("conv_id").alias("_h")).toArrow()
    file_schema = t.schema.remove(t.schema.get_field_index("_h"))
    out_dir = str(tmp_path / "out")
    runs = [
        table_mod._merge_kernel(
            t, key_cols=KEY, n_buckets=4, file_schema=file_schema,
            transform=None, out_dir=out_dir, hashable=True,
        )
        for _ in range(2)
    ]
    assert runs[0].equals(runs[1]) and runs[0].num_rows >= 1
    for b in runs[0]["bucket"].to_pylist():
        names = os.listdir(os.path.join(out_dir, f"_bucket={b}"))
        assert names == [f"part-{b:05d}.c000.zstd.parquet"]
    assert sorted(os.listdir(out_dir)) == sorted(
        f"_bucket={b}" for b in runs[0]["bucket"].to_pylist()
    )


def test_pipeline_with_hashed_key_column(spark, tmp_path, monkeypatch):
    """``conv_id`` configured as hashed: the pipeline anonymizes the key
    before the dedup, and the table equals the oracle's replay with
    ``conv_id`` anonymized the same way."""
    import pandas as pd

    from mysql_secure_agent_spark import oracle
    from mysql_secure_agent_spark.functions.anonymize import anonymize_arrow
    from mysql_secure_agent_spark.sources.changelog import (
        FeedSpec, generate_changelog, write_feed,
    )

    salt = "sodium chloride"
    config = Config(
        schemas={"main": SchemaConfig(tables={"transcripts": TableConfig(
            columns={"conv_id": ColumnConfig(hash=True)})})},
        crypto_salt=salt,
    )
    spec = FeedSpec(n_events=3000, n_convs=80, delete_frac=0.2, seed=41)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=3)

    def scenario(root):
        tbl = LakeTable.create(root, TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=4)
        pipe = CdcPipeline(tbl, feed, config=config)
        assert "conv_id" not in pipe._post_dedup().columns
        pipe.run_stream(spark, f"{root}-ckpt")
        return tbl

    tables = _run_both(monkeypatch, tmp_path, scenario)
    _assert_equivalent(spark, tables)
    cl, ddl = generate_changelog(spec)
    expected = oracle.replay(cl, ddl)
    expected["conv_id"] = anonymize_arrow(pa.chunked_array([expected["conv_id"]]), salt)
    got = tables["executor"].read(spark).toPandas()
    order = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        got.sort_values(order).reset_index(drop=True),
        expected[got.columns.tolist()].sort_values(order).reset_index(drop=True),
        check_dtype=False,
    )


def test_transform_on_bucket_column_is_refused(spark, tmp_path):
    tbl = LakeTable.create(str(tmp_path / "t"), SCHEMA, KEY, n_buckets=4)
    tr = PostDedupTransform(normalize=False, hashed=["conv_id"], salt="s")
    with pytest.raises(ValueError, match="bucket columns"):
        tbl.merge(spark, _batch(spark, 1, 0), "b0", post_dedup_transform=tr)
    assert tbl.current_version() == 0
