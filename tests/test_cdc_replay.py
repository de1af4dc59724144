"""Golden final-table-state tests: engine replay vs sequential oracle.

The reference's correctness contract: replaying the changelog in log order
reproduces the source table (PK-keyed upserts/deletes). Each scenario from
FIXTURES.md §5 is replayed through the engine (batch or streaming) and
snapshot-diffed against the pandas oracle (per-turn text equality under
ORDER BY conv_id, turn_idx).
"""

import shutil
import time

import pandas as pd
import pytest
import pyspark.sql.types as T
from pyspark.sql import functions as F

from mysql_secure_agent_spark import oracle
from mysql_secure_agent_spark.lake.table import LakeTable
from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
from mysql_secure_agent_spark.sources.changelog import (
    FeedSpec,
    generate_changelog,
    write_feed,
)
from mysql_secure_agent_spark.streaming.pipeline import CdcPipeline


def _make_table(root, with_tool=True, n_buckets=16):
    fields = [f for f in TRANSCRIPT_SCHEMA.fields if with_tool or f.name != "tool"]
    return LakeTable.create(
        root, T.StructType(fields), PRIMARY_KEY, n_buckets=n_buckets, overwrite=True
    )


def _assert_matches_oracle(spark, table, spec):
    result = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    cl, ddl = generate_changelog(spec)
    expected = oracle.replay(cl, ddl)
    expected = expected[result.columns.tolist()].reset_index(drop=True)
    assert len(result) == len(expected)
    pd.testing.assert_frame_equal(result, expected, check_dtype=False)


@pytest.mark.parametrize(
    "spec",
    [
        # insert-only (UpdaterSpec binlogSync_allInserts analog)
        FeedSpec(n_events=3000, n_convs=400, delete_frac=0.0, seed=7),
        # update-heavy: few keys, many re-edits → last-image-wins
        FeedSpec(n_events=5000, n_convs=20, max_turns=8, delete_frac=0.02, seed=11),
        # delete mix incl. delete-then-reinsert
        FeedSpec(n_events=5000, n_convs=100, delete_frac=0.3, seed=13),
        # hot-key skew (Zipf s=1.5)
        FeedSpec(n_events=8000, n_convs=500, zipf_s=1.5, seed=17),
    ],
    ids=["insert_only", "update_heavy", "delete_mix", "hot_skew"],
)
def test_backfill_matches_oracle(spark, tmp_path, spec):
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    pipe.run_backfill(spark)
    _assert_matches_oracle(spark, table, spec)


def test_stream_matches_oracle(spark, tmp_path):
    spec = FeedSpec(n_events=6000, n_convs=200, seed=23)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=5)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    _assert_matches_oracle(spark, table, spec)


def test_raw_feed_decode_path(spark, tmp_path):
    """Binlog-wire-shaped feed: binary row images decoded by the Arrow
    pandas-UDF path (S9), salted pre-decode repartition, same final state."""
    spec = FeedSpec(n_events=3000, n_convs=120, seed=19)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=3, raw=True)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed, raw=True)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    _assert_matches_oracle(spark, table, spec)


def test_late_schema_ddl(spark, tmp_path):
    """'tool' column added mid-stream; table starts without it."""
    spec = FeedSpec(n_events=6000, n_convs=200, seed=29, ddl_add_tool_at_frac=0.5)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    table = _make_table(str(tmp_path / "tbl"), with_tool=False)
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    assert "tool" in [n for n, _ in table.commit_at().schema]
    _assert_matches_oracle(spark, table, spec)


def test_mid_stream_modify_column(spark, tmp_path):
    """MODIFY COLUMN (type widening turn_idx int→bigint) arrives mid-stream,
    after an earlier ADD COLUMN: existing data is rewritten with a cast,
    post-DDL batches land under the new schema, final state matches the
    oracle. Mirrors the reference's any-schema-change refresh
    (``Updater.java:188-217``)."""
    spec = FeedSpec(
        n_events=6000,
        n_convs=200,
        seed=47,
        ddl_add_tool_at_frac=0.3,
        ddl_modify_turn_to_long_at_frac=0.6,
    )
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=5)
    table = _make_table(str(tmp_path / "tbl"), with_tool=False)
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    schema = dict(table.commit_at().schema)
    assert schema["turn_idx"] == "bigint"
    assert "tool" in schema
    # the modify produced a rewrite commit mid-stream, not a final fixup
    ops = [
        table.commit_at(v).summary.get("operation")
        for v in range(1, table.current_version() + 1)
    ]
    i_mod = ops.index("modify_column")
    assert any(op == "merge" for op in ops[i_mod + 1:])
    _assert_matches_oracle(spark, table, spec)


def test_spark_native_generator_valid_and_replays(spark, tmp_path):
    """Distributed generator: op-sequence validity (first image I, no D→D,
    re-insert after D) and engine replay == oracle replay."""
    from mysql_secure_agent_spark.sources.changelog_spark import write_feed_spark

    feed = str(tmp_path / "feed")
    write_feed_spark(spark, feed, n_events=5000, n_convs=150, n_files=4, seed=5)
    cl = (
        spark.read.parquet(feed + "/data")
        .orderBy("source_lsn")
        .toPandas()
    )
    # validity per key
    for _, g in cl.groupby(["conv_id", "turn_idx"]):
        ops = g.sort_values("source_lsn")["op"].tolist()
        assert ops[0] == "I"
        for a, b in zip(ops, ops[1:]):
            if a == "D":
                assert b == "I"  # re-insert after delete
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    result = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    expected = oracle.replay(cl)
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True), check_dtype=False
    )


def test_merge_plan_single_exchange(spark, tmp_path, monkeypatch):
    """An executor-placement merge is ONE Spark job whose plan has ONE
    exchange: the repartition on the bucket key. Dedup, transform and the
    per-bucket writes all run in the merge kernel's tasks behind it. AQE
    submits each exchange's map stage as a job of its own, so the job
    count is taken with AQE off."""
    from mysql_secure_agent_spark.lake import table as table_mod

    monkeypatch.setattr(table_mod, "DRIVER_MERGE_MAX_BYTES", 0)
    table = _make_table(str(tmp_path / "tbl"))
    spec = FeedSpec(n_events=500, n_convs=20, seed=3)
    cl, _ = generate_changelog(spec)
    batch = spark.createDataFrame(cl)
    plans = []
    to_arrow = type(batch).toArrow

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    monkeypatch.setattr(type(batch), "toArrow", spy)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("executor-merge", "one executor-placement merge")
        m = table.merge(spark, batch, "b0")
        # a later job in another group: once the listener has seen it, it
        # has seen every job the merge submitted before it
        sc.setJobGroup("executor-merge-control", "a job that must be recorded")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    for _ in range(100):
        if tracker.getJobIdsForGroup("executor-merge-control"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("executor-merge-control")
    assert m["placement"] == "executor"
    assert len(tracker.getJobIdsForGroup("executor-merge")) == 1
    assert len(plans) == 1 and plans[0].count("Exchange") == 1
    _assert_matches_oracle(spark, table, spec)


def test_kill_resume_exactly_once(spark, tmp_path):
    """rotation+resume fixture: crash mid-stream, resume from checkpoint,
    final state equals the uninterrupted run (exactly-once effect, T1/T3)."""
    spec = FeedSpec(n_events=6000, n_convs=150, seed=31, rotate_every=1500)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=6)
    table = _make_table(str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")
    pipe = CdcPipeline(table, feed)
    with pytest.raises(Exception, match="injected crash"):
        pipe.run_stream(spark, ckpt, fail_after_batches=2)
    v_crash = table.current_version()
    assert v_crash >= 1  # some batches landed before the crash
    # resume from the same checkpoint
    pipe2 = CdcPipeline(table, feed)
    pipe2.run_stream(spark, ckpt)
    _assert_matches_oracle(spark, table, spec)


def test_replayed_batch_skipped(spark, tmp_path):
    """A batch re-applied under the same batch_id is a no-op (idempotence)."""
    spec = FeedSpec(n_events=2000, n_convs=50, seed=37)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=1)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    r1 = pipe.run_backfill(spark, batch_id="b0")
    assert not r1[0]["skipped"]
    v1 = table.current_version()
    r2 = pipe.run_backfill(spark, batch_id="b0")
    assert r2[0]["skipped"]
    assert table.current_version() == v1
    _assert_matches_oracle(spark, table, spec)


def test_compaction_preserves_state_and_drops_tombstones(spark, tmp_path):
    spec = FeedSpec(n_events=5000, n_convs=100, delete_frac=0.25, seed=41)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=5)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    before = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    res = table.compact(spark, min_deltas=1)
    assert res["compacted_buckets"]
    assert all(n == 0 for n in table.delta_file_counts().values())
    after = table.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )
    _assert_matches_oracle(spark, table, spec)
    # vacuum respects retained history: the superseded deltas are still
    # referenced by pre-compaction versions, so nothing is reclaimable
    # until expiry narrows retention — then the sweep takes them
    assert table.vacuum() == 0
    out = table.expire_versions(keep_last=1)
    assert out["data_files"] > 0
    _assert_matches_oracle(spark, table, spec)


def test_size_policy_compaction(spark, tmp_path):
    """K2 analog: size-triggered compaction (reference 1 GiB flush policy,
    BucketOutput.java:29-30) rewrites exactly the over-threshold buckets
    after each merge; state is unchanged."""
    spec = FeedSpec(n_events=4000, n_convs=100, delete_frac=0.15, seed=59)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(
        table, feed, compact_policy={"max_delta_bytes": 1, "max_deltas": 10_000}
    )
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    # every touched bucket was compacted right after its merge
    assert all(s["n_deltas"] == 0 for s in table.delta_stats().values())
    assert all(
        e.get("bytes") for entries in table.commit_at().files.values() for e in entries
    )
    _assert_matches_oracle(spark, table, spec)


def test_time_travel(spark, tmp_path):
    spec = FeedSpec(n_events=3000, n_convs=80, seed=43)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=3)
    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    pipe.run_stream(spark, str(tmp_path / "ckpt"))
    v = table.current_version()
    n_final = table.read(spark).count()
    n_v1 = table.read(spark, version=1).count()
    assert v >= 3 and n_v1 <= n_final
    # oracle on the prefix covered by version 1
    lsn_hi = table.commit_at(1).summary.get("batch_id")
    cl, _ = generate_changelog(spec)
    m = table.metrics(spark).filter(f"version = 1").collect()[0]
    prefix = cl[cl.source_lsn <= m["lsn_max"]]
    assert n_v1 == len(oracle.replay(prefix))


def test_drop_column_direct(spark, tmp_path):
    """DROP COLUMN is metadata-only; re-ADD of the same name purges first
    (never resurrects old values)."""
    import os

    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=3000, n_convs=150, seed=61)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=3)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_backfill(spark)
    assert "tool" in [n for n, _ in table.commit_at().schema]

    table.drop_column("tool")
    assert "tool" not in [n for n, _ in table.commit_at().schema]
    assert table.commit_at(resolve=False).dropped_cols == ["tool"]
    got = table.read(spark)
    assert "tool" not in got.columns

    # final state (minus the column) still matches the oracle
    cl, ddl = generate_changelog(spec)
    ddl = pd.concat(
        [
            ddl if ddl is not None else pd.DataFrame(),
            pd.DataFrame(
                [{"source_lsn": spec.n_events + 1, "action": "DROP_COLUMN",
                  "column_name": "tool", "column_type": "string"}]
            ),
        ],
        ignore_index=True,
    )
    expected = oracle.replay(cl, ddl)
    result = got.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True),
        check_dtype=False,
    )

    # re-ADD without purge is refused; with spark it purges -> all NULL
    with pytest.raises(ValueError, match="dropped"):
        table.add_column("tool", "string")
    table.add_column("tool", "string", spark=spark)
    assert table.commit_at(resolve=False).dropped_cols == []
    assert table.read(spark).filter(F.col("tool").isNotNull()).count() == 0


def test_drop_key_column_refused(spark, tmp_path):
    spec = FeedSpec(n_events=500, n_convs=50, seed=63)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=1)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_backfill(spark)
    with pytest.raises(ValueError, match="key/bucket"):
        table.drop_column("conv_id")


def test_mid_stream_drop_column(spark, tmp_path):
    """DROP_COLUMN arrives mid-stream: the batch is split at the DDL lsn,
    pre-drop rows keep their tool values only until the drop, and the final
    state has no tool column — matching the sequential oracle."""
    import os

    spec = FeedSpec(n_events=6000, n_convs=200, seed=67)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    drop_lsn = spec.n_events // 2
    ddl_dir = os.path.join(feed, "ddl")
    os.makedirs(ddl_dir, exist_ok=True)
    pd.DataFrame(
        [{"source_lsn": drop_lsn, "action": "DROP_COLUMN",
          "column_name": "tool", "column_type": "string"}]
    ).to_parquet(os.path.join(ddl_dir, "ddl.parquet"))

    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_stream(spark, str(tmp_path / "ckpt"))
    assert "tool" not in [n for n, _ in table.commit_at().schema]
    ops = [
        table.commit_at(v).summary.get("operation")
        for v in range(1, table.current_version() + 1)
    ]
    assert "drop_column" in ops

    cl, _ = generate_changelog(spec)
    ddl = pd.DataFrame(
        [{"source_lsn": drop_lsn, "action": "DROP_COLUMN",
          "column_name": "tool", "column_type": "string"}]
    )
    expected = oracle.replay(cl, ddl)
    result = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True),
        check_dtype=False,
    )


def test_add_then_drop_same_column_mid_stream(spark, tmp_path):
    """ADD(tool) then DROP(tool) in one feed: a state-only pending check
    would see the consumed ADD as pending again after the drop and re-apply
    it forever — the persisted ddl_hwm must consume each event exactly once.
    Final schema has no tool; state matches the oracle."""
    import os

    spec = FeedSpec(n_events=6000, n_convs=200, seed=71, ddl_add_tool_at_frac=0.3)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=5)
    drop_lsn = int(spec.n_events * 0.7)
    ddl_path = os.path.join(feed, "ddl", "ddl.parquet")
    ddl_pd = pd.read_parquet(ddl_path)
    ddl_pd = pd.concat(
        [ddl_pd, pd.DataFrame([{"source_lsn": drop_lsn, "action": "DROP_COLUMN",
                                "column_name": "tool", "column_type": "string"}])],
        ignore_index=True,
    )
    ddl_pd.to_parquet(ddl_path)

    table = _make_table(str(tmp_path / "tbl"), with_tool=False)
    CdcPipeline(table, feed).run_stream(spark, str(tmp_path / "ckpt"))
    commit = table.commit_at(resolve=False)
    assert "tool" not in dict(commit.schema)
    assert commit.ddl_hwm == drop_lsn
    ops = [
        table.commit_at(v).summary.get("operation")
        for v in range(1, table.current_version() + 1)
    ]
    assert ops.count("add_column") == 1 and ops.count("drop_column") == 1

    cl, _ = generate_changelog(spec)
    expected = oracle.replay(cl, ddl_pd)
    result = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True),
        check_dtype=False,
    )


def test_rename_column_direct(spark, tmp_path):
    """RENAME COLUMN is metadata-only (Iceberg renameColumn analog): no data
    files are rewritten, old files' values surface under the new logical
    name via coalesce-on-read, and post-rename merges that still deliver the
    value under the OLD feed label (binlog images carry positions, not
    names) land in the renamed column."""
    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=3000, n_convs=150, seed=91)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=3)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_backfill(spark)
    before = (
        table.read(spark)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", F.col("tool").alias("tool_name"))
        .toPandas()
    )
    v_pre = table.current_version()

    table.rename_column("tool", "tool_name")
    commit = table.commit_at(resolve=False)
    assert commit.summary["operation"] == "rename_column"
    assert commit.files == {}  # metadata-only: not one data file written
    assert dict(commit.schema)["tool_name"] == "string"
    assert "tool" not in dict(commit.schema)
    assert commit.renamed_cols == {"tool_name": ["tool"]}
    assert "tool" in commit.dropped_cols  # old name reserved vs re-ADD

    after = (
        table.read(spark)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "tool_name")
        .toPandas()
    )
    pd.testing.assert_frame_equal(before, after, check_dtype=False)

    # re-ADD of the old name must NOT resurrect pre-rename physical values
    with pytest.raises(ValueError, match="dropped"):
        table.add_column("tool", "string")
    table.add_column("tool", "string", spark=spark)
    assert table.read(spark).filter(F.col("tool").isNotNull()).count() == 0
    # purge materialized tool_name physically; coalesce map is gone
    assert table.commit_at(resolve=False).renamed_cols == {}
    after2 = (
        table.read(spark)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "tool_name")
        .toPandas()
    )
    pd.testing.assert_frame_equal(before, after2, check_dtype=False)
    assert table.current_version() > v_pre


def test_rename_column_feed_lag_merge(spark, tmp_path):
    """After a rename, later merges whose batch still labels the value with
    the OLD column name must land it in the renamed column (rename-lag
    relabeling — the decoder's tableDefinition predates the rename)."""
    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=4000, n_convs=150, seed=93)
    cl, _ = generate_changelog(spec)
    mid = int(cl["source_lsn"].max()) // 2
    table = _make_table(str(tmp_path / "tbl"))
    sdf = spark.createDataFrame(cl)
    table.merge(spark, sdf.filter(F.col("source_lsn") <= mid), "pre")
    table.rename_column("tool", "tool_name")
    # batch still carries the old 'tool' label
    table.merge(spark, sdf.filter(F.col("source_lsn") > mid), "post")

    expected = oracle.replay(
        cl,
        pd.DataFrame(
            [{"source_lsn": mid, "action": "RENAME_COLUMN",
              "column_name": "tool", "column_type": "string",
              "new_name": "tool_name"}]
        ),
    )
    result = (
        table.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True),
        check_dtype=False,
    )


def test_mid_stream_rename_column(spark, tmp_path):
    """RENAME_COLUMN arrives mid-stream via the DDL sidecar: the micro-batch
    splits at the DDL lsn, the rename applies transactionally between
    sub-batches, and the feed's unchanged old-name labeling keeps landing
    correctly. Final state matches the sequential oracle."""
    spec = FeedSpec(n_events=6000, n_convs=200, seed=97, ddl_rename_tool_at_frac=0.5)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=4)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_stream(spark, str(tmp_path / "ckpt"))
    schema = dict(table.commit_at().schema)
    assert "tool_name" in schema and "tool" not in schema
    ops = [
        table.commit_at(v).summary.get("operation")
        for v in range(1, table.current_version() + 1)
    ]
    assert ops.count("rename_column") == 1
    assert table.commit_at(resolve=False).ddl_hwm == int(spec.n_events * 0.5)
    _assert_matches_oracle(spark, table, spec)

    # replaying the same feed from scratch into a fresh checkpoint dir is
    # idempotent — the persisted ddl_hwm stops a second rename attempt
    CdcPipeline(table, feed).run_stream(spark, str(tmp_path / "ckpt2"))
    ops = [
        table.commit_at(v).summary.get("operation")
        for v in range(1, table.current_version() + 1)
    ]
    assert ops.count("rename_column") == 1


def test_rename_key_column(spark, tmp_path):
    """Renaming a KEY column is legal (values/buckets unchanged — bucket
    layout is by position, not name): key_cols/bucket_cols follow the new
    name and subsequent old-label merges still key correctly."""
    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=3000, n_convs=120, seed=99)
    cl, _ = generate_changelog(spec)
    mid = int(cl["source_lsn"].max()) // 2
    table = _make_table(str(tmp_path / "tbl"))
    sdf = spark.createDataFrame(cl)
    table.merge(spark, sdf.filter(F.col("source_lsn") <= mid), "pre")
    table.rename_column("conv_id", "conversation_id")
    commit = table.commit_at(resolve=False)
    assert commit.key_cols == ["conversation_id", "turn_idx"]
    assert commit.bucket_cols[0] == "conversation_id"
    table.merge(spark, sdf.filter(F.col("source_lsn") > mid), "post")

    expected = oracle.replay(cl).rename(columns={"conv_id": "conversation_id"})
    result = (
        table.read(spark)
        .orderBy("conversation_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        result, expected[result.columns.tolist()].reset_index(drop=True),
        check_dtype=False,
    )


def test_rename_to_haunted_name_purges(spark, tmp_path):
    """Renaming TO a previously-dropped name would resurrect that name's
    stale values out of old files — refused without spark=, auto-purged
    with it (same contract as add_column onto dropped_cols)."""
    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=2000, n_convs=100, seed=101)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=2)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_backfill(spark)
    table.drop_column("tool")
    table.add_column("aux", "string", spark=spark)
    with pytest.raises(ValueError, match="physically"):
        table.rename_column("aux", "tool")
    table.rename_column("aux", "tool", spark=spark)
    assert "tool" in dict(table.commit_at().schema)
    # never resurrected: every value is aux's (all-NULL), not old tool's
    assert table.read(spark).filter(F.col("tool").isNotNull()).count() == 0


def test_rollback_bad_batch(spark, tmp_path):
    """Poison-batch recovery: roll back to the last good version; the bad
    batch leaves the applied ledger so a corrected re-merge is NOT skipped;
    time travel over the bad history still works."""
    import pyspark.sql.functions as F

    spec = FeedSpec(n_events=2000, n_convs=100, seed=81)
    feed = str(tmp_path / "feed")
    write_feed(spec, feed, n_files=2, overwrite=True)
    table = _make_table(str(tmp_path / "tbl"))
    CdcPipeline(table, feed).run_backfill(spark, batch_id="good")
    v_good = table.commit_at(resolve=False).version
    n_good = table.read(spark).count()

    # poison batch: deletes every conversation 'c00000000'
    bad = (
        table.read(spark)
        .filter(F.col("conv_id") == "c00000000")
        .select(
            F.lit("D").alias("op"), "conv_id", "turn_idx", "role", "text",
            "tool", "ts", F.lit(10_000_000).alias("source_lsn"),
            F.lit("f").alias("binlog_file"), F.lit(0).alias("binlog_pos"),
        )
    )
    table.merge(spark, bad, "poison")
    assert table.read(spark).count() < n_good

    v_rb = table.rollback(v_good)
    assert v_rb == table.current_version()
    assert table.read(spark).count() == n_good
    # bad history still time-travels
    assert table.read(spark, version=v_good + 1).count() < n_good
    # vacuum keeps everything the restored state references
    table.vacuum()
    assert table.read(spark).count() == n_good
    # the poison id is no longer applied -> a corrected batch under the same
    # id merges instead of being skipped
    fixed = bad.limit(0)
    m = table.merge(spark, fixed, "poison")
    assert not m.get("skipped")


def test_late_segment_delivery_across_microbatches(spark, tmp_path):
    """T9 replay-overlap contract (BucketOutput.java:127-138 analog): a log
    SEGMENT delivered late — a later micro-batch carrying OLDER lsns, with
    keys whose images straddle the out-of-order boundary — must not regress
    the table. Resolution is by lsn (max-image per key across all deltas),
    not by commit order, so the final state equals the in-order replay."""
    import os
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = FeedSpec(n_events=3000, n_convs=40, seed=91)
    cl, _ = generate_changelog(spec)
    cl = cl.sort_values("source_lsn").reset_index(drop=True)

    # files: [0,1000)+[1500,2000) first, the MISSING middle [1000,1500)
    # second (the late segment), the tail third
    parts = [
        pd.concat([cl.iloc[0:1000], cl.iloc[1500:2000]]),
        cl.iloc[1000:1500],
        cl.iloc[2000:3000],
    ]
    # keys must genuinely straddle the boundary for the test to bite
    k0 = set(map(tuple, parts[0][["conv_id", "turn_idx"]].values))
    k1 = set(map(tuple, parts[1][["conv_id", "turn_idx"]].values))
    assert k0 & k1, "fixture failed to straddle keys across the late segment"

    feed = str(tmp_path / "feed")
    os.makedirs(os.path.join(feed, "data"))
    schema = pa.schema(
        [
            ("op", pa.string()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
            ("source_lsn", pa.int64()),
            ("binlog_file", pa.string()),
            ("binlog_pos", pa.int64()),
        ]
    )
    now = _time.time()
    for i, part in enumerate(parts):
        p = os.path.join(feed, "data", f"part-{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False), p
        )
        os.utime(p, (now + i * 10, now + i * 10))  # mtime = delivery order

    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    # mfpt=1 -> one micro-batch per file, in delivery (mtime) order
    pipe.run_stream(spark, str(tmp_path / "ck"), max_files_per_trigger=1)
    _assert_matches_oracle(spark, table, spec)


def test_late_segment_with_crash_between_batches(spark, tmp_path):
    """Same late-segment feed, but the stream dies after the first (out-of-
    order-boundary) batch; the checkpoint restart must converge to the
    in-order oracle — replay overlap + crash at the worst boundary."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = FeedSpec(n_events=2400, n_convs=30, seed=92)
    cl, _ = generate_changelog(spec)
    cl = cl.sort_values("source_lsn").reset_index(drop=True)
    parts = [
        pd.concat([cl.iloc[0:800], cl.iloc[1200:1600]]),
        cl.iloc[800:1200],
        cl.iloc[1600:2400],
    ]
    feed = str(tmp_path / "feed")
    os.makedirs(os.path.join(feed, "data"))
    schema = pa.schema(
        [
            ("op", pa.string()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
            ("source_lsn", pa.int64()),
            ("binlog_file", pa.string()),
            ("binlog_pos", pa.int64()),
        ]
    )
    now = _time.time()
    for i, part in enumerate(parts):
        p = os.path.join(feed, "data", f"part-{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False), p
        )
        os.utime(p, (now + i * 10, now + i * 10))

    table = _make_table(str(tmp_path / "tbl"))
    pipe = CdcPipeline(table, feed)
    with pytest.raises(Exception, match="injected crash"):
        pipe.run_stream(
            spark, str(tmp_path / "ck"), max_files_per_trigger=1,
            fail_after_batches=1,
        )
    # resume from the same checkpoint: remaining batches (incl. the late
    # segment) replay; convergence to the lsn-order oracle
    pipe.run_stream(spark, str(tmp_path / "ck"), max_files_per_trigger=1)
    _assert_matches_oracle(spark, table, spec)


def test_merge_records_replication_lag(spark, tmp_path):
    """merge(lag_col=...) stamps per-batch event-time bounds + ingest lag
    into the lineage metrics; batches without the column stay lag-less."""
    import time

    import pyspark.sql.types as T

    from mysql_secure_agent_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = LakeTable.create(str(tmp_path / "t"), schema, ["k"], n_buckets=2)
    old = time.time() - 3600  # events one hour old
    df = spark.createDataFrame(
        [("I", 1, old, 1), ("I", 2, old + 60, 2)],
        "op string, k long, _e double, source_lsn long",
    ).withColumn("ts", F.col("_e").cast("timestamp")).drop("_e")
    m = tbl.merge(spark, df, "b1", lag_col="ts")
    assert abs(m["event_ts_min"] - old) < 1e-3
    assert abs(m["event_ts_max"] - (old + 60)) < 1e-3
    assert 3500 < m["ingest_lag_s"] < 3700
    assert m["ingest_lag_oldest_s"] > m["ingest_lag_s"]
    # lag-less merge + heartbeat still write readable metrics rows
    tbl.merge(spark, df.withColumn("source_lsn", F.col("source_lsn") + 10), "b2")
    tbl.heartbeat()
    rows = {r["batch_id"]: r for r in tbl.metrics(spark).collect()}
    assert rows["b1"]["ingest_lag_s"] is not None
    assert rows["b2"]["ingest_lag_s"] is None
    assert rows["NOP"]["ingest_lag_s"] is None
