"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (CDC core:
changelog apply / last-image-wins dedup / update decomposition / keyset
pagination / lsn encoding / anonymization / config projection / lineage
metrics) plus the training-data pipeline operators (exact & MinHash-LSH &
SimHash & n-gram-Jaccard dedup, cosine/LSH similarity search, text analysis,
multimodal metadata) onto the driver-provided parquet tables. ``oracle_sql()``
holds the DuckDB-dialect equivalent for each; column names and value math are
written to be bit-identical across engines (md5-derived portable hashes,
integer cents instead of double sums, mirrored expression trees for float
arithmetic).

The CDC queries reinterpret the ``events`` table as a binlog-shaped change
feed: op I/U/D derived from event_type, key = (user_id, slot), total order =
event_id (the ``source_lsn``). ``cdc_merge_into_lake`` pushes that feed
through the real LakeTable MERGE path and is checked against the same
final-state SQL oracle as the relational formulation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from mysql_secure_agent_spark.operators.dedup_changelog import last_image_wins
from mysql_secure_agent_spark.operators.keyset import page_after
from mysql_secure_agent_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    ivf_topk,
    lsh_bucket_topk,
)
from mysql_secure_agent_spark.operators.text_dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_lsh_verified,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from mysql_secure_agent_spark.operators.corpus import (
    decontaminate,
    repetition_stats,
    shuffle_shard,
)
from mysql_secure_agent_spark.functions.text_analysis import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_fraction,
    token_count,
)

SALT = "sodium chloride"  # reference golden salt, UpdaterSpec.java:199
MERSENNE = (1 << 61) - 1


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events reinterpreted as a binlog-shaped change feed (SourceEvent
    analog): op from event_type, PK=(user_id, slot), lsn=event_id."""
    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "purchase", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    return ev.select(
        op.alias("op"),
        "user_id",
        (F.col("event_id") % 23).cast("int").alias("slot"),
        "event_type",
        "value",
        "ts",
        F.col("event_id").alias("source_lsn"),
    )


_CHANGELOG_CTE = """
WITH cl AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'D'
              WHEN event_type = 'signup' THEN 'I'
              ELSE 'U' END AS op,
         user_id,
         CAST(event_id % 23 AS INTEGER) AS slot,
         event_type, value, ts,
         event_id AS source_lsn
  FROM events
)
"""

# portable 32-bit hash (same math in operators/text_dedup._h32)
_H32_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"
_TOKS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SHINGLES_SQL = (
    "list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)"
)


# ============================================================= CDC core (events)
def q_cdc_apply_changelog(spark, sf_dir):
    """J2+A3 flagship: final table state after replaying the change feed —
    last image per key wins, keys whose last op is D are gone."""
    cl = _events_changelog(spark, sf_dir)
    last = last_image_wins(cl, ["user_id", "slot"], strategy="max_by")
    return last.filter(F.col("op") != "D").select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("source_lsn").alias("last_lsn"),
    )


def q_cdc_merge_into_lake(spark, sf_dir):
    """The same replay through the real engine: LakeTable MERGE (bucketed
    merge-on-read, atomic commit) then reconciled read. Oracle: identical
    final-state SQL as the relational formulation (modulo lsn column)."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_entry_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl, "entry-batch")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_table_stats(spark, sf_dir):
    """ANALYZE TABLE over the CDC-maintained state (lake/analyze.py): one
    distributed aggregate over the reconciled read — stats over raw images
    would count stale duplicates and tombstones. Exact ndv here (the
    oracle-comparable config); ``approx=True`` is the single-pass
    HLL path for 10^10 rows. min/max rendered via fixed-scale decimal so
    both engines print identical strings."""
    from mysql_secure_agent_spark.lake.analyze import analyze_table
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_stats_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl, "entry-batch")
    return analyze_table(
        tbl, spark, columns=["user_id", "slot", "event_type", "value"]
    )


def q_cdc_wap_publish(spark, sf_dir):
    """Write-audit-publish gate (Iceberg wap.id workflow over LakeTable):
    the first half of the feed is STAGED, audited (passes), and published;
    a poisoned batch (NULL event_type images at winning lsns) is staged,
    FAILS the audit, and is aborted — invisible forever; the second half
    merges directly. Final state must equal a plain full replay: the audit
    gate admits clean data unchanged and the aborted poison leaves no trace.
    Beyond-reference surface: the reference applies every decoded event
    directly (Updater.java:148-186) with no audit stage."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    hi = cl.agg(F.max("source_lsn")).collect()[0][0] or 0
    root = os.path.join(tempfile.mkdtemp(prefix="lake_wap_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)

    tbl.merge(spark, cl.filter(F.col("source_lsn") <= hi // 2), "w0", wap_id="a0")
    audit = tbl.audit_staged(
        spark, "a0", {"upsert_has_type": "event_type IS NOT NULL"}
    )
    if not audit["passed"]:
        raise AssertionError(f"clean batch failed audit: {audit}")
    tbl.publish_staged("a0")

    # poison: would-be-winning images (lsn > hi) with NULL event_type
    poison = (
        cl.filter((F.col("op") != "D") & (F.col("source_lsn") % 97 == 0))
        .withColumn("event_type", F.lit(None).cast("string"))
        .withColumn("source_lsn", F.col("source_lsn") + F.lit(hi + 1))
    )
    tbl.merge(spark, poison, "w-poison", wap_id="a1")
    audit = tbl.audit_staged(
        spark, "a1", {"upsert_has_type": "event_type IS NOT NULL"}
    )
    if audit["passed"] or audit["violations"]["upsert_has_type"] == 0:
        raise AssertionError(f"poison batch passed audit: {audit}")
    if tbl.abort_staged("a1") == 0:
        raise AssertionError("abort reclaimed no files")

    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi // 2), "w1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_expire_versions(spark, sf_dir):
    """Snapshot expiry mid-ingest: the feed lands in two micro-batches with
    a compaction between them, then expire_versions(keep_last=1) prunes the
    commit log and reclaims the superseded pre-compaction deltas (asserted
    in-query) — and the surviving read still equals the full-replay oracle.
    Lifecycle maintenance must be invisible to correctness."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    hi = cl.agg(F.max("source_lsn")).collect()[0][0] or 0
    root = os.path.join(tempfile.mkdtemp(prefix="lake_expire_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= hi // 2), "b0")
    tbl.compact(spark)
    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi // 2), "b1")
    out = tbl.expire_versions(keep_last=1)
    if out["data_files"] == 0 or out["commits"] == 0:
        raise AssertionError(f"expiry reclaimed nothing: {out}")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_minimal_image(spark, sf_dir):
    """binlog_row_image=MINIMAL replay: updates carry only a rotating subset
    of columns (plus the PK) with a `_present` mask, deletes carry the key
    only; the feed is applied in TWO in-order micro-batches through
    LakeTable.merge_partial, so unchanged columns must survive via the fold's
    last-present-wins within a batch AND the base-image fallback across
    batches. Oracle: per key, each column independently takes its value from
    the last event that carried it, voided by any later delete.

    Beyond-reference surface: the reference assumes FULL images and replaces
    whole rows (Updater.java:148-186); MINIMAL upstreams are common because
    they shrink the binlog, and naive replay nulls unchanged columns.
    """
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    is_i, is_u = F.col("op") == "I", F.col("op") == "U"
    m3 = F.col("source_lsn") % 3
    has_et = is_i | (is_u & (m3 == 0))
    has_val = is_i | (is_u & m3.isin(0, 1))
    has_ts = is_i | (is_u & (m3 == 2))
    partial = cl.select(
        "op",
        "user_id",
        "slot",
        F.when(has_et, F.col("event_type")).alias("event_type"),
        F.when(has_val, F.col("value")).alias("value"),
        F.when(has_ts, F.col("ts")).alias("ts"),
        "source_lsn",
        F.array_compact(
            F.array(
                F.when(has_et, F.lit("event_type")),
                F.when(has_val, F.lit("value")),
                F.when(has_ts, F.lit("ts")),
            )
        ).alias("_present"),
    )
    thr = partial.agg(F.max("source_lsn")).first()[0] // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_minimal_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge_partial(spark, partial.filter(F.col("source_lsn") <= thr), "min-b0")
    tbl.merge_partial(spark, partial.filter(F.col("source_lsn") > thr), "min-b1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts")).alias("last_ts_us"),
    )


def q_cdc_time_slice_read(spark, sf_dir):
    """Hidden time partitioning over the merge-on-read lake: the table
    declares stats_cols=["ts"], the feed lands in three lsn-ordered
    micro-batches (ts correlates with lsn, so each delta file carries a
    narrow ts range in its manifest entry), and the query is a time-slice
    read — final images with ts in a fixed mid-month window — via
    LakeTable.read_where's two-phase plan (candidate keys from
    stat-intersecting files, exact last-image reconciliation of only those
    keys, final re-filter). The listing-level pruning is asserted in-query:
    the slice must open strictly fewer files than the table holds. Value
    columns are mutable across a key's images, so a one-phase stats-pruned
    read would resurrect superseded rows — the oracle (full-replay final
    state, then the ts filter) fails if phase 2 is skipped or unsound.

    Beyond-reference surface: the reference is binlog-in/JSONL-out with no
    consumer reads; this is the Iceberg planFiles/hidden-partitioning
    analog the transcript lake's time-range consumers need at 10^10 rows.
    """
    import datetime as dt

    from mysql_secure_agent_spark.lake.table import LakeTable, _canon_stat_bound

    cl = _events_changelog(spark, sf_dir)
    hi = cl.agg(F.max("source_lsn")).first()[0] or 0
    root = os.path.join(tempfile.mkdtemp(prefix="lake_slice_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = LakeTable.create(
        root, schema, ["user_id", "slot"], n_buckets=8, stats_cols=["ts"]
    )
    for i in range(3):
        part = cl.filter(
            (F.col("source_lsn") > hi * i // 3)
            & (F.col("source_lsn") <= hi * (i + 1) // 3)
        )
        tbl.merge(spark, part, f"slice-b{i}")
    lo_ts = dt.datetime(2024, 1, 10)
    hi_ts = dt.datetime(2024, 1, 15)
    commit = tbl.commit_at()
    total = sum(len(es) for es in commit.files.values())
    opened = len(
        tbl.candidate_paths(
            commit,
            key_range={"ts": (_canon_stat_bound(lo_ts), _canon_stat_bound(hi_ts))},
        )
    )
    if not 0 < opened < total:
        raise AssertionError(
            f"time-slice pruning did not bite: opened {opened} of {total}"
        )
    return tbl.read_where(spark, {"ts": (lo_ts, hi_ts)}).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts")).alias("last_ts_us"),
    )


def q_cdc_read_asof(spark, sf_dir):
    """AS-OF-TIMESTAMP time travel (Iceberg TIMESTAMP AS OF): the feed
    lands in two micro-batches; reading at the FIRST batch's commit
    wall-clock instant must reproduce exactly the first-half replay even
    though the head has moved on. Resolution scans commit metadata
    newest-first (robust to clock jitter, O(1-2) reads for recent
    timestamps). Oracle: relational replay of the first half."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    hi = cl.agg(F.max("source_lsn")).first()[0] or 0
    root = os.path.join(tempfile.mkdtemp(prefix="lake_asof_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= hi // 2), "a0")
    t_mid = tbl.commit_at(resolve=False).committed_at
    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi // 2), "a1")
    return tbl.read_asof(spark, t_mid).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_zorder_compact(spark, sf_dir):
    """Z-order compaction (Morton clustering on (user_id, ts) — Iceberg's
    zOrder rewrite): after the rewrite, per-file stats stay tight in BOTH
    dimensions, asserted in-query — a key range AND a time slice must each
    open strictly fewer files than the table holds (a linear sort serves
    only its own column). The returned result is the time-slice read over
    the z-ordered table; oracle = full-replay final state filtered to the
    slice — clustering is physics, never semantics."""
    import datetime as dt

    from mysql_secure_agent_spark.lake.table import LakeTable, _canon_stat_bound

    cl = _events_changelog(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_zorder_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = LakeTable.create(
        root, schema, ["user_id", "slot"], n_buckets=4, stats_cols=["ts"]
    )
    tbl.merge(spark, cl, "z-batch")
    tbl.compact(spark, zorder_cols=["user_id", "ts"], target_file_rows=256)
    lo_ts, hi_ts = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 15)
    commit = tbl.commit_at()
    total = sum(len(es) for es in commit.files.values())
    k_opened = len(
        tbl.candidate_paths(commit, key_range={"user_id": (100, 180)})
    )
    t_opened = len(
        tbl.candidate_paths(
            commit,
            key_range={
                "ts": (_canon_stat_bound(lo_ts), _canon_stat_bound(hi_ts))
            },
        )
    )
    if not (0 < k_opened < total and 0 < t_opened < total):
        raise AssertionError(
            f"z-order pruning did not bite in both dimensions: "
            f"key {k_opened}/{total}, time {t_opened}/{total}"
        )
    return tbl.read_where(spark, {"ts": (lo_ts, hi_ts)}).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts")).alias("last_ts_us"),
    )


def q_cdc_table_checksum(spark, sf_dir):
    """Replica drift verification (pt-table-checksum semantics): replay the
    feed into the lake, then compute order-insensitive per-chunk checksums
    of the reconciled state — chunk = portable 60-bit md5 key-hash mod 64,
    checksum = bit_xor of full-row hashes + count. ONE pass over the
    table, a 64-row result; the math is engine-portable (md5 + hex prefix
    + xor), which the oracle gates bit-for-bit by computing the SAME
    chunk table in DuckDB over the relational replay. The float column is
    canonicalized to integer micros (floor(value*1e6)) inside both
    engines — IEEE multiply + floor is deterministic where double→string
    rendering is not.

    In-query drift drill: verify_against its own state must be clean, and
    a single tampered key must localize to exactly one changed row.

    Beyond-reference surface: the reference has no way to prove the
    destination equals the source after months of CDC; this is the
    ecosystem's standard answer, distributed."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.validate import checksum_chunks

    cl = _events_changelog(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_cksum_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl, "cksum-batch")

    canon = tbl.read(spark).select(
        "user_id",
        "slot",
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("value_us"),
    )
    # self-check: the drift drill must be clean against its own state and
    # must localize a single tampered key to exactly one 'changed' row
    victim = canon.orderBy("user_id", "slot").first()
    probe = canon.withColumn(
        "event_type",
        F.when(
            (F.col("user_id") == victim["user_id"])
            & (F.col("slot") == victim["slot"]),
            F.lit("__tampered__"),
        ).otherwise(F.col("event_type")),
    )
    from mysql_secure_agent_spark.operators.validate import diff_chunks, diff_keys

    clean = tbl.verify_against(spark, tbl.read(spark))
    if not clean["match"]:
        raise AssertionError(f"self-checksum drifted: {clean['drifted_chunks']}")
    keys, vals = ["user_id", "slot"], ["event_type", "value_us"]
    chunks = [
        r["chunk"]
        for r in diff_chunks(
            checksum_chunks(canon, keys, vals), checksum_chunks(probe, keys, vals)
        ).collect()
    ]
    if not chunks:
        raise AssertionError("tampered replica passed verification")
    statuses = [
        r["status"] for r in diff_keys(canon, probe, keys, chunks, vals).collect()
    ]
    if statuses != ["changed"]:
        raise AssertionError(f"drill did not localize the one tamper: {statuses}")

    return checksum_chunks(
        canon, ["user_id", "slot"], ["event_type", "value_us"], n_chunks=64
    )


def q_cdc_rebucket_midstream(spark, sf_dir):
    """Online bucket-count migration mid-ingest: half the feed lands in an
    8-bucket layout, the table is rebucketed to 32 in one atomic commit,
    the rest of the feed merges into the new layout — final state must
    equal the uninterrupted direct replay (layout is pure physics, never
    semantics). The operational path a 10^10-row table needs when its
    buckets outgrow their files."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    thr = cl.agg(F.max("source_lsn")).first()[0] // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_rebucket_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= thr), "rb-b0")
    tbl.rebucket(spark, 32)
    tbl.merge(spark, cl.filter(F.col("source_lsn") > thr), "rb-b1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_key_range_scan(spark, sf_dir):
    """Key-range scan with listing-level data skipping: half the feed merges,
    sorted compaction splits each bucket into contiguous-key files with
    per-file min/max recorded in the manifest, the other half merges as
    un-statted deltas, then ``read(key_range=...)`` prunes base files from
    the LISTING (no footer opens) while keeping every delta — so
    post-compaction updates and deletes of in-range keys are honored.
    Oracle: full-replay final state filtered to the same range (a file
    skipped wrongly, a stale base row resurrected, or a missed delta delete
    all hash-mismatch). On a 10^10-row table this is the 'scan one
    conversation-id range' path: O(range) files opened, not O(table)."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    thr = cl.agg(F.max("source_lsn")).first()[0] // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_krange_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= thr), "kr-b0")
    tbl.compact(spark, target_file_rows=2000)
    tbl.merge(spark, cl.filter(F.col("source_lsn") > thr), "kr-b1")
    return tbl.read(spark, key_range={"user_id": (100, 300)}).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_agg_incremental_view(spark, sf_dir):
    """Incremental aggregate-view maintenance: a per-user rollup table is
    kept in sync with the base table via dirty-group partial recompute over
    the changefeed — two ingest batches, two O(delta) refreshes, never a
    full re-aggregation. Oracle: the same rollup computed directly over the
    full-replay final state (so any stale, missing, or ghost group in the
    incrementally-maintained table hash-mismatches)."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.incremental_agg import refresh_aggregate

    cl = _events_changelog(spark, sf_dir)
    hi = cl.agg(F.max("source_lsn")).first()[0]
    thr = hi // 2
    root = tempfile.mkdtemp(prefix="lake_ivm_")
    base_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    agg_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_slots", T.LongType(), True),
            T.StructField("sum_cents", T.LongType(), True),
            T.StructField("n_event_types", T.LongType(), True),
        ]
    )
    base = LakeTable.create(
        os.path.join(root, "base"), base_schema, ["user_id", "slot"], n_buckets=8
    )
    agg = LakeTable.create(
        os.path.join(root, "agg"), agg_schema, ["user_id"], n_buckets=8
    )
    agg_exprs = [
        F.count(F.lit(1)).alias("n_slots"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        F.countDistinct("event_type").alias("n_event_types"),
    ]
    for i, (lo, hi_b) in enumerate([(0, thr), (thr, hi)]):
        base.merge(
            spark,
            cl.filter(
                (F.col("source_lsn") > lo) & (F.col("source_lsn") <= hi_b)
            ),
            f"ivm-b{i}",
        )
        refresh_aggregate(
            spark, base, agg, ["user_id"], agg_exprs, lo, hi_b, f"ivm-r{i}"
        )
    return agg.read(spark)


def q_cdc_jsonl_roundtrip(spark, sf_dir):
    """K1 round-trip (reference-format migration, end to end): the change
    feed is EXPORTED through the JSONL sink in the reference's exact output
    shapes (positional stringly-typed upsert/delete lines,
    ``OutputSpec.java:46-97``), read back off disk through the JSONL source
    (``from_json`` + positional casts), replayed through a real LakeTable
    MERGE, and the reconciled state returned. Oracle: the same final-state
    SQL as the direct replay — so the string render/parse, the sink, the
    source, and the merge are all proven value-exact in one row."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.sinks.jsonl_changelog import write_jsonl_changelog
    from mysql_secure_agent_spark.sources.jsonl_changelog import read_jsonl_changelog

    cl = _events_changelog(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="jsonl_rt_"), "changelog")
    cols = [
        ("user_id", "long"),
        ("slot", "int"),
        ("event_type", "string"),
        ("value", "double"),
        ("source_lsn", "long"),
    ]
    write_jsonl_changelog(cl, out, "testdata", "events", [n for n, _ in cols])
    replay = read_jsonl_changelog(spark, out, cols)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_rt_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, replay, "roundtrip-batch")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_erase_keys(spark, sf_dir):
    """Verifiable right-to-be-forgotten: the feed replays into a lake
    table (two history-building batches), then every surviving key with
    ``user_id % 19 == 0`` is ERASED — tombstone merge, bucket-targeted
    compaction, snapshot expiry + vacuum — and the deep-scan certificate
    (every retained root re-read distributed) must come back EMPTY before
    the state is returned. Oracle: the plain-replay final state minus the
    erased predicate. The reference keeps every image forever (JSONL out,
    no deletion story); erasure-with-proof is lake-side surface the
    distributed engine adds."""
    from mysql_secure_agent_spark.lake.erasure import erase_keys
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_erase_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= mid), "e1")
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "e2")

    doomed = [
        {"user_id": r["user_id"], "slot": r["slot"]}
        for r in tbl.read(spark)
        .filter(F.col("user_id") % 19 == 0)
        .select("user_id", "slot")
        .collect()
    ]
    rep = erase_keys(tbl, spark, doomed)
    if not rep["erased"]:
        raise AssertionError(f"erasure certificate failed: {rep['survivors']}")
    if tbl.version_floor() < tbl.current_version():
        raise AssertionError("expiry did not raise the time-travel floor")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_debezium_roundtrip(spark, sf_dir):
    """Debezium-envelope interop, end to end: the change feed is rendered
    as Debezium records (before/after/source/op envelope + delete
    tombstones — the PUBLIC CDC ecosystem format the reference's private
    JSONL is not), written as a topic file dump, parsed back (from_json,
    JVM-side both directions; op c/u/d→I/U/D, lsn recovered from
    source.file+pos), and replayed through a LakeTable merge. Oracle: the
    direct-replay final state — envelope render/parse and the tombstone
    discipline are all value-exact or the hash breaks."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.sinks.debezium import (
        read_debezium,
        write_debezium,
    )

    cl = _events_changelog(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="dbz_rt_"), "topic")
    write_debezium(
        cl, out, ["user_id", "slot"], ["event_type", "value"],
        db="testdata", table="events",
    )
    back = read_debezium(
        spark, out, ["user_id", "slot"],
        [("user_id", "bigint"), ("slot", "int"),
         ("event_type", "string"), ("value", "double")],
    )
    root = os.path.join(tempfile.mkdtemp(prefix="lake_dbz_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, back, "dbz-roundtrip")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_dump_restore(spark, sf_dir):
    """mysqldump archive as the snapshot seed + stream handoff (the T7
    contract, offline variant — the reference can only seed from a LIVE
    paged SELECT, ImportSourceTable.java:23-42): the replayed state of the
    feed's FIRST half is exported as a mysqldump-compatible archive
    (extended INSERTs with MySQL escaping + CHANGE MASTER coordinates at
    the half's lsn), restored into a FRESH table — CREATE TABLE grammar →
    schema, distributed line-lexed INSERT parse, every row at lsn = the
    dump position — and the feed's SECOND half merges on top. Final state
    must equal one uninterrupted replay: gates literal escaping (float
    repr exactness, microsecond timestamps), the type map both ways, and
    zero-coordination last-image-wins handoff."""
    from mysql_secure_agent_spark.operators.dedup_changelog import last_image_wins
    from mysql_secure_agent_spark.sources.dump_sql import (
        restore_dump,
        write_dump_sql,
    )

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    half1 = last_image_wins(
        cl.filter(F.col("source_lsn") <= mid), ["user_id", "slot"],
        strategy="max_by",
    ).filter(F.col("op") != "D")
    snap = half1.select("user_id", "slot", "event_type", "value", "ts")

    base = tempfile.mkdtemp(prefix="dump_restore_")
    out = os.path.join(base, "dump")
    write_dump_sql(
        snap, out, "events_state", ["user_id", "slot"], n_shards=4,
        log_file="mysql-bin.000000", log_pos=int(mid),
    )
    tbl, info = restore_dump(spark, out, os.path.join(base, "t"), n_buckets=8)
    assert info["start_lsn"] == mid, info
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "handoff-tail")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


def q_cdc_lake_changefeed(spark, sf_dir):
    """Incremental changefeed OUT of the lake (read_changes): the feed is
    merged in two halves, then the second half is read back as a changelog
    from the table's own lsn-stamped files — net per-key change with op U/D,
    O(delta) IO (manifest lsn stats skip the first half's files from the
    listing). Oracle: last event per key among raw events with lsn > mid,
    restricted to keys that have such events; I/U both render as U (the
    upsert fold, Updater.java:188-217)."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_cf_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= mid), "half-1")
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "half-2")
    return tbl.read_changes(spark, since_lsn=mid).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )


def q_cdc_changefeed_compose(spark, sf_dir):
    """Changefeed → multi-source fan-in COMPOSITION (lake-to-lake): the
    change feed is split by key ownership into two SOURCE tables (disjoint
    user_id spaces — a two-shard fleet), each source's net changefeed is
    read back out (``read_changes``: op U/D, table lsns), lsn-namespaced
    with the multi-source ``global_lsn`` scheme, and both are merged into
    one DOWNSTREAM table. Proves the changefeed's op/U/D contract composes
    with the ingest path: the replica's final state must equal the direct
    replay of the original feed (same oracle as cdc_apply_changelog,
    minus the lsn column which the fan-in namespaces)."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.streaming.multi_source import global_lsn

    cl = _events_changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_cfc_")
    dst = LakeTable.create(
        os.path.join(base, "dst"), schema, ["user_id", "slot"], n_buckets=8
    )
    for i in range(2):
        src = LakeTable.create(
            os.path.join(base, f"src{i}"), schema, ["user_id", "slot"], n_buckets=8
        )
        src.merge(spark, cl.filter(F.pmod("user_id", F.lit(2)) == i), f"shard-{i}")
        feed = src.read_changes(spark, since_lsn=0).select(
            "op", "user_id", "slot", "event_type", "value",
            global_lsn(i, F.col("source_lsn")).alias("source_lsn"),
        )
        dst.merge(spark, feed, f"cf-{i}")
    return dst.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_changefeed_tail(spark, sf_dir):
    """Continuous lake→lake replication (streaming/changefeed_tail.py): a
    ChangefeedTailer polls the SOURCE table's commit log and merges each
    version window's net changes downstream — the binlog-tail loop with the
    commit log as the binlog. The feed lands as 3 lsn-third merges with a
    poll interleaved after each (windows of 1, 1, 1 versions), plus a replay
    of the LAST window with a reset cursor (the crash-before-ack path; the
    deterministic window batch id makes the downstream merge skip it).
    Replica final state == direct replay (same oracle as
    cdc_apply_changelog, minus lsn)."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.streaming.changefeed_tail import ChangefeedTailer

    cl = _events_changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_cft_")
    src = LakeTable.create(
        os.path.join(base, "src"), schema, ["user_id", "slot"], n_buckets=8
    )
    dst = LakeTable.create(
        os.path.join(base, "dst"), schema, ["user_id", "slot"], n_buckets=8
    )
    tail = ChangefeedTailer(src, os.path.join(base, "cursor.json"), name="entry")
    handler = tail.replicate_to(dst)
    mx = cl.agg(F.max("source_lsn")).first()[0]
    cuts = [0, mx // 3, 2 * mx // 3, mx]
    for i in range(3):
        src.merge(
            spark,
            cl.filter(
                (F.col("source_lsn") > cuts[i]) & (F.col("source_lsn") <= cuts[i + 1])
            ),
            f"third-{i}",
        )
        tail.poll(spark, handler)
    tail._save_cursor(2)  # lost ack: the last window replays …
    tail.poll(spark, handler)  # … and is skipped by the downstream batch hwm
    return dst.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_modify_column(spark, sf_dir):
    """T6 MODIFY_COLUMN mid-replay: first half of the feed merges under
    slot:int, then MODIFY COLUMN slot→bigint (existing data rewritten with a
    cast), then the second half merges under the widened schema. Final state
    must equal the plain replay with the cast applied everywhere."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_mod_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= mid), "pre-ddl")
    tbl.modify_column_type(spark, "slot", "bigint")
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "post-ddl")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_drop_column(spark, sf_dir):
    """T6 DROP_COLUMN mid-replay: first half of the feed merges with the
    event_type column live, then DROP COLUMN event_type (metadata-only; the
    name goes on dropped_cols so a re-ADD would purge), then the second half
    merges without it. Final state = plain replay projected without the
    column — old values must NOT leak back through old files."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_drop_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= mid), "pre-ddl")
    tbl.drop_column("event_type")
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "post-ddl")
    return tbl.read(spark).select(
        "user_id", "slot", F.col("value").alias("last_value")
    )


def q_cdc_rename_column(spark, sf_dir):
    """T6 RENAME_COLUMN mid-replay (metadata-only, the Iceberg renameColumn
    analog): first half of the feed merges with event_type, then RENAME
    COLUMN event_type→etype — NOT ONE data file is rewritten; old files'
    values surface under the new logical name via coalesce-on-read — then
    the second half merges with the feed STILL labeling the value
    ``event_type`` (a binlog row image carries positions, not names; the
    decoder's tableDefinition predates the rename). Final state = plain
    replay with the column renamed. The reference has no rename path at all:
    its re-infer loop (Updater.java:188-217) only notices column-COUNT
    changes, so a pure rename silently mislabels downstream output."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    mid = (cl.agg(F.max("source_lsn")).first()[0] or 0) // 2
    root = os.path.join(tempfile.mkdtemp(prefix="lake_ren_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["user_id", "slot"], n_buckets=8)
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= mid), "pre-ddl")
    tbl.rename_column("event_type", "etype")
    assert tbl.commit_at(resolve=False).files == {}, "rename must not rewrite data"
    tbl.merge(spark, cl.filter(F.col("source_lsn") > mid), "post-ddl")
    return tbl.read(spark).select(
        "user_id", "slot", "etype", F.col("value").alias("last_value")
    )


def q_cdc_quarantine(spark, sf_dir):
    """Dead-letter quarantine end-to-end: events are ENCODED into transcript
    wire row images, a deterministic subset corrupted (truncation /
    reserved bitmap bits / trailing garbage — precedence short_header >
    reserved_bits > frame_size_mismatch), and the batch flows through the
    validate-then-decode path (decode_raw_feed(quarantine=True)). Valid rows
    must decode to their exact field values, poisoned rows to NULL fields +
    the right reason code. The reference would THROW on the first poisoned
    event and halt (RowParser.java:165-166); here the oracle states both the
    classification and the surviving values in closed form."""
    import pandas as pd

    from mysql_secure_agent_spark.functions.decode import (
        decode_raw_feed, encode_row,
    )
    from mysql_secure_agent_spark.schemas import RAW_CHANGELOG_SCHEMA

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")

    def encode(batches):
        for pdf in batches:
            out = []
            for r in pdf.to_dict("records"):
                eid = int(r["event_id"])
                payload = encode_row(
                    f"c{r['user_id']}",
                    eid % 64,
                    r["event_type"],
                    f"msg-{eid}",
                    None if eid % 5 == 0 else f"t{eid % 7}",
                    int(pd.Timestamp(r["ts"]).value // 1000),
                )
                if eid % 97 == 0:
                    payload = payload[:5]
                elif eid % 101 == 0:
                    payload = bytes([payload[0] | 0x40]) + payload[1:]
                elif eid % 103 == 0:
                    payload = payload + b"\xde\xad"
                out.append(
                    {
                        "op": "I",
                        "payload": payload,
                        "source_lsn": eid,
                        "binlog_file": "bin.000001",
                        "binlog_pos": eid,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RAW_CHANGELOG_SCHEMA.fields])

    raw = ev.mapInPandas(encode, schema=RAW_CHANGELOG_SCHEMA)
    dec = decode_raw_feed(raw, quarantine=True)
    return dec.select(
        "source_lsn",
        F.col("_error").alias("reason"),
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").alias("role"),
        "text",
        "tool",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_cdc_last_image_wins(spark, sf_dir):
    """A3 in isolation: max-lsn image per (user_id, event_type)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "value")
    last = last_image_wins(ev, ["user_id", "event_type"], order_col="event_id")
    return last.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def q_cdc_update_decompose(spark, sf_dir):
    """P5: UPDATE → DELETE(old)+UPSERT(new) row pair (Updater.java:198-207)."""
    cl = _events_changelog(spark, sf_dir).filter(F.col("op") == "U")
    parts = F.array(
        F.struct(F.lit("D").alias("out_op"), F.lit(None).cast("double").alias("value")),
        F.struct(F.lit("I").alias("out_op"), F.col("value").alias("value")),
    )
    return cl.select(
        "source_lsn", "user_id", "slot", F.explode(parts).alias("p")
    ).select("source_lsn", "user_id", "slot", "p.out_op", "p.value")


def q_cdc_scd2_history(spark, sf_dir):
    """Type-2 history materialization of the change feed: one row per I/U
    image with [valid_from_lsn, valid_to_lsn) closed by the key's next event
    (a DELETE closes without emitting). Single-exchange lead() window."""
    from mysql_secure_agent_spark.operators.scd2 import scd2_history

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    return scd2_history(cl, key_cols=["user_id", "slot"])


def q_cdc_scd2_as_of(spark, sf_dir):
    """Point-in-time read from the materialized SCD-2 history: state as of
    lsn 6000 — a pure interval filter over the history, no replay."""
    from mysql_secure_agent_spark.operators.scd2 import scd2_as_of, scd2_history

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    return scd2_as_of(scd2_history(cl, key_cols=["user_id", "slot"]), 6000)


def q_cdc_scd2_incremental(spark, sf_dir):
    """Incrementally-maintained SCD-2 history: the change feed applied in
    THREE lsn-ordered micro-batches through operators.scd2.merge_history
    (each batch appends its images as interval rows and closes the touched
    keys' previous open intervals via a bucket-pruned base read + one lake
    merge). Batch-split invariance is the correctness content — the oracle
    is the one-shot lead() construction over the whole feed."""
    from mysql_secure_agent_spark.operators.scd2 import (
        create_history_table,
        merge_history,
        read_history,
    )

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    hi = cl.agg(F.max("source_lsn")).collect()[0][0] or 0
    src_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    root = os.path.join(tempfile.mkdtemp(prefix="lake_scd2_"), "h")
    tbl = create_history_table(root, src_schema, ["user_id", "slot"], n_buckets=8)
    lo = -1
    for i, cut in enumerate([hi // 3, (2 * hi) // 3, hi]):
        part = cl.filter(
            (F.col("source_lsn") > F.lit(lo)) & (F.col("source_lsn") <= F.lit(cut))
        )
        merge_history(spark, tbl, part, f"b{i}")
        lo = cut
    return read_history(spark, tbl).select(
        "user_id", "slot", "event_type", "value",
        "valid_from_lsn", "valid_to_lsn", "is_current",
    )


def q_cdc_index_lookup(spark, sf_dir):
    """Secondary index maintained O(delta) from the changefeed: the feed is
    applied in TWO micro-batches with an index refresh after each (keys whose
    event_type changes between batches exercise stale-entry deletion), then
    the rows with last event_type 'click' are fetched via index probe →
    bucket-pruned main read. Oracle: filter of the reconciled final state."""
    from mysql_secure_agent_spark.lake.index import SecondaryIndex
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    hi = cl.agg(F.max("source_lsn")).collect()[0][0] or 0
    base = tempfile.mkdtemp(prefix="lake_idx_")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    idx = SecondaryIndex.create(os.path.join(base, "ix"), tbl, "event_type")
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= hi // 2), "b0")
    idx.refresh(spark)
    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi // 2), "b1")
    idx.refresh(spark)
    return idx.lookup(spark, "click").select(
        "user_id", "slot", "event_type", "value"
    )


def q_cdc_index_range_scan(spark, sf_dir):
    """Range probe over the secondary index (value BETWEEN 100 AND 200):
    the indexed column is the index table's first key column, so after
    sorted compaction the probe prunes index files at the listing level,
    then fetches only the matched keys' main buckets. Built mid-stream
    like cdc_index_lookup (two batches, refresh after each, compaction
    between) so stale-entry filtering and post-compaction pruning are both
    on the path. Oracle: final-state filter."""
    from mysql_secure_agent_spark.lake.index import SecondaryIndex
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    hi = cl.agg(F.max("source_lsn")).collect()[0][0] or 0
    base = tempfile.mkdtemp(prefix="lake_idxrange_")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    idx = SecondaryIndex.create(os.path.join(base, "ix"), tbl, "value")
    tbl.merge(spark, cl.filter(F.col("source_lsn") <= hi // 2), "b0")
    idx.refresh(spark)
    idx.table.compact(spark, target_file_rows=512)
    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi // 2), "b1")
    idx.refresh(spark)
    return idx.range_lookup(spark, 100.0, 200.0).select(
        "user_id", "slot", "event_type", "value"
    )


def q_cdc_keyset_page(spark, sf_dir):
    """S2: one keyset page after cursor (75, 0) over PK (user_id, event_id)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    return page_after(ev, ["user_id", "event_id"], [75, 0], 100)


def q_cdc_lsn_encode(spark, sf_dir):
    """T4: (binlog_file, binlog_pos) ↔ monotone source_lsn bijection."""
    ev = _t(spark, sf_dir, "events")
    file_no = F.expr("event_id DIV 2500") + 1
    pos = (F.col("event_id") % 2500) + 4
    return (
        ev.select(
            "event_id",
            F.format_string("mysql-bin.%06d", file_no).alias("binlog_file"),
            pos.alias("binlog_pos"),
            (file_no * 1_000_000 + pos).alias("source_lsn"),
        )
        .withColumn(
            "decoded_event_id",
            (
                (F.expr("source_lsn DIV 1000000") - 1) * 2500
                + (F.col("source_lsn") % 1_000_000 - 4)
            ).cast("long"),
        )
    )


def q_cdc_gtid_decode(spark, sf_dir):
    """S8 GTID family: per event a GTID_LOG_EVENT body (flags + 16-byte sid +
    gno, 5.7 logical-clock block on 2 of 3 rows, CRC32 tail verified+stripped)
    and a HEARTBEAT body are synthesized and DECODED back through
    parse_event_body (sources/binlog_packets.py, layouts per the public MySQL
    libbinlogevents control_events). The reference discards these types
    (BinlogClient.java:191-195); the engine decodes them because GtidSet is
    its native multi-source resume coordinate. Oracle computes the same
    uuid/gno/clock fields directly."""
    import zlib

    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            GTID_EVENT, HEARTBEAT_EVENT, parse_event_body,
        )

        hdr = b"\x00" * 19
        for pdf in batches:
            sid_l, gno_l, fl_l, lc_l, sn_l, hb_l = [], [], [], [], [], []
            for uid, eid in zip(pdf["user_id"], pdf["event_id"]):
                uid, eid = int(uid), int(eid)
                h2 = f"0{uid % 10}"
                body = (
                    bytes([eid % 2])
                    + bytes.fromhex(h2 * 16)
                    + (eid + 1).to_bytes(8, "little")
                )
                if eid % 3 != 0:
                    body += (
                        b"\x02"
                        + (eid % 1000).to_bytes(8, "little")
                        + (eid % 1000 + 1).to_bytes(8, "little")
                    )
                pkt = body + zlib.crc32(hdr + body).to_bytes(4, "little")
                g = parse_event_body(
                    pkt,
                    GTID_EVENT,
                    {},
                    checksum_length=4,
                    verify_checksum=True,
                    header_bytes=hdr,
                )
                hb = parse_event_body(
                    f"mysql-bin.{eid // 2500 + 1:06d}".encode(),
                    HEARTBEAT_EVENT,
                    {},
                )
                sid_l.append(g.sid)
                gno_l.append(g.gno)
                fl_l.append(g.flags)
                lc_l.append(g.last_committed)
                sn_l.append(g.sequence_number)
                hb_l.append(hb.log_name)
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].values,
                    "sid": sid_l,
                    "gno": gno_l,
                    "flags": fl_l,
                    "last_committed": pd.Series(lc_l, dtype="Int64"),
                    "sequence_number": pd.Series(sn_l, dtype="Int64"),
                    "hb_log": hb_l,
                }
            )

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    return _with_min_parallelism(ev).mapInPandas(
        rt,
        schema=(
            "event_id long, sid string, gno long, flags int, "
            "last_committed long, sequence_number long, hb_log string"
        ),
    )


def q_cdc_branch_backfill(spark, sf_dir):
    """Branch-based backfill (lake/refs.py — Iceberg refs analog): the live
    stream keeps merging the RECENT two-thirds of the feed into main while
    a month-of-history backfill (the oldest third, two batches) lands on a
    BRANCH — fully isolated, own commit/metrics namespace, shared data
    files. Main advances past the fork, so fast-forward is refused
    (asserted) and the branch is CHERRY-PICKED: each branch merge's delta
    manifest re-applies onto main in order with per-batch exactly-once.
    Because the lake reconciles by source_lsn at read time, ANY split of
    the changelog across main/branch converges to the same final state —
    oracle = the plain full replay, so fork isolation, the rebase, and the
    ledger carry-over are all hash-gated. The reference freezes its single
    cursor for imports (ImportOnly.java:19-60); branches let backfill and
    live tail proceed concurrently with an atomic settle."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_branch_")
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    lo, hi = cl.agg(
        F.expr("percentile_approx(source_lsn, 0.33)"),
        F.expr("percentile_approx(source_lsn, 0.66)"),
    ).first()
    tbl.merge(spark, cl.filter(F.col("source_lsn") > hi), "live-0")
    br = tbl.create_branch("backfill")
    old = cl.filter(F.col("source_lsn") <= lo)
    br.merge(spark, old.filter(F.pmod("source_lsn", F.lit(2)) == 0), "bf-0")
    br.merge(spark, old.filter(F.pmod("source_lsn", F.lit(2)) == 1), "bf-1")
    # the live stream advanced past the fork → ff impossible, rebase instead
    tbl.merge(
        spark,
        cl.filter((F.col("source_lsn") > lo) & (F.col("source_lsn") <= hi)),
        "live-1",
    )
    try:
        tbl.fast_forward("backfill")
        raise AssertionError("fast-forward should refuse a diverged main")
    except ValueError:
        pass
    res = tbl.merge_branch("backfill")
    assert res["picked"] == ["bf-0", "bf-1"], res
    # a replayed branch batch is exactly-once on main after the rebase
    assert tbl.merge(spark, old.limit(1), "bf-0")["skipped"]
    tbl.drop_branch("backfill")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_failover_promote(spark, sf_dir):
    """Primary failover / replica promotion (streaming/failover.py): the
    primary applied the first ~70% of the log and died; the promoted
    replica re-serves 40-100% (overlap included). GTID auto-positioning
    analog: `applied_lsn_watermark` recovers the highest applied lsn from
    the table's OWN delta-manifest stamps (commit metadata only — no data
    files, no Spark job, and independent of the dead stream's checkpoint),
    and the promoted feed is pruned to `lsn > watermark` before any shuffle.
    The query asserts the recovered watermark equals the primary's true max
    applied lsn, then hash-gates the post-failover final state against the
    plain full-replay oracle. The reference can only re-request from the
    same server's (file, position) (state/AgentState.java:14-17)."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.streaming.failover import applied_lsn_watermark

    cl = _events_changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_fo_")
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    p40, p70 = cl.agg(
        F.expr("percentile_approx(source_lsn, 0.4)"),
        F.expr("percentile_approx(source_lsn, 0.7)"),
    ).first()
    primary = cl.filter(F.col("source_lsn") <= p70)
    tbl.merge(spark, primary.filter(F.col("source_lsn") <= p40), "0")
    tbl.merge(
        spark,
        primary.filter((F.col("source_lsn") > p40) & (F.col("source_lsn") <= p70)),
        "1",
    )
    wm = applied_lsn_watermark(tbl)
    true_max = primary.agg(F.max("source_lsn")).first()[0]
    assert wm == true_max, (wm, true_max)
    # promoted replica re-serves 40-100% — auto-position past the watermark
    promoted = cl.filter(F.col("source_lsn") > p40)
    tbl.merge(spark, promoted.filter(F.col("source_lsn") > wm), "fo-entry.0")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_multi_table_txn(spark, sf_dir):
    """Cross-table TRANSACTION-CONSISTENCY group (lake/txn_group.py): the
    change feed splits by slot parity into two tables of one group; each
    lsn-half applies as ONE atomic multi-table publish (stage-all →
    intent marker → publish-all → sealed snapshot). The second group
    CRASHES between the two publishes (injected) — the query asserts the
    raw heads are torn but the consistent snapshot still serves group 1 for
    BOTH tables, then recovers (redo) and returns the union of the final
    reads. Oracle = the relational final state partitioned by the same
    parity, so atomic routing, crash recovery, and the snapshot math are
    all hash-gated. The reference's single-threaded sink gives this
    consistency for free (Updater.java:148-186); a distributed sink must
    coordinate."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.lake.txn_group import TransactionGroup

    cl = _events_changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_txg_")
    tables = {
        ref: LakeTable.create(
            os.path.join(base, ref), schema, ["user_id", "slot"], n_buckets=8
        )
        for ref in ("even", "odd")
    }
    txg = TransactionGroup(tables, os.path.join(base, "coord"))
    mid = cl.agg(F.expr("percentile_approx(source_lsn, 0.5)")).first()[0]

    def routed(part):
        return {
            ref: part.filter(F.pmod("slot", F.lit(2)) == i)
            for i, ref in enumerate(("even", "odd"))
        }

    txg.commit_batch(spark, routed(cl.filter(F.col("source_lsn") <= mid)), 0)
    snap = txg.consistent_versions()

    real_publish = tables["odd"].publish_staged
    tables["odd"].publish_staged = lambda wap_id: (_ for _ in ()).throw(
        RuntimeError("injected crash between publishes")
    )
    try:
        txg.commit_batch(spark, routed(cl.filter(F.col("source_lsn") > mid)), 1)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    finally:
        tables["odd"].publish_staged = real_publish
    # torn raw heads, untorn consistent snapshot — the contract under test
    assert tables["even"].current_version() > snap["even"]
    assert tables["odd"].current_version() == snap["odd"]
    assert txg.consistent_versions() == snap
    txg.recover()

    out = None
    for ref, t in tables.items():
        part = txg.read_consistent(spark, ref).select(
            F.lit(ref).alias("table_ref"),
            "user_id",
            "slot",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_cdc_txn_payload(spark, sf_dir):
    """S8 TRANSACTION_PAYLOAD (binlog_transaction_compression, MySQL 8.0.20,
    WL#3549) end-to-end: the change feed is re-ENCODED into MySQL wire bytes —
    rows grouped into transactions, each wrapped in ONE container event
    (TLV header per the public libbinlogevents codecs/binary.cpp layout;
    inner TABLE_MAP + ROWS_QUERY + EXT_*_ROWS + XID events carry no
    per-event checksum) — then DECODED back through packets_to_changelog,
    whose container expansion replays the inner events in wire order, and
    reduced to the final table state. Oracle = the plain relational replay
    (same SQL as cdc_apply_changelog), so any container-framing, inner-event
    routing, or table-map-cache bug across XID boundaries breaks the hash.
    The reference predates this event type (it would hit the discard branch,
    BinlogClient.java:191-195); decoding it exceeds the reference."""
    import struct as st

    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS,
            ROWS_QUERY_EVENT, TABLE_MAP_EVENT, TRANSACTION_PAYLOAD_EVENT,
            XID_EVENT, packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        # table t: (user_id LONGLONG, slot LONG, event_type VARCHAR(20),
        # value DOUBLE, lsn LONGLONG); metadata = varchar max_len + double
        # pack length, in column order
        tmap_body = (
            (7).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(5) + bytes([0x08, 0x03, 0x0F, 0x05, 0x08])
            + packed(3) + (20).to_bytes(2, "little") + bytes([8])
            + bytes([0x1F])  # nullability (unused)
        )

        def row_img(u, s, et, v, lsn) -> bytes:
            nulls, out = 0, b""
            out += int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if et is None or (isinstance(et, float) and pd.isna(et)):
                nulls |= 1 << 2
            else:
                b = str(et).encode()
                out += bytes([len(b)]) + b
            if v is None or pd.isna(v):
                nulls |= 1 << 3
            else:
                out += st.pack("<d", float(v))
            out += int(lsn).to_bytes(8, "little")
            return bytes([nulls]) + out

        def rows_body(imgs: list, n_images: int = 1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(5)
                + bytes([0x1F]) * n_images + b"".join(imgs)
            )

        def inner(tc: int, body: bytes) -> bytes:
            return st.pack("<IBIIIH", 0, tc, 1, 19 + len(body), 0, 0) + body

        from mysql_secure_agent_spark.sources.binlog_packets import (
            build_transaction_payload,
        )

        cols = ["user_id", "slot", "event_type", "value", "lsn"]
        for pdf in batches:
            recs = pdf.to_dict("records")
            packets = []
            for i in range(0, len(recs), 16):  # 16-row transactions
                ib = inner(TABLE_MAP_EVENT, tmap_body)
                q = b"-- wrapped txn"
                ib += inner(ROWS_QUERY_EVENT, bytes([len(q)]) + q)
                for r in recs[i : i + 16]:
                    img = row_img(r["user_id"], r["slot"], r["event_type"],
                                  r["value"], r["source_lsn"])
                    if r["op"] == "I":
                        ib += inner(EXT_WRITE_ROWS, rows_body([img]))
                    elif r["op"] == "D":
                        ib += inner(EXT_DELETE_ROWS, rows_body([img]))
                    else:
                        ib += inner(EXT_UPDATE_ROWS,
                                    rows_body([img, img], n_images=2))
                ib += inner(XID_EVENT, (1).to_bytes(8, "little"))
                # alternate REAL ZSTD containers (what
                # binlog_transaction_compression=ON servers ship; inflated
                # through pyarrow's bundled codec) with NONE containers —
                # both under the same oracle hash
                packets.append(
                    (
                        TRANSACTION_PAYLOAD_EVENT,
                        build_transaction_payload(
                            ib, compress=(i // 16) % 2 == 0
                        ),
                    )
                )
            df = packets_to_changelog(packets, "s", "t", cols)
            # the authoritative lsn rides IN the row image (packet order is
            # per-batch only and meaningless across partitions)
            df = df[["op", "user_id", "slot", "event_type", "value", "lsn"]]
            yield df.rename(columns={"lsn": "source_lsn"})

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    decoded = _with_min_parallelism(cl).mapInPandas(
        rt,
        schema=("op string, user_id long, slot int, event_type string, "
                "value double, source_lsn long"),
    )
    last = last_image_wins(decoded, ["user_id", "slot"], strategy="max_by")
    return last.filter(F.col("op") != "D").select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("source_lsn").alias("last_lsn"),
    )


def q_cdc_stmt_lineage(spark, sf_dir):
    """Per-row statement lineage over the wire (binlog_rows_query_log_events):
    the feed is re-encoded as one transaction per lsn//16 group — GTID, then
    ROWS_QUERY carrying a deterministic statement text for EVEN groups only,
    TABLE_MAP, row events, XID — decoded with emit_stmt=True, and the rows
    grouped by their attached statement. Odd groups ship NO ROWS_QUERY, so
    the hash breaks if lineage leaks across the GTID boundary (they must
    come back NULL, not inherit the previous statement). Oracle: the same
    grouping stated directly on the relational feed. The reference discards
    ROWS_QUERY in its catch-all branch (BinlogClient.java:191-195)."""
    import struct as st

    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS, GTID_EVENT,
            ROWS_QUERY_EVENT, TABLE_MAP_EVENT, XID_EVENT,
            packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        tmap_body = (
            (7).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(5) + bytes([0x08, 0x03, 0x0F, 0x05, 0x08])
            + packed(3) + (20).to_bytes(2, "little") + bytes([8])
            + bytes([0x1F])
        )

        def row_img(u, s, et, v, lsn) -> bytes:
            nulls, out = 0, b""
            out += int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if et is None or (isinstance(et, float) and pd.isna(et)):
                nulls |= 1 << 2
            else:
                b = str(et).encode()
                out += bytes([len(b)]) + b
            if v is None or pd.isna(v):
                nulls |= 1 << 3
            else:
                out += st.pack("<d", float(v))
            out += int(lsn).to_bytes(8, "little")
            return bytes([nulls]) + out

        def rows_body(imgs: list, n_images: int = 1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(5)
                + bytes([0x1F]) * n_images + b"".join(imgs)
            )

        gtid_body = bytes([1]) + b"\x00" * 16 + (1).to_bytes(8, "little")
        cols = ["user_id", "slot", "event_type", "value", "lsn"]
        for pdf in batches:
            recs = pdf.to_dict("records")
            groups: dict[int, list] = {}
            for r in recs:
                groups.setdefault(int(r["source_lsn"]) // 16, []).append(r)
            packets = []
            for g in sorted(groups):
                packets.append((GTID_EVENT, gtid_body))
                if g % 2 == 0:  # odd groups: statement not rows-query-logged
                    q = f"bulk load #{g}".encode()
                    packets.append(
                        (ROWS_QUERY_EVENT, bytes([min(len(q), 255)]) + q)
                    )
                packets.append((TABLE_MAP_EVENT, tmap_body))
                for r in groups[g]:
                    img = row_img(r["user_id"], r["slot"], r["event_type"],
                                  r["value"], r["source_lsn"])
                    if r["op"] == "I":
                        packets.append((EXT_WRITE_ROWS, rows_body([img])))
                    elif r["op"] == "D":
                        packets.append((EXT_DELETE_ROWS, rows_body([img])))
                    else:
                        packets.append(
                            (EXT_UPDATE_ROWS, rows_body([img, img], n_images=2))
                        )
                packets.append((XID_EVENT, (1).to_bytes(8, "little")))
            df = packets_to_changelog(packets, "s", "t", cols, emit_stmt=True)
            yield df[["lsn", "_stmt"]].rename(columns={"_stmt": "stmt"})

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    decoded = _with_min_parallelism(cl).mapInPandas(
        rt, schema="lsn long, stmt string"
    )
    return decoded.groupBy("stmt").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("lsn").alias("sum_lsn")
    )


def q_cdc_charset_decode(spark, sf_dir):
    """Column-charset-aware wire decode, oracle-gated: every feed row is
    re-encoded as a latin1 (cp1252) VARCHAR row image — the text carries
    '€' (0x80) and 'é' (0xE9), bytes a lossy utf-8 pass turns into U+FFFD —
    under a TABLE_MAP whose optional metadata declares DEFAULT_CHARSET=8
    (binlog_row_metadata=FULL, WL#4618). packets_to_changelog must decode
    through the collation map (MySQL latin1 = cp1252 with C1 holes); the
    oracle states the expected unicode text directly. The reference decodes
    with Java String(bytes, charset); pre-session code here forced utf-8."""
    import pandas as pd

    cl = _events_changelog(spark, sf_dir).select("user_id", "source_lsn")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_WRITE_ROWS, TABLE_MAP_EVENT, packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        # cols: user_id LONGLONG, lsn LONGLONG, name VARCHAR(64 bytes)
        tmap_body = (
            (11).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(3) + bytes([0x08, 0x08, 0x0F])
            + packed(2) + (64).to_bytes(2, "little")
            + bytes([0x07])  # nullability
            # optional metadata: DEFAULT_CHARSET = 8 (latin1)
            + bytes([2]) + packed(1) + packed(8)
        )

        for pdf in batches:
            packets = [(TABLE_MAP_EVENT, tmap_body)]
            for r in pdf.to_dict("records"):
                u, lsn = int(r["user_id"]), int(r["source_lsn"])
                name = f"café€{u % 5}".encode("cp1252")
                img = (
                    bytes([0])
                    + u.to_bytes(8, "little", signed=True)
                    + lsn.to_bytes(8, "little")
                    + bytes([len(name)]) + name
                )
                body = (
                    (11).to_bytes(6, "little") + b"\x00\x00"
                    + (2).to_bytes(2, "little") + packed(3)
                    + bytes([0x07]) + img
                )
                packets.append((EXT_WRITE_ROWS, body))
            df = packets_to_changelog(
                packets, "s", "t", ["user_id", "lsn", "name"]
            )
            yield df[["user_id", "lsn", "name"]]

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    return (
        _with_min_parallelism(cl)
        .mapInPandas(rt, schema="user_id long, lsn long, name string")
        .withColumnRenamed("lsn", "source_lsn")
    )


_BINLOG_FILES_CACHE: dict[str, str] = {}


def _encode_events_binlog_files(spark, sf_dir) -> str:
    """Encode the events change feed into four rotated ``mysql-bin.NNNNNN``
    files on disk (distributed applyInPandas, one encode task per file) —
    real file framing: 4-byte magic, a FORMAT_DESCRIPTION first event
    announcing CRC32, per-event checksums, end_log_pos chaining, a
    trailing ROTATE naming the successor, 16-row transactions (TABLE_MAP
    + EXT_*_ROWS + XID) inside. Shared transport fixture for
    ``cdc_binlog_file_ingest`` (direct distributed file read) and
    ``cdc_socket_ingest`` (the same files served over the replication
    protocol) — the encode is deterministic (rows lsn-sorted per file),
    so one build per (process, sf_dir) serves both queries and each
    still hash-gates its own decode path end to end. Returns the
    directory holding the files."""
    cached = _BINLOG_FILES_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    import struct as st

    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")
    lo, hi = cl.agg(F.min("source_lsn"), F.max("source_lsn")).first()
    n_files, span = 4, int(hi) - int(lo) + 1
    with_file = cl.withColumn(
        "file_no",
        (
            F.lit(1)
            + F.floor((F.col("source_lsn") - F.lit(int(lo)))
                      * n_files / F.lit(span))
        ).cast("int"),
    )
    out_dir = tempfile.mkdtemp(prefix="binlog_files_")

    def write_file(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from mysql_secure_agent_spark.sources.binlog_file import (
            encode_binlog_file,
        )
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS,
            TABLE_MAP_EVENT, XID_EVENT, _packed_int_bytes as packed,
        )

        # table t: (user_id LONGLONG, slot LONG, event_type VARCHAR(20),
        # value DOUBLE, lsn LONGLONG) — same wire shape as cdc_txn_payload
        tmap_body = (
            (7).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(5) + bytes([0x08, 0x03, 0x0F, 0x05, 0x08])
            + packed(3) + (20).to_bytes(2, "little") + bytes([8])
            + bytes([0x1F])
        )

        def row_img(u, s, et, v, lsn) -> bytes:
            nulls, out = 0, b""
            out += int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if et is None or (isinstance(et, float) and pd.isna(et)):
                nulls |= 1 << 2
            else:
                b = str(et).encode()
                out += bytes([len(b)]) + b
            if v is None or pd.isna(v):
                nulls |= 1 << 3
            else:
                out += st.pack("<d", float(v))
            out += int(lsn).to_bytes(8, "little")
            return bytes([nulls]) + out

        def rows_body(imgs: list, n_images: int = 1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(5)
                + bytes([0x1F]) * n_images + b"".join(imgs)
            )

        pdf = pdf.sort_values("source_lsn")
        no = int(pdf["file_no"].iloc[0])
        events = []
        recs = pdf.to_dict("records")
        for i in range(0, len(recs), 16):  # 16-row transactions
            events.append((TABLE_MAP_EVENT, tmap_body))
            for r in recs[i : i + 16]:
                img = row_img(r["user_id"], r["slot"], r["event_type"],
                              r["value"], r["source_lsn"])
                if r["op"] == "I":
                    events.append((EXT_WRITE_ROWS, rows_body([img])))
                elif r["op"] == "D":
                    events.append((EXT_DELETE_ROWS, rows_body([img])))
                else:
                    events.append(
                        (EXT_UPDATE_ROWS, rows_body([img, img], n_images=2))
                    )
            events.append((XID_EVENT, (1).to_bytes(8, "little")))
        data = encode_binlog_file(
            events, checksum=True, next_file=f"mysql-bin.{no + 1:06d}"
        )
        path = os.path.join(out_dir, f"mysql-bin.{no:06d}")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return pd.DataFrame({"file_no": [no], "n_events": [len(recs)]})

    # eager: the files must exist before binaryFile plans the read
    with_file.groupBy("file_no").applyInPandas(
        write_file, "file_no int, n_events long"
    ).collect()
    _BINLOG_FILES_CACHE[sf_dir] = out_dir
    return out_dir


def _decode_binlog_dir_to_state(spark, log_dir: str):
    """Distributed decode of a ``mysql-bin.*`` directory (one CRC-verified
    task per file) reduced to the final table state — shared tail of the
    file-transport queries. The authoritative lsn rides IN the row image
    (file assignment was a range split; the merge must not depend on it);
    the file-derived (file_no, end_log_pos) lsn is asserted monotone by
    the reader."""
    from mysql_secure_agent_spark.sources.binlog_file import read_binlog_files

    decoded = read_binlog_files(
        spark,
        os.path.join(log_dir, "mysql-bin.*"),
        "s",
        "t",
        ["user_id", "slot", "event_type", "value", "lsn"],
        "op string, user_id long, slot int, event_type string, "
        "value double, lsn long, source_lsn long",
        verify_checksum=True,
    )
    # in-image lsn is authoritative; the file-position lsn was transport
    decoded = decoded.drop("source_lsn").withColumnRenamed("lsn", "source_lsn")
    last = last_image_wins(decoded, ["user_id", "slot"], strategy="max_by")
    return last.filter(F.col("op") != "D").select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("source_lsn").alias("last_lsn"),
    )


def q_cdc_binlog_file_ingest(spark, sf_dir):
    """On-disk binlog FILE ingest, end to end: the change feed is encoded
    into four rotated ``mysql-bin.NNNNNN`` files on disk
    (``_encode_events_binlog_files``) — then decoded DISTRIBUTED via
    ``sources.binlog_file.read_binlog_files`` (binaryFile listing → one
    decode task per file, CRC verified; a binlog file cannot be split
    mid-stream, so per-FILE parallelism is the scale unit — exactly how
    servers rotate) and reduced to the final table state. The reference
    can only consume a live socket (client/EventReader.java,
    BinlogChannel.java:43-236); bulk-decoding archived files in parallel
    exceeds it. Oracle = the plain relational replay, so file framing,
    checksum config self-discovery, rotation, and cross-file ordering are
    all hash-gated."""
    return _decode_binlog_dir_to_state(
        spark, _encode_events_binlog_files(spark, sf_dir)
    )


def q_cdc_socket_ingest(spark, sf_dir):
    """LIVE-SOCKET ingest, end to end over the wire protocol (S5's network
    path — the one transport the reference uses exclusively,
    BinlogClient.java:104-189): the change feed is encoded into four
    rotated binlog files, served over the public MySQL replication
    protocol by the in-repo replay server (socketpair transport:
    handshake v10 + mysql_native_password scramble, checksum negotiation,
    ``@@server_id``, COM_BINLOG_DUMP, artificial start ROTATE,
    0x00-marked CRC32-checksummed event packets, mid-file rotation),
    tailed by ``BinlogSocketClient`` and SPOOLED into on-disk segments
    byte-identical to the served files, then decoded DISTRIBUTED
    (one CRC-verified task per spooled file) and reduced to final state.
    Oracle = the plain relational replay — handshake, auth, framing,
    negotiation, position tracking, spool framing, and distributed decode
    are all under the hash. The socket is a single-connection driver-side
    tail by nature (the reference reads it on one node too); everything
    downstream of the spool is file-parallel."""
    from mysql_secure_agent_spark.sources.binlog_replay_server import (
        BinlogReplayServer,
    )
    from mysql_secure_agent_spark.sources.binlog_socket import (
        BinlogSocketClient,
    )

    files_dir = _encode_events_binlog_files(spark, sf_dir)
    srv = BinlogReplayServer(files_dir, user="repl", password="secret")
    client = BinlogSocketClient(srv.connect_factory(), "repl", "secret")
    spool_dir = tempfile.mkdtemp(prefix="binlog_spool_")
    client.spool(spool_dir, "mysql-bin.000001")
    if srv.error is not None:
        raise srv.error
    return _decode_binlog_dir_to_state(spark, spool_dir)


def q_cdc_binlog_export_roundtrip(spark, sf_dir):
    """Binlog-format EXPORT (sinks/binlog_export.py), end to end: the
    change feed is rendered as four rotated ``mysql-bin.NNNNNN`` files by
    the sink — library wire encode (TABLE_MAP metadata from ColumnSpecs,
    per-txn framing, CRC32, end_log_pos chains), one task per file, split
    by lsn range — read back DISTRIBUTED through ``read_binlog_files``
    with CRC verification, and reduced to the final table state. The
    reference is one-directional (binlog in, JSONL out, OutputSpec.java);
    producing consumable binlog files exceeds it and closes the loop with
    the file reader. Oracle = the plain relational replay."""
    from mysql_secure_agent_spark.functions.mysql_codecs import (
        DOUBLE, LONG, LONGLONG, VARCHAR, ColumnSpec,
    )
    from mysql_secure_agent_spark.sinks.binlog_export import (
        write_binlog_changelog,
    )
    from mysql_secure_agent_spark.sources.binlog_file import read_binlog_files

    cl = _events_changelog(spark, sf_dir).drop("ts").withColumn(
        "lsn", F.col("source_lsn")
    )
    specs = [
        ColumnSpec("user_id", LONGLONG),
        ColumnSpec("slot", LONG),
        ColumnSpec("event_type", VARCHAR, {"max_len": 20}),
        ColumnSpec("value", DOUBLE),
        ColumnSpec("lsn", LONGLONG),
    ]
    out = os.path.join(tempfile.mkdtemp(prefix="binlog_exp_"), "log")
    write_binlog_changelog(cl, out, "testdata", "events", specs, n_files=4)
    decoded = read_binlog_files(
        spark,
        os.path.join(out, "mysql-bin.*"),
        "testdata",
        "events",
        [s.name for s in specs],
        "op string, user_id long, slot int, event_type string, "
        "value double, lsn long, source_lsn long",
        verify_checksum=True,
    )
    decoded = decoded.drop("source_lsn").withColumnRenamed("lsn", "source_lsn")
    last = last_image_wins(decoded, ["user_id", "slot"], strategy="max_by")
    return last.filter(F.col("op") != "D").select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("source_lsn").alias("last_lsn"),
    )


def q_cdc_binlog_dir_tail(spark, sf_dir):
    """Streaming binlog-DIRECTORY tail (streaming/binlog_tail.py): the
    change feed is exported as binlog files in two drops (files 1-2, then
    3-4), and a Structured Streaming binaryFile tail drains the directory
    twice into a LakeTable — per-file parallel decode, content-addressed
    batch ids (a regrouped replay reapplies idempotently; an exact replay
    skips on the ledger), lsn = (file_no, end_log_pos). The reference's
    only ingress is a live socket (client/EventReader.java) — it cannot
    resume from archived files. Oracle = the plain relational replay, so
    the full loop (export framing → streaming discovery → distributed
    decode → exactly-once merge) is hash-gated."""
    from mysql_secure_agent_spark.functions.mysql_codecs import (
        DOUBLE, LONG, LONGLONG, VARCHAR, ColumnSpec,
    )
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.sinks.binlog_export import (
        write_binlog_changelog,
    )
    from mysql_secure_agent_spark.streaming.binlog_tail import (
        BinlogDirectoryTail,
    )

    cl = _events_changelog(spark, sf_dir).drop("ts").withColumn(
        "lsn", F.col("source_lsn")
    )
    specs = [
        ColumnSpec("user_id", LONGLONG),
        ColumnSpec("slot", LONG),
        ColumnSpec("event_type", VARCHAR, {"max_len": 20}),
        ColumnSpec("value", DOUBLE),
        ColumnSpec("lsn", LONGLONG),
    ]
    lo, hi = cl.agg(F.min("source_lsn"), F.max("source_lsn")).first()
    mid = (int(lo) + int(hi)) // 2
    base = tempfile.mkdtemp(prefix="binlog_tail_")
    logs = os.path.join(base, "logs")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("lsn", T.LongType(), True),
        ]
    )
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    tail = BinlogDirectoryTail(tbl, logs, "testdata", "events")
    ck = os.path.join(base, "ck")
    write_binlog_changelog(
        cl.filter(F.col("source_lsn") <= mid), logs, "testdata", "events",
        specs, n_files=2, base_file_no=1,
    )
    tail.run(spark, ck)
    write_binlog_changelog(
        cl.filter(F.col("source_lsn") > mid), logs, "testdata", "events",
        specs, n_files=2, base_file_no=3,
    )
    tail.run(spark, ck)
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("lsn").alias("last_lsn"),
    )


def q_cdc_truncate(spark, sf_dir):
    """TRUNCATE TABLE end-to-end: the change feed is re-encoded as wire
    packets with a ``TRUNCATE TABLE t`` QUERY event at the lsn midpoint;
    ``packets_to_changelog_and_ddl`` surfaces it as a structured DDL row,
    which drives ``LakeTable.truncate`` between the two merges — a
    metadata-only empty-live-set commit (no Spark job, no data IO; old
    versions keep serving time travel). MySQL logs TRUNCATE with NO row
    events, so the reference diverges silently: information_schema
    re-diff sees no schema change (Updater.java:62-86) and the QUERY event
    hits its discard branch (BinlogClient.java:191-195). Oracle = the
    relational replay restricted to post-truncate events, so both the
    wipe (pre rows gone, including keys never touched again) and the
    tail merge are hash-gated."""
    import struct as st

    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")
    mx = cl.agg(F.max("source_lsn")).first()[0]
    cutoff = int(mx) // 2

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS, QUERY_EVENT,
            TABLE_MAP_EVENT, packets_to_changelog_and_ddl,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        tmap_body = (
            (7).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(5) + bytes([0x08, 0x03, 0x0F, 0x05, 0x08])
            + packed(3) + (20).to_bytes(2, "little") + bytes([8])
            + bytes([0x1F])
        )

        def row_img(u, s, et, v, lsn) -> bytes:
            nulls, out = 0, b""
            out += int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if et is None or (isinstance(et, float) and pd.isna(et)):
                nulls |= 1 << 2
            else:
                b = str(et).encode()
                out += bytes([len(b)]) + b
            if v is None or pd.isna(v):
                nulls |= 1 << 3
            else:
                out += st.pack("<d", float(v))
            out += int(lsn).to_bytes(8, "little")
            return bytes([nulls]) + out

        def rows_body(imgs: list, n_images: int = 1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(5)
                + bytes([0x1F]) * n_images + b"".join(imgs)
            )

        def query_body(sql: str) -> bytes:
            return st.pack("<IIBHH", 0, 0, 1, 0, 0) + b"s\x00" + sql.encode()

        OPC = {"I": EXT_WRITE_ROWS, "D": EXT_DELETE_ROWS, "U": EXT_UPDATE_ROWS}
        cols = ["user_id", "slot", "event_type", "value", "lsn"]
        out_cols = ["kind", "op", "user_id", "slot", "event_type", "value",
                    "source_lsn"]
        for pdf in batches:
            pdf = pdf.sort_values("source_lsn")
            packets = [(TABLE_MAP_EVENT, tmap_body)]
            emitted_ddl = False
            for r in pdf.to_dict("records"):
                if r["source_lsn"] > cutoff and not emitted_ddl:
                    packets.append((QUERY_EVENT, query_body("TRUNCATE TABLE t")))
                    emitted_ddl = True
                img = row_img(r["user_id"], r["slot"], r["event_type"],
                              r["value"], r["source_lsn"])
                n = 2 if r["op"] == "U" else 1
                packets.append((OPC[r["op"]], rows_body([img] * n, n)))
            if not emitted_ddl:
                # all-pre partitions still announce the truncate position so
                # every partition's ddl frame agrees after distinct()
                packets.append((QUERY_EVENT, query_body("TRUNCATE TABLE t")))
            rows, ddl = packets_to_changelog_and_ddl(packets, "s", "t", cols)
            rows = rows[["op", "user_id", "slot", "event_type", "value", "lsn"]]
            rows = rows.rename(columns={"lsn": "source_lsn"})
            rows.insert(0, "kind", "row")
            recs = [
                {"kind": "ddl", "op": d["action"], "user_id": None,
                 "slot": None, "event_type": None, "value": None,
                 "source_lsn": cutoff}
                for d in ddl.to_dict("records")
            ]
            if recs:
                rows = pd.concat(
                    [rows, pd.DataFrame(recs, columns=out_cols)],
                    ignore_index=True,
                )
            yield rows[out_cols]

    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    decoded = _with_min_parallelism(cl).mapInPandas(
        rt,
        schema=("kind string, op string, user_id long, slot int, "
                "event_type string, value double, source_lsn long"),
    )
    ddl_acts = (
        decoded.filter(F.col("kind") == "ddl")
        .select("op", "source_lsn").distinct().collect()
    )
    assert [(d["op"], d["source_lsn"]) for d in ddl_acts] == [
        ("TRUNCATE", cutoff)
    ], ddl_acts

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_trunc_")
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    rows = decoded.filter(F.col("kind") == "row").drop("kind")
    tbl.merge(spark, rows.filter(F.col("source_lsn") <= F.lit(cutoff)), "0")
    tbl.truncate(batch_id="ddl-trunc", ddl_lsn=cutoff)
    tbl.merge(spark, rows.filter(F.col("source_lsn") > F.lit(cutoff)), "1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_xa_transactions(spark, sf_dir):
    """XA two-phase commit end-to-end (S8; XA_PREPARE_LOG_EVENT,
    EventType.java:195-199): the change feed is re-encoded as XA wire
    transactions of 16 rows (txn = source_lsn // 16) — QUERY "XA START",
    TABLE_MAP + rows, XA_PREPARE — with the terminal decision arriving
    LATER and OUT OF ORDER (all two-phase terminals are appended after
    every prepare, in reverse txn order). Disposition by txn % 5: 4 →
    XA ROLLBACK (rows must vanish), 3 → one-phase prepare (commits at the
    prepare event), else XA COMMIT. Decoding buffers at prepare and emits
    at the terminal; the reference keeps only EXT_*_ROWS
    (BinlogClient.java:191-195) and would apply rolled-back rows. Oracle =
    the relational replay EXCLUDING rolled-back transactions, so both the
    release path (committed rows present, correct lsn) and the discard
    path (rolled-back images absent from last-image-wins) are hash-gated.
    Partition-safe: a txn's rows may split across partitions, but the
    disposition is a pure function of txn id, so every fragment makes the
    same decision."""
    import struct as st

    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS, QUERY_EVENT,
            TABLE_MAP_EVENT, XA_PREPARE_EVENT, packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        tmap_body = (
            (7).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(5) + bytes([0x08, 0x03, 0x0F, 0x05, 0x08])
            + packed(3) + (20).to_bytes(2, "little") + bytes([8])
            + bytes([0x1F])
        )

        def row_img(u, s, et, v, lsn) -> bytes:
            nulls, out = 0, b""
            out += int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if et is None or (isinstance(et, float) and pd.isna(et)):
                nulls |= 1 << 2
            else:
                b = str(et).encode()
                out += bytes([len(b)]) + b
            if v is None or pd.isna(v):
                nulls |= 1 << 3
            else:
                out += st.pack("<d", float(v))
            out += int(lsn).to_bytes(8, "little")
            return bytes([nulls]) + out

        def rows_body(imgs: list, n_images: int = 1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(5)
                + bytes([0x1F]) * n_images + b"".join(imgs)
            )

        def query_body(sql: str) -> bytes:
            qb = sql.encode()
            return (
                st.pack("<IIBHH", 0, 0, 1, 0, 0) + b"s\x00" + qb
            )

        def xa_prepare_body(gtrid: bytes, one_phase: bool) -> bytes:
            return (
                bytes([1 if one_phase else 0]) + (1).to_bytes(4, "little")
                + len(gtrid).to_bytes(4, "little") + (0).to_bytes(4, "little")
                + gtrid
            )

        OPC = {"I": EXT_WRITE_ROWS, "D": EXT_DELETE_ROWS, "U": EXT_UPDATE_ROWS}
        cols = ["user_id", "slot", "event_type", "value", "lsn"]
        for pdf in batches:
            pdf = pdf.sort_values("source_lsn")
            packets, terminals = [], []
            for txn, grp in pdf.groupby(pdf["source_lsn"] // 16, sort=True):
                gtrid = str(int(txn)).encode()
                hexid = gtrid.hex()
                disp = int(txn) % 5
                packets.append(
                    (QUERY_EVENT, query_body(f"XA START X'{hexid}',X'',1"))
                )
                packets.append((TABLE_MAP_EVENT, tmap_body))
                for r in grp.to_dict("records"):
                    img = row_img(r["user_id"], r["slot"], r["event_type"],
                                  r["value"], r["source_lsn"])
                    n = 2 if r["op"] == "U" else 1
                    packets.append((OPC[r["op"]], rows_body([img] * n, n)))
                packets.append(
                    (XA_PREPARE_EVENT, xa_prepare_body(gtrid, disp == 3))
                )
                if disp == 4:
                    terminals.append(
                        (QUERY_EVENT,
                         query_body(f"XA ROLLBACK X'{hexid}',X'',1"))
                    )
                elif disp != 3:
                    terminals.append(
                        (QUERY_EVENT,
                         query_body(f"XA COMMIT X'{hexid}',X'',1"))
                    )
            packets.extend(reversed(terminals))  # out-of-order terminals
            df = packets_to_changelog(packets, "s", "t", cols)
            df = df[["op", "user_id", "slot", "event_type", "value", "lsn"]]
            yield df.rename(columns={"lsn": "source_lsn"})

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    decoded = _with_min_parallelism(cl).mapInPandas(
        rt,
        schema=("op string, user_id long, slot int, event_type string, "
                "value double, source_lsn long"),
    )
    last = last_image_wins(decoded, ["user_id", "slot"], strategy="max_by")
    return last.filter(F.col("op") != "D").select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("source_lsn").alias("last_lsn"),
    )


def q_cdc_partial_json(spark, sf_dir):
    """PARTIAL_UPDATE_ROWS_EVENT end-to-end (0x27,
    binlog_row_value_options=PARTIAL_JSON, WL#2955): each key's history is
    re-encoded as wire packets where the FIRST event writes a full JSON
    document ``{"t","v","cnt"[,"p"]}`` and every later event ships only a
    DIFF VECTOR — REPLACE $.t/$.v/$.cnt plus data-dependent INSERT/REPLACE
    of $.p on purchases and REMOVE $.p on clicks (the op choice depends on
    whether the member exists, so a wrong application order breaks it).
    The decoder (sources/binlog_packets.py) applies the diffs against the
    before-image via functions/json_patch.py and emits materialized
    documents; final state is last-image-wins and the answer columns are
    extracted from the JSON. Oracle computes every field in closed form —
    ``p`` present iff the last purchase outlives the last click, ``cnt`` =
    events per key — so one mis-applied diff anywhere in a key's chain
    breaks the hash. At 100 TB partial JSON is the difference between
    shipping a 1 MB document per small update and ~40 bytes; the reference
    predates the event type (discard branch, BinlogClient.java:191-195)."""
    import pandas as pd

    cl = _events_changelog(spark, sf_dir).drop("ts")

    def rt(batches):
        from mysql_secure_agent_spark.functions.json_binary import (
            encode_json_binary,
        )
        from mysql_secure_agent_spark.functions.json_patch import (
            DIFF_INSERT, DIFF_REMOVE, DIFF_REPLACE,
        )
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_WRITE_ROWS, PARTIAL_UPDATE_ROWS_EVENT, TABLE_MAP_EVENT,
            packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        TMAP = (
            (9).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(4) + bytes([0x08, 0x03, 0xF5, 0x08])
            + packed(1) + bytes([4])  # JSON pack length
            + bytes([0x0F])
        )

        def keycols(u, s, lsn_tail=None) -> bytes:
            out = int(u).to_bytes(8, "little", signed=True)
            out += int(s).to_bytes(4, "little", signed=True)
            if lsn_tail is not None:
                return out, int(lsn_tail).to_bytes(8, "little")
            return out

        def full_img(u, s, doc, lsn) -> bytes:
            jb = encode_json_binary(doc)
            head, tail = keycols(u, s, lsn)
            return (
                bytes([0]) + head + len(jb).to_bytes(4, "little") + jb + tail
            )

        def diff_bytes(op, path, value=None) -> bytes:
            out = bytes([op]) + packed(len(path)) + path.encode()
            if op != DIFF_REMOVE:
                vb = encode_json_binary(value)
                out += packed(len(vb)) + vb
            return out

        def partial_img(u, s, diffs, lsn) -> bytes:
            head, tail = keycols(u, s, lsn)
            return (
                packed(1) + b"\x01"  # value_options PARTIAL_JSON + bitmap
                + bytes([0]) + head
                + len(diffs).to_bytes(4, "little") + diffs + tail
            )

        def write_ev(img) -> bytes:
            return (
                (9).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(4) + bytes([0x0F]) + img
            )

        def update_ev(before, after) -> bytes:
            return (
                (9).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(4)
                + bytes([0x0F, 0x0F]) + before + after
            )

        for pdf in batches:
            pdf = pdf.sort_values("source_lsn")
            packets = [(TABLE_MAP_EVENT, TMAP)]
            docs: dict[tuple, dict] = {}
            for r in pdf.to_dict("records"):
                key = (r["user_id"], r["slot"])
                et = r["event_type"]
                v = None if pd.isna(r["value"]) else float(r["value"])
                lsn = r["source_lsn"]
                if key not in docs:
                    doc = {"t": et, "v": v, "cnt": 1}
                    if et == "purchase":
                        doc["p"] = 1
                    docs[key] = doc
                    packets.append(
                        (EXT_WRITE_ROWS, write_ev(full_img(*key, doc, lsn)))
                    )
                    continue
                doc = docs[key]
                diffs = (
                    diff_bytes(DIFF_REPLACE, "$.t", et)
                    + diff_bytes(DIFF_REPLACE, "$.v", v)
                    + diff_bytes(DIFF_REPLACE, "$.cnt", doc["cnt"] + 1)
                )
                if et == "purchase":
                    op = DIFF_REPLACE if "p" in doc else DIFF_INSERT
                    diffs += diff_bytes(op, "$.p", 1)
                elif et == "click" and "p" in doc:
                    diffs += diff_bytes(DIFF_REMOVE, "$.p")
                before = full_img(*key, doc, lsn)
                doc.update(t=et, v=v, cnt=doc["cnt"] + 1)
                if et == "purchase":
                    doc["p"] = 1
                elif et == "click":
                    doc.pop("p", None)
                packets.append((
                    PARTIAL_UPDATE_ROWS_EVENT,
                    update_ev(before, partial_img(*key, diffs, lsn)),
                ))
            out = packets_to_changelog(
                packets, "s", "t", ["user_id", "slot", "doc", "lsn"]
            )
            yield out[["op", "user_id", "slot", "doc", "lsn"]].rename(
                columns={"lsn": "source_lsn"}
            )

    decoded = cl.repartition(16, "user_id", "slot").mapInPandas(
        rt,
        schema=("op string, user_id long, slot int, doc string, "
                "source_lsn long"),
    )
    last = last_image_wins(decoded, ["user_id", "slot"], strategy="max_by")
    return last.select(
        "user_id",
        "slot",
        F.get_json_object("doc", "$.t").alias("last_event_type"),
        F.get_json_object("doc", "$.v").cast("double").alias("last_value"),
        F.get_json_object("doc", "$.cnt").cast("int").alias("n_events"),
        F.get_json_object("doc", "$.p").cast("int").alias("p_flag"),
    )


def q_cdc_partial_json_minimal(spark, sf_dir):
    """PARTIAL_JSON under binlog_row_image=MINIMAL — the hard mode: the
    before-image carries only the PK, so diffs CANNOT be materialized at
    decode time. The decoder emits them as a ``doc_patch`` changelog column
    (packets_to_changelog(emit_presence=True)) and ``merge_partial``
    composes them per key in lsn order (collect_list+sort_array+filter —
    aggregates, not windows) and applies them against the TABLE's current
    image in one Arrow-batched UDF at resolve time. The feed is split into
    TWO micro-batches at the lsn midpoint, so the second batch's diff
    chains apply against batch 1's MERGED base — the cross-batch contract.
    Same closed-form oracle as cdc_partial_json; the reference predates the
    event type (discard branch, BinlogClient.java:191-195)."""
    import pandas as pd

    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir).drop("ts")
    mx = cl.agg(F.max("source_lsn")).first()[0]
    cutoff = int(mx) // 2

    def rt(batches):
        from mysql_secure_agent_spark.functions.json_binary import (
            encode_json_binary,
        )
        from mysql_secure_agent_spark.functions.json_patch import (
            DIFF_INSERT, DIFF_REMOVE, DIFF_REPLACE,
        )
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_WRITE_ROWS, PARTIAL_UPDATE_ROWS_EVENT, TABLE_MAP_EVENT,
            packets_to_changelog,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        TMAP = (
            (9).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + packed(4) + bytes([0x08, 0x03, 0xF5, 0x08])
            + packed(1) + bytes([4])
            + bytes([0x0F])
        )

        def key_bytes(u, s) -> bytes:
            return (int(u).to_bytes(8, "little", signed=True)
                    + int(s).to_bytes(4, "little", signed=True))

        def full_img(u, s, doc, lsn) -> bytes:
            jb = encode_json_binary(doc)
            return (bytes([0]) + key_bytes(u, s)
                    + len(jb).to_bytes(4, "little") + jb
                    + int(lsn).to_bytes(8, "little"))

        def diff_bytes(op, path, value=None) -> bytes:
            out = bytes([op]) + packed(len(path)) + path.encode()
            if op != DIFF_REMOVE:
                vb = encode_json_binary(value)
                out += packed(len(vb)) + vb
            return out

        def write_ev(img) -> bytes:
            return ((9).to_bytes(6, "little") + b"\x00\x00"
                    + (2).to_bytes(2, "little") + packed(4)
                    + bytes([0x0F]) + img)

        def min_update_ev(u, s, diffs, lsn) -> bytes:
            # MINIMAL: before image = PK only (bitmap 0x03); after image =
            # all columns, the JSON one as a diff vector
            before = bytes([0]) + key_bytes(u, s)
            after = (
                packed(1) + b"\x01"  # value_options + partial bitmap
                + bytes([0]) + key_bytes(u, s)
                + len(diffs).to_bytes(4, "little") + diffs
                + int(lsn).to_bytes(8, "little")
            )
            return ((9).to_bytes(6, "little") + b"\x00\x00"
                    + (2).to_bytes(2, "little") + packed(4)
                    + bytes([0x03]) + bytes([0x0F]) + before + after)

        OUT_COLS = ["op", "user_id", "slot", "doc", "doc_patch",
                    "source_lsn", "_present"]
        for pdf in batches:
            pdf = pdf.sort_values("source_lsn")
            packets = [(TABLE_MAP_EVENT, TMAP)]
            state: dict[tuple, dict] = {}  # key → {cnt, has_p}
            for r in pdf.to_dict("records"):
                key = (r["user_id"], r["slot"])
                et = r["event_type"]
                v = None if pd.isna(r["value"]) else float(r["value"])
                lsn = r["source_lsn"]
                if key not in state:
                    doc = {"t": et, "v": v, "cnt": 1}
                    if et == "purchase":
                        doc["p"] = 1
                    state[key] = {"cnt": 1, "has_p": et == "purchase"}
                    packets.append(
                        (EXT_WRITE_ROWS, write_ev(full_img(*key, doc, lsn)))
                    )
                    continue
                st = state[key]
                st["cnt"] += 1
                diffs = (
                    diff_bytes(DIFF_REPLACE, "$.t", et)
                    + diff_bytes(DIFF_REPLACE, "$.v", v)
                    + diff_bytes(DIFF_REPLACE, "$.cnt", st["cnt"])
                )
                if et == "purchase":
                    op = DIFF_REPLACE if st["has_p"] else DIFF_INSERT
                    diffs += diff_bytes(op, "$.p", 1)
                    st["has_p"] = True
                elif et == "click" and st["has_p"]:
                    diffs += diff_bytes(DIFF_REMOVE, "$.p")
                    st["has_p"] = False
                packets.append((
                    PARTIAL_UPDATE_ROWS_EVENT,
                    min_update_ev(*key, diffs, lsn),
                ))
            out = packets_to_changelog(
                packets, "s", "t", ["user_id", "slot", "doc", "lsn"],
                emit_presence=True,
            ).rename(columns={"source_lsn": "_pkt", "lsn": "source_lsn"})
            if "doc_patch" not in out.columns:
                out["doc_patch"] = None
            yield out[OUT_COLS]

    decoded = cl.repartition(16, "user_id", "slot").mapInPandas(
        rt,
        schema=("op string, user_id long, slot int, doc string, "
                "doc_patch string, source_lsn long, "
                "_present array<string>"),
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("doc", T.StringType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_pjm_")
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    tbl.merge_partial(spark, decoded.filter(F.col("source_lsn") <= cutoff), "0")
    tbl.merge_partial(spark, decoded.filter(F.col("source_lsn") > cutoff), "1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.get_json_object("doc", "$.t").alias("last_event_type"),
        F.get_json_object("doc", "$.v").cast("double").alias("last_value"),
        F.get_json_object("doc", "$.cnt").cast("int").alias("n_events"),
        F.get_json_object("doc", "$.p").cast("int").alias("p_flag"),
    )


def q_cdc_wire_ddl(spark, sf_dir):
    """WIRE-NATIVE DDL end-to-end (sources/ddl_parse.py): MySQL ships DDL
    only as SQL text inside QUERY_EVENT — there is no structured DDL event.
    The change feed is re-encoded as binlog packet streams (one per
    partition): the pre-cutoff half under a 5-column TABLE_MAP, then a
    QUERY event carrying ``ALTER TABLE t ADD COLUMN note INT AFTER slot``,
    then the post-cutoff half under the NEW 6-column TABLE_MAP — the added
    column sits mid-row (AFTER placement), so a decoder that doesn't apply
    the parsed DDL to its working column list misattributes every value to
    its right. ``packets_to_changelog_and_ddl`` returns rows + the
    structured DDL, which then drives the lake's schema evolution between
    the two merges (the pipeline's ddl_hwm ordering). The reference never
    parses DDL — it re-diffs information_schema per sync cycle
    (TableDefinitions.java, Updater.java:62-86) and can miss intermediate
    states; the oracle is the relational replay with the note column
    derived in closed form."""
    import struct as st

    import pandas as pd

    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    cl = _events_changelog(spark, sf_dir).drop("ts")
    mx = cl.agg(F.max("source_lsn")).first()[0]
    cutoff = int(mx) // 2

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_DELETE_ROWS, EXT_UPDATE_ROWS, EXT_WRITE_ROWS, QUERY_EVENT,
            TABLE_MAP_EVENT, packets_to_changelog_and_ddl,
        )

        from mysql_secure_agent_spark.sources.binlog_packets import (
            _packed_int_bytes as packed,
        )

        # column wire specs: (type_code, metadata, packer)
        def p_i64(v):
            return int(v).to_bytes(8, "little", signed=True)

        def p_i32(v):
            return int(v).to_bytes(4, "little", signed=True)

        def p_str(v):
            b = str(v).encode()
            return bytes([len(b)]) + b

        def p_f64(v):
            return st.pack("<d", float(v))

        PRE = [  # (wire type, metadata bytes, packer)
            (0x08, b"", p_i64),                      # user_id LONGLONG
            (0x03, b"", p_i32),                      # slot LONG
            (0x0F, (20).to_bytes(2, "little"), p_str),  # event_type VARCHAR(20)
            (0x05, bytes([8]), p_f64),               # value DOUBLE
            (0x08, b"", p_i64),                      # lsn LONGLONG
        ]
        POST = PRE[:2] + [(0x03, b"", p_i32)] + PRE[2:]  # note AFTER slot

        def tmap(specs) -> bytes:
            body = (7).to_bytes(6, "little") + b"\x00\x00"
            body += bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            body += packed(len(specs)) + bytes([t for t, _, _ in specs])
            meta = b"".join(m for _, m, _ in specs)
            body += packed(len(meta)) + meta
            body += bytes([0xFF])  # nullability bitset (unused by decode)
            return body

        def img(specs, vals) -> bytes:
            nulls, out = 0, b""
            for i, ((_, _, pack), v) in enumerate(zip(specs, vals)):
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    nulls |= 1 << i
                else:
                    out += pack(v)
            return bytes([nulls]) + out

        def rows_ev(specs, imgs, n_images=1) -> bytes:
            return (
                (7).to_bytes(6, "little") + b"\x00\x00"
                + (2).to_bytes(2, "little") + packed(len(specs))
                + bytes([(1 << len(specs)) - 1]) * n_images
                + b"".join(imgs)
            )

        def query_body(sql: str) -> bytes:
            qb = sql.encode()
            return (
                (1).to_bytes(4, "little") + (0).to_bytes(4, "little")
                + bytes([1]) + (0).to_bytes(2, "little")
                + (0).to_bytes(2, "little") + b"s\x00" + qb
            )

        OPC = {"I": EXT_WRITE_ROWS, "D": EXT_DELETE_ROWS, "U": EXT_UPDATE_ROWS}
        ROW_COLS = ["op", "user_id", "slot", "note", "event_type", "value",
                    "lsn"]
        for pdf in batches:
            pdf = pdf.sort_values("source_lsn")
            packets = []
            for r in pdf.to_dict("records"):
                post = r["source_lsn"] > cutoff
                if post and not any(tc == QUERY_EVENT for tc, _ in packets):
                    packets.append((QUERY_EVENT, query_body(
                        "ALTER TABLE t ADD COLUMN note INT AFTER slot")))
                    packets.append((TABLE_MAP_EVENT, tmap(POST)))
                elif not packets:
                    packets.append((TABLE_MAP_EVENT, tmap(PRE)))
                if post:
                    vals = [r["user_id"], r["slot"], r["slot"] * 7 + 1,
                            r["event_type"], r["value"], r["source_lsn"]]
                    specs = POST
                else:
                    vals = [r["user_id"], r["slot"], r["event_type"],
                            r["value"], r["source_lsn"]]
                    specs = PRE
                n = 2 if r["op"] == "U" else 1
                packets.append((OPC[r["op"]], rows_ev(
                    specs, [img(specs, vals)] * n, n_images=n)))
            if pdf.empty:
                # all-post partitions still need the DDL-bearing stream head
                packets = [(QUERY_EVENT, query_body(
                    "ALTER TABLE t ADD COLUMN note INT AFTER slot"))]
            rows, ddl = packets_to_changelog_and_ddl(
                packets, "s", "t",
                ["user_id", "slot", "event_type", "value", "lsn"],
            )
            out = pd.DataFrame(
                {c: rows[c] if c in rows.columns else None for c in ROW_COLS}
            )
            out["kind"] = "row"
            out["ddl_type"] = None
            recs = [
                {
                    "kind": "ddl", "op": d["action"],
                    "event_type": d["column_name"],
                    # column_type rides in a string col; lsn pinned to cutoff
                    "value": None, "user_id": None, "slot": None,
                    "note": None, "lsn": cutoff,
                    "ddl_type": d["column_type"],
                }
                for d in ddl.to_dict("records")
            ]
            cols_out = ["kind"] + ROW_COLS + ["ddl_type"]
            if recs:
                ddl_pdf = pd.DataFrame(recs, columns=cols_out)
                if out.empty:
                    out = ddl_pdf
                else:
                    import warnings

                    with warnings.catch_warnings():
                        # all-NA cols (pre-DDL note) trip a dtype-inference
                        # FutureWarning; the Arrow cast fixes dtypes anyway
                        warnings.simplefilter("ignore", FutureWarning)
                        out = pd.concat([out[cols_out], ddl_pdf],
                                        ignore_index=True)
            yield out[cols_out].rename(columns={"lsn": "source_lsn"})

    decoded = _with_min_parallelism(cl).mapInPandas(
        rt,
        schema=("kind string, op string, user_id long, slot int, note int, "
                "event_type string, value double, source_lsn long, "
                "ddl_type string"),
    )
    ddl_acts = (
        decoded.filter(F.col("kind") == "ddl")
        .select("op", "event_type", "ddl_type", "source_lsn")
        .distinct()
        .collect()
    )
    assert [(d["op"], d["event_type"], d["ddl_type"]) for d in ddl_acts] == [
        ("ADD_COLUMN", "note", "int")
    ], ddl_acts

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_wddl_")
    tbl = LakeTable.create(
        os.path.join(base, "t"), schema, ["user_id", "slot"], n_buckets=8
    )
    rows = decoded.filter(F.col("kind") == "row").drop("kind", "ddl_type")
    tbl.merge(spark, rows.filter(F.col("source_lsn") <= F.lit(cutoff)), "0")
    d = ddl_acts[0]
    tbl.add_column(d["event_type"], d["ddl_type"], spark=spark,
                   ddl_lsn=int(d["source_lsn"]))
    tbl.merge(spark, rows.filter(F.col("source_lsn") > F.lit(cutoff)), "1")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        "note",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_table_map_meta(spark, sf_dir):
    """S8 TABLE_MAP optional metadata (binlog_row_metadata=FULL, WL#4618):
    per event a TABLE_MAP body with a TLV tail — SIGNEDNESS, DEFAULT_CHARSET,
    COLUMN_NAME, SIMPLE_PRIMARY_KEY, COLUMN_VISIBILITY — is synthesized and
    decoded back through parse_table_map (sources/binlog_packets.py), then a
    rows event for that table proves signedness DRIVES the integer decode
    (0xFF as 255 vs -1). The reference never reads these fields — it re-polls
    information_schema (Updater.java:188-217); decoding them makes the engine
    self-configuring from the wire alone. Oracle states every field in
    closed form."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")

    def rt(batches):
        from mysql_secure_agent_spark.sources.binlog_packets import (
            EXT_WRITE_ROWS, TABLE_MAP_EVENT, parse_event_body,
        )

        def p(v):  # length-encoded int (values here stay < 251)
            return bytes([v])

        def tlv(t, val):
            return bytes([t]) + p(len(val)) + val

        base = (
            (9).to_bytes(6, "little") + b"\x00\x00"
            + bytes([1]) + b"s\x00" + bytes([1]) + b"t\x00"
            + bytes([3]) + bytes([0x01, 0x03, 0x0F])
            + p(2) + (20).to_bytes(2, "little")
            + bytes([0x07])
        )
        row = bytes([0x00]) + b"\xff" + b"\xfe\xff\xff\xff" + bytes([3]) + b"abc"
        rows_body = (
            (9).to_bytes(6, "little") + b"\x00\x00"
            + (2).to_bytes(2, "little") + bytes([3]) + bytes([0x07]) + row
        )
        cols = {
            "tiny_signed": [], "long_signed": [], "vname": [], "charset": [],
            "pk_csv": [], "txt_visible": [], "tiny_val": [], "long_val": [],
        }
        for pdf in batches:
            for k in cols:
                cols[k].clear()
            for uid, eid in zip(pdf["user_id"], pdf["event_id"]):
                uid, eid = int(uid), int(eid)
                sign_bits = (0x80 if eid % 2 else 0) | (0x40 if eid % 3 == 0 else 0)
                names = b""
                for nm in ("id", f"v{uid % 10}", "txt"):
                    names += p(len(nm)) + nm.encode()
                body = base
                body += tlv(1, bytes([sign_bits]))
                body += tlv(2, p(45 + uid % 5))
                body += tlv(4, names)
                body += tlv(8, p(0) if eid % 2 else p(0) + p(1))
                body += tlv(12, bytes([0b11000000 if eid % 5 == 0 else 0b11100000]))
                maps = {}
                parse_event_body(body, TABLE_MAP_EVENT, maps)
                tm = maps[9]
                rows = parse_event_body(rows_body, EXT_WRITE_ROWS, maps)
                cols["tiny_signed"].append(tm.signedness[0])
                cols["long_signed"].append(tm.signedness[1])
                cols["vname"].append(tm.column_names[1])
                cols["charset"].append(tm.charsets[2])
                cols["pk_csv"].append(",".join(map(str, tm.primary_key)))
                cols["txt_visible"].append(tm.visibility[2])
                cols["tiny_val"].append(rows.new_rows[0][0])
                cols["long_val"].append(rows.new_rows[0][1])
            yield pd.DataFrame({"event_id": pdf["event_id"].values, **cols})

    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    return _with_min_parallelism(ev).mapInPandas(
        rt,
        schema=(
            "event_id long, tiny_signed boolean, long_signed boolean, "
            "vname string, charset int, pk_csv string, txt_visible boolean, "
            "tiny_val long, long_val long"
        ),
    )


def q_cdc_decode_types(spark, sf_dir):
    """S9 type-codec surface end-to-end: typed values derived from events are
    ENCODED into MySQL-binlog-layout row images (packed-BCD decimal, bit-packed
    date/datetime2/time2, enum ordinal, set bitmask, BIT, INT24, IEEE double,
    length-prefixed blob — functions/mysql_codecs.py, layouts per
    RowParser.java:171-457) and DECODED back columnar inside mapInPandas.
    The oracle computes the same typed values directly — any codec bug breaks
    the value hash on 10k rows of mixed signs/nulls."""
    import datetime as _dt

    import pandas as pd
    from mysql_secure_agent_spark.functions.mysql_codecs import (
        BIT, BLOB, DATE, DATETIME, DATETIME_V2, DOUBLE, ENUM, GEOMETRY,
        INT24, NEWDECIMAL, SET, TIME, TIME_V2, TIMESTAMP, VECTOR, YEAR,
        ColumnSpec, decode_typed_block, encode_typed_rows, wkb_linestring,
        wkb_multi, wkb_point, wkb_polygon,
    )

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    amt_str = F.concat(
        F.when(eid % 3 == 0, F.lit("-")).otherwise(F.lit("")),
        (eid % 100000).cast("string"),
        F.lit("."),
        F.lpad((eid % 10000).cast("string"), 4, "0"),
    )
    base = ev.select(
        "event_id",
        F.when(eid % 11 != 0, amt_str.cast("decimal(18,4)")).alias("amt"),
        F.when(
            eid % 13 != 0,
            F.date_add(F.to_date(F.lit("2020-01-01")), (eid % 3000).cast("int")),
        ).alias("d"),
        F.col("ts").alias("dt"),
        F.when(eid % 17 != 0, eid % 86400).alias("secs"),
        (eid % 16777216 - 8388608).alias("i24"),
        F.concat(F.lit("e"), (eid % 5).cast("string")).alias("en"),
        (eid % 16).alias("setmask"),
        (eid % 1048576).alias("bit20"),
        (F.lit(1901) + eid % 150).alias("yr"),
        F.col("value").alias("dbl"),
        F.when(eid % 19 != 0, F.col("props")).alias("bl"),
    )
    codec_schema = [
        ColumnSpec("amt", NEWDECIMAL, {"precision": 18, "scale": 4}),
        ColumnSpec("d", DATE),
        ColumnSpec("dt", DATETIME_V2, {"fsp": 6}),
        ColumnSpec("tm", TIME_V2, {"fsp": 0}),
        ColumnSpec("i24", INT24),
        ColumnSpec("en", ENUM, {"labels": ["e0", "e1", "e2", "e3", "e4"]}),
        ColumnSpec("st", SET, {"labels": ["a", "b", "c", "d"]}),
        ColumnSpec("bit20", BIT, {"bits": 20}),
        ColumnSpec("yr", YEAR),
        ColumnSpec("dbl", DOUBLE),
        ColumnSpec("bl", BLOB, {"len_bytes": 4}),
        # signed TIME_V2 (full ±838h domain, biased fixed-point) + the
        # legacy pre-5.6 trio (RowParser.java:234-244, 270-279, 296-313)
        ColumnSpec("tneg", TIME_V2, {"fsp": 6}),
        ColumnSpec("ltm", TIME),
        ColumnSpec("lts", TIMESTAMP),
        ColumnSpec("ldt", DATETIME),
        # GEOMETRY: SRID+WKB → WKT — the reference THROWS here
        # (RowParser.java:165-166); decoding exceeds it
        ColumnSpec("geo", GEOMETRY, {"len_bytes": 4}),
        # MySQL 9.0 VECTOR (embedding CDC): blob-framed packed LE float32s;
        # values chosen exact in float32 so the ×4 integer rendering below
        # is lossless on both sides of the oracle compare
        ColumnSpec("vec", VECTOR),
    ]
    set_labels = ["a", "b", "c", "d"]

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                secs = r["secs"]
                eid = int(r["event_id"])
                tneg_sign = "-" if eid % 7 == 0 else ""
                ltm_sign = "-" if eid % 5 == 0 else ""
                rows.append(
                    {
                        "tneg": (
                            f"{tneg_sign}{eid % 839:02d}:{eid % 59 + 1:02d}"
                            f":{eid // 7 % 60:02d}.{eid * 137 % 1000000:06d}"
                        ),
                        "ltm": (
                            f"{ltm_sign}{eid % 300:02d}:{eid % 59 + 1:02d}"
                            f":{eid // 3 % 60:02d}"
                        ),
                        "lts": eid * 97 % 2000000000,
                        "ldt": pd.Timestamp(r["dt"]).floor("s").to_pydatetime(),
                        "amt": r["amt"],
                        "d": r["d"],
                        "dt": r["dt"],
                        "tm": None
                        if secs is None or pd.isna(secs)
                        else _dt.time(int(secs) // 3600, int(secs) % 3600 // 60, int(secs) % 60),
                        "i24": r["i24"],
                        "en": r["en"],
                        "st": [l for k, l in enumerate(set_labels) if (r["setmask"] >> k) & 1],
                        "bit20": r["bit20"],
                        "yr": r["yr"],
                        "dbl": r["dbl"],
                        "bl": None if r["bl"] is None else r["bl"].encode(),
                        "geo": (
                            None
                            if eid % 23 == 0
                            else (
                                0,
                                wkb_polygon([[
                                    (eid % 100, eid % 50 - 25),
                                    (eid % 100 + 2, eid % 50 - 25),
                                    (eid % 100 + 2, eid % 50 - 23),
                                    (eid % 100, eid % 50 - 25),
                                ]]),
                            )
                            if eid % 6 == 3
                            else (
                                0,
                                wkb_multi(4, [
                                    wkb_point(eid % 100, eid % 50 - 25),
                                    wkb_point(eid % 100 + 1, eid % 50 - 24),
                                ]),
                            )
                            if eid % 6 == 5
                            else (0, wkb_point(eid % 100, eid % 50 - 25))
                            if eid % 2 == 0
                            else (
                                0,
                                wkb_linestring(
                                    [
                                        (eid % 100, eid % 50 - 25),
                                        (eid % 100 + 1, eid % 50 - 24),
                                    ]
                                ),
                            )
                        ),
                        "vec": (
                            None
                            if eid % 29 == 0
                            else [
                                float(eid % 7),
                                (eid % 13) * 0.25,
                                -(eid % 5) * 0.5,
                            ]
                        ),
                    }
                )
            payload = encode_typed_rows(codec_schema, rows)
            dec = decode_typed_block(codec_schema, payload)
            dec["d"] = pd.Series(
                [None if pd.isna(x) else x.date() for x in dec["d"]], dtype=object
            )
            # legacy timestamp/datetime → wall-clock strings (TZ-independent
            # compare; str(pd.Timestamp) omits micros when zero, matching the
            # oracle's VARCHAR cast)
            for c in ("lts", "ldt"):
                dec[c] = pd.Series(
                    [None if pd.isna(x) else str(x) for x in dec[c]], dtype=object
                )
            # float32 vector → lossless integer CSV (×4) for the oracle hash
            dec["vec"] = pd.Series(
                [
                    None
                    if v is None
                    else ",".join(str(int(round(float(x) * 4))) for x in v)
                    for v in dec["vec"]
                ],
                dtype=object,
            )
            dec["event_id"] = pdf["event_id"].values
            yield dec[["event_id"] + [c.name for c in codec_schema]]

    out_schema = (
        "event_id long, amt decimal(18,4), d date, dt timestamp, tm string, "
        "i24 long, en string, st string, bit20 long, yr long, dbl double, bl binary, "
        "tneg string, ltm string, lts string, ldt string, geo string, vec string"
    )
    # the test-side per-row ENCODER dominates this query's cost; the 2 MB
    # single-file scan gives mapInPandas one partition, serializing it onto
    # one core (17 s) — the floor spreads it across the cluster (engine-side
    # decode is columnar numpy either way)
    from mysql_secure_agent_spark.operators.text_dedup import _with_min_parallelism

    decoded = _with_min_parallelism(base).mapInPandas(roundtrip, schema=out_schema)
    return decoded.select(
        "event_id",
        F.col("amt").cast("string").alias("amt"),
        F.col("d").cast("string").alias("d"),
        "dt",
        "tm",
        "i24",
        "en",
        "st",
        "bit20",
        "yr",
        "dbl",
        F.col("bl").cast("string").alias("bl"),
        "tneg",
        "ltm",
        "lts",
        "ldt",
        "geo",
        "vec",
    )


def q_cdc_hash_anonymize(spark, sf_dir):
    """P4 (portable variant): salt-PREPENDED digest of props. The engine's
    SHA-1+Base64 (reference-exact) lives in functions/anonymize.py with golden
    vectors; this query uses SHA-256 because the oracle dialect lacks sha1."""
    ev = _t(spark, sf_dir, "events")
    pre = F.concat(F.lit(SALT), F.col("props"))
    return ev.select(
        "event_id",
        F.sha2(pre, 256).alias("props_sha256"),
        F.base64(F.unhex(F.sha2(pre, 256))).alias("props_digest_b64"),
    )


def q_cdc_config_projection(spark, sf_dir):
    """P1/P2: config-driven column selection + column hashing on customer."""
    from mysql_secure_agent_spark.config import Config

    cfg = Config.from_json(
        '{"crypto_salt": "s3", "schemas": {"main": {"tables": {"customer": {'
        '"select_other_columns": true, "columns": {'
        '"c_name": {"hash": true}, "c_acctbal": {"selected": false}}}}}}}'
    )
    df = _t(spark, sf_dir, "customer")
    tc = cfg.table_config("main", "customer")
    cols = tc.selected_columns(df.columns)
    out = df.select(*cols)
    for c in tc.hashed_columns(cols):
        out = out.withColumn(c, F.sha2(F.concat(F.lit(cfg.crypto_salt), F.col(c)), 256))
    return out


def q_json_extract_props(spark, sf_dir):
    """S10 analog: JSON payload path access (the reference's 988-LoC binary
    JSON decoder exists to produce JSON text; here payloads are JSON text
    already, accessed via codegen'd get_json_object — no Python)."""
    from mysql_secure_agent_spark.functions.json_payload import json_get_typed

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        json_get_typed("props", "$.k", "int").alias("k"),
    ).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_event"),
    )


def q_cdc_batch_metrics(spark, sf_dir):
    """A4/K3: per-micro-batch lineage rows — batch = 1000-event page."""
    cl = _events_changelog(spark, sf_dir)
    return (
        cl.groupBy(F.expr("source_lsn DIV 1000").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("op") != "D", 1)).alias("upserts"),
            F.count(F.when(F.col("op") == "D", 1)).alias("deletes"),
            F.min("source_lsn").alias("lsn_min"),
            F.max("source_lsn").alias("lsn_max"),
        )
    )


def q_cdc_table_definitions(spark, sf_dir):
    """S4 metadata scan: the info-schema analog over a LakeTable catalog —
    one row per (table, column) with ordinal, type, key flag, schema version
    (TableDefinitions.get() shape, source/TableDefinitions.java:22-38).
    Deterministic: two tables created fresh, one with a post-create
    ADD COLUMN (version bump)."""
    from mysql_secure_agent_spark.catalog import table_definitions
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA

    root = os.path.join(tempfile.mkdtemp(prefix="cat_"), "lakehouse")
    os.makedirs(root)
    LakeTable.create(
        os.path.join(root, "transcripts"), TRANSCRIPT_SCHEMA, PRIMARY_KEY, n_buckets=16
    )
    accounts = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    t2 = LakeTable.create(
        os.path.join(root, "accounts"), accounts, ["user_id", "slot"], n_buckets=8
    )
    t2.add_column("note", "string")
    return table_definitions(spark, root)


def q_cdc_schema_first_seen(spark, sf_dir):
    """A1: schema-event dedup analog — first occurrence per definition key."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.min("event_id").alias("first_seen"), F.count(F.lit(1)).alias("n")
    )


def q_cdc_snapshot_order(spark, sf_dir):
    """O1/O2: snapshot page ordered by composite PK with LIMIT."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("user_id", "event_id", "event_type", "value").orderBy(
        "user_id", "event_id"
    ).limit(500)


# ======================================================== relational fragments
def q_agg_distinct_hll(spark, sf_dir):
    """Mergeable HyperLogLog distinct-count (operators/sketches.py): per
    event_type, approx distinct users computed as per-shard register
    sketches MERGED by element-wise max, then estimated — the incremental
    "distinct users per segment" a 10^10-event table cannot afford to
    count(distinct) from scratch, alongside the exact count for
    reference. The whole sketch is Catalyst (two-level partial agg, the
    shuffle carries ≤ m rows per group per map partition); ρ uses
    length(bin(w)) so the register table is integer-exact and the full
    estimator — α, Σ2^-ρ (dyadic, exact in double), linear-counting
    branch — reproduces bit-for-bit in DuckDB: a genuinely oracle-gated
    approximate operator."""
    from mysql_secure_agent_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sharded = hll_registers(
        ev.withColumn("shard", (F.col("user_id") % 4).cast("int")),
        ["event_type", "shard"],
        "user_id",
        p=12,
    )
    merged = hll_merge(sharded.drop("shard"), ["event_type"])
    est = hll_estimate(merged, ["event_type"], p=12)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("approx").alias("approx_users"),
        "exact_users",
    )


def q_topk_heavy_hitters_cms(spark, sf_dir):
    """Count-min heavy hitters (operators/sketches.py cms_*): a d=4 ×
    w=1024 counter sketch built per shard and MERGED by counter sum (the
    lossless CMS union), then point-queried for the exact top-10 users —
    the O(d·w)-space incremental answer to "who is hot" that a 10^10-event
    stream cannot re-count. Counts are integers, so the oracle checks the
    ESTIMATES themselves (one-sided: cms_n ≥ exact_n), not just inputs:
    hash salting, counter sums, the shard merge, and the min-fold all
    reproduce exactly in DuckDB via the portable md5 hash."""
    from mysql_secure_agent_spark.operators.sketches import (
        cms_estimate,
        cms_merge,
        cms_rows,
    )
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id")
    sharded = cms_rows(
        ev.withColumn("shard", (F.col("user_id") % 4).cast("int")),
        ["shard"],
        "user_id",
    )
    cms = cms_merge(sharded.drop("shard"), [])
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = (
        exact.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("exact_n").desc(), F.col("user_id"))
            ),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    return cms_estimate(cms, [], top, "user_id").select(
        "user_id", "exact_n", "cms_n"
    )


def q_agg_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch (operators/sketches.py histogram_*): per
    event_type, p50/p95/p99 of value from a 200-bin equi-width histogram —
    the incremental percentile view a 10^10-event table cannot re-sort
    for. One groupBy-sum with map-side combine (≤ bins rows per group per
    map partition on the wire), merge = counter sum, quantile fold =
    O(bins) window over the sketch, never the data. Binning and
    interpolation use only IEEE basic ops, so the ESTIMATES reproduce
    bit-for-bit in DuckDB — error bounded by one bin width by
    construction, not by luck."""
    from mysql_secure_agent_spark.operators.sketches import (
        histogram_quantiles,
        histogram_rows,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    lo, hi = float(lo), float(hi)
    rows = histogram_rows(ev, ["event_type"], "value", lo, hi, bins=200)
    return histogram_quantiles(
        rows, ["event_type"], [0.5, 0.95, 0.99], lo, hi, bins=200
    ).select("event_type", "q", F.col("est").alias("approx_value"))


def q_agg_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def q_topk_hot_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("user_id"))
        .limit(10)
    )


def q_join_enrich(spark, sf_dir):
    """J1 analog: 3-way LEFT equi-join (dims broadcast) + rollup."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
        )
    )


# =================================================== training-data: dedup
def q_dedup_exact(spark, sf_dir):
    return dedup_exact(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.12)


def q_dedup_containment(spark, sf_dir):
    """Directional containment near-dup (|A∩B|/|A|): catches the
    small-doc-inside-big-doc duplication Jaccard's symmetric denominator
    hides (quoted replies, boilerplate, embedded READMEs). Same df-capped
    posting join as the Jaccard family; ordered (a contained-in b) pairs."""
    from mysql_secure_agent_spark.operators.text_dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, min_shingles=3
    )


def q_dedup_lsh_verified(spark, sf_dir):
    """Two-phase near-dup: LSH banding candidates → exact Jaccard verify
    (the production-scale dedup path; hot-shingle df-cap on)."""
    return minhash_lsh_verified(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, threshold=0.12
    )


def q_dedup_cluster_keep(spark, sf_dir):
    """Pairs → keep-set (operators/graph.py): connected components over the
    n-gram-Jaccard duplicate graph (iterative min-label propagation, O(E)
    shuffle per round, lineage checkpointed), then keep the min-id doc per
    cluster. Oracle: DuckDB recursive CTE computes the exact transitive
    closure of the same pair definition."""
    from mysql_secure_agent_spark.operators.graph import dedup_keep_canonical

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12)
    return dedup_keep_canonical(docs, pairs).select("doc_id", "lang")


def q_train_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/corpus.py): training docs
    (doc_id % 17 != 0) flagged by word-trigram overlap with a held-out
    eval split (doc_id % 17 == 0). Eval shingles are distinct'd and
    broadcast; the only big shuffle is the per-doc overlap count."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr = docs.filter(F.col("doc_id") % 17 != 0)
    out = decontaminate(tr, ev, n=3, min_hits=1)
    return out.select(
        F.col("id").alias("doc_id"),
        "total_shingles",
        "overlap_shingles",
        "overlap_frac",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_train_shuffle_shard(spark, sf_dir):
    """Deterministic training-order shuffle: seeded md5 sort key + shard id
    from its first two hex chars — reproducible across engines and cluster
    sizes, no global row_number (operators/corpus.py)."""
    docs = _t(spark, sf_dir, "documents")
    return shuffle_shard(docs, n_shards=8, seed=17).select(
        "doc_id", "shard", "sort_key"
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters, token level: duplicate-token
    fraction (row-local array algebra) + most-frequent-bigram fraction
    (explode → two keyed partial aggs; never a per-row O(len²) lambda)."""
    out = repetition_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_token_frac",
        "top_bigram_frac",
    )


def q_train_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation, the composition a real
    pipeline runs: exact dedup (keep min doc_id per content hash) → near-dup
    removal (n-gram Jaccard pairs → connected components → canonical keep)
    → quality-score filter. Every stage is the already-oracle-gated operator;
    this row proves they COMPOSE (each stage consumes the previous stage's
    survivors, not the raw table). Oracle: the same chain as one DuckDB CTE
    pipeline ending in a recursive transitive closure + quality formula."""
    from pyspark.sql import Window as W

    from mysql_secure_agent_spark.operators.graph import dedup_keep_canonical

    docs = _t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text"))
    exact = (
        docs.withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )
    pairs = ngram_jaccard_pairs(exact, threshold=0.12)
    kept = dedup_keep_canonical(exact, pairs)
    return kept.select(
        "doc_id",
        "lang",
        token_count().alias("n_tokens"),
        quality_score().alias("quality"),
    ).filter(F.col("quality") >= 0.55)


def q_train_corpus_prep_sharded(spark, sf_dir):
    """The corpus-prep chain's production tail: dedup→cluster→quality
    survivors (q_train_corpus_prep) are DECONTAMINATED against the eval
    split (any trigram overlap removes the doc) and the clean remainder
    gets deterministic training shards + sort keys. Proves the r4 corpus
    ops compose with the existing chain, end to end."""
    docs = _t(spark, sf_dir, "documents")
    prep = q_train_corpus_prep(spark, sf_dir).filter(F.col("doc_id") % 17 != 0)
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr_docs = docs.join(prep.select("doc_id"), "doc_id", "leftsemi")
    flags = decontaminate(tr_docs, ev, n=3, min_hits=1)
    clean = prep.join(
        flags.filter(~F.col("contaminated")).select(F.col("id").alias("doc_id")),
        "doc_id",
        "leftsemi",
    )
    return shuffle_shard(clean, n_shards=8, seed=17).select(
        "doc_id", "lang", "n_tokens", "quality", "shard", "sort_key"
    )


def q_dedup_minhash_sig(spark, sf_dir):
    return minhash_signature(_t(spark, sf_dir, "documents"), num_hashes=16)


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), num_hashes=16, bands=4)


def q_dedup_minhash_lsh_fast(spark, sf_dir):
    """Production-path MinHash-LSH: same single-shuffle banding plan with
    xxhash64 as the base hash and each band signature compacted to ONE
    xxhash64 long (8-byte fixed-width join key vs the md5 path's ~60-byte
    string). Measured ~10% faster end-to-end at sf0.1 — the pipeline is
    explode/shuffle-bound, so the cheaper hash alone is not a large win;
    the fixed-width shuffle key is what matters at scale. No SQL oracle —
    xxhash64 is engine-specific; plan and semantics are those of the
    oracle-checked md5 variant (rows-only check)."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, hash_fn="xxhash64"
    )


def q_dedup_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"), bits=32)


def q_dedup_simhash_near(spark, sf_dir):
    """Hamming-≤3 near-dup pairs via band rotation (4 bands × 8 bits over the
    32-bit simhash — pigeonhole makes recall complete, so the banded plan
    must equal the oracle's brute-force all-pairs scan exactly)."""
    return simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), bits=32, k=3, n_bands=4
    )


# ============================================== training-data: similarity
def _queries_df(corpus):
    return corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_ann_cosine_topk(spark, sf_dir):
    corpus = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(corpus, _queries_df(corpus), k=10)


def q_ann_lsh_bucket(spark, sf_dir):
    corpus = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(corpus, _queries_df(corpus), k=10, n_planes=8)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with full probing (n_probe == n_centroids): cell-partitioned
    candidate join whose result provably equals brute-force top-k — checked
    against the same exact-cosine oracle. Partial probing (the scale config)
    is exercised in tests with a planted-neighbor recall assertion."""
    corpus = _t(spark, sf_dir, "embeddings")
    return ivf_topk(corpus, _queries_df(corpus), k=10, n_centroids=8, n_probe=8)


def q_ann_index_search(spark, sf_dir):
    """CDC-maintained ANN index (the A+B capstone for embeddings): the
    corpus lands in a LakeTable via a changelog merge, a persisted
    banded-hyperplane index (``lake/ann_index.py``) is refreshed, then a
    SECOND micro-batch (negated vectors for vec_id%17==5 — every signature
    bit flips, so buckets MOVE — plus deletes for vec_id%23==7) exercises
    the O(delta) incremental refresh: stale entries removed via the
    old-vector time-travel read, new buckets upserted. Search probes the
    query set's band buckets against the PERSISTED index (listing-pruned)
    and re-ranks by exact cosine on the current table state. Oracle:
    recompute the final state in closed form, derive both band buckets per
    row with the same md5 plane math, candidates = share ANY band, exact
    cosine top-k."""
    from mysql_secure_agent_spark.lake.ann_index import AnnIndex
    from mysql_secure_agent_spark.lake.table import LakeTable

    corpus = _t(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="lake_annidx_")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )
    tbl = LakeTable.create(os.path.join(root, "t"), schema, ["vec_id"], n_buckets=8)
    tbl.merge(
        spark,
        corpus.select(
            F.lit("I").alias("op"),
            "vec_id",
            "embedding",
            (F.col("vec_id") + 1_000_000).alias("source_lsn"),
        ),
        "b1",
    )
    idx = AnnIndex.create(
        os.path.join(root, "ix"), tbl, "embedding", n_planes=8, bands=2, n_buckets=8
    )
    idx.refresh(spark)
    upd = corpus.filter(F.col("vec_id") % 17 == 5).select(
        F.lit("U").alias("op"),
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
        (F.col("vec_id") + 2_000_000).alias("source_lsn"),
    )
    dels = corpus.filter(F.col("vec_id") % 23 == 7).select(
        F.lit("D").alias("op"),
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        (F.col("vec_id") + 3_000_000).alias("source_lsn"),
    )
    tbl.merge(spark, upd.unionByName(dels), "b2")
    idx.refresh(spark)
    queries = tbl.read(spark).filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return idx.search(spark, queries, k=10).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank"
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs via BANDED hyperplane LSH (no
    all-pairs scoring): candidates = pairs sharing a bucket in either of 2
    bands × 8 planes. The bench corpus uses r=8 (256 buckets/band — sized
    to its ~10³ rows); the operator's scale default is r=16, B=4 (65 536
    buckets/band, bounding bucket² work at 10^9 rows)."""
    return embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, n_planes=8, bands=2
    )


def q_corpus_report(spark, sf_dir):
    """Dataset-card report — the summary a training-data pipeline publishes
    per corpus slice: docs / tokens / mean classifier quality / mean LM
    perplexity / exact-substring-dup doc count, per predicted language.
    A pure COMPOSITION of five already-oracle-gated operators (lang_id,
    token_count, linear_quality_score, perplexity_score, duplicated_spans)
    joined on doc_id and rolled up — the oracle re-derives every formula,
    so a drift in ANY member operator breaks this hash too."""
    from mysql_secure_agent_spark.operators.ngram_lm import (
        perplexity_score,
        train_ngram_counts,
    )
    from mysql_secure_agent_spark.operators.quality_filter import (
        linear_quality_score,
    )
    from mysql_secure_agent_spark.operators.substr_dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        token_count("text").alias("n_tokens"),
    )
    q = linear_quality_score(docs).select("doc_id", "score")
    bi = train_ngram_counts(docs, n=2)
    uni = train_ngram_counts(docs, n=1)
    v = uni.count()
    ppl = perplexity_score(docs, bi, uni, v, n=2, k=0.5).select("doc_id", "ppl")
    dup = (
        duplicated_spans(docs, n=8)
        .select("doc_id")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    joined = (
        base.join(q, "doc_id")
        .join(ppl, "doc_id", "left")
        .join(dup, "doc_id", "left")
    )
    return joined.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("score"), 4).alias("mean_quality"),
        F.round(F.avg("ppl"), 3).alias("mean_ppl"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("dup_docs"),
    )


def q_text_ngram_ppl(spark, sf_dir):
    """CCNet-style perplexity filter: every document scored against an
    add-k-smoothed bigram LM (here trained on the corpus itself — a
    fluency prior; production trains on a curated reference). Counts are
    exact integers end to end; only log/avg/pow are float. Two equi-join
    shuffles + one agg — no Python, no broadcast of the model (it stays a
    DataFrame, the 10^10-token-model shape)."""
    from mysql_secure_agent_spark.operators.ngram_lm import (
        perplexity_score,
        train_ngram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    bi = train_ngram_counts(docs, n=2)
    # no persist: measured neutral at sf0.1, and the returned plan is
    # consumed by a caller that never unpersists — a cached-block leak in
    # the driver's multi-query correctness runner. At production scale
    # the model is a persisted LakeTable artifact instead.
    uni = train_ngram_counts(docs, n=1)
    v = uni.count()
    return perplexity_score(docs, bi, uni, v, n=2, k=0.5)


def q_dedup_exact_substr(spark, sf_dir):
    """Exact-substring dedup (the ExactSubstr pass of Lee et al. 2022):
    every duplicated ≥8-token run's NON-canonical occurrences as merged
    token spans. One O(total tokens) explode, one partial-agg shuffle on
    the 128-bit gram key, a join back, one per-doc fold — no pairwise
    stage (plan-asserted in tests). Oracle recomputes grams, canonical
    election, and the span merge via gaps-and-islands."""
    from mysql_secure_agent_spark.operators.substr_dedup import duplicated_spans

    return duplicated_spans(_t(spark, sf_dir, "documents"), n=8)


def q_train_scrub_substr(spark, sf_dir):
    """The ExactSubstr SCRUB: training text rebuilt without the duplicated
    runs (canonical first occurrences kept). Composition of
    ``duplicated_spans`` + ``scrub_duplicated_spans`` — docs LEFT-join
    their merged spans, kept tokens rejoin with single spaces (note: the
    scrub canonicalizes whitespace by construction — tokens are the unit).
    Oracle re-derives the spans and rebuilds the text with list algebra."""
    from mysql_secure_agent_spark.operators.substr_dedup import (
        duplicated_spans,
        scrub_duplicated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, n=8)
    return scrub_duplicated_spans(docs, spans)


def q_text_classify_quality(spark, sf_dir):
    """Model-scored quality filtering (the fastText/CCNet classifier pass):
    hashing-trick buckets → exact integer-milli weight fold → mean pool →
    sigmoid → keep flag. Pure Catalyst, zero shuffles (plan-asserted in
    tests) — the shape that scores 10^10 docs in one scan. Weights here are
    the md5-derived pseudo-model so the oracle recomputes them in SQL; a
    trained vector rides the same plan via ``weights=[...]``."""
    from mysql_secure_agent_spark.operators.quality_filter import (
        linear_quality_score,
    )

    return linear_quality_score(_t(spark, sf_dir, "documents"))


# ============================================ training-data: text analysis
def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count().alias("n_tokens"),
        bpe_ish_token_count().alias("n_bpe_tokens"),
        F.round(punct_ratio(), 6).alias("punct_ratio"),
        F.round(stopword_fraction(), 6).alias("stopword_frac"),
        quality_score().alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id().alias("lang_pred"))


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", doc_fingerprint().alias("fingerprint"), token_count().alias("n_tokens")
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing on a binary column (text bytes standing in for an
    opaque media payload): size + digest typed metadata."""
    d = _t(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("digest"),
    )


def q_media_container_meta(spark, sf_dir):
    """Media CONTAINER metadata under the driver hash (operators/
    containers.py): per doc a real Ogg stream (RFC 3533 pages, 255-lacing
    packet splits, spec CRC-32 — poly 0x04C11DB7 unreflected, NOT zlib's,
    leading Vorbis identification header), a real MP4 (ISO-BMFF box tree:
    ftyp/moov/mvhd/trak/mdhd/hdlr/stbl), or a real AVI (RIFF hdrl walk:
    avih dims/fps, per-strl strh rate/scale/length) is SYNTHESIZED, then
    PARSED back — page/box/chunk walks, CRC verification, packet
    reassembly, codec identification, and per-track duration math all
    under the oracle hash, which states the expected metadata in closed
    form. The codec payloads stay opaque by design: cataloging/filtering
    media at corpus scale needs the container layer, not a decoder."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def rt(batches):
        from mysql_secure_agent_spark.operators.containers import (
            build_avi,
            build_mp4,
            build_ogg,
            parse_avi,
            parse_mp4,
            parse_ogg,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                fmt = did % 3
                if fmt == 0:
                    n_pkts = 3 + did % 5
                    vorbis_id = (
                        b"\x01vorbis" + bytes(4) + bytes([2])
                        + (44100).to_bytes(4, "little") + bytes(13)
                    )
                    pkts = [vorbis_id] + [
                        bytes([i % 251]) * (40 + 100 * (did % 7) + i)
                        for i in range(n_pkts)
                    ]
                    data = build_ogg(
                        pkts, serial=did % 1000, granule_step=480
                    )
                    info = parse_ogg(data, verify_crc=True)
                    stream = info["streams"][did % 1000]
                    rows.append(
                        (
                            did,
                            "ogg",
                            len(info["serials"]),
                            len(info["packets"]),
                            round(info["final_granule"] / 48000.0, 6),
                            stream["codec"],
                        )
                    )
                elif fmt == 1:
                    dur_ms = 1000 + did % 500
                    tracks = [
                        {
                            "handler": "vide",
                            "codec": "avc1",
                            "timescale": 30000,
                            "duration": dur_ms * 30,
                            "n_samples": 30 + did % 20,
                        },
                        {
                            "handler": "soun",
                            "codec": "mp4a",
                            "timescale": 48000,
                            "duration": dur_ms * 48,
                            "n_samples": 43 + did % 9,
                        },
                    ]
                    data = build_mp4(
                        timescale=1000, duration=dur_ms, tracks=tracks
                    )
                    info = parse_mp4(data)
                    rows.append(
                        (
                            did,
                            "mp4",
                            len(info["tracks"]),
                            sum(t["n_samples"] for t in info["tracks"]),
                            info["duration_s"],
                            info["tracks"][0]["codec"],
                        )
                    )
                else:
                    n_frames = 100 + did % 50
                    n_audio = 1000 + did % 100
                    data = build_avi(
                        width=320 + did % 16,
                        height=240,
                        n_frames=n_frames,
                        fps=25.0,
                        streams=[
                            {"type": "vids", "handler": "MJPG",
                             "scale": 1, "rate": 25, "length": n_frames},
                            {"type": "auds", "handler": "\x01\x00\x00\x00",
                             "scale": 1, "rate": 100, "length": n_audio},
                        ],
                    )
                    info = parse_avi(data)
                    rows.append(
                        (
                            did,
                            "avi",
                            len(info["streams"]),
                            info["n_frames"] + info["streams"][1]["length"],
                            info["streams"][0]["duration_s"],
                            info["streams"][0]["handler"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "n_tracks", "n_units",
                    "duration_s", "codec",
                ],
            )

    from mysql_secure_agent_spark.operators.text_dedup import (
        _with_min_parallelism,
    )

    return _with_min_parallelism(d).mapInPandas(
        rt,
        schema=(
            "media_id long, kind string, n_tracks int, n_units int, "
            "duration_s double, codec string"
        ),
    )


def q_media_jpeg_roundtrip(spark, sf_dir):
    """Baseline-JPEG codec under the driver hash (operators/jpeg.py, pure
    numpy, ITU T.81): per doc a deterministic smooth image is synthesized,
    ENCODED (quality step / 4:2:0 / restart interval all cycling by
    doc_id), DECODED, and reduced to dims + two exact booleans (max pixel
    error within the quantization bound, mean error small). Every stage —
    colorspace, FDCT, quantization, Huffman code assignment, byte
    stuffing, restart markers, the decoder's DHT/DQT walk, IDCT,
    upsample — is deterministic numpy, so a single-bit defect anywhere
    flips a boolean and the hash. The oracle states the dims and TRUE
    bounds in closed form (a lossy codec's exact pixels are not
    SQL-stateable; its correctness contract is)."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def rt(batches):
        import numpy as np

        from mysql_secure_agent_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                h, w = 9 + did % 8, 12 + did % 11
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [
                        (30 + xx * 2 + did % 50).clip(0, 255),
                        (20 + yy * 3).clip(0, 255),
                        (10 + xx + yy).clip(0, 255),
                    ],
                    axis=2,
                ).astype(np.uint8)
                q = 1 + did % 3
                sub = did % 2 == 0
                ri = (did % 4) or 0
                data = encode_jpeg(
                    img, q=q, subsample=sub, restart_interval=ri
                )
                out = decode_jpeg(data)
                err = np.abs(out.astype(int) - img.astype(int))
                rows.append(
                    (
                        did,
                        out.shape[1],
                        out.shape[0],
                        bool(err.max() <= 8 * q),
                        bool(err.mean() < 2.0 * q),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "max_err_ok", "mean_err_ok"
                ],
            )

    from mysql_secure_agent_spark.operators.text_dedup import (
        _with_min_parallelism,
    )

    return _with_min_parallelism(d).mapInPandas(
        rt,
        schema=(
            "media_id long, width int, height int, "
            "max_err_ok boolean, mean_err_ok boolean"
        ),
    )


def q_multimodal_decode(spark, sf_dir):
    """REAL pixel/sample decode (operators/multimodal.py pure-numpy codecs
    — no PIL/ffmpeg): deterministic PPM/BMP/PNG/GIF/WAV payloads are
    synthesized per doc_id, Spark PARSES the actual bytes (netpbm header
    scan, BMP bottom-up+padding+BGR undo, PNG chunk walk + zlib inflate +
    all five row filters, GIF LZW inflate + palette + 4-pass interlace
    reorder, RIFF chunk walk), and emits dims/sample counts plus a
    byte-sum checksum. The oracle states the same checksum in closed form
    (payload values are affine with no mod-256 wraparound), so a header
    mis-parse, row-order bug, padding leak or unfilter bug all
    hash-mismatch."""
    import pandas as pd

    from mysql_secure_agent_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio_batch,
        decode_image_batch,
        encode_bmp,
        encode_gif,
        encode_png,
        encode_ppm,
        encode_wav,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                fmt = did % 5
                if fmt == 0:
                    p = encode_ppm(4 + did % 5, 3 + did % 7, did % 200)
                elif fmt == 1:
                    p = encode_bmp(4 + did % 5, 3 + did % 7, did % 200)
                elif fmt == 2:
                    # rows cycle through every PNG filter type
                    p = encode_png(4 + did % 5, 3 + did % 7, did % 200)
                elif fmt == 3:
                    # real LZW; alternate the 4-pass interlaced layout
                    p = encode_gif(4 + did % 5, 3 + did % 7, did % 200,
                                   interlace=(did // 5) % 2 == 0)
                else:
                    p = encode_wav(150 + did % 50, did % 100)
                rows.append((did, "audio" if fmt == 4 else "image", p, None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    media = d.mapInPandas(gen, MEDIA_SCHEMA)
    imgs = decode_image_batch(media.filter(F.col("kind") == "image")).select(
        "media_id",
        F.when(F.pmod("media_id", F.lit(5)) == 0, F.lit("ppm"))
        .when(F.pmod("media_id", F.lit(5)) == 1, F.lit("bmp"))
        .when(F.pmod("media_id", F.lit(5)) == 2, F.lit("png"))
        .otherwise(F.lit("gif"))
        .alias("kind"),
        F.col("width"),
        F.col("height"),
        F.lit(None).cast("long").alias("n_samples"),
        F.col("pix_sum").alias("checksum"),
    )
    wavs = decode_audio_batch(media.filter(F.col("kind") == "audio")).select(
        "media_id",
        F.lit("wav").alias("kind"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("n_samples"),
        F.col("amp_sum").alias("checksum"),
    )
    return imgs.unionByName(wavs)


# =================================================== multi-source / lookup
def q_cdc_multi_source(spark, sf_dir):
    """Sharded-fleet ingest semantics (streaming/multi_source.py): the feed
    is split into 3 'shards' by key ownership (user_id mod 3 — disjoint key
    spaces, independent per-source lsn sequences), per-source lsns are
    namespaced into one global order (global = source<<44 | lsn), and the
    merged final state is summarized per source alongside its
    gtid_executed-style watermark (max per-source lsn SEEN, not max live —
    deletes advance the watermark too, like a GTID set)."""
    from mysql_secure_agent_spark.streaming.multi_source import LSN_BITS

    cl = _events_changelog(spark, sf_dir)
    src = F.pmod(F.col("user_id"), F.lit(3)).cast("int")
    shifted = cl.withColumn("_src", src).withColumn(
        "g_lsn",
        F.col("_src").cast("long") * F.lit(1 << LSN_BITS) + F.col("source_lsn"),
    )
    last = last_image_wins(shifted, ["user_id", "slot"], order_col="g_lsn", strategy="max_by")
    live = (
        last.filter(F.col("op") != "D")
        .groupBy("_src")
        .agg(F.count(F.lit(1)).alias("live_keys"))
    )
    marks = shifted.groupBy("_src").agg(F.max("source_lsn").alias("gtid_hwm"))
    return (
        marks.join(live, "_src", "left")
        .select(
            F.col("_src").alias("source_id"),
            F.col("gtid_hwm"),
            F.coalesce("live_keys", F.lit(0)).alias("live_keys"),
        )
    )


def q_cdc_point_lookup(spark, sf_dir):
    """O(bucket) point lookup: the changelog is merged into a LakeTable
    bucketed on user_id alone, then lookup(user_id=42) computes the bucket
    DRIVER-SIDE (pure-Python Murmur3, lake/bucketing.py) and reads only that
    bucket's files — 1/n_buckets of the listing at any table size. Within
    the bucket, per-file key BLOOMS recorded at merge time (lake/bloom.py,
    Hudi's bloom-index pattern) drop the micro-batch delta files that
    provably lack the key from the LISTING — the pruning layer min/max
    stats cannot provide for arrival-ordered deltas. Oracle: the final
    state restricted to that user."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_lkp_"), "t")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(
        root, schema, ["user_id", "slot"], bucket_cols=["user_id"], n_buckets=16
    )
    tbl.merge(spark, cl, "entry-batch")
    return tbl.lookup(spark, {"user_id": 42}).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_join_view_incremental(spark, sf_dir):
    """Incrementally-maintained JOIN view (lake/join_view.py): a fact lake
    (the events changelog, fk ``cust_key = user_id % |customer| + 1``) LEFT
    JOINed to a customer dim lake, refreshed by affected-key recompute from
    BOTH changefeeds. Three epochs prove both delta paths end to end:
    (1) first half of the feed + the initial dim → refresh (backfill);
    (2) a dim update (acctbal += 100 for custkey % 7 == 0) → refresh — the
    right-path fan-out rewrites every referencing view row via the reverse
    fk lookup; (3) the feed's second half → refresh (left path, including
    deletes shipping view deletes). The reference ships per-table
    changelogs and leaves joining to the warehouse (OutputSpec.java writes
    tables independently); maintaining the join AS a lake table exceeds
    it. Oracle = the plain join of both final states, so cursor atomicity,
    the fan-out path, and delete propagation are all hash-gated."""
    from mysql_secure_agent_spark.lake.join_view import JoinView
    from mysql_secure_agent_spark.lake.table import LakeTable

    n_cust = _t(spark, sf_dir, "customer").count()
    cl = _events_changelog(spark, sf_dir).withColumn(
        "cust_key", (F.col("user_id") % n_cust + 1).cast("long")
    ).select("op", "user_id", "slot", "cust_key", "event_type", "value",
             "source_lsn")
    lo, hi = cl.agg(F.min("source_lsn"), F.max("source_lsn")).first()
    mid = (int(lo) + int(hi)) // 2

    base = tempfile.mkdtemp(prefix="lake_jv_")
    fact_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("cust_key", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    dim_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), False),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
        ]
    )
    fact = LakeTable.create(
        os.path.join(base, "fact"), fact_schema, ["user_id", "slot"], n_buckets=8
    )
    dim = LakeTable.create(
        os.path.join(base, "dim"), dim_schema, ["c_custkey"], n_buckets=8
    )
    view = JoinView.create(os.path.join(base, "view"), fact, dim, fk="cust_key")

    dim0 = _t(spark, sf_dir, "customer").select(
        F.lit("U").alias("op"),
        F.col("c_custkey").cast("long"),
        "c_name",
        F.col("c_acctbal").cast("double"),
        F.col("c_custkey").cast("long").alias("source_lsn"),
    )
    dim.merge(spark, dim0, "dim-initial")
    fact.merge(spark, cl.filter(F.col("source_lsn") <= mid), "fact-1")
    view.refresh(spark)  # epoch 1: backfill

    dim_upd = dim0.filter(F.col("c_custkey") % 7 == 0).select(
        "op", "c_custkey", "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        (F.col("source_lsn") + 1_000_000_000).alias("source_lsn"),
    )
    dim.merge(spark, dim_upd, "dim-update")
    view.refresh(spark)  # epoch 2: right-path fan-out

    fact.merge(spark, cl.filter(F.col("source_lsn") > mid), "fact-2")
    view.refresh(spark)  # epoch 3: left path incl. deletes

    return view.view.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        "c_name",
        F.col("c_acctbal").alias("cust_acctbal"),
    )


# ============================================== conversation-level operators
def _doc_turns(spark, sf_dir):
    """documents reinterpreted as transcript turns: conv = doc_id mod 200,
    turn order = doc_id (deterministic, oracle-expressible)."""
    return _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("conv"), F.lpad((F.col("doc_id") % 200).cast("string"), 6, "0")
        ).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
        "text",
    )


_DOC_TURNS_SQL = """
SELECT 'conv' || lpad(CAST(doc_id % 200 AS VARCHAR), 6, '0') AS conv_id,
       CAST(doc_id AS INTEGER) AS turn_idx,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
            WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       text
FROM documents
"""

_TOK_N_SQL = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)


def _redact_pii_sql() -> str:
    """Oracle for text_redact_pii, built from the SAME pattern list the
    engine uses (functions.text_analysis.PII_PATTERNS) — one source of
    truth; DuckDB's RE2 accepts the patterns verbatim (they avoid
    lookaround/backrefs by construction)."""
    from mysql_secure_agent_spark.functions.text_analysis import PII_PATTERNS

    salted = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 card 4111111111111111 tel +1 415-555-01' || "
        "CAST(doc_id % 10 AS VARCHAR)"
    )
    redacted = "text"
    counts = []
    for kind, pat, tag in PII_PATTERNS:
        # standard SQL string literal: backslashes pass through verbatim
        lit = pat.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{lit}', '{tag}', 'g')"
        counts.append(
            f"len(regexp_extract_all(text, '{lit}')) AS n_{kind}"
        )
    return f"""
WITH s AS (SELECT doc_id, {salted} AS text FROM documents)
SELECT doc_id, {', '.join(counts)}, {redacted} AS redacted FROM s
"""


def q_transcript_assemble(spark, sf_dir):
    """Training-example assembly: one row per conversation, turns ordered and
    rendered 'role: text', with turn/token counts — the conversation-level
    consumer of the transcript table (operators/transcripts.py). One
    groupBy(conv_id) shuffle; no windows, no UDFs."""
    from mysql_secure_agent_spark.operators.transcripts import assemble_conversations

    out = assemble_conversations(_doc_turns(spark, sf_dir))
    return out.select(
        "conv_id", "n_turns", "conversation", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def q_cdc_cast_quarantine(spark, sf_dir):
    """Strict-cast quarantine on a stringly-typed transport: the feed is
    re-rendered as all-string rows (the JSONL/Debezium/dump shape) with
    some values poisoned to unparseable garbage; ``split_invalid_casts``
    must quarantine exactly those EVENTS (Spark's plain cast would write
    silent NULLs over good data — the worst CDC corruption mode) while
    every clean event merges normally, so a key whose newest image was
    poisoned retains its previous good image. Oracle: replay excluding
    the poisoned events (DuckDB TRY_CAST agrees on what parses)."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.cast_guard import (
        split_invalid_casts,
    )

    cl = _events_changelog(spark, sf_dir).drop("ts")
    poison = (
        (F.col("op") != "D")
        & (F.col("user_id") % 31 == 0)
        & (F.col("source_lsn") % 2 == 1)
    )
    stringly = cl.select(
        "op",
        F.col("user_id").cast("string").alias("user_id"),
        F.col("slot").cast("string").alias("slot"),
        "event_type",
        F.when(poison, F.lit("corrupt;payload"))
        .otherwise(F.col("value").cast("string"))
        .alias("value"),
        F.col("source_lsn").cast("string").alias("source_lsn"),
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("source_lsn", T.LongType(), False),
        ]
    )
    valid, bad = split_invalid_casts(stringly, schema)
    root = os.path.join(tempfile.mkdtemp(prefix="lake_cast_"), "t")
    tbl = LakeTable.create(
        root,
        T.StructType(schema.fields[:4]),
        ["user_id", "slot"],
        n_buckets=8,
    )
    tbl.merge(spark, valid, "clean-only")
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_repair_drift(spark, sf_dir):
    """Replica drift REPAIR (pt-table-sync analog, closing the
    verify_against checksum loop): a replica replays the feed then takes a
    corruption batch — tampered values, a lost key, a ghost row —
    localized by chunk checksums and repaired with ONE merge built from
    the primary's images (extra→D, missing/changed→source row) at a fresh
    lsn. The post-repair re-checksum must read clean in-query; the hash
    gate is the repaired replica equaling the plain-replay oracle."""
    from mysql_secure_agent_spark.lake.table import LakeTable

    cl = _events_changelog(spark, sf_dir).drop("ts")  # schema below has no ts
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="lake_repair_")
    primary = LakeTable.create(
        os.path.join(base, "p"), schema, ["user_id", "slot"], n_buckets=8
    )
    primary.merge(spark, cl, "p1")
    replica = LakeTable.create(
        os.path.join(base, "r"), schema, ["user_id", "slot"], n_buckets=8
    )
    replica.merge(spark, cl, "r1")
    hi = cl.agg(F.max("source_lsn")).first()[0] or 0
    corrupt = (
        cl.filter((F.col("op") != "D") & (F.col("user_id") % 29 == 0))
        .withColumn("value", F.col("value") + 999.0)
        .withColumn("source_lsn", F.col("source_lsn") + F.lit(hi))
    )
    ghost = spark.createDataFrame(
        [("I", 987654321, 0, "ghost", 0.0, 2 * hi + 1)],
        "op string, user_id long, slot int, event_type string, "
        "value double, source_lsn long",
    )
    replica.merge(spark, corrupt.unionByName(ghost), "r-drift")
    rep = replica.repair_from(spark, primary.read(spark))
    if not rep.get("repaired_match"):
        raise AssertionError(f"repair did not converge: {rep['drifted_chunks']}")
    return replica.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_to_training_corpus(spark, sf_dir):
    """The whole engine in one chain — axes A+B composed: a
    transcripts-shaped change feed (inserts, then edits + redactions as a
    second micro-batch) maintains a lake table keyed (conv_id, turn_idx),
    and the SFT prep reads the CDC-MAINTAINED state: assembled
    conversations → per-assistant-turn loss spans. The oracle recomputes
    the final per-turn state relationally and re-derives every span with
    independent window arithmetic — a stale image, a lost delete, or a
    one-character offset drift anywhere breaks the hash."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.transcripts import loss_spans

    base = _doc_turns(spark, sf_dir)  # turn order = doc_id = turn_idx
    lsn = F.col("turn_idx").cast("long")
    ins = base.select(
        F.lit("I").alias("op"), "conv_id", "turn_idx", "role", "text",
        lsn.alias("source_lsn"),
    )
    upd = base.filter(F.col("turn_idx") % 10 == 0).select(
        F.lit("U").alias("op"), "conv_id", "turn_idx", "role",
        F.concat(F.col("text"), F.lit(" [edited]")).alias("text"),
        (lsn + 10_000_000).alias("source_lsn"),
    )
    dels = base.filter(F.col("turn_idx") % 10 == 5).select(
        F.lit("D").alias("op"), "conv_id", "turn_idx", "role",
        F.lit(None).cast("string").alias("text"),
        (lsn + 10_000_000).alias("source_lsn"),
    )
    root = os.path.join(tempfile.mkdtemp(prefix="lake_corpus_"), "t")
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    tbl = LakeTable.create(root, schema, ["conv_id", "turn_idx"], n_buckets=8)
    tbl.merge(spark, ins, "corpus-b1")
    tbl.merge(spark, upd.unionByName(dels), "corpus-b2")
    return loss_spans(tbl.read(spark))


def q_train_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking over documents (chunk 64 tokens, stride 32):
    the pretraining-prep fan-out of long documents into overlapping
    context-sized examples. Row-local array algebra, zero shuffle; the
    oracle recomputes every window with generate_series + list_slice, so a
    start-offset or tail-length drift anywhere breaks the hash."""
    from mysql_secure_agent_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, stride=32
    )


def q_train_loss_spans(spark, sf_dir):
    """SFT loss masking: per trained (assistant) turn, the character span
    of its content inside the assembled conversation, plus the substring
    those offsets select — so the hash gates the offset arithmetic against
    the independently-rendered document (a one-character drift anywhere in
    any preceding turn breaks every later span). One groupBy shuffle + an
    O(turns) fold; no windows, no UDFs."""
    from mysql_secure_agent_spark.operators.transcripts import loss_spans

    return loss_spans(_doc_turns(spark, sf_dir))


def q_transcript_token_budget(spark, sf_dir):
    """Context-window assembly: keep the longest turn SUFFIX whose token
    total fits the budget (most-recent context survives). Oracle: reverse
    cumulative token sums per conversation — a turn survives iff its
    suffix-sum ≤ budget."""
    from mysql_secure_agent_spark.operators.transcripts import truncate_to_token_budget

    out = truncate_to_token_budget(_doc_turns(spark, sf_dir), budget=64)
    return out.select(
        "conv_id",
        "n_turns",
        "kept_turns",
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        "conversation",
    )


def q_train_sample_stratified(spark, sf_dir):
    """Deterministic training-mix sampling: per-language keep rates applied
    via the portable md5 hash — the same rows are kept on every run/engine,
    so incremental corpus refreshes keep a stable sample."""
    from mysql_secure_agent_spark.operators.transcripts import sample_stratified

    docs = _t(spark, sf_dir, "documents")
    out = sample_stratified(
        docs,
        rates={"en": 0.25, "de": 0.5},
        strata_col="lang",
        key_col="doc_id",
        default_rate=1.0,
    )
    return out.select("doc_id", "lang")


def q_train_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/transcripts.py): concat documents in id
    order into ~256-token training sequences, SHARDED (floor(doc_id/4096))
    so the running token sum is a bounded per-shard window — no global
    single-partition cumsum at 10^9 docs. Oracle: identical window cumsum
    in SQL."""
    from mysql_secure_agent_spark.operators.transcripts import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, budget=256, shard_size=4096)
    return out.select(
        "shard", "seq", "n_docs", F.col("n_tokens").cast("long").alias("n_tokens"),
        "text",
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessionize.py): activity bursts
    per user with no gap > 600s collapse to sessions. One exchange (the
    keyed window and the groupBy share hash partitioning). The streaming
    twin (applyInPandasWithState, same semantics) is equivalence-tested in
    tests/test_sessionize.py — stateful streaming is not SQL-expressible,
    so the batch operator carries the oracle."""
    from mysql_secure_agent_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = sessionize(ev, gap_seconds=600)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
    )


def q_events_time_rollup(spark, sf_dir):
    """Tumbling event-time rollup (streaming/windowed_agg.py): per-hour
    activity per event_type — the batch definition shared verbatim by the
    watermarked streaming twin (late-data semantics equivalence-tested in
    tests/test_windowed_agg.py; watermarks aren't SQL-expressible, so the
    batch operator carries the oracle)."""
    from mysql_secure_agent_spark.streaming.windowed_agg import tumbling_rollup

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    return tumbling_rollup(ev, window_duration="1 hour")


def q_events_window_distinct(spark, sf_dir):
    """Windowed distinct users at bounded state (streaming/windowed_agg.py
    windowed_distinct): per (1-hour tumbling window, event_type), the HLL
    register sketch — a plain max aggregation Structured Streaming accepts
    natively, ≤ 2^p register rows of state per open window regardless of
    user cardinality (the streaming twin and its closed-window equality
    with this batch definition are tested in test_windowed_distinct.py) —
    folded to the approximate count, with the exact count alongside. The
    full estimator reproduces bit-for-bit in DuckDB (see agg_distinct_hll)."""
    from mysql_secure_agent_spark.streaming.windowed_agg import (
        windowed_distinct,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    approx = windowed_distinct(
        ev, window_duration="1 hour", key_cols=["event_type"]
    )
    exact = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact_users")).select(
        F.col("w.start").alias("window_start"), "event_type", "exact_users"
    )
    return approx.join(exact, ["window_start", "event_type"]).select(
        "window_start",
        "event_type",
        F.col("approx_distinct").alias("approx_users"),
        "exact_users",
    )


def q_text_redact_pii(spark, sf_dir):
    """PII scrub (functions/text_analysis.py): chained regexp_replace with
    RE2-compatible patterns shared VERBATIM with the oracle (imported, not
    duplicated). PII spans are synthesized deterministically per doc so the
    redaction actually fires on every row; per-kind counts audited on the
    pre-redaction text."""
    from mysql_secure_agent_spark.functions.text_analysis import (
        PII_PATTERNS,
        redact_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 card 4111111111111111 tel +1 415-555-01"),
            (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]
    return salted.select(
        "doc_id", *counts, redact_pii("text").alias("redacted")
    )


def q_events_asof_enrich(spark, sf_dir):
    """Point-in-time enrichment (operators/asof.py): every event carries the
    id/value of the user's most recent STRICTLY-earlier purchase — the as-of
    join Spark lacks, built as one tagged union + one keyed window (single
    shuffle, no range-join candidate blow-up). event_id is the as-of axis
    (monotone and unique per user, so ties are impossible). Oracle: DuckDB's
    native ASOF LEFT JOIN with the same strict inequality."""
    from mysql_secure_agent_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "event_type", "value")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("asof_eid"),
        F.col("event_id").alias("last_purchase_id"),
        F.col("value").alias("last_purchase_value"),
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_on="event_id",
        right_on="asof_eid",
        value_cols=["last_purchase_id", "last_purchase_value"],
        strict=True,
    )


def q_events_interval_join(spark, sf_dir):
    """Stream-stream interval join (streaming/interval_join.py): every click
    paired with the same user's purchases in the following 6 hours — the
    event-correlation primitive (turn ↔ tool-result matching). Batch and
    streaming share one definition; the streaming twin's state is evictable
    only because the upper bound is mandatory (equivalence-tested in
    tests/test_interval_join.py). One exchange per side on the equality key."""
    from mysql_secure_agent_spark.streaming.interval_join import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    out = interval_join(clicks, purchases, ["user_id"], upper="6 hours")
    return out.select(
        "user_id",
        F.col("l_click_id").alias("click_id"),
        F.col("l_ts").alias("click_ts"),
        F.col("r_purchase_id").alias("purchase_id"),
        F.col("r_ts").alias("purchase_ts"),
        F.col("r_value").alias("purchase_value"),
    )


def q_cdc_snapshot_interleaved(spark, sf_dir):
    """DBLog-style interleaved backfill (snapshot_interleave.py): the change
    stream keeps applying WHILE the source is chunk-paged. Each chunk select
    is bracketed by a low/high feed watermark; chunk rows whose key changed
    inside the window are dropped (the log image is authoritative), the rest
    merge at lsn = lw so last-image-wins lets every later stream event
    supersede them. Fixture: the events changelog delivered as 4 lsn-quartile
    files, one arriving DURING each chunk select; S0 = one pre-existing row
    per user on a slot range the feed never touches. Oracle: final feed state
    (max-lsn image, D-last keys gone) plus the untouched S0 rows."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.operators.dedup_changelog import last_image_wins
    from mysql_secure_agent_spark.snapshot_interleave import (
        import_snapshot_interleaved,
    )

    cl = _events_changelog(spark, sf_dir).select(
        "op", "user_id", "slot", "event_type", "value", "source_lsn"
    )
    s0_cl = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.lit("I").alias("op"),
            "user_id",
            (F.lit(50) + F.col("user_id") % 4).cast("int").alias("slot"),
            F.lit("seed").alias("event_type"),
            (F.col("user_id") % 1000).cast("double").alias("value"),
            F.lit(0).cast("long").alias("source_lsn"),
        )
    )

    tmp = tempfile.mkdtemp(prefix="interleave_entry_")
    feed, staging = os.path.join(tmp, "feed"), os.path.join(tmp, "staging")
    data = os.path.join(feed, "data")
    os.makedirs(data)
    mx = cl.agg(F.max("source_lsn")).first()[0]
    cuts = [0, mx // 4, mx // 2, 3 * mx // 4, mx]
    for i in range(4):
        part = os.path.join(staging, f"f{i}")
        cl.filter(
            (F.col("source_lsn") > cuts[i]) & (F.col("source_lsn") <= cuts[i + 1])
        ).coalesce(1).write.parquet(part)

    pending = [0, 1, 2, 3]

    def deliver():
        if not pending:
            return
        i = pending.pop(0)
        part = os.path.join(staging, f"f{i}")
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        shutil.copy(os.path.join(part, src), os.path.join(data, f"f{i}.parquet"))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    tbl = LakeTable.create(
        os.path.join(tmp, "tbl"), schema, ["user_id", "slot"], n_buckets=8
    )

    def source_read(sp):
        deliver()  # the select races ahead of the last drain: hw > lw
        delivered = sp.read.parquet(data)
        live = last_image_wins(
            s0_cl.unionByName(delivered), ["user_id", "slot"], strategy="max_by"
        )
        return live.filter(F.col("op") != "D").drop("op", "source_lsn")

    drained = {"n": 0}

    def drain(sp):
        files = [f for f in os.listdir(data) if f.endswith(".parquet")]
        if len(files) == drained["n"]:
            return
        tbl.merge(sp, sp.read.parquet(data), f"drain.{len(files)}")
        drained["n"] = len(files)

    deliver()  # the stream is already flowing when the backfill starts
    n_keys = s0_cl.count() + cl.select("user_id", "slot").distinct().count()
    import_snapshot_interleaved(
        spark, source_read, tbl, feed, drain,
        os.path.join(tmp, "state.json"), page_size=max(500, n_keys // 4 + 1),
    )
    while pending:  # tail of the log arrives after the backfill finishes
        deliver()
    drain(spark)
    return tbl.read(spark).select(
        "user_id",
        "slot",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ==================================================================== contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full change-feed replay to
    final table state (the engine's MERGE semantics)."""
    return q_cdc_apply_changelog(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Order = verification priority: the oracle check walks this dict
        # in order and stops when its time budget runs out, so the queries
        # never yet verified green come first (cdc_stmt_lineage through
        # media_container_meta), then every other query in its previous
        # relative order.
        "cdc_stmt_lineage": q_cdc_stmt_lineage,
        "ann_index_search": q_ann_index_search,
        "text_classify_quality": q_text_classify_quality,
        "dedup_exact_substr": q_dedup_exact_substr,
        "cdc_table_stats": q_cdc_table_stats,
        "train_scrub_substr": q_train_scrub_substr,
        "text_ngram_ppl": q_text_ngram_ppl,
        "corpus_report": q_corpus_report,
        "multimodal_decode": q_multimodal_decode,
        "media_jpeg_roundtrip": q_media_jpeg_roundtrip,
        "media_container_meta": q_media_container_meta,
        "cdc_socket_ingest": q_cdc_socket_ingest,  # new in r5
        "cdc_config_projection": q_cdc_config_projection,
        "cdc_batch_metrics": q_cdc_batch_metrics,
        "json_extract_props": q_json_extract_props,
        "cdc_schema_first_seen": q_cdc_schema_first_seen,
        "cdc_table_definitions": q_cdc_table_definitions,
        "cdc_snapshot_order": q_cdc_snapshot_order,
        "cdc_snapshot_interleaved": q_cdc_snapshot_interleaved,
        "cdc_multi_source": q_cdc_multi_source,
        "cdc_point_lookup": q_cdc_point_lookup,
        "cdc_join_view_incremental": q_cdc_join_view_incremental,
        "transcript_assemble": q_transcript_assemble,
        "transcript_token_budget": q_transcript_token_budget,
        "train_loss_spans": q_train_loss_spans,
        "train_chunk_overlap": q_train_chunk_overlap,
        "cdc_to_training_corpus": q_cdc_to_training_corpus,
        "cdc_repair_drift": q_cdc_repair_drift,
        "cdc_cast_quarantine": q_cdc_cast_quarantine,
        "train_sample_stratified": q_train_sample_stratified,
        "train_pack_sequences": q_train_pack_sequences,
        "text_redact_pii": q_text_redact_pii,
        "events_sessionize": q_events_sessionize,
        "events_time_rollup": q_events_time_rollup,
        "events_window_distinct": q_events_window_distinct,
        "events_asof_enrich": q_events_asof_enrich,
        "events_interval_join": q_events_interval_join,
        "agg_distinct_hll": q_agg_distinct_hll,
        "topk_heavy_hitters_cms": q_topk_heavy_hitters_cms,
        "agg_quantile_sketch": q_agg_quantile_sketch,
        "agg_rollup": q_agg_rollup,
        "topk_hot_users": q_topk_hot_users,
        "join_enrich": q_join_enrich,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_containment": q_dedup_containment,
        "dedup_cluster_keep": q_dedup_cluster_keep,
        "train_corpus_prep": q_train_corpus_prep,
        "train_corpus_prep_sharded": q_train_corpus_prep_sharded,
        "train_decontaminate": q_train_decontaminate,
        "train_shuffle_shard": q_train_shuffle_shard,
        "text_repetition": q_text_repetition,
        "dedup_lsh_verified": q_dedup_lsh_verified,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_lsh_fast": q_dedup_minhash_lsh_fast,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_near": q_dedup_simhash_near,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_bucket": q_ann_lsh_bucket,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "ann_ivf_topk": q_ann_ivf_topk,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "cdc_apply_changelog": q_cdc_apply_changelog,
        "cdc_merge_into_lake": q_cdc_merge_into_lake,
        "cdc_time_slice_read": q_cdc_time_slice_read,
        "cdc_table_checksum": q_cdc_table_checksum,
        "cdc_zorder_compact": q_cdc_zorder_compact,
        "cdc_read_asof": q_cdc_read_asof,
        "cdc_charset_decode": q_cdc_charset_decode,
        "cdc_expire_versions": q_cdc_expire_versions,
        "cdc_wap_publish": q_cdc_wap_publish,
        "cdc_minimal_image": q_cdc_minimal_image,
        "cdc_rebucket_midstream": q_cdc_rebucket_midstream,
        "cdc_key_range_scan": q_cdc_key_range_scan,
        "agg_incremental_view": q_agg_incremental_view,
        "cdc_jsonl_roundtrip": q_cdc_jsonl_roundtrip,
        "cdc_dump_restore": q_cdc_dump_restore,
        "cdc_debezium_roundtrip": q_cdc_debezium_roundtrip,
        "cdc_erase_keys": q_cdc_erase_keys,
        "cdc_lake_changefeed": q_cdc_lake_changefeed,
        "cdc_changefeed_compose": q_cdc_changefeed_compose,
        "cdc_changefeed_tail": q_cdc_changefeed_tail,
        "cdc_modify_column": q_cdc_modify_column,
        "cdc_drop_column": q_cdc_drop_column,
        "cdc_rename_column": q_cdc_rename_column,
        "cdc_quarantine": q_cdc_quarantine,
        "cdc_last_image_wins": q_cdc_last_image_wins,
        "cdc_update_decompose": q_cdc_update_decompose,
        "cdc_scd2_history": q_cdc_scd2_history,
        "cdc_scd2_as_of": q_cdc_scd2_as_of,
        "cdc_scd2_incremental": q_cdc_scd2_incremental,
        "cdc_index_lookup": q_cdc_index_lookup,
        "cdc_index_range_scan": q_cdc_index_range_scan,
        "cdc_keyset_page": q_cdc_keyset_page,
        "cdc_lsn_encode": q_cdc_lsn_encode,
        "cdc_decode_types": q_cdc_decode_types,
        "cdc_gtid_decode": q_cdc_gtid_decode,
        "cdc_txn_payload": q_cdc_txn_payload,
        "cdc_binlog_file_ingest": q_cdc_binlog_file_ingest,
        "cdc_binlog_export_roundtrip": q_cdc_binlog_export_roundtrip,
        "cdc_binlog_dir_tail": q_cdc_binlog_dir_tail,
        "cdc_xa_transactions": q_cdc_xa_transactions,
        "cdc_truncate": q_cdc_truncate,
        "cdc_multi_table_txn": q_cdc_multi_table_txn,
        "cdc_branch_backfill": q_cdc_branch_backfill,
        "cdc_failover_promote": q_cdc_failover_promote,
        "cdc_table_map_meta": q_cdc_table_map_meta,
        "cdc_wire_ddl": q_cdc_wire_ddl,
        "cdc_partial_json": q_cdc_partial_json,
        "cdc_partial_json_minimal": q_cdc_partial_json_minimal,
        "cdc_hash_anonymize": q_cdc_hash_anonymize,
    }


def _minhash_sql() -> str:
    aggs = ", ".join(
        f"min((h * {2 * k + 1} + {k * k + 1}) % {MERSENNE}) AS mh{k}" for k in range(16)
    )
    return f"""
WITH base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
h AS (SELECT id, {_H32_SQL.format(x='sh')} AS h FROM sh)
SELECT id, {aggs} FROM h GROUP BY id
"""


def _minhash_lsh_sql() -> str:
    r = 4
    keys = ", ".join(
        "concat_ws(':', '%d', %s)"
        % (b, ", ".join(f"CAST(mh{b * r + i} AS VARCHAR)" for i in range(r)))
        for b in range(4)
    )
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS (SELECT id, unnest([{keys}]) AS band_key FROM sig)
SELECT l.id AS id_a, r.id AS id_b
FROM bands l JOIN bands r ON l.band_key = r.band_key
WHERE l.id < r.id
GROUP BY 1, 2
"""


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    bits = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    return f"""
WITH base AS (SELECT doc_id AS id, unnest({_TOKS_SQL}) AS t FROM documents),
h AS (SELECT id, {_H32_SQL.format(x='t')} AS h FROM base),
sums AS (SELECT id, {sums} FROM h GROUP BY id)
SELECT id, CAST({bits} AS BIGINT) AS simhash FROM sums
"""


_COS_SQL = (
    "list_sum(list_transform(range(1, len(cv) + 1), "
    "i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(range(1, len(cv) + 1), "
    "i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(range(1, len(qv) + 1), "
    "i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))))"
)


def _hyperplane_sig_sql(vcol: str, n_planes: int = 8, plane_offset: int = 0) -> str:
    """r-bit signature from planes [plane_offset, plane_offset+n_planes):
    plane derivation matches similarity._plane_row (md5('{global p}:{i}'))."""
    parts = []
    for i_local in range(n_planes):
        p = plane_offset + i_local
        h = _H32_SQL.format(x=f"concat('{p}', ':', CAST(i AS VARCHAR))")
        proj = (
            f"list_sum(list_transform(range(1, len({vcol}) + 1), "
            f"i -> CAST({vcol}[i] AS DOUBLE) * "
            f"(CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END)))"
        )
        parts.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i_local} ELSE 0 END)")
    return "CAST(" + " + ".join(parts) + " AS INTEGER)"


def oracle_sql() -> dict[str, str]:
    final_state_sql = (
        _CHANGELOG_CTE
        + """
SELECT user_id, slot,
       event_type AS last_event_type,
       value AS last_value,
       source_lsn AS last_lsn
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
"""
    )
    quality_sql = """
WITH b AS (
  SELECT doc_id, text,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
    length(text) AS n_chars_raw,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, n_tokens,
    CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE n_punct / n_chars_raw END AS punct_ratio,
    CASE WHEN len(toks) <= 0 THEN 0.0
         ELSE len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is'))) / len(toks)
    END AS stop_frac,
    text
  FROM b
)
SELECT doc_id, n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_bpe_tokens,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_frac, 6) AS stopword_frac,
  round(0.4 * least(n_tokens / 100.0, 1.0)
      + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
      + 0.3 * least(stop_frac * 4, 1.0), 6) AS quality
FROM m
"""
    lang_scores = {
        "de": ["der", "die", "und", "das", "ist", "nicht"],
        "en": ["the", "and", "of", "to", "a", "in", "is"],
        "es": ["el", "la", "los", "que", "es", "una"],
        "fr": ["le", "la", "et", "les", "des", "est"],
    }
    score_exprs = ", ".join(
        "len(list_filter(toks, t -> t IN (%s))) AS s_%s"
        % (", ".join(f"'{w}'" for w in ws), lang)
        for lang, ws in lang_scores.items()
    )
    lang_sql = f"""
WITH b AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, lang, {score_exprs} FROM b)
SELECT doc_id, lang,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM s
"""
    # mirrors ngram_jaccard_pairs' default hot-shingle valve (max_shingle_df
    # = 1000): shingle universe is df-capped BEFORE both sizes and pairs
    jaccard_sql = f"""
WITH base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
sh0 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS common
  FROM sh l JOIN sh r ON l.sh = r.sh
  WHERE l.id < r.id GROUP BY 1, 2
)
SELECT id_a, id_b, round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE common / (sa.sz + sb.sz - common) >= 0.12
"""
    # transitive closure of the SAME pair definition: recursive CTE =
    # exact connected components; keep the min doc of every component
    cluster_sql = f"""
WITH RECURSIVE base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
sh0 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
jp AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS common
  FROM sh l JOIN sh r ON l.sh = r.sh
  WHERE l.id < r.id GROUP BY 1, 2
),
dup AS (
  SELECT id_a, id_b FROM jp
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE common / (sa.sz + sb.sz - common) >= 0.12
),
edges AS (SELECT id_a AS a, id_b AS b FROM dup
          UNION ALL SELECT id_b, id_a FROM dup),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT d.doc_id, d.lang FROM documents d
LEFT JOIN comp c ON c.id = d.doc_id
WHERE c.component IS NULL OR c.component = d.doc_id
"""
    # same chain as the Spark composition: exact-dedup survivors feed the
    # shingle/pair/closure stages, and only near-dup survivors are scored.
    # shared CTE chain for the corpus-prep composition; the plain query and
    # the sharded extension both build on it (one source of truth)
    corpus_prep_ctes = f"""
WITH RECURSIVE ex AS (
  SELECT * FROM documents
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
),
base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM ex),
sh0 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
jp AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS common
  FROM sh l JOIN sh r ON l.sh = r.sh
  WHERE l.id < r.id GROUP BY 1, 2
),
dup AS (
  SELECT id_a, id_b FROM jp
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE common / (sa.sz + sb.sz - common) >= 0.12
),
edges AS (SELECT id_a AS a, id_b AS b FROM dup
          UNION ALL SELECT id_b, id_a FROM dup),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
kept AS (
  SELECT d.* FROM ex d LEFT JOIN comp c ON c.id = d.doc_id
  WHERE c.component IS NULL OR c.component = d.doc_id
),
b AS (
  SELECT doc_id, lang, text,
    CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
    {_TOKS_SQL} AS toks,
    length(text) AS n_chars_raw,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM kept
),
m AS (
  SELECT doc_id, lang, n_tokens,
    CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE n_punct / n_chars_raw END AS punct_ratio,
    CASE WHEN len(toks) <= 0 THEN 0.0
         ELSE len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is'))) / len(toks)
    END AS stop_frac
  FROM b
)
, prepped AS (
  SELECT doc_id, lang, n_tokens, quality FROM (
    SELECT doc_id, lang, n_tokens,
      round(0.4 * least(n_tokens / 100.0, 1.0)
          + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
          + 0.3 * least(stop_frac * 4, 1.0), 6) AS quality
    FROM m
  ) WHERE quality >= 0.55
)"""
    corpus_prep_sql = corpus_prep_ctes + "\nSELECT * FROM prepped\n"
    # … then decontaminate the survivors against the eval split and assign
    # deterministic training shards — the full pipeline tail
    corpus_prep_sharded_sql = (
        corpus_prep_ctes
        + f""",
ev2 AS (
  SELECT DISTINCT unnest({_SHINGLES_SQL}) AS sh
  FROM (SELECT {_TOKS_SQL} AS toks FROM documents WHERE doc_id % 17 = 0)
),
trd AS (
  SELECT d.doc_id AS id, {_TOKS_SQL} AS toks
  FROM documents d JOIN prepped p ON p.doc_id = d.doc_id
  WHERE d.doc_id % 17 <> 0
),
post2 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM trd),
cont AS (
  SELECT id FROM post2 WHERE sh IN (SELECT sh FROM ev2) GROUP BY id
),
clean AS (
  SELECT p.* FROM prepped p
  WHERE p.doc_id % 17 <> 0 AND p.doc_id NOT IN (SELECT id FROM cont)
)
SELECT doc_id, lang, n_tokens, quality,
       CAST(((instr('0123456789abcdef', substr(k, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(k, 2, 1)) - 1)) % 8
            AS INTEGER) AS shard,
       k AS sort_key
FROM (SELECT c.*, md5('17:' || CAST(doc_id AS VARCHAR)) AS k FROM clean c)
"""
    )
    r_rows = 4
    band_keys = ", ".join(
        "concat_ws(':', '%d', %s)"
        % (b, ", ".join(f"CAST(mh{b * r_rows + i} AS VARCHAR)" for i in range(r_rows)))
        for b in range(4)
    )
    mh_aggs = ", ".join(
        f"min((h * {2 * k + 1} + {k * k + 1}) % {MERSENNE}) AS mh{k}" for k in range(16)
    )
    lsh_verified_sql = f"""
WITH base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
sh0 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
h AS (SELECT id, {_H32_SQL.format(x='sh')} AS h FROM sh0),
sig AS (SELECT id, {mh_aggs} FROM h GROUP BY id),
bands AS (SELECT id, unnest([{band_keys}]) AS band_key FROM sig),
cands AS (SELECT l.id AS id_a, r.id AS id_b
          FROM bands l JOIN bands r ON l.band_key = r.band_key
          WHERE l.id < r.id GROUP BY 1, 2),
hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
common AS (SELECT c.id_a, c.id_b, count(*) AS common
           FROM cands c
           JOIN sh a ON a.id = c.id_a
           JOIN sh b ON b.id = c.id_b AND b.sh = a.sh
           GROUP BY 1, 2)
SELECT id_a, id_b, round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE common / (sa.sz + sb.sz - common) >= 0.12
"""
    ann_sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (SELECT query_id, neighbor_id, round({_COS_SQL}, 6) AS cosine
      FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 10
"""
    cos_ab = _COS_SQL.replace("cv", "a.v").replace("qv", "b.v")
    # banded LSH (B=2 bands × r=8 planes): a pair is a candidate if it
    # shares a bucket in EITHER band — mirrors embedding_near_dup's
    # band-union candidate generation exactly (band b bucket = b·2^r + sig)
    emb_band0 = _hyperplane_sig_sql("v", 8, plane_offset=0)
    emb_band1 = _hyperplane_sig_sql("v", 8, plane_offset=8)
    emb_dedup_sql = f"""
WITH c0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
buckets AS (SELECT id, unnest([{emb_band0}, 256 + {emb_band1}]) AS bucket FROM c0),
cand AS (SELECT a.id AS id_a, b.id AS id_b
         FROM buckets a JOIN buckets b USING (bucket)
         WHERE a.id < b.id GROUP BY 1, 2),
s AS (SELECT id_a, id_b, round({cos_ab}, 6) AS cosine
      FROM cand JOIN c0 a ON a.id = cand.id_a JOIN c0 b ON b.id = cand.id_b)
SELECT id_a, id_b, cosine FROM s WHERE cosine >= 0.25
"""
    sig_c = _hyperplane_sig_sql("cv")
    sig_q = _hyperplane_sig_sql("qv")
    ann_lsh_sql = f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
q AS (SELECT query_id, qv, {sig_q} AS bucket FROM q0),
c0 AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
c AS (SELECT neighbor_id, cv, {sig_c} AS bucket FROM c0),
s AS (SELECT query_id, neighbor_id, c.bucket, round({_COS_SQL}, 6) AS cosine
      FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, bucket, cosine, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 10
"""
    # dataset-card report: every member formula re-derived (lang argmax,
    # token counts, classifier milli-fold, bigram-LM ppl, ExactSubstr dup
    # docs), joined per doc, rolled up per predicted language
    _w_expr = (
        "("
        + _H32_SQL.format(
            x="concat('w:', CAST(("
            + _H32_SQL.format(x="concat('q:', t)")
            + ") % 256 AS VARCHAR))"
        )
        + ") % 2001 - 1000"
    )
    corpus_report_sql = f"""
WITH base AS (SELECT doc_id, text, {_TOKS_SQL} AS toks,
              list_filter({_TOKS_SQL}, t -> t <> '') AS lmtoks
              FROM documents),
lng AS (SELECT doc_id, {score_exprs} FROM base),
lang AS (SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred FROM lng),
tok AS (SELECT doc_id,
  CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(toks) END AS n_tokens
  FROM base),
qf AS (SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL
       ELSE list_filter(toks, t -> t <> '') END AS ftoks FROM base),
qs AS (SELECT doc_id, len(ftoks) AS n_toks,
  CASE WHEN ftoks IS NULL THEN NULL
       ELSE COALESCE(list_sum(list_transform(ftoks, t -> {_w_expr})), 0)
  END AS sum_milli FROM qf),
q AS (SELECT doc_id,
  round(1.0 / (1.0 + exp(-((sum_milli / 1000.0) / greatest(n_toks, 1)))), 6)
    AS score FROM qs),
uni AS (SELECT t AS gram, count(*) AS cnt
        FROM (SELECT unnest(lmtoks) AS t FROM base) GROUP BY t),
v AS (SELECT count(*) AS vs FROM uni),
bi0 AS (SELECT doc_id, lmtoks[i] || ' ' || lmtoks[i + 1] AS gram,
               lmtoks[i] AS ctx
        FROM base, unnest(range(1, greatest(len(lmtoks), 1))) AS u(i)),
bi AS (SELECT gram, count(*) AS cnt FROM bi0 GROUP BY gram),
plp AS (SELECT b.doc_id,
          log2((COALESCE(g.cnt, 0) + 0.5)
               / (COALESCE(c.cnt, 0) + 0.5 * (SELECT vs FROM v))) AS logp
        FROM bi0 b
        LEFT JOIN bi g ON b.gram = g.gram
        LEFT JOIN uni c ON b.ctx = c.gram),
pagg AS (SELECT doc_id, round(pow(2, -avg(logp)), 4) AS ppl
         FROM plp GROUP BY doc_id),
occ AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
               md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS k
        FROM base, unnest(range(1, greatest(len(toks) - 8 + 2, 1))) AS u(i)),
stats AS (SELECT k, count(*) AS cnt, min(doc_id * 1048576 + pos) AS canon
          FROM occ GROUP BY k),
dupd AS (SELECT DISTINCT o.doc_id
         FROM occ o JOIN stats s USING (k)
         WHERE s.cnt > 1 AND o.doc_id * 1048576 + o.pos <> s.canon)
SELECT l.lang_pred,
  count(*) AS n_docs,
  CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
  round(avg(q.score), 4) AS mean_quality,
  round(avg(p.ppl), 3) AS mean_ppl,
  CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS dup_docs
FROM lang l
JOIN tok t USING (doc_id)
JOIN q USING (doc_id)
LEFT JOIN pagg p USING (doc_id)
LEFT JOIN dupd d USING (doc_id)
GROUP BY l.lang_pred
"""
    # CDC-maintained ANN index: final state in closed form (negations for
    # vec_id%17==5, deletes for %23==7), band buckets b0 = sig(planes 0-7),
    # b1 = 256 + sig(planes 8-15) — the same global plane indices as
    # similarity._band_buckets(n_planes=8, bands=2); candidates share ANY
    # band bucket, then exact cosine top-10 with (cosine desc, id) ties.
    sig_idx_q0 = _hyperplane_sig_sql("qv", 8, 0)
    sig_idx_q1 = _hyperplane_sig_sql("qv", 8, 8)
    sig_idx_c0 = _hyperplane_sig_sql("cv", 8, 0)
    sig_idx_c1 = _hyperplane_sig_sql("cv", 8, 8)
    ann_index_sql = f"""
WITH state AS (
  SELECT vec_id,
         CASE WHEN vec_id % 17 = 5
              THEN list_transform(embedding, x -> -x)
              ELSE embedding END AS emb
  FROM embeddings WHERE vec_id % 23 <> 7
),
q0 AS (SELECT vec_id AS query_id, emb AS qv FROM state WHERE vec_id < 3),
q AS (SELECT query_id, qv, {sig_idx_q0} AS b0, 256 + {sig_idx_q1} AS b1 FROM q0),
c0 AS (SELECT vec_id AS neighbor_id, emb AS cv FROM state),
c AS (SELECT neighbor_id, cv, {sig_idx_c0} AS b0, 256 + {sig_idx_c1} AS b1 FROM c0),
s AS (SELECT query_id, neighbor_id, round({_COS_SQL}, 6) AS cosine
      FROM c JOIN q ON (c.b0 = q.b0 OR c.b1 = q.b1))
SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 10
"""
    # ExactSubstr dedup: same tokenization as the engine (_TOKS_SQL ≡
    # tokens_col), full md5 hex as the gram key, canonical = smallest
    # (doc_id, pos) encoded as doc_id·2^20+pos (docs are far shorter than
    # 2^20 tokens), island break exactly where the engine's fold breaks
    # (pos > prev_pos + n ⇒ windows no longer overlap/touch)
    exact_substr_sql = """
WITH base AS (SELECT doc_id, {toks} AS toks FROM documents),
occ AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         md5(array_to_string(list_slice(toks, i, i + {n} - 1), ' ')) AS k
  FROM base, unnest(range(1, greatest(len(toks) - {n} + 2, 1))) AS u(i)
),
stats AS (
  SELECT k, count(*) AS cnt, min(doc_id * 1048576 + pos) AS canon
  FROM occ GROUP BY k
),
dup AS (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN stats s USING (k)
  WHERE s.cnt > 1 AND o.doc_id * 1048576 + o.pos <> s.canon
),
isl AS (
  SELECT doc_id, pos,
    SUM(CASE WHEN prev IS NULL OR pos > prev + {n} THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
)
SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + {n} AS INTEGER) AS span_end
FROM isl GROUP BY doc_id, island
""".format(toks=_TOKS_SQL, n=8)
    # the scrub: re-derive the merged spans (same CTEs), then rebuild each
    # doc's text from its ORIGINAL-case tokens minus the covered positions
    scrub_substr_sql = """
WITH base AS (SELECT doc_id, {toks} AS ltoks,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents),
occ AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         md5(array_to_string(list_slice(ltoks, i, i + {n} - 1), ' ')) AS k
  FROM base, unnest(range(1, greatest(len(ltoks) - {n} + 2, 1))) AS u(i)
),
stats AS (
  SELECT k, count(*) AS cnt, min(doc_id * 1048576 + pos) AS canon
  FROM occ GROUP BY k
),
dup AS (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN stats s USING (k)
  WHERE s.cnt > 1 AND o.doc_id * 1048576 + o.pos <> s.canon
),
isl AS (
  SELECT doc_id, pos,
    SUM(CASE WHEN prev IS NULL OR pos > prev + {n} THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {n} AS e
  FROM isl GROUP BY doc_id, island
),
agg AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS sp FROM spans GROUP BY doc_id),
scr AS (
  SELECT b.doc_id, b.toks,
         COALESCE(a.sp, CAST([] AS STRUCT(s INTEGER, e INTEGER)[])) AS sp
  FROM base b LEFT JOIN agg a USING (doc_id)
)
SELECT doc_id,
  -- COALESCE: DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
  COALESCE(array_to_string(list_transform(
    list_filter(range(0, len(toks)),
                i -> len(list_filter(sp, r -> i >= r.s AND i < r.e)) = 0),
    i -> toks[i + 1]), ' '), '') AS text,
  CAST(len(toks) -
       len(list_filter(range(0, len(toks)),
                       i -> len(list_filter(sp, r -> i >= r.s AND i < r.e)) = 0))
       AS INTEGER) AS n_dropped_tokens
FROM scr
""".format(toks=_TOKS_SQL, n=8)
    return {
        "cdc_apply_changelog": final_state_sql,
        "dedup_exact_substr": exact_substr_sql,
        "train_scrub_substr": scrub_substr_sql,
        # bigram-LM perplexity, self-scored: exact integer counts; the only
        # float ops (log2/avg/pow) are rounded well above double noise
        "text_ngram_ppl": f"""
WITH base AS (SELECT doc_id,
              list_filter({_TOKS_SQL}, t -> t <> '') AS toks
              FROM documents),
uni AS (SELECT t AS gram, count(*) AS cnt
        FROM (SELECT unnest(toks) AS t FROM base) GROUP BY t),
v AS (SELECT count(*) AS vs FROM uni),
bi0 AS (SELECT doc_id,
               toks[i] || ' ' || toks[i + 1] AS gram,
               toks[i] AS ctx
        FROM base, unnest(range(1, greatest(len(toks), 1))) AS u(i)),
bi AS (SELECT gram, count(*) AS cnt FROM bi0 GROUP BY gram),
sc AS (
  SELECT b.doc_id,
         log2((COALESCE(g.cnt, 0) + 0.5)
              / (COALESCE(c.cnt, 0) + 0.5 * (SELECT vs FROM v))) AS logp
  FROM bi0 b
  LEFT JOIN bi g ON b.gram = g.gram
  LEFT JOIN uni c ON b.ctx = c.gram
),
agg AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_scored,
         round(avg(logp), 6) AS avg_logp,
         round(pow(2, -avg(logp)), 4) AS ppl
  FROM sc GROUP BY doc_id
)
SELECT * FROM agg
UNION ALL
SELECT d.doc_id, 0 AS n_scored, NULL AS avg_logp, NULL AS ppl
FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM agg)
""",
        "cdc_table_stats": _CHANGELOG_CTE.rstrip()[:-1].rstrip()
        + """),
fs AS (
  SELECT user_id, slot, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1 AND op <> 'D'
)
SELECT 'user_id' AS col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT user_id) AS ndv,
       CAST(min(user_id) AS VARCHAR) AS min_val,
       CAST(max(user_id) AS VARCHAR) AS max_val FROM fs
UNION ALL
SELECT 'slot', count(*),
       CAST(sum(CASE WHEN slot IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT slot),
       CAST(min(slot) AS VARCHAR), CAST(max(slot) AS VARCHAR) FROM fs
UNION ALL
SELECT 'event_type', count(*),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT event_type),
       min(event_type), max(event_type) FROM fs
UNION ALL
SELECT 'value', count(*),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT value),
       CAST(CAST(min(value) AS DECIMAL(28,6)) AS VARCHAR),
       CAST(CAST(max(value) AS DECIMAL(28,6)) AS VARCHAR) FROM fs
""",
        "cdc_txn_payload": final_state_sql,
        # file framing/rotation/checksums are transport: the final state is
        # the plain replay, so any framing bug breaks the hash
        "cdc_binlog_file_ingest": final_state_sql,
        # socket transport changes nothing about the relational content —
        # the wire protocol, spool framing, and distributed decode are all
        # under the same final-state hash
        "cdc_socket_ingest": final_state_sql,
        "cdc_binlog_export_roundtrip": final_state_sql,
        "cdc_binlog_dir_tail": final_state_sql,
        # rolled-back XA transactions (txn = lsn//16, txn % 5 == 4) never
        # commit: exclude them BEFORE last-image-wins, so a key whose
        # newest image rode a rolled-back txn falls back to its previous
        # committed image — exactly what prepare-time buffering yields
        "cdc_xa_transactions": _CHANGELOG_CTE
        + """
SELECT user_id, slot,
       event_type AS last_event_type,
       value AS last_value,
       source_lsn AS last_lsn
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn
      FROM cl WHERE (source_lsn // 16) % 5 <> 4)
WHERE rn = 1 AND op <> 'D'
""",
        # TRUNCATE at the lsn midpoint wipes everything applied before it;
        # the final state is the replay of strictly-post-truncate events
        "cdc_truncate": _CHANGELOG_CTE
        + """
SELECT user_id, slot,
       event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn
      FROM cl
      WHERE source_lsn > (SELECT MAX(event_id) // 2 FROM events))
WHERE rn = 1 AND op <> 'D'
""",
        "cdc_multi_table_txn": _CHANGELOG_CTE
        + """
SELECT CASE WHEN slot % 2 = 0 THEN 'even' ELSE 'odd' END AS table_ref,
       user_id, slot,
       event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        "cdc_merge_into_lake": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # pt-table-checksum chunk table over the replayed final state: the
        # engine's distributed checksum math (md5-prefix row hash, key-hash
        # chunking, bit_xor fold, float→integer-micros canonicalization)
        # reproduced in portable SQL — any value/row divergence flips a
        # chunk's xor or count
        "cdc_table_checksum": _CHANGELOG_CTE
        + """
, last AS (
  SELECT user_id, slot, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1 AND op <> 'D'
), canon AS (
  SELECT user_id, slot, event_type,
         CAST(floor(value * 1000000) AS BIGINT) AS value_us
  FROM last
), hashed AS (
  SELECT CAST(concat('0x', substr(md5(concat_ws(chr(1),
             coalesce(CAST(user_id AS VARCHAR), chr(0)),
             coalesce(CAST(slot AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT)
           % 64 AS chunk,
         CAST(concat('0x', substr(md5(concat_ws(chr(1),
             coalesce(CAST(user_id AS VARCHAR), chr(0)),
             coalesce(CAST(slot AS VARCHAR), chr(0)),
             coalesce(event_type, chr(0)),
             coalesce(CAST(value_us AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT)
           AS rh
  FROM canon
)
SELECT chunk, COUNT(*) AS n_rows, bit_xor(rh) AS xor_hash
FROM hashed GROUP BY chunk
""",
        # latin1 wire bytes must decode to the exact unicode text (a lossy
        # utf-8 pass yields U+FFFD and breaks the hash)
        "cdc_charset_decode": _CHANGELOG_CTE
        + """
SELECT user_id, source_lsn,
       'café€' || CAST(user_id % 5 AS VARCHAR) AS name
FROM cl
""",
        # as-of-timestamp read at the first batch's commit instant == the
        # first-half replay, regardless of the head
        "cdc_read_asof": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn
      FROM cl WHERE source_lsn <= (SELECT MAX(source_lsn) // 2 FROM cl))
WHERE rn = 1 AND op <> 'D'
""",
        # statement lineage: rows grouped by the ROWS_QUERY text their wire
        # transaction carried (even lsn//16 groups), NULL for txns logged
        # without one — a cross-GTID lineage leak changes the NULL group
        "cdc_stmt_lineage": _CHANGELOG_CTE
        + """
SELECT CASE WHEN (source_lsn // 16) % 2 = 0
            THEN 'bulk load #' || CAST(source_lsn // 16 AS VARCHAR)
       END AS stmt,
       COUNT(*) AS n_rows, CAST(SUM(source_lsn) AS BIGINT) AS sum_lsn
FROM cl GROUP BY 1
""",
        # z-order rewrite changes clustering only: same final-image slice
        # semantics as cdc_time_slice_read
        "cdc_zorder_compact": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value,
       epoch_us(ts) AS last_ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-15 00:00:00'
""",
        # final-image time slice: the two-phase read_where must equal the
        # full-replay state filtered AFTER reconciliation (an old in-range
        # image of a since-updated or deleted key must not appear)
        "cdc_time_slice_read": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value,
       epoch_us(ts) AS last_ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-15 00:00:00'
""",
        # primary died at ~70%, promoted replica re-served 40-100%, the
        # watermark pruned the overlap: final state == plain full replay
        "cdc_failover_promote": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # any split of the changelog across main/branch merges converges to
        # the same lsn-reconciled state: branch backfill == plain full replay
        "cdc_branch_backfill": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # the audit gate admits clean data unchanged and the aborted poison
        # batch leaves no trace: WAP read == plain full replay
        "cdc_wap_publish": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # expiry prunes history, not state: post-expiry read == full replay
        "cdc_expire_versions": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # layout migration is pure physics: rebucket mid-ingest must land
        # the same final state as the uninterrupted replay
        "cdc_rebucket_midstream": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # data skipping is pure physics: a listing-pruned key-range read must
        # equal the full-replay final state filtered to the same range
        "cdc_key_range_scan": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D' AND user_id BETWEEN 100 AND 300
""",
        # MINIMAL row images: each column independently takes its value from
        # the last event that CARRIED it (presence rule mirrored from the
        # Spark feed: I=all, U rotates on lsn%3, D=none), voided by any later
        # delete; rows whose last op is D are gone. This brute-force per-key
        # formulation is what the engine's two-micro-batch fold + base
        # fallback must reproduce.
        "cdc_minimal_image": _CHANGELOG_CTE
        + """
, p AS (
  SELECT *,
    (op = 'I' OR (op = 'U' AND source_lsn % 3 = 0)) AS has_et,
    (op = 'I' OR (op = 'U' AND source_lsn % 3 IN (0, 1))) AS has_val,
    (op = 'I' OR (op = 'U' AND source_lsn % 3 = 2)) AS has_ts
  FROM cl
), agg AS (
  SELECT user_id, slot,
    arg_max(op, source_lsn) AS last_op,
    coalesce(max(CASE WHEN op = 'D' THEN source_lsn END), -1) AS del_lsn,
    max(CASE WHEN has_et THEN source_lsn END) AS et_lsn,
    arg_max(event_type, source_lsn) FILTER (WHERE has_et) AS et_v,
    max(CASE WHEN has_val THEN source_lsn END) AS val_lsn,
    arg_max(value, source_lsn) FILTER (WHERE has_val) AS val_v,
    max(CASE WHEN has_ts THEN source_lsn END) AS ts_lsn,
    arg_max(ts, source_lsn) FILTER (WHERE has_ts) AS ts_v
  FROM p GROUP BY user_id, slot
)
SELECT user_id, slot,
  CASE WHEN et_lsn > del_lsn THEN et_v END AS last_event_type,
  CASE WHEN val_lsn > del_lsn THEN val_v END AS last_value,
  CASE WHEN ts_lsn > del_lsn THEN CAST(epoch_us(ts_v) AS BIGINT) END AS last_ts_us
FROM agg WHERE last_op <> 'D'
""",
        # the incrementally-maintained rollup must equal the same rollup
        # computed directly over the full-replay final state
        "agg_incremental_view": _CHANGELOG_CTE
        + """
, fs AS (
  SELECT user_id, slot, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1 AND op <> 'D'
)
SELECT user_id,
       count(*) AS n_slots,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       count(DISTINCT event_type) AS n_event_types
FROM fs GROUP BY user_id
""",
        # composition is state-preserving: source-shard split + changefeed
        # export + namespaced fan-in must reproduce the direct replay
        "cdc_changefeed_compose": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # the tailed replica must land on the same final state as the
        # direct replay
        "cdc_changefeed_tail": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # the round-trip must land on the same final state as the direct
        # replay — same oracle SQL (string render/parse is value-exact)
        "cdc_jsonl_roundtrip": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # erasure removes exactly the predicate's surviving keys; everything
        # else is the plain-replay final state
        "cdc_erase_keys": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D' AND user_id % 19 <> 0
""",
        # the Debezium-envelope round trip must land on the direct replay's
        # final state (same oracle as the other migration round trips)
        "cdc_debezium_roundtrip": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # dump-seeded restore + stream tail must land on the uninterrupted
        # replay's final state (escaping/type-map/handoff all value-exact)
        "cdc_dump_restore": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value,
       ts AS last_ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # net per-key change among events past the midpoint cursor: the lake
        # stores per-batch last images, so the feed's last-image-per-key over
        # lsn > mid is exactly what read_changes returns (D stays D, I/U -> U)
        "cdc_lake_changefeed": _CHANGELOG_CTE
        + """
SELECT CASE WHEN op = 'D' THEN 'D' ELSE 'U' END AS op,
       user_id, slot, event_type, value, source_lsn
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn
      FROM cl WHERE source_lsn > (SELECT max(source_lsn) FROM cl) // 2)
WHERE rn = 1
""",
        "cdc_modify_column": _CHANGELOG_CTE
        + """
SELECT user_id, CAST(slot AS BIGINT) AS slot,
       event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        "cdc_drop_column": _CHANGELOG_CTE
        + """
SELECT user_id, slot, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # classification and surviving values stated in closed form: the
        # corruption rules are modular in event_id with fixed precedence, and
        # a valid row's decoded fields equal the expressions that built them
        "cdc_quarantine": """
SELECT event_id AS source_lsn,
       CASE WHEN event_id % 97 = 0 THEN 'short_header'
            WHEN event_id % 101 = 0 THEN 'reserved_bits'
            WHEN event_id % 103 = 0 THEN 'frame_size_mismatch' END AS reason,
       CASE WHEN ok THEN 'c' || CAST(user_id AS VARCHAR) END AS conv_id,
       CASE WHEN ok THEN CAST(event_id % 64 AS INTEGER) END AS turn_idx,
       CASE WHEN ok THEN event_type END AS role,
       CASE WHEN ok THEN 'msg-' || CAST(event_id AS VARCHAR) END AS text,
       CASE WHEN ok AND event_id % 5 <> 0
            THEN 't' || CAST(event_id % 7 AS VARCHAR) END AS tool,
       CASE WHEN ok THEN CAST(epoch_us(ts) AS BIGINT) END AS ts_us
FROM (SELECT *, event_id % 97 <> 0 AND event_id % 101 <> 0
                AND event_id % 103 <> 0 AS ok FROM events)
""",
        # rename is value-preserving: same final state as the plain replay,
        # with the column surfaced under its new logical name
        "cdc_rename_column": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS etype, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        "cdc_last_image_wins": """
SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
FROM (SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn FROM events)
WHERE rn = 1
""",
        "cdc_update_decompose": _CHANGELOG_CTE
        + """
SELECT source_lsn, user_id, slot, 'D' AS out_op, CAST(NULL AS DOUBLE) AS value
FROM cl WHERE op = 'U'
UNION ALL
SELECT source_lsn, user_id, slot, 'I' AS out_op, value FROM cl WHERE op = 'U'
""",
        "cdc_scd2_history": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type, value,
       source_lsn AS valid_from_lsn, valid_to_lsn,
       valid_to_lsn IS NULL AS is_current
FROM (
  SELECT *, lead(source_lsn) OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn) AS valid_to_lsn
  FROM cl
)
WHERE op <> 'D'
""",
        "cdc_scd2_as_of": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type, value,
       source_lsn AS valid_from_lsn, valid_to_lsn
FROM (
  SELECT *, lead(source_lsn) OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn) AS valid_to_lsn
  FROM cl
)
WHERE op <> 'D' AND valid_from_lsn <= 6000
  AND (valid_to_lsn IS NULL OR valid_to_lsn > 6000)
""",
        # identical construction to cdc_scd2_history: the Spark side applies
        # the feed in three micro-batches; invariance to the split is the
        # property under test.
        "cdc_scd2_incremental": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type, value,
       source_lsn AS valid_from_lsn, valid_to_lsn,
       valid_to_lsn IS NULL AS is_current
FROM (
  SELECT *, lead(source_lsn) OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn) AS valid_to_lsn
  FROM cl
)
WHERE op <> 'D'
""",
        # index probe → pruned fetch must equal a plain filter of the
        # reconciled final state (stale entries for keys whose event_type
        # moved between the two refreshes must be gone).
        "cdc_index_lookup": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D' AND event_type = 'click'
""",
        "cdc_index_range_scan": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D' AND value >= 100.0 AND value <= 200.0
""",
        "cdc_keyset_page": """
SELECT user_id, event_id, event_type FROM events
WHERE user_id > 75 OR (user_id = 75 AND event_id > 0)
ORDER BY user_id, event_id LIMIT 100
""",
        "cdc_lsn_encode": """
SELECT event_id,
       printf('mysql-bin.%06d', event_id // 2500 + 1) AS binlog_file,
       event_id % 2500 + 4 AS binlog_pos,
       (event_id // 2500 + 1) * 1000000 + (event_id % 2500 + 4) AS source_lsn,
       CAST((((event_id // 2500 + 1) * 1000000 + (event_id % 2500 + 4)) // 1000000 - 1) * 2500
            + (((event_id // 2500 + 1) * 1000000 + (event_id % 2500 + 4)) % 1000000 - 4)
            AS BIGINT) AS decoded_event_id
FROM events
""",
        # GTID/heartbeat wire decode: the oracle computes the same
        # uuid/gno/logical-clock fields the engine parses from event bytes
        "cdc_gtid_decode": """
SELECT event_id,
       repeat(h2, 4) || '-' || repeat(h2, 2) || '-' || repeat(h2, 2)
         || '-' || repeat(h2, 2) || '-' || repeat(h2, 6) AS sid,
       event_id + 1 AS gno,
       CAST(event_id % 2 AS INTEGER) AS flags,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id % 1000 END
         AS last_committed,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id % 1000 + 1 END
         AS sequence_number,
       printf('mysql-bin.%06d', event_id // 2500 + 1) AS hb_log
FROM (SELECT event_id, '0' || CAST(user_id % 10 AS VARCHAR) AS h2 FROM events)
""",
        "cdc_partial_json": _CHANGELOG_CTE
        + """
, last AS (
  SELECT user_id, slot, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1
), agg AS (
  SELECT user_id, slot,
         CAST(count(*) AS INTEGER) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN source_lsn END) AS lastp,
         max(CASE WHEN event_type = 'click' THEN source_lsn END) AS lastc
  FROM cl GROUP BY user_id, slot
)
SELECT l.user_id, l.slot,
       l.event_type AS last_event_type,
       l.value AS last_value,
       a.n_events,
       CASE WHEN a.lastp IS NOT NULL AND (a.lastc IS NULL OR a.lastp > a.lastc)
            THEN 1 END AS p_flag
FROM last l JOIN agg a ON l.user_id = a.user_id AND l.slot = a.slot
""",
        "cdc_partial_json_minimal": _CHANGELOG_CTE
        + """
, last AS (
  SELECT user_id, slot, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1
), agg AS (
  SELECT user_id, slot,
         CAST(count(*) AS INTEGER) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN source_lsn END) AS lastp,
         max(CASE WHEN event_type = 'click' THEN source_lsn END) AS lastc
  FROM cl GROUP BY user_id, slot
)
SELECT l.user_id, l.slot,
       l.event_type AS last_event_type,
       l.value AS last_value,
       a.n_events,
       CASE WHEN a.lastp IS NOT NULL AND (a.lastc IS NULL OR a.lastp > a.lastc)
            THEN 1 END AS p_flag
FROM last l JOIN agg a ON l.user_id = a.user_id AND l.slot = a.slot
""",
        "cdc_wire_ddl": _CHANGELOG_CTE
        + """
, mx AS (SELECT CAST(FLOOR(MAX(source_lsn) / 2) AS BIGINT) AS cutoff FROM cl)
SELECT user_id, slot,
       CASE WHEN source_lsn > (SELECT cutoff FROM mx)
            THEN CAST(slot * 7 + 1 AS INTEGER) END AS note,
       event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        "cdc_table_map_meta": """
SELECT event_id,
       event_id % 2 = 0 AS tiny_signed,
       event_id % 3 <> 0 AS long_signed,
       'v' || CAST(user_id % 10 AS VARCHAR) AS vname,
       CAST(45 + user_id % 5 AS INTEGER) AS charset,
       CASE WHEN event_id % 2 = 1 THEN '0' ELSE '0,1' END AS pk_csv,
       event_id % 5 <> 0 AS txt_visible,
       CAST(CASE WHEN event_id % 2 = 1 THEN 255 ELSE -1 END AS BIGINT)
         AS tiny_val,
       CAST(CASE WHEN event_id % 3 = 0 THEN 4294967294 ELSE -2 END AS BIGINT)
         AS long_val
FROM events
""",
        "cdc_decode_types": """
SELECT event_id,
  CASE WHEN event_id % 11 = 0 THEN NULL ELSE
    CAST(CAST((CASE WHEN event_id % 3 = 0 THEN '-' ELSE '' END)
         || CAST(event_id % 100000 AS VARCHAR) || '.'
         || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
         AS DECIMAL(18,4)) AS VARCHAR) END AS amt,
  CASE WHEN event_id % 13 = 0 THEN NULL ELSE
    CAST(DATE '2020-01-01' + CAST(event_id % 3000 AS INTEGER) AS VARCHAR) END AS d,
  ts AS dt,
  CASE WHEN event_id % 17 = 0 THEN NULL ELSE
    printf('%02d:%02d:%02d', (event_id % 86400) // 3600,
           ((event_id % 86400) % 3600) // 60, event_id % 60) END AS tm,
  CAST(event_id % 16777216 - 8388608 AS BIGINT) AS i24,
  'e' || CAST(event_id % 5 AS VARCHAR) AS en,
  concat_ws(',',
    CASE WHEN (event_id % 16) & 1 = 1 THEN 'a' END,
    CASE WHEN (event_id % 16) & 2 = 2 THEN 'b' END,
    CASE WHEN (event_id % 16) & 4 = 4 THEN 'c' END,
    CASE WHEN (event_id % 16) & 8 = 8 THEN 'd' END) AS st,
  CAST(event_id % 1048576 AS BIGINT) AS bit20,
  CAST(1901 + event_id % 150 AS BIGINT) AS yr,
  value AS dbl,
  CASE WHEN event_id % 19 = 0 THEN NULL ELSE props END AS bl,
  printf('%s%02d:%02d:%02d.%06d',
         CASE WHEN event_id % 7 = 0 THEN '-' ELSE '' END,
         event_id % 839, event_id % 59 + 1, (event_id // 7) % 60,
         (event_id * 137) % 1000000) AS tneg,
  printf('%s%02d:%02d:%02d',
         CASE WHEN event_id % 5 = 0 THEN '-' ELSE '' END,
         event_id % 300, event_id % 59 + 1, (event_id // 3) % 60) AS ltm,
  CAST(make_timestamp(((event_id * 97) % 2000000000) * 1000000) AS VARCHAR) AS lts,
  CAST(date_trunc('second', ts) AS VARCHAR) AS ldt,
  CASE WHEN event_id % 23 = 0 THEN NULL
       WHEN event_id % 6 = 3 THEN
         'POLYGON((' || CAST(event_id % 100 AS VARCHAR) || ' '
                     || CAST(event_id % 50 - 25 AS VARCHAR) || ','
                     || CAST(event_id % 100 + 2 AS VARCHAR) || ' '
                     || CAST(event_id % 50 - 25 AS VARCHAR) || ','
                     || CAST(event_id % 100 + 2 AS VARCHAR) || ' '
                     || CAST(event_id % 50 - 23 AS VARCHAR) || ','
                     || CAST(event_id % 100 AS VARCHAR) || ' '
                     || CAST(event_id % 50 - 25 AS VARCHAR) || '))'
       WHEN event_id % 6 = 5 THEN
         'MULTIPOINT((' || CAST(event_id % 100 AS VARCHAR) || ' '
                        || CAST(event_id % 50 - 25 AS VARCHAR) || '),('
                        || CAST(event_id % 100 + 1 AS VARCHAR) || ' '
                        || CAST(event_id % 50 - 24 AS VARCHAR) || '))'
       WHEN event_id % 2 = 0 THEN
         'POINT(' || CAST(event_id % 100 AS VARCHAR) || ' '
                  || CAST(event_id % 50 - 25 AS VARCHAR) || ')'
       ELSE
         'LINESTRING(' || CAST(event_id % 100 AS VARCHAR) || ' '
                       || CAST(event_id % 50 - 25 AS VARCHAR) || ','
                       || CAST(event_id % 100 + 1 AS VARCHAR) || ' '
                       || CAST(event_id % 50 - 24 AS VARCHAR) || ')'
  END AS geo,
  CASE WHEN event_id % 29 = 0 THEN NULL ELSE
    concat_ws(',', CAST((event_id % 7) * 4 AS VARCHAR),
                   CAST(event_id % 13 AS VARCHAR),
                   CAST(-((event_id % 5) * 2) AS VARCHAR)) END AS vec
FROM events
""",
        "cdc_hash_anonymize": f"""
SELECT event_id,
       sha256('{SALT}' || props) AS props_sha256,
       to_base64(from_hex(sha256('{SALT}' || props))) AS props_digest_b64
FROM events
""",
        "cdc_config_projection": """
SELECT c_custkey, sha256('s3' || c_name) AS c_name, c_nationkey, c_mktsegment
FROM customer
""",
        "cdc_batch_metrics": _CHANGELOG_CTE
        + """
SELECT source_lsn // 1000 AS batch_id,
       count(*) AS n_rows,
       count(CASE WHEN op <> 'D' THEN 1 END) AS upserts,
       count(CASE WHEN op = 'D' THEN 1 END) AS deletes,
       min(source_lsn) AS lsn_min,
       max(source_lsn) AS lsn_max
FROM cl GROUP BY 1
""",
        "cdc_schema_first_seen": """
SELECT event_type, min(event_id) AS first_seen, count(*) AS n
FROM events GROUP BY event_type
""",
        "cdc_table_definitions": """
SELECT * FROM (VALUES
  ('lakehouse','accounts','user_id',1,'bigint',true,1,8),
  ('lakehouse','accounts','slot',2,'int',true,1,8),
  ('lakehouse','accounts','event_type',3,'string',false,1,8),
  ('lakehouse','accounts','value',4,'double',false,1,8),
  ('lakehouse','accounts','note',5,'string',false,1,8),
  ('lakehouse','transcripts','conv_id',1,'string',true,0,16),
  ('lakehouse','transcripts','turn_idx',2,'int',true,0,16),
  ('lakehouse','transcripts','role',3,'string',false,0,16),
  ('lakehouse','transcripts','text',4,'string',false,0,16),
  ('lakehouse','transcripts','tool',5,'string',false,0,16),
  ('lakehouse','transcripts','ts',6,'timestamp',false,0,16)
) t(schema_name, table_name, column_name, ordinal_position, data_type,
    is_key, table_version, n_buckets)
""",
        "json_extract_props": """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       count(*) AS n, min(event_id) AS first_event
FROM events GROUP BY 1
""",
        "cdc_snapshot_order": """
SELECT user_id, event_id, event_type, value FROM events
ORDER BY user_id, event_id LIMIT 500
""",
        # final state = feed last-image (D-last keys gone) + the S0 rows,
        # whose slot range (>= 50) the feed (slot = event_id % 23) never hits
        "cdc_snapshot_interleaved": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
UNION ALL
SELECT DISTINCT user_id, CAST(50 + user_id % 4 AS INTEGER) AS slot,
       'seed' AS last_event_type,
       CAST(user_id % 1000 AS DOUBLE) AS last_value
FROM events
""",
        # shards = user_id mod 3 (disjoint key spaces); global lsn =
        # source<<44 | per-source lsn; watermark = max lsn SEEN per source
        "cdc_multi_source": _CHANGELOG_CTE
        + """
, s AS (SELECT cl.*, CAST(user_id % 3 AS INTEGER) AS source_id,
               (user_id % 3) * 17592186044416 + source_lsn AS g_lsn
        FROM cl)
, marks AS (SELECT source_id, max(source_lsn) AS gtid_hwm FROM s GROUP BY source_id)
, live AS (
  SELECT source_id, count(*) AS live_keys
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY g_lsn DESC) AS rn FROM s)
  WHERE rn = 1 AND op <> 'D'
  GROUP BY source_id)
SELECT m.source_id, m.gtid_hwm, coalesce(l.live_keys, 0) AS live_keys
FROM marks m LEFT JOIN live l ON l.source_id = m.source_id
""",
        "cdc_point_lookup": _CHANGELOG_CTE
        + """
SELECT user_id, slot,
       event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D' AND user_id = 42
""",
        # the maintained view must equal the PLAIN join of both final
        # states: fact final state (replay) LEFT JOIN the dim with its
        # mid-stream update applied (acctbal+100 for custkey % 7 == 0)
        "cdc_join_view_incremental": _CHANGELOG_CTE
        + """
, fs AS (
  SELECT user_id, slot, event_type, value,
         user_id % (SELECT count(*) FROM customer) + 1 AS cust_key
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                     ORDER BY source_lsn DESC) AS rn FROM cl)
  WHERE rn = 1 AND op <> 'D'
)
SELECT fs.user_id, fs.slot,
       fs.event_type AS last_event_type,
       fs.value AS last_value,
       c.c_name,
       CAST(CASE WHEN c.c_custkey % 7 = 0 THEN c.c_acctbal + 100
                 ELSE c.c_acctbal END AS DOUBLE) AS cust_acctbal
FROM fs LEFT JOIN customer c ON fs.cust_key = c.c_custkey
""",
        "transcript_assemble": f"""
WITH t AS ({_DOC_TURNS_SQL})
SELECT conv_id, count(*) AS n_turns,
       coalesce(string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx), '') AS conversation,
       CAST(coalesce(sum({_TOK_N_SQL}), 0) AS BIGINT) AS n_tokens
FROM t GROUP BY conv_id
""",
        # poisoned events quarantine; clean events replay — a key whose
        # newest image was poisoned keeps its previous good image
        "cdc_cast_quarantine": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn
      FROM cl
      WHERE NOT (op <> 'D' AND user_id % 31 = 0 AND source_lsn % 2 = 1))
WHERE rn = 1 AND op <> 'D'
""",
        # the repaired replica must equal the primary = the plain replay
        "cdc_repair_drift": _CHANGELOG_CTE
        + """
SELECT user_id, slot, event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                   ORDER BY source_lsn DESC) AS rn FROM cl)
WHERE rn = 1 AND op <> 'D'
""",
        # final per-turn state recomputed relationally (edit overrides,
        # delete removes), then the span chain re-derived over it
        "cdc_to_training_corpus": f"""
WITH t0 AS ({_DOC_TURNS_SQL}),
fin AS (SELECT conv_id, turn_idx, role,
               CASE WHEN turn_idx % 10 = 0 THEN text || ' [edited]'
                    ELSE text END AS text
        FROM t0 WHERE turn_idx % 10 <> 5),
w AS (SELECT conv_id, turn_idx, role,
             length(concat_ws(': ', role, text)) AS llen,
             coalesce(sum(length(concat_ws(': ', role, text)) + 1) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM fin),
conv AS (SELECT conv_id,
                string_agg(concat_ws(': ', role, text), chr(10)
                           ORDER BY turn_idx) AS conversation
         FROM fin GROUP BY conv_id)
SELECT w.conv_id, w.turn_idx,
       CAST(w.off + length(w.role) + 2 AS INTEGER) AS span_start,
       CAST(w.off + w.llen AS INTEGER) AS span_end,
       substr(c.conversation, CAST(w.off + length(w.role) + 3 AS BIGINT),
              CAST(w.llen - length(w.role) - 2 AS BIGINT)) AS span_text
FROM w JOIN conv c ON w.conv_id = c.conv_id
WHERE w.role = 'assistant'
""",
        # every window recomputed via generate_series + list_slice; an empty
        # token list yields a negative series bound = no chunks (both sides)
        "train_chunk_overlap": """
WITH t AS (SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                  END AS toks
           FROM documents),
e AS (SELECT doc_id, toks,
             unnest(generate_series(
               0, CAST(floor((len(toks) - 1) / 32) * 32 AS BIGINT), 32)) AS s
      FROM t)
SELECT doc_id,
       CAST(s / 32 AS INTEGER) AS chunk_idx,
       CAST(s AS INTEGER) AS chunk_start,
       CAST(len(list_slice(toks, s + 1, s + 64)) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(toks, s + 1, s + 64), ' ') AS chunk_text
FROM e
""",
        # offsets recomputed independently (window sum of line lengths) and
        # the substring re-extracted from the string_agg-rendered document —
        # the hash gates Spark's fold against SQL's window arithmetic
        "train_loss_spans": f"""
WITH t AS ({_DOC_TURNS_SQL}),
w AS (SELECT conv_id, turn_idx, role,
             length(concat_ws(': ', role, text)) AS llen,
             coalesce(sum(length(concat_ws(': ', role, text)) + 1) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t),
conv AS (SELECT conv_id,
                string_agg(concat_ws(': ', role, text), chr(10)
                           ORDER BY turn_idx) AS conversation
         FROM t GROUP BY conv_id)
SELECT w.conv_id, w.turn_idx,
       CAST(w.off + length(w.role) + 2 AS INTEGER) AS span_start,
       CAST(w.off + w.llen AS INTEGER) AS span_end,
       substr(c.conversation, CAST(w.off + length(w.role) + 3 AS BIGINT),
              CAST(w.llen - length(w.role) - 2 AS BIGINT)) AS span_text
FROM w JOIN conv c ON w.conv_id = c.conv_id
WHERE w.role = 'assistant'
""",
        # a turn survives iff its suffix token sum (window ordered by
        # turn_idx DESC) fits the budget — same set as the operator's
        # longest-fitting-suffix (token counts are non-negative)
        "transcript_token_budget": f"""
WITH t AS ({_DOC_TURNS_SQL}),
w AS (SELECT conv_id, turn_idx, role, text, {_TOK_N_SQL} AS tok,
             sum({_TOK_N_SQL}) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sufsum
      FROM t)
SELECT conv_id,
       count(*) AS n_turns,
       count(*) FILTER (WHERE sufsum <= 64) AS kept_turns,
       CAST(coalesce(sum(tok) FILTER (WHERE sufsum <= 64), 0) AS BIGINT) AS kept_tokens,
       coalesce(string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx)
                FILTER (WHERE sufsum <= 64), '') AS conversation
FROM w GROUP BY conv_id
""",
        "train_sample_stratified": f"""
SELECT doc_id, lang FROM documents
WHERE {_H32_SQL.format(x='CAST(doc_id AS VARCHAR)')} % 1000000
      < CAST(round((CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5 ELSE 1.0 END) * 1000000) AS BIGINT)
""",
        "train_pack_sequences": f"""
WITH t AS (SELECT doc_id, text, {_TOK_N_SQL} AS tok,
                  CAST(floor(doc_id / 4096) AS BIGINT) AS shard
           FROM documents),
w AS (SELECT *, sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS pre
      FROM t)
SELECT shard, CAST(floor(pre / 256) AS BIGINT) AS seq, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       string_agg(text, chr(10) ORDER BY doc_id) AS text
FROM w GROUP BY 1, 2
""",
        "text_redact_pii": _redact_pii_sql(),
        "events_time_rollup": """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       sum(value) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
        # the HLL estimator of agg_distinct_hll, grouped by the tumbling
        # hour (date_trunc == F.window('1 hour') for epoch-aligned hours)
        "events_window_distinct": """
WITH h AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT window_start, event_type, h % 4096 AS reg_idx,
         max(CASE WHEN h // 4096 = 0 THEN 21
                  ELSE 21 - length(bin(h // 4096)) END) AS rho
  FROM h GROUP BY 1, 2, 3
),
g AS (
  SELECT window_start, event_type,
         sum(pow(2.0, -rho)) AS s_hit, count(*) AS n_hit
  FROM r GROUP BY 1, 2
),
e AS (
  SELECT window_start, event_type,
         0.7213 / (1.0 + 1.079 / 4096) * 4096.0 * 4096.0
           / (s_hit + (4096 - n_hit)) AS raw,
         4096 - n_hit AS zeros
  FROM g
)
SELECT e.window_start, e.event_type,
       CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
            THEN 4096.0 * ln(4096.0 / zeros) ELSE raw END AS approx_users,
       x.exact_users
FROM e JOIN (SELECT date_trunc('hour', ts) AS window_start, event_type,
                    count(DISTINCT user_id) AS exact_users
             FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2) x
  USING (window_start, event_type)
""",
        "events_sessionize": """
WITH n AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
           AS session_idx
  FROM n)
SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM s GROUP BY 1, 2
""",
        "events_asof_enrich": """
SELECT l.event_id, l.user_id, l.event_type, l.value,
       r.event_id AS last_purchase_id, r.value AS last_purchase_value
FROM events l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.event_id > r.event_id
""",
        "events_interval_join": """
SELECT l.user_id, l.event_id AS click_id, l.ts AS click_ts,
       r.event_id AS purchase_id, r.ts AS purchase_ts,
       r.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
""",
        # the same HLL math, register for register: portable md5-derived
        # 32-bit hash, p=12, rho via length(bin(w)) (integer-exact), dyadic
        # power sums (exact in double), shared alpha literal — the
        # approximate estimate itself is hash-gated, not just its inputs
        "agg_distinct_hll": """
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, h % 4096 AS reg_idx,
         max(CASE WHEN h // 4096 = 0 THEN 21
                  ELSE 21 - length(bin(h // 4096)) END) AS rho
  FROM h GROUP BY 1, 2
),
g AS (
  SELECT event_type, sum(pow(2.0, -rho)) AS s_hit, count(*) AS n_hit
  FROM r GROUP BY 1
),
e AS (
  SELECT event_type,
         0.7213 / (1.0 + 1.079 / 4096) * 4096.0 * 4096.0
           / (s_hit + (4096 - n_hit)) AS raw,
         4096 - n_hit AS zeros
  FROM g
)
SELECT e.event_type,
       CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
            THEN 4096.0 * ln(4096.0 / zeros) ELSE raw END AS approx_users,
       x.exact_users
FROM e JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_users
             FROM events WHERE user_id IS NOT NULL GROUP BY 1) x
  USING (event_type)
""",
        # the same 200-bin histogram, bin for bin: lo/hi are the engines'
        # identical double min/max; binning and interpolation are pure IEEE
        # basic ops, so even the interpolated estimates hash-match
        "agg_quantile_sketch": """
WITH b AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
                  CAST(max(value) AS DOUBLE) AS hi FROM events),
h AS (
  SELECT event_type,
         least(greatest(CAST(floor((value - b.lo) / ((b.hi - b.lo) / 200.0))
                             AS INT), 0), 199) AS bin
  FROM events, b WHERE value IS NOT NULL
),
r AS (SELECT event_type, bin, count(*) AS cnt FROM h GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS total
  FROM r
),
qx AS (SELECT c.*, q.q FROM c,
       -- bare 0.95 unnests as DECIMAL in DuckDB; the estimator must run
       -- in double like the Spark side or the interpolation drifts
       (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q) q)
SELECT event_type, q,
       b.lo + (bin + (q * total - (cum - cnt)) / cnt)
              * ((b.hi - b.lo) / 200.0) AS approx_value
FROM qx, b
WHERE cum >= q * total AND (cum - cnt) < q * total
""",
        # count-min, counter for counter: salted portable hash i + ':' +
        # value, d=4 rows × w=1024 counters, min-fold over the probe's
        # cells — integer math end to end, estimates hash-gated exactly
        "topk_heavy_hitters_cms": """
WITH x AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1),
top AS (
  SELECT user_id, exact_n
  FROM (SELECT *, row_number() OVER (ORDER BY exact_n DESC, user_id) AS rn
        FROM x)
  WHERE rn <= 10
),
d AS (SELECT unnest(range(4)) AS cm_row),
h AS (
  SELECT d.cm_row,
         CAST(concat('0x', substr(md5(concat(CAST(d.cm_row AS VARCHAR), ':',
              CAST(e.user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1024 AS cm_idx
  FROM events e CROSS JOIN d
),
cms AS (SELECT cm_row, cm_idx, count(*) AS cnt FROM h GROUP BY 1, 2),
probe AS (
  SELECT t.user_id, t.exact_n, d.cm_row,
         CAST(concat('0x', substr(md5(concat(CAST(d.cm_row AS VARCHAR), ':',
              CAST(t.user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1024 AS cm_idx
  FROM top t CROSS JOIN d
)
SELECT p.user_id, p.exact_n, min(coalesce(c.cnt, 0)) AS cms_n
FROM probe p LEFT JOIN cms c USING (cm_row, cm_idx)
GROUP BY 1, 2
""",
        "agg_rollup": """
SELECT event_type, count(*) AS cnt,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""",
        "topk_hot_users": """
SELECT user_id, count(*) AS cnt FROM events
GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10
""",
        "join_enrich": """
SELECT r_name, n_name, count(*) AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
        "dedup_ngram_jaccard": jaccard_sql,
        # directional containment over the same df-capped shingle universe
        "dedup_containment": f"""
WITH base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
sh0 AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM base),
hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS common
  FROM sh l JOIN sh r ON l.sh = r.sh
  WHERE l.id <> r.id GROUP BY 1, 2
)
SELECT id_a, id_b, round(common / sa.sz, 6) AS containment
FROM pairs JOIN sizes sa ON sa.id = id_a
WHERE sa.sz >= 3 AND common / sa.sz >= 0.5
""",
        "dedup_cluster_keep": cluster_sql,
        "train_corpus_prep": corpus_prep_sql,
        "train_corpus_prep_sharded": corpus_prep_sharded_sql,
        # same trigram definition as the dedup family; eval = doc_id % 17 == 0
        "train_decontaminate": f"""
WITH ev AS (
  SELECT DISTINCT unnest({_SHINGLES_SQL}) AS sh
  FROM (SELECT {_TOKS_SQL} AS toks FROM documents WHERE doc_id % 17 = 0)
),
tr AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks
       FROM documents WHERE doc_id % 17 <> 0),
post AS (SELECT id, unnest({_SHINGLES_SQL}) AS sh FROM tr),
agg AS (
  SELECT id, count(*) AS total_shingles,
         count(CASE WHEN sh IN (SELECT sh FROM ev) THEN 1 END) AS overlap_shingles
  FROM post GROUP BY id
)
SELECT d.doc_id,
       coalesce(a.total_shingles, 0) AS total_shingles,
       coalesce(a.overlap_shingles, 0) AS overlap_shingles,
       CASE WHEN coalesce(a.total_shingles, 0) = 0 THEN 0.0
            ELSE round(a.overlap_shingles / a.total_shingles, 6)
       END AS overlap_frac,
       CAST(coalesce(a.overlap_shingles, 0) >= 1 AS INTEGER) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
LEFT JOIN agg a ON a.id = d.doc_id
""",
        "train_shuffle_shard": """
WITH k AS (SELECT doc_id,
                  md5('17:' || CAST(doc_id AS VARCHAR)) AS sort_key
           FROM documents)
SELECT doc_id,
       CAST(((instr('0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(sort_key, 2, 1)) - 1)) % 8
            AS INTEGER) AS shard,
       sort_key
FROM k
""",
        "text_repetition": f"""
WITH base AS (SELECT doc_id AS id, {_TOKS_SQL} AS toks FROM documents),
stats AS (
  SELECT id, len(toks) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE round(1.0 - len(list_distinct(toks)) / len(toks), 6)
         END AS dup_token_frac
  FROM base
),
bg AS (
  SELECT id, unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM base WHERE len(toks) >= 2
),
mode AS (
  SELECT id, max(c) AS top_c, sum(c) AS n_bg
  FROM (SELECT id, bg, count(*) AS c FROM bg GROUP BY id, bg)
  GROUP BY id
)
SELECT s.id AS doc_id, s.n_tokens, s.dup_token_frac,
       CASE WHEN m.n_bg IS NULL OR m.n_bg = 0 THEN 0.0
            ELSE round(m.top_c / m.n_bg, 6)
       END AS top_bigram_frac
FROM stats s LEFT JOIN mode m ON m.id = s.id
""",
        "dedup_lsh_verified": lsh_verified_sql,
        "dedup_minhash_sig": _minhash_sql(),
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        "dedup_simhash": _simhash_sql(),
        # band rotation has COMPLETE recall at k+1 bands, so the banded
        # Spark plan must reproduce the brute-force all-pairs oracle
        "dedup_simhash_near": f"""
WITH sig AS ({_simhash_sql()})
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
        "ann_cosine_topk": ann_sql,
        # full-probe IVF is provably identical to brute force — same oracle
        "ann_ivf_topk": ann_sql,
        "ann_lsh_bucket": ann_lsh_sql,
        "ann_index_search": ann_index_sql,
        "corpus_report": corpus_report_sql,
        # hashed linear classifier: the weighted sum is an exact integer
        # fold (milli-unit weights), so only the final division + exp touch
        # floats — bit-identical across engines after round(6)
        "text_classify_quality": f"""
WITH b AS (
  SELECT doc_id,
    -- NULL text stays NULL (the engine propagates NULL end-to-end); an
    -- unconditional COALESCE would invent score 0.5 for NULL documents
    CASE WHEN text IS NULL THEN NULL
         ELSE list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                          t -> t <> '') END AS toks
  FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n_toks,
    CASE WHEN toks IS NULL THEN NULL
         ELSE COALESCE(list_sum(list_transform(toks, t ->
      ({_H32_SQL.format(x="concat('w:', CAST((" + _H32_SQL.format(x="concat('q:', t)") + ") % 256 AS VARCHAR))")}) % 2001 - 1000
    )), 0) END AS sum_milli
  FROM b
)
SELECT doc_id, CAST(n_toks AS INTEGER) AS n_tokens,
  round((sum_milli / 1000.0) / greatest(n_toks, 1), 6) AS margin,
  round(1.0 / (1.0 + exp(-((sum_milli / 1000.0) / greatest(n_toks, 1)))), 6) AS score,
  (round(1.0 / (1.0 + exp(-((sum_milli / 1000.0) / greatest(n_toks, 1)))), 6) >= 0.5) AS keep
FROM s
""",
        "dedup_embedding_cosine": emb_dedup_sql,
        "text_quality": quality_sql,
        "lang_id": lang_sql,
        "doc_fingerprint": f"""
WITH b AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       CAST(coalesce(list_sum(list_transform(toks, t -> {_H32_SQL.format(x='t')})), 0) % {MERSENNE} AS BIGINT) AS fingerprint,
       CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS n_tokens
FROM b
""",
        "multimodal_meta": """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS digest
FROM documents
""",
        # closed-form mirror of the synthesized payloads decoded by the
        # pure-numpy codecs: pixel(x,y,c) = s+x+y+c (no mod-256 wraparound),
        # so sum over the raster is 3whs + 3h*C(w,2)*... expanded below;
        # WAV sample k = s+k so the sum is n*s + n(n-1)/2
        "media_container_meta": """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'ogg' WHEN 1 THEN 'mp4'
            ELSE 'avi' END AS kind,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 ELSE 2 END AS INTEGER)
         AS n_tracks,
       CAST(CASE doc_id % 3
            WHEN 0 THEN 4 + doc_id % 5
            WHEN 1 THEN (30 + doc_id % 20) + (43 + doc_id % 9)
            ELSE (100 + doc_id % 50) + (1000 + doc_id % 100)
            END AS INTEGER) AS n_units,
       round(CASE doc_id % 3
             WHEN 0 THEN (4 + doc_id % 5) * 480 / 48000.0
             WHEN 1 THEN (1000 + doc_id % 500) / 1000.0
             ELSE (100 + doc_id % 50) / 25.0 END, 6) AS duration_s,
       CASE doc_id % 3 WHEN 0 THEN 'vorbis' WHEN 1 THEN 'avc1'
            ELSE 'MJPG' END AS codec
FROM documents
""",
        "media_jpeg_roundtrip": """
SELECT doc_id AS media_id,
       CAST(12 + doc_id % 11 AS INTEGER) AS width,
       CAST(9 + doc_id % 8 AS INTEGER) AS height,
       TRUE AS max_err_ok, TRUE AS mean_err_ok
FROM documents
""",
        "multimodal_decode": """
WITH m AS (
  SELECT doc_id, doc_id % 5 AS fmt,
         4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h,
         doc_id % 200 AS si, 150 + doc_id % 50 AS n, doc_id % 100 AS sa
  FROM documents)
SELECT doc_id AS media_id,
  CASE fmt WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp' WHEN 2 THEN 'png'
           WHEN 3 THEN 'gif' ELSE 'wav' END AS kind,
  CASE WHEN fmt < 4 THEN CAST(w AS INTEGER) END AS width,
  CASE WHEN fmt < 4 THEN CAST(h AS INTEGER) END AS height,
  CASE WHEN fmt = 4 THEN CAST(n AS BIGINT) END AS n_samples,
  CAST(CASE WHEN fmt < 4
       THEN 3*w*h*si + 3*h*(w*(w-1)//2) + 3*w*(h*(h-1)//2) + 3*w*h
       ELSE n*sa + n*(n-1)//2 END AS BIGINT) AS checksum
FROM m
""",
    }
