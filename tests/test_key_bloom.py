"""Per-file key bloom filters: manifest-level point-lookup pruning.

Delta files land in arrival order, so their key min/max spans the domain
and range stats keep every delta; the manifest bloom (lake/bloom.py,
Hudi's bloom-index pattern) is what prunes them. Covered: no false
negatives ever (soundness), actual pruning on disjoint-key batches,
the row cap, lookup correctness with blooms active (including deletes),
and conservative behavior for entries without blooms.
"""

import random

import pyspark.sql.types as T
import pytest

from mysql_secure_agent_spark.lake.bloom import (
    KEY_BLOOM_MAX_ROWS,
    bloom_contains,
    build_bloom,
    key_hash,
)
from mysql_secure_agent_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)
KEY = ["conv_id", "turn_idx"]


def _mk(spark, tmp_path, bucket_cols=("conv_id",)):
    return LakeTable.create(
        str(tmp_path / "t"), SCHEMA, KEY,
        bucket_cols=list(bucket_cols), n_buckets=4,
    )


def _batch(spark, convs, op="U"):
    rows = [(c, i, f"{c}-t{i}", op, li * 100 + i)
            for li, c in enumerate(convs) for i in range(3)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, op string, source_lsn long"
    )


def test_bloom_unit_no_false_negatives():
    hs = [key_hash([f"c{i}"], ["string"]) for i in range(1000)]
    b = build_bloom(hs)
    assert all(bloom_contains(b, h) for h in hs)
    # false positives exist but are rare at this load factor
    others = [key_hash([f"x{i}"], ["string"]) for i in range(2000)]
    fp = sum(bloom_contains(b, h) for h in others)
    assert fp < 2000 * 0.05


def test_merge_records_bloom_and_lookup_prunes(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(spark, _batch(spark, [f"a{i}" for i in range(20)]), "b1")
    tbl.merge(spark, _batch(spark, [f"b{i}" for i in range(20)]), "b2")
    tbl.merge(spark, _batch(spark, [f"c{i}" for i in range(20)]), "b3")
    commit = tbl.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    assert all(e.get("key_bloom") for e in entries), "deltas must carry blooms"

    # a key only in batch 1: its bucket holds files from all 3 batches, but
    # the bloom must drop the b2/b3 files from the listing
    h = key_hash(["a7"], ["string"])
    b = h % commit.n_buckets
    no_bloom = tbl.candidate_paths(commit, buckets=[b])
    pruned = tbl.candidate_paths(commit, buckets=[b], key_probe=h)
    assert len(pruned) < len(no_bloom)
    got = tbl.lookup(spark, {"conv_id": "a7"}).orderBy("turn_idx").collect()
    assert [r.text for r in got] == ["a7-t0", "a7-t1", "a7-t2"]


def test_lookup_sees_delete_despite_pruning(spark, tmp_path):
    # the tombstone's file must survive the bloom (same key tuple)
    tbl = _mk(spark, tmp_path)
    tbl.merge(spark, _batch(spark, ["a1", "a2"]), "b1")
    tbl.merge(spark, _batch(spark, ["a1"], op="D"), "b2")
    assert tbl.lookup(spark, {"conv_id": "a1"}).count() == 0
    assert tbl.lookup(spark, {"conv_id": "a2"}).count() == 3


def test_bloom_skipped_above_row_cap(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    n = KEY_BLOOM_MAX_ROWS // 3 + 10  # 3 rows per conv → exceeds the cap
    tbl.merge(spark, _batch(spark, [f"z{i}" for i in range(n)]).coalesce(1), "big")
    commit = tbl.commit_at()
    entries = [e for es in commit.files.values() for e in es]
    # buckets split the batch 4 ways, so per-file rows may still be under
    # the cap; assert the cap is honored where a file exceeds it
    import os

    import pyarrow.parquet as pq

    for e in entries:
        rows = pq.ParquetFile(os.path.join(tbl.root, e["path"])).metadata.num_rows
        if rows > KEY_BLOOM_MAX_ROWS:
            assert "key_bloom" not in e
        else:
            assert "key_bloom" in e


def test_entries_without_bloom_are_kept(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(spark, _batch(spark, ["a1"]), "b1")
    commit = tbl.commit_at()
    for es in commit.files.values():
        for e in es:
            e.pop("key_bloom", None)  # legacy manifest without blooms
    h = key_hash(["a1"], ["string"])
    assert tbl.candidate_paths(commit, buckets=[h % commit.n_buckets], key_probe=h)


def test_compound_bucket_cols_probe(spark, tmp_path, lookup_matches_read):
    tbl = _mk(spark, tmp_path, bucket_cols=("conv_id", "turn_idx"))
    tbl.merge(spark, _batch(spark, ["a1", "a2", "a3"]), "b1")
    tbl.merge(spark, _batch(spark, ["b1", "b2", "b3"]), "b2")
    tbl.merge(spark, spark.createDataFrame(
        [("a2", 0, None, "D", 1000)],
        "conv_id string, turn_idx int, text string, op string, source_lsn long",
    ), "b3")
    got = tbl.lookup(spark, {"conv_id": "a2", "turn_idx": 1}).collect()
    assert [r.text for r in got] == ["a2-t1"]
    assert lookup_matches_read(tbl, {"conv_id": "a2", "turn_idx": 0}) == []
    for c, i in [("a2", 1), ("b3", 2), ("a2", 7), ("zz", 0)]:
        lookup_matches_read(tbl, {"conv_id": c, "turn_idx": i})


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_prefix_lookup_equals_read_over_seeded_batches(
    spark, tmp_path, seed, lookup_matches_read
):
    """Random upsert/delete batches over a small key space, so every bucket
    holds bloom-carrying deltas with several images and tombstones per key;
    a conv_id lookup (a prefix of the key) must equal the filtered read."""
    rnd = random.Random(seed)
    tbl = _mk(spark, tmp_path)
    lsn = 0
    for b in range(5):
        rows = []
        for _ in range(30):
            lsn += 1
            c, i = f"c{rnd.randrange(12)}", rnd.randrange(4)
            op = "D" if rnd.random() < 0.25 else "U"
            rows.append((c, i, f"{c}-t{i}-{lsn}", op, lsn))
        tbl.merge(spark, spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string, op string, source_lsn long"
        ), f"b{b}")
    for c in ["c0", "c3", "c6", "c9", "c12"]:  # c12 never written
        lookup_matches_read(tbl, {"conv_id": c})
