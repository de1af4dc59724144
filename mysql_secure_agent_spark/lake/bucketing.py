"""Driver-side bucket computation: Spark's Murmur3 hash in pure Python.

``LakeTable`` assigns bucket = ``pmod(hash(bucket_cols), n_buckets)`` with
Spark's ``F.hash`` (Murmur3_x86_32, seed 42, values chained as seeds). To
answer a POINT LOOKUP — "give me conversation X, turn 3" on a 10^10-row
table — the driver must compute that same bucket locally so the read opens
only 1/n_buckets of the file listing (and, post-compaction, only the row
groups whose key stats cover X). Running a Spark job to hash one key would
cost more than the lookup.

This reimplements exactly the subset of
``org.apache.spark.sql.catalyst.expressions.Murmur3Hash`` the table's key
types need (int/long/string/bool/date-ish), with Spark's two deviations from
canonical murmur3 kept intact:

* 4-byte words are read LITTLE-endian (Platform.getInt on x86);
* tail bytes are each mixed as a FULL word (signed byte value), not packed —
  ``Murmur3_x86_32.hashUnsafeBytes``'s per-byte loop.

Parity with ``F.hash`` is asserted by a randomized test
(``tests/test_lookup.py``).
"""

from __future__ import annotations

import datetime
import struct

_MASK = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    x &= _MASK
    return ((x << r) | (x >> (32 - r))) & _MASK


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK
    k1 = _rotl(k1, 15)
    return (k1 * 0x1B873593) & _MASK


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK
    h1 ^= h1 >> 16
    return h1


def hash_int(value: int, seed: int) -> int:
    return _fmix(_mix_h1(seed & _MASK, _mix_k1(value & _MASK)), 4)


def hash_long(value: int, seed: int) -> int:
    value &= 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _MASK, _mix_k1(value & _MASK))
    h1 = _mix_h1(h1, _mix_k1((value >> 32) & _MASK))
    return _fmix(h1, 8)


def hash_bytes(data: bytes, seed: int) -> int:
    """Spark's hashUnsafeBytes: aligned words little-endian, then each tail
    byte (SIGNED) mixed as its own word."""
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _MASK
    for i in range(0, aligned, 4):
        (word,) = struct.unpack_from("<i", data, i)
        h1 = _mix_h1(h1, _mix_k1(word & _MASK))
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:  # signed byte semantics (Platform.getByte)
            b -= 256
        h1 = _mix_h1(h1, _mix_k1(b & _MASK))
    return _fmix(h1, n)


_EPOCH_DAY = datetime.date(1970, 1, 1)


def _days(v) -> int:
    """A DATE value as Spark hashes it: days since the epoch (pyarrow and
    PySpark hand it over as ``datetime.date``)."""
    return v if isinstance(v, int) else (v - _EPOCH_DAY).days


# bucket-key DDL type → its Murmur3 codec, (value, seed) → hash
_KEY_CODECS = {
    **dict.fromkeys(
        ("tinyint", "smallint", "int", "integer"), lambda v, h: hash_int(int(v), h)
    ),
    "date": lambda v, h: hash_int(_days(v), h),
    **dict.fromkeys(("bigint", "long"), lambda v, h: hash_long(int(v), h)),
    **dict.fromkeys(
        ("string", "varchar"), lambda v, h: hash_bytes(str(v).encode("utf-8"), h)
    ),
    "boolean": lambda v, h: hash_int(1 if v else 0, h),
    "binary": lambda v, h: hash_bytes(bytes(v), h),
}
# the bucket-key DDL types ``spark_hash_typed`` hashes (any other raises
# TypeError): the keys a driver bucket id or a file's key bloom can cover
HASHABLE_KEY_TYPES = frozenset(_KEY_CODECS)


def spark_hash_typed(values, ddl_types: list[str]) -> int:
    """``F.hash(*cols)`` for driver-side scalars: seed 42, each value's hash
    feeds the next as seed; None leaves the running hash unchanged (Spark's
    null semantics). Returns a SIGNED 32-bit int, like the Catalyst
    expression.

    The codec is dispatched on the column's DDL TYPE, never the value's
    range: Spark hashes an int32-range value stored in a BIGINT column with
    the long codec, so any value-range dispatch would silently compute the
    wrong bucket. (An untyped ``spark_hash`` helper with exactly that trap
    used to live here; bucket math must always go through this function or
    ``bucket_for``.)"""
    h = 42
    for v, dt in zip(values, ddl_types):
        if v is None:
            continue
        codec = _KEY_CODECS.get(dt.lower())
        if codec is None:
            raise TypeError(f"unsupported bucket-key DDL type: {dt}")
        h = codec(v, h)
    return h - (1 << 32) if h >= (1 << 31) else h


def bucket_for(values, ddl_types: list[str], n_buckets: int) -> int:
    """pmod(murmur3(values), n_buckets) — the LakeTable bucket id."""
    return spark_hash_typed(values, ddl_types) % n_buckets
