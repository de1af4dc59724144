"""MySQL binlog column-type codecs — the reference's 22-type decode surface
(SURVEY §1.2 / §2.1 S9) as COLUMNAR numpy/Arrow decoders.

The reference decodes one value at a time through a scalar dispatch
(``parser/shyiko/RowParser.java:115-168``; codecs ``:171-457``). This module
keeps the exact wire layouts but decodes a whole Arrow batch per COLUMN:
every per-row quantity (offsets, widths, packed words) lives in a numpy
array, so the work per column is a handful of vectorized gathers — no
per-row Python in the decode path. (The one exception, noted below, is
materializing ``decimal.Decimal`` objects, which is the pandas/Arrow
representation boundary for DecimalType, not decode work.)

Wire layouts implemented (reference file:line):

  TINY/SHORT/INT24/LONG/LONGLONG  little-endian, sign-extended
                                  (RowParser.java:180-198, INT24 :188-189)
  FLOAT/DOUBLE                    IEEE bit reinterpret (:200-206)
  NEWDECIMAL                      MySQL packed BCD, 9 digits per 4-byte
                                  big-endian group, sign bit in byte 0,
                                  negative =全bits flipped (:408-446,
                                  mysql/strings/decimal.c)
  DATE                            3B LE, day=v%32, month=(v>>5)%16,
                                  year=v>>9 (:220-232)
  TIME (pre-5.6)                  3B LE signed packed decimal HHMMSS
                                  (:234-244; sign per MySQL, see below)
  TIME_V2                         (3+fsp)B BE biased fixed-point: stored =
                                  packed + 0x800000<<(8*fsp_bytes), negative
                                  packed = negated positive word — MySQL
                                  my_time_packed_to_binary; the reference
                                  decodes the non-negative subset (:243-268)
  TIMESTAMP (pre-5.6)             4B LE epoch seconds (:270-279)
  TIMESTAMP_V2                    4B BE epoch seconds + fsp (:281-294)
  DATETIME (pre-5.6)              8B LE packed decimal YYYYMMDDHHMMSS
                                  (:296-313)
  DATETIME_V2                     5B BE bit-packed, yearMonth=year*13+month
                                  (:315-338, :327-331)
  YEAR                            1900 + byte (:171-173)
  STRING/VARCHAR/VAR_STRING       1/2-byte length prefix by meta (:340-351)
  BLOB family                     meta(1..4)-byte LE length prefix (:353-356)
  ENUM                            1/2-byte ordinal → label (:358-360)
  SET                             bitmask → label list (:362-364)
  BIT                             big-endian bit field (:175-178)
  GEOMETRY                        blob-framed 4B LE SRID + OGC WKB → WKT
                                  (EXCEEDS the reference, which throws
                                  "Unsupported type", RowParser.java:165-166;
                                  layout per MySQL docs 11.4.3)

The scalar ENCODERS here exist for the synthetic feed / golden tests only —
the analog of the reference's live-capture harness
(``binlog_test_generator/CaptureBinlogEvents.java``).
"""

from __future__ import annotations

import datetime as _dt
import struct
from dataclasses import dataclass, field
from decimal import Context, Decimal
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa

# MySQL column type codes (ColumnType.java:27-61)
TINY, SHORT, LONG, FLOAT, DOUBLE = 1, 2, 3, 4, 5
TIMESTAMP, LONGLONG, INT24, DATE = 7, 8, 9, 10
TIME, DATETIME, YEAR, VARCHAR, BIT = 11, 12, 13, 15, 16
TIMESTAMP_V2, DATETIME_V2, TIME_V2 = 17, 18, 19
VECTOR = 242  # MySQL 9.0 (MYSQL_TYPE_VECTOR): blob-framed packed LE float32s
JSON, NEWDECIMAL, ENUM, SET = 245, 246, 247, 248
TINY_BLOB, MEDIUM_BLOB, LONG_BLOB, BLOB = 249, 250, 251, 252
VAR_STRING, STRING, GEOMETRY = 253, 254, 255

DIG_PER_DEC = 9
DIG_TO_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]  # mysql/strings/decimal.c
# MySQL decimals reach 65 digits; the default Decimal context (prec=28)
# would silently ROUND during scaleb — use an exact-width context.
_DEC_CTX = Context(prec=65)


@dataclass
class ColumnSpec:
    """One column of the row image: MySQL type code + type metadata.

    meta semantics by type (mirrors TableMapEventBody column metadata):
      NEWDECIMAL: {"precision": p, "scale": s}
      ENUM/SET:   {"labels": [...]}
      BLOB/JSON:  {"len_bytes": 1..4}
      VARCHAR/STRING/VAR_STRING: {"max_len": n}  (1B prefix if < 256 else 2B)
      BIT:        {"bits": n}
      *_V2 time types: {"fsp": 0|2|4|6} (fractional-second digits)
    """

    name: str
    type_code: int
    meta: dict[str, Any] = field(default_factory=dict)


def decimal_bin_size(precision: int, scale: int) -> int:
    """Stored byte width of a NEWDECIMAL (RowParser.java:208-218)."""
    x = precision - scale
    ipd, fpd = x // DIG_PER_DEC, scale // DIG_PER_DEC
    return (
        (ipd << 2)
        + DIG_TO_BYTES[x - ipd * DIG_PER_DEC]
        + (fpd << 2)
        + DIG_TO_BYTES[scale - fpd * DIG_PER_DEC]
    )


def _fsp_bytes(fsp: int) -> int:
    return (fsp + 1) // 2  # parseFractionalSeconds, RowParser.java:371-378


def _days_from_civil(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Proleptic-Gregorian (year, month, day) → days since 1970-01-01,
    vectorized integer arithmetic (Howard Hinnant's civil-date algorithm).
    MySQL DATE/DATETIME span years 1000-9999 — outside pandas' default
    nanosecond timestamp range — so date math stays in int64 and the result
    materializes as datetime64[us]/[D], which covers the full domain."""
    y = y - (m <= 2)
    era = np.floor_divide(y, 400)
    yoe = y - era * 400
    mp = np.where(m > 2, m - 3, m + 9)
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


# ============================================================ scalar encoders
def _time_parts(v) -> tuple[bool, int, int, int, int]:
    """Normalize a TIME-ish value (datetime.time, timedelta, or
    '[-]HHH:MM:SS[.ffffff]' string) to (negative, h, m, s, micros).
    MySQL TIME spans ±838:59:59 — beyond datetime.time — so strings and
    timedeltas are first-class inputs."""
    if isinstance(v, str):
        neg = v.startswith("-")
        hh, mm, rest = v.lstrip("-").split(":")
        if "." in rest:
            ss, frac = rest.split(".")
            us = int(frac.ljust(6, "0")[:6])
        else:
            ss, us = rest, 0
        return neg, int(hh), int(mm), int(ss), us
    if isinstance(v, _dt.timedelta):
        neg = v < _dt.timedelta(0)
        if neg:
            v = -v
        secs = v.days * 86400 + v.seconds
        return neg, secs // 3600, secs % 3600 // 60, secs % 60, v.microseconds
    return False, v.hour, v.minute, v.second, v.microsecond


def _enc_decimal(v: Decimal, precision: int, scale: int) -> bytes:
    """Inverse of asBigDecimal (RowParser.java:408-446): big-endian 9-digit
    groups, partial groups in DIG_TO_BYTES bytes, sign bit on byte 0,
    negative = every byte complemented."""
    q = Decimal(v).scaleb(scale, _DEC_CTX)
    unscaled = int(q.to_integral_value())
    negative = unscaled < 0
    unscaled = abs(unscaled)
    digits = str(unscaled).rjust(precision, "0")
    x = precision - scale
    int_digits, frac_digits = digits[:x], digits[x:]

    out = bytearray()

    def emit(dig: str, leading_partial: bool) -> None:
        if leading_partial:
            rem = len(dig) % DIG_PER_DEC
            if rem:
                out.extend(int(dig[:rem] or "0").to_bytes(DIG_TO_BYTES[rem], "big"))
                dig = dig[rem:]
            for i in range(0, len(dig), DIG_PER_DEC):
                out.extend(int(dig[i : i + DIG_PER_DEC]).to_bytes(4, "big"))
        else:
            full = len(dig) // DIG_PER_DEC * DIG_PER_DEC
            for i in range(0, full, DIG_PER_DEC):
                out.extend(int(dig[i : i + DIG_PER_DEC]).to_bytes(4, "big"))
            rem = dig[full:]
            if rem:
                out.extend(int(rem).to_bytes(DIG_TO_BYTES[len(rem)], "big"))

    emit(int_digits, leading_partial=True)
    emit(frac_digits, leading_partial=False)
    out[0] |= 0x80  # positive sign bit
    if negative:
        for i in range(len(out)):
            out[i] ^= 0xFF
    assert len(out) == decimal_bin_size(precision, scale)
    return bytes(out)


def _enc_value(spec: ColumnSpec, v: Any) -> bytes:
    t, m = spec.type_code, spec.meta
    if t == TINY:
        return struct.pack("<b", v)
    if t == SHORT:
        return struct.pack("<h", v)
    if t == INT24:
        return int(v & 0xFFFFFF).to_bytes(3, "little")
    if t == LONG:
        return struct.pack("<i", v)
    if t == LONGLONG:
        return struct.pack("<q", v)
    if t == FLOAT:
        return struct.pack("<f", v)
    if t == DOUBLE:
        return struct.pack("<d", v)
    if t == YEAR:
        return struct.pack("<B", int(v) - 1900)
    if t == NEWDECIMAL:
        return _enc_decimal(v, m["precision"], m["scale"])
    if t == DATE:
        packed = v.year * 512 + v.month * 32 + v.day
        return packed.to_bytes(3, "little")
    if t == TIME_V2:
        # MySQL my_time_packed_to_binary: one biased big-endian fixed-point
        # over (3 + fsp) bytes — stored = sign*(hms<<8nb + frac) + bias.
        # For non-negative values this is bit-identical to the reference's
        # sign-bit-plus-fields view (RowParser.java:246-268).
        fsp = m.get("fsp", 0)
        nb = _fsp_bytes(fsp)
        neg, h, mi, s, us = _time_parts(v)
        packed = ((h << 12) | (mi << 6) | s) << (8 * nb) | (us // 100 ** (3 - nb))
        if neg:
            packed = -packed
        bias = 0x800000 << (8 * nb)
        return (packed + bias).to_bytes(3 + nb, "big")
    if t == TIME:
        # pre-5.6: 3B LE signed packed decimal HHMMSS (RowParser.java:234-244)
        neg, h, mi, s, _ = _time_parts(v)
        packed = h * 10000 + mi * 100 + s
        if neg:
            packed = -packed
        return (packed & 0xFFFFFF).to_bytes(3, "little")
    if t == TIMESTAMP:
        # pre-5.6: 4B LE epoch seconds (RowParser.java:270-279)
        secs = int(v.timestamp()) if hasattr(v, "timestamp") else int(v)
        return secs.to_bytes(4, "little")
    if t == DATETIME:
        # pre-5.6: 8B LE packed decimal YYYYMMDDHHMMSS (RowParser.java:296-313)
        packed = (
            (v.year * 10000 + v.month * 100 + v.day) * 1_000_000
            + v.hour * 10000 + v.minute * 100 + v.second
        )
        return packed.to_bytes(8, "little")
    if t == TIMESTAMP_V2:
        fsp = m.get("fsp", 0)
        secs = int(v.timestamp()) if hasattr(v, "timestamp") else int(v)
        out = secs.to_bytes(4, "big")
        nb = _fsp_bytes(fsp)
        if nb:
            us = getattr(v, "microsecond", 0)
            out += (us // (100 ** (3 - nb))).to_bytes(nb, "big")
        return out
    if t == DATETIME_V2:
        fsp = m.get("fsp", 0)
        ym = v.year * 13 + v.month
        word = (
            (1 << 39)
            | (ym << 22)
            | (v.day << 17)
            | (v.hour << 12)
            | (v.minute << 6)
            | v.second
        )
        out = word.to_bytes(5, "big")
        nb = _fsp_bytes(fsp)
        if nb:
            out += (v.microsecond // (100 ** (3 - nb))).to_bytes(nb, "big")
        return out
    if t in (VARCHAR, VAR_STRING, STRING):
        b = v.encode() if isinstance(v, str) else bytes(v)
        if m.get("max_len", 255) < 256:
            return struct.pack("<B", len(b)) + b
        return struct.pack("<H", len(b)) + b
    if t in (BLOB, TINY_BLOB, MEDIUM_BLOB, LONG_BLOB, JSON):
        b = v.encode() if isinstance(v, str) else bytes(v)
        nb = m.get("len_bytes", 4)
        return len(b).to_bytes(nb, "little") + b
    if t == ENUM:
        labels = m["labels"]
        width = 1 if len(labels) < 256 else 2
        ordinal = labels.index(v) + 1  # MySQL enums are 1-based
        return ordinal.to_bytes(width, "little")
    if t == SET:
        labels = m["labels"]
        width = (len(labels) + 7) // 8
        members = v if isinstance(v, (list, tuple, set)) else v.split(",") if v else []
        mask = 0
        for x in members:
            mask |= 1 << labels.index(x)
        return mask.to_bytes(width, "little")
    if t == BIT:
        width = (m["bits"] + 7) // 8
        return int(v).to_bytes(width, "big")
    if t == VECTOR:
        # MySQL 9.0 VECTOR: stored like a BLOB (4-byte LE length prefix),
        # payload = dimension × IEEE754 float32, little-endian
        b = struct.pack(f"<{len(v)}f", *v)
        nb = m.get("len_bytes", 4)
        return len(b).to_bytes(nb, "little") + b
    if t == GEOMETRY:
        # MySQL internal geometry = blob whose payload is 4B LE SRID + WKB
        # (public format, MySQL docs 11.4.3 "Supported Spatial Data
        # Formats"). The REFERENCE throws for this type
        # (RowParser.java:165-166) — decoding it exceeds the reference.
        srid, wkb = v if isinstance(v, tuple) else (0, v)
        b = srid.to_bytes(4, "little") + wkb
        nb = m.get("len_bytes", 4)
        return len(b).to_bytes(nb, "little") + b
    raise ValueError(f"unsupported type code {t}")


def wkb_point(x: float, y: float) -> bytes:
    """Little-endian WKB POINT (OGC SFA byte order 1, type 1)."""
    return struct.pack("<BIdd", 1, 1, x, y)


def wkb_linestring(points: list[tuple[float, float]]) -> bytes:
    """Little-endian WKB LINESTRING (type 2)."""
    return struct.pack("<BII", 1, 2, len(points)) + b"".join(
        struct.pack("<dd", x, y) for x, y in points
    )


def _fmt_coord(x: float) -> str:
    """Shortest round-trip rendering (repr) with -0 normalized and
    integer-valued doubles printed without the trailing '.0' — full double
    precision, matching MySQL's ST_AsText (the earlier %g formatting
    silently truncated to 6 significant digits, corrupting any real-world
    coordinate like 139.6917)."""
    x = x + 0.0 if x != 0 else 0.0  # -0.0 -> 0.0
    if x == int(x) and abs(x) < 1e16:
        return str(int(x))
    return repr(x)


def wkb_polygon(rings: list[list[tuple[float, float]]]) -> bytes:
    """Little-endian WKB POLYGON (type 3): exterior ring first, then holes;
    each ring is a closed point sequence (first == last, caller's duty)."""
    out = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring
        )
    return out


def wkb_multi(gtype: int, children: list[bytes]) -> bytes:
    """Little-endian WKB container (4=MULTIPOINT, 5=MULTILINESTRING,
    6=MULTIPOLYGON, 7=GEOMETRYCOLLECTION): each child is a complete WKB
    geometry with its own byte-order byte (OGC SFA §8.2.3)."""
    return struct.pack("<BII", 1, gtype, len(children)) + b"".join(children)


_WKB_NAMES = {1: "POINT", 2: "LINESTRING", 3: "POLYGON", 4: "MULTIPOINT",
              5: "MULTILINESTRING", 6: "MULTIPOLYGON",
              7: "GEOMETRYCOLLECTION"}


def _wkb_geom(b: bytes, off: int) -> tuple[str, int]:
    """Decode one WKB geometry at ``off`` → (WKT, next offset). Recursive
    over the container types; both byte orders (OGC SFA part 1 §8.2.3 —
    the reference throws on the whole GEOMETRY column type,
    RowParser.java:165-166; decoding it exceeds the reference)."""
    order = "<" if b[off] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{order}I", b, off + 1)
    off += 5

    def _count() -> int:
        nonlocal off
        (n,) = struct.unpack_from(f"{order}I", b, off)
        off += 4
        return n

    def _pt() -> str:
        nonlocal off
        x, y = struct.unpack_from(f"{order}dd", b, off)
        off += 16
        return f"{_fmt_coord(x)} {_fmt_coord(y)}"

    def _ring() -> str:
        return "(" + ",".join(_pt() for _ in range(_count())) + ")"

    if gtype == 1:
        return "POINT(" + _pt() + ")", off
    if gtype == 2:
        return "LINESTRING" + _ring(), off
    if gtype == 3:
        return "POLYGON(" + ",".join(_ring() for _ in range(_count())) + ")", off
    if gtype in (4, 5, 6, 7):
        parts = []
        for _ in range(_count()):
            w, off = _wkb_geom(b, off)
            # MULTI* children render without their type name (WKT standard,
            # the form MySQL 8.0 ST_AsText emits: MULTIPOINT((1 1),(2 2)));
            # GEOMETRYCOLLECTION children keep the full tagged text
            parts.append(w if gtype == 7 else w[w.index("("):])
        return _WKB_NAMES[gtype] + "(" + ",".join(parts) + ")", off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_to_wkt(payload: bytes) -> str:
    """MySQL geometry payload (4-byte LE SRID + WKB) → WKT text, 'SRID=n;'
    prefixed when the SRID is nonzero (EWKT). Full OGC SFA family: POINT,
    LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON and
    (nested) GEOMETRYCOLLECTION, both byte orders. The reference refuses
    the column type outright (``IOException("Unsupported type")``,
    RowParser.java:165-166)."""
    srid = int.from_bytes(payload[:4], "little")
    wkt, end = _wkb_geom(payload, 4)
    if end != len(payload):
        raise ValueError(
            f"trailing {len(payload) - end} bytes after WKB geometry"
        )
    return f"SRID={srid};{wkt}" if srid else wkt


def encode_typed_rows(schema: list[ColumnSpec], rows: list[dict]) -> pd.Series:
    """Encode dict rows into binary row images: null bitmap (bit j of byte
    j//8, matching BinlogInputStream.readBitSet order) then each non-null
    column in schema order. Test-harness side (per-row is fine here)."""
    ncols = len(schema)
    hdr = (ncols + 7) // 8
    out = []
    for row in rows:
        bitmap = bytearray(hdr)
        body = bytearray()
        for j, spec in enumerate(schema):
            v = row.get(spec.name)
            if v is None or (pd.api.types.is_scalar(v) and pd.isna(v)):
                bitmap[j // 8] |= 1 << (j % 8)
            else:
                body.extend(_enc_value(spec, v))
        out.append(bytes(bitmap) + bytes(body))
    return pd.Series(out)


# ========================================================== columnar decoders
def _gather_le(buf: np.ndarray, pos: np.ndarray, width: int) -> np.ndarray:
    """Little-endian unsigned gather of `width` bytes at each pos → int64.
    Positions are clamped: NULL rows gather from a dummy position whose
    bytes are discarded, and in an all-null batch the buffer can be shorter
    than one value width."""
    v = np.zeros(len(pos), dtype=np.int64)
    hi = len(buf) - 1
    for i in range(width):
        v |= buf[np.minimum(pos + i, hi)].astype(np.int64) << (8 * i)
    return v


def _gather_be(buf: np.ndarray, pos: np.ndarray, width: int) -> np.ndarray:
    v = np.zeros(len(pos), dtype=np.int64)
    hi = len(buf) - 1
    for i in range(width):
        v = (v << 8) | buf[np.minimum(pos + i, hi)].astype(np.int64)
    return v


def _sign_extend(v: np.ndarray, bits: int) -> np.ndarray:
    shift = 64 - bits
    return (v << shift) >> shift


def _gather_spans(
    buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray, nulls: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Gather per-row byte spans out of the concatenated payload buffer →
    (packed values bytes, int32 offsets). Spans are naturally ordered and
    non-overlapping (columns advance sequentially within each row), so one
    cumulative take-mask extracts all of them in a single pass."""
    n = len(starts)
    # NULL rows carry a dummy (clamped) start that can point past the end of
    # a short buffer — neutralize them (their spans are empty by definition)
    starts = np.where(nulls, 0, np.minimum(starts, len(buf)))
    lengths = np.where(nulls, 0, lengths)
    marks = np.zeros(len(buf) + 1, dtype=np.int64)
    np.add.at(marks, starts, 1)
    np.add.at(marks, starts + lengths, -1)
    take = np.cumsum(marks[:-1]) > 0
    values = buf[take].tobytes()
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return values, offsets


def _varlen_strings(
    buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray, nulls: np.ndarray, binary: bool
) -> pd.Series:
    """Arrow String/BinaryArray built straight from gathered spans (the
    offsets/values-buffer trick shared with decode.py:_string_field)."""
    n = len(starts)
    values, offsets = _gather_spans(buf, starts, lengths, nulls)
    arr = pa.Array.from_buffers(
        pa.binary() if binary else pa.utf8(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(values)],
    )
    s = arr.to_pandas().astype(object)
    s[nulls] = None
    return s


def _render_hms(
    neg: np.ndarray, hour: np.ndarray, minute: np.ndarray, second: np.ndarray,
    us: np.ndarray, with_frac: bool,
) -> np.ndarray:
    """Vectorized '[-]HH:MM:SS[.ffffff]' rendering shared by both TIME
    codecs (hour may exceed 2 digits: MySQL TIME spans ±838 hours —
    np.char.zfill would TRUNCATE to its width, so pad conditionally)."""
    hstr = hour.astype("U4")
    txt = np.where(hour < 10, np.char.add("0", hstr), hstr)
    for part in (minute, second):
        txt = np.char.add(np.char.add(txt, ":"), np.char.zfill(part.astype("U2"), 2))
    if with_frac:
        txt = np.char.add(np.char.add(txt, "."), np.char.zfill(us.astype("U6"), 6))
    return np.where(neg, np.char.add("-", txt), txt)


def _fsp_us(buf, pos, fsp: int) -> np.ndarray:
    nb = _fsp_bytes(fsp)
    if nb == 0:
        return np.zeros(len(pos), dtype=np.int64)
    frac = _gather_be(buf, pos, nb)
    return frac * (100 ** (3 - nb))


def decode_typed_block(schema: list[ColumnSpec], payload: pd.Series) -> pd.DataFrame:
    """Columnar decode of a batch of row images for the given schema.

    Walks the schema once; per column the running per-row offsets advance by
    that column's (per-row) width — nulls advance zero. Every step is a numpy
    gather over the concatenated Arrow buffer; no per-row Python."""
    binarr = pa.array(payload, type=pa.binary())
    if isinstance(binarr, pa.ChunkedArray):
        binarr = binarr.combine_chunks()
    n = len(binarr)
    ncols = len(schema)
    hdr = (ncols + 7) // 8
    if n == 0:
        return pd.DataFrame({s.name: pd.Series([], dtype=object) for s in schema})
    voff = np.frombuffer(binarr.buffers()[1], dtype=np.int32, count=n + 1)
    buf = np.frombuffer(binarr.buffers()[2], dtype=np.uint8)
    row_start = voff[:-1].astype(np.int64)

    bitmap = np.zeros((n, hdr), dtype=np.int64)
    for b in range(hdr):
        bitmap[:, b] = buf[row_start + b]

    off = row_start + hdr
    out: dict[str, pd.Series] = {}
    for j, spec in enumerate(schema):
        nulls = (bitmap[:, j // 8] >> (j % 8)) & 1 == 1
        live = ~nulls
        pos = np.where(live, off, 0)  # dead rows read index 0 (discarded)
        t, m = spec.type_code, spec.meta

        def fixed(width: int) -> np.ndarray:
            """advance offsets for a fixed-width column, return gather pos"""
            nonlocal off
            off = off + np.where(live, width, 0)
            return pos

        if t == TINY:
            v = _sign_extend(_gather_le(buf, fixed(1), 1), 8)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == SHORT:
            v = _sign_extend(_gather_le(buf, fixed(2), 2), 16)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == INT24:  # (v << 8) >> 8 sign trick, RowParser.java:188-189
            v = _sign_extend(_gather_le(buf, fixed(3), 3), 24)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == LONG:
            v = _sign_extend(_gather_le(buf, fixed(4), 4), 32)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == LONGLONG:
            v = _gather_le(buf, fixed(8), 8)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == YEAR:
            v = 1900 + _gather_le(buf, fixed(1), 1)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == FLOAT:
            v = _gather_le(buf, fixed(4), 4).astype(np.uint32).view(np.float32)
            s = pd.Series(v.astype(np.float64)).mask(nulls)
        elif t == DOUBLE:
            v = _gather_le(buf, fixed(8), 8).view(np.float64)
            s = pd.Series(v).mask(nulls)
        elif t == NEWDECIMAL:
            p_, s_ = m["precision"], m["scale"]
            width = decimal_bin_size(p_, s_)
            mat = buf[
                np.minimum(fixed(width)[:, None] + np.arange(width), len(buf) - 1)
            ].astype(np.int64)
            positive = (mat[:, 0] & 0x80) == 0x80
            mat[:, 0] ^= 0x80
            mat[~positive] ^= 0xFF
            # big-endian group walk identical to asBigDecimal
            x = p_ - s_
            ipd = x // DIG_PER_DEC
            ipx = x - ipd * DIG_PER_DEC
            lead = DIG_TO_BYTES[ipx]
            unscaled = np.zeros(n, dtype=object)
            o = 0
            if lead:
                g = np.zeros(n, dtype=np.int64)
                for i in range(lead):
                    g = (g << 8) | mat[:, o + i]
                unscaled = unscaled + g
                o += lead
            ip_size = (ipd << 2) + lead
            while o < ip_size:
                g = np.zeros(n, dtype=np.int64)
                for i in range(4):
                    g = (g << 8) | mat[:, o + i]
                unscaled = unscaled * (10**DIG_PER_DEC) + g
                o += 4
            shift = 0
            frac = np.zeros(n, dtype=object)
            while shift + DIG_PER_DEC <= s_:
                g = np.zeros(n, dtype=np.int64)
                for i in range(4):
                    g = (g << 8) | mat[:, o + i]
                frac = frac * (10**DIG_PER_DEC) + g
                shift += DIG_PER_DEC
                o += 4
            if shift < s_:
                nb = DIG_TO_BYTES[s_ - shift]
                g = np.zeros(n, dtype=np.int64)
                for i in range(nb):
                    g = (g << 8) | mat[:, o + i]
                frac = frac * (10 ** (s_ - shift)) + g
            unscaled = unscaled * (10**s_) + frac
            sign = np.where(positive, 1, -1)
            # Decimal materialization = representation boundary (see module doc)
            s = pd.Series(
                [
                    None if nl else Decimal(int(sg) * int(u)).scaleb(-s_, _DEC_CTX)
                    for nl, sg, u in zip(nulls, sign, unscaled)
                ],
                dtype=object,
            )
        elif t == DATE:
            v = _gather_le(buf, fixed(3), 3)
            day, rest = v % 32, v >> 5
            month, year = rest % 16, rest >> 4
            ok = live & (month > 0) & (day > 0)
            days = _days_from_civil(
                np.where(ok, year, 1970), np.where(ok, month, 1), np.where(ok, day, 1)
            )
            s = pd.Series(days.astype("datetime64[D]").astype("datetime64[s]")).mask(~ok)
        elif t == TIME_V2:
            # biased big-endian fixed-point over (3+fsp) bytes; sign = word
            # below bias (MySQL my_time_packed_to_binary — the reference
            # decodes the non-negative subset, RowParser.java:246-268)
            fsp = m.get("fsp", 0)
            nb = _fsp_bytes(fsp)
            w = _gather_be(buf, fixed(3 + nb), 3 + nb) - (0x800000 << (8 * nb))
            neg = w < 0
            a = np.abs(w)
            hms = a >> (8 * nb)
            us = (a & ((1 << (8 * nb)) - 1)) * (100 ** (3 - nb))
            s = pd.Series(
                _render_hms(
                    neg, (hms >> 12) & 0x3FF, (hms >> 6) & 0x3F, hms & 0x3F,
                    us, with_frac=fsp > 0,
                ),
                dtype=object,
            )
            s[nulls] = None
        elif t == TIME:
            # pre-5.6: 3B LE signed packed decimal HHMMSS (RowParser.java:234-244)
            v = _sign_extend(_gather_le(buf, fixed(3), 3), 24)
            neg = v < 0
            a = np.abs(v)
            s = pd.Series(
                _render_hms(
                    neg, a // 10000, (a // 100) % 100, a % 100,
                    np.zeros(n, dtype=np.int64), with_frac=False,
                ),
                dtype=object,
            )
            s[nulls] = None
        elif t == TIMESTAMP:
            # pre-5.6: 4B LE epoch seconds (RowParser.java:270-279)
            secs = _gather_le(buf, fixed(4), 4)
            s = pd.Series((secs * 1_000_000).astype("datetime64[us]")).mask(nulls)
        elif t == DATETIME:
            # pre-5.6: 8B LE packed decimal YYYYMMDDHHMMSS (RowParser.java:296-313)
            v = _gather_le(buf, fixed(8), 8)
            second, v = v % 100, v // 100
            minute, v = v % 100, v // 100
            hour, d = v % 100, v // 100
            day, month, year = d % 100, (d // 100) % 100, d // 10000
            ok = live & (month > 0) & (day > 0)
            days = _days_from_civil(
                np.where(ok, year, 1970), np.where(ok, month, 1), np.where(ok, day, 1)
            )
            total_us = (days * 86400 + hour * 3600 + minute * 60 + second) * 1_000_000
            s = pd.Series(np.where(ok, total_us, 0).astype("datetime64[us]")).mask(~ok)
        elif t == TIMESTAMP_V2:
            fsp = m.get("fsp", 0)
            secs = _gather_be(buf, pos, 4)
            us = _fsp_us(buf, pos + 4, fsp)
            off = off + np.where(live, 4 + _fsp_bytes(fsp), 0)
            s = pd.Series((secs * 1_000_000 + us).astype("datetime64[us]")).mask(nulls)
        elif t == DATETIME_V2:
            fsp = m.get("fsp", 0)
            word = _gather_be(buf, pos, 5)
            us = _fsp_us(buf, pos + 5, fsp)
            off = off + np.where(live, 5 + _fsp_bytes(fsp), 0)
            ym = (word >> 22) & 0x1FFFF
            year, month = ym // 13, ym % 13
            day = (word >> 17) & 0x1F
            hour = (word >> 12) & 0x1F
            minute = (word >> 6) & 0x3F
            second = word & 0x3F
            ok = live & (month > 0) & (day > 0)
            days = _days_from_civil(
                np.where(ok, year, 1970), np.where(ok, month, 1), np.where(ok, day, 1)
            )
            total_us = (
                (days * 86400 + hour * 3600 + minute * 60 + second) * 1_000_000 + us
            )
            s = pd.Series(np.where(ok, total_us, 0).astype("datetime64[us]")).mask(~ok)
        elif t in (VARCHAR, VAR_STRING, STRING):
            wide = m.get("max_len", 255) >= 256
            plen = 2 if wide else 1
            lengths = np.where(live, _gather_le(buf, pos, plen), 0)
            s = _varlen_strings(buf, pos + plen, lengths, nulls, binary=False)
            off = off + np.where(live, plen + lengths, 0)
        elif t in (BLOB, TINY_BLOB, MEDIUM_BLOB, LONG_BLOB, JSON):
            nb = m.get("len_bytes", 4)
            lengths = np.where(live, _gather_le(buf, pos, nb), 0)
            if t == JSON and m.get("binary_json", False):
                # binlog-faithful JSON: blob carries MySQL binary JSON —
                # parse each document to JSON text (per-value recursion,
                # same as the reference's JsonBinaryParser; see json_binary)
                from .json_binary import parse_json_binary

                raw = _varlen_strings(buf, pos + nb, lengths, nulls, binary=True)
                s = pd.Series(
                    [None if b is None else parse_json_binary(b) for b in raw],
                    dtype=object,
                )
            else:
                s = _varlen_strings(buf, pos + nb, lengths, nulls, binary=(t != JSON))
            off = off + np.where(live, nb + lengths, 0)
        elif t == ENUM:
            labels = np.array(m["labels"], dtype=object)
            width = 1 if len(labels) < 256 else 2
            ordinal = _gather_le(buf, fixed(width), width)
            idx = np.clip(ordinal - 1, 0, len(labels) - 1)
            s = pd.Series(np.where(ordinal > 0, labels[idx], ""), dtype=object)
            s[nulls] = None
        elif t == SET:
            labels = m["labels"]
            width = (len(labels) + 7) // 8
            mask = _gather_le(buf, fixed(width), width)
            acc = np.full(n, "", dtype=object)
            for k, lab in enumerate(labels):
                has = (mask >> k) & 1 == 1
                acc = np.where(has, np.where(acc == "", lab, acc + "," + lab), acc)
            s = pd.Series(acc, dtype=object)
            s[nulls] = None
        elif t == BIT:
            width = (m["bits"] + 7) // 8
            v = _gather_be(buf, fixed(width), width)
            s = pd.Series(v, dtype="Int64").mask(nulls)
        elif t == VECTOR:
            # MySQL 9.0 embedding column: blob-framed packed LE float32s.
            # Fully columnar — ONE reinterpret of the gathered span bytes as
            # a float32 array, then an Arrow ListArray over byte-offsets/4
            # (no per-value Python; this is the engine's native path for
            # CDC over embedding columns).
            nb = m.get("len_bytes", 4)
            lengths = np.where(live, _gather_le(buf, pos, nb), 0)
            if int(lengths.sum()) % 4:
                raise ValueError("VECTOR payload length not a float32 multiple")
            values, offsets = _gather_spans(buf, pos + nb, lengths, nulls)
            floats = np.frombuffer(values, dtype="<f4")
            arr = pa.ListArray.from_arrays(
                pa.array(offsets // 4, type=pa.int32()),
                pa.array(floats, type=pa.float32()),
            )
            s = arr.to_pandas().astype(object)
            s[nulls] = None
            off = off + np.where(live, nb + lengths, 0)
        elif t == GEOMETRY:
            # blob-framed SRID+WKB → WKT text. The WKT rendering is
            # per-value string formatting (representation boundary, like
            # Decimal above); the byte extraction stays columnar. The
            # reference throws on this type (RowParser.java:165-166).
            nb = m.get("len_bytes", 4)
            lengths = np.where(live, _gather_le(buf, pos, nb), 0)
            raw = _varlen_strings(buf, pos + nb, lengths, nulls, binary=True)
            s = pd.Series(
                [None if b is None else wkb_to_wkt(bytes(b)) for b in raw],
                dtype=object,
            )
            off = off + np.where(live, nb + lengths, 0)
        else:
            raise ValueError(f"unsupported type code {t}")
        out[spec.name] = s.reset_index(drop=True)
    return pd.DataFrame(out)
