"""Media CONTAINER parsing in pure stdlib/numpy — Ogg (RFC 3533) and MP4
(ISO/IEC 14496-12 ISO base media file format).

A training-data pipeline rarely needs to DECODE audio/video to filter,
dedupe, or catalog it — it needs the container layer: durations, track
counts, codecs, sample tables, integrity. That layer is plain structured
bytes and decodes for real here; only the compressed codec payloads
(Vorbis/Opus/H.264...) remain environment-gated (no ffmpeg in this
container), now at the PAYLOAD level instead of the file level.

* Ogg: page walk — capture pattern, version, header-type flags, granule
  position, bitstream serial, page sequence, segment lacing, PACKET
  reassembly across pages (255-lacing continuation and the
  continued-packet flag), and the spec's CRC-32 (poly 0x04C11DB7,
  UNreflected, init/xorout 0 — zlib's reflected CRC does not apply)
  verified per page.
* MP4: box walk — 32-bit and 64-bit (largesize) boxes, nesting, and the
  metadata chain ftyp / moov / mvhd / trak / tkhd / mdia / mdhd / hdlr /
  minf / stbl / stsd+stts+stsz: per-track handler, timescale, duration,
  sample count, codec fourcc.

Write-side synthesizers exist for both (tests + the oracle-gated entry
query) — payload packets are opaque deterministic bytes by design.
"""

from __future__ import annotations

import struct

__all__ = [
    "parse_ogg",
    "build_ogg",
    "parse_mp4",
    "build_mp4",
    "ogg_crc",
]


def _unpack(fmt: str, data: bytes, off: int, end: int, what: str) -> tuple:
    """``struct.unpack_from`` bounded by ``end`` (the enclosing page, box
    or chunk): a torn or short header raises the parsers' one contracted
    error, ``ValueError``, never ``struct.error``."""
    if off + struct.calcsize(fmt) > end:
        raise ValueError(f"torn {what} at {off}")
    return struct.unpack_from(fmt, data, off)


# ------------------------------------------------------------------- Ogg
def _ogg_crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
            r &= 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = _ogg_crc_table()


def ogg_crc(data: bytes) -> int:
    """RFC 3533 CRC-32: polynomial 0x04C11DB7, not reflected, zero
    init and xorout (deliberately NOT zlib.crc32)."""
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((r >> 24) & 0xFF) ^ b]
    return r


def identify_ogg_codec(first_packet: bytes) -> dict:
    """Codec identification from a logical bitstream's FIRST packet —
    the header structs are plain bytes (public specs: Vorbis I §4.2.2,
    RFC 7845 OpusHead, Theora §6.2, Ogg-FLAC mapping). Returns
    ``{"codec", "channels", "sample_rate"}`` (fields None when the
    mapping doesn't carry them); unknown codecs come back as
    ``{"codec": "unknown", ...}`` rather than raising — a cataloger must
    keep walking."""
    p = first_packet
    if p[:7] == b"\x01vorbis" and len(p) >= 16:
        return {
            "codec": "vorbis",
            "channels": p[11],
            "sample_rate": int.from_bytes(p[12:16], "little"),
        }
    if p[:8] == b"OpusHead" and len(p) >= 16:
        return {
            "codec": "opus",
            "channels": p[9],
            # RFC 7845: the original input rate, informational; Opus
            # itself always decodes at 48 kHz
            "sample_rate": int.from_bytes(p[12:16], "little"),
        }
    if p[:7] == b"\x80theora" and len(p) >= 26:
        return {"codec": "theora", "channels": None, "sample_rate": None}
    if p[:5] == b"\x7fFLAC":
        return {"codec": "flac", "channels": None, "sample_rate": None}
    return {"codec": "unknown", "channels": None, "sample_rate": None}


def parse_ogg(payload: bytes, *, verify_crc: bool = True) -> dict:
    """Walk every page, verify CRCs, reassemble packets. Returns
    ``{"n_pages", "serials": [..], "final_granule", "packets":
    [bytes, ...], "bos_pages", "eos_pages", "streams": {serial:
    codec-id dict}}`` — per-bitstream codec identification from each
    serial's first packet. Raises ValueError on a bad capture pattern,
    version, truncation, or CRC mismatch."""
    pos = 0
    n_pages = 0
    serials: list[int] = []
    packets: list[bytes] = []
    # packet reassembly is PER LOGICAL BITSTREAM: a multiplexed (grouped)
    # file interleaves pages of different serials, and a packet may
    # continue across its own serial's pages while other serials' pages
    # sit in between
    pending: dict[int, bytes] = {}
    streams: dict[int, dict] = {}
    final_granule = 0
    bos = eos = 0
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at {pos}")
        version, htype, granule, serial, _seq, crc, nsegs = _unpack(
            "<BBqIIIB", payload, pos + 4, len(payload), "Ogg page header"
        )
        if version != 0:
            raise ValueError(f"unknown Ogg version {version}")
        lacing = payload[pos + 27 : pos + 27 + nsegs]
        if len(lacing) != nsegs:
            raise ValueError("torn Ogg segment table")
        body_len = sum(lacing)
        header_end = pos + 27 + nsegs
        body = payload[header_end : header_end + body_len]
        if len(body) != body_len:
            raise ValueError("torn Ogg page body")
        if verify_crc:
            page = bytearray(payload[pos : header_end + body_len])
            page[22:26] = b"\x00\x00\x00\x00"
            if ogg_crc(bytes(page)) != crc:
                raise ValueError(f"Ogg page CRC mismatch at {pos}")
        if not (htype & 0x01) and pending.get(serial):
            # new page of THIS serial does not continue its pending packet
            raise ValueError("Ogg continued-packet flag inconsistency")
        if htype & 0x02:
            bos += 1
        if htype & 0x04:
            eos += 1
        off = 0
        buf = pending.get(serial, b"")
        for seg in lacing:
            buf += body[off : off + seg]
            off += seg
            if seg < 255:  # packet ends here
                packets.append(buf)
                if serial not in streams:
                    streams[serial] = identify_ogg_codec(buf)
                buf = b""
        pending[serial] = buf
        n_pages += 1
        if serial not in serials:
            serials.append(serial)
        if granule != -1:
            final_granule = granule
        pos = header_end + body_len
    if any(pending.values()):
        raise ValueError("Ogg stream ends mid-packet")
    return {
        "n_pages": n_pages,
        "serials": serials,
        "final_granule": final_granule,
        "packets": packets,
        "bos_pages": bos,
        "eos_pages": eos,
        "streams": streams,
    }


def build_ogg(
    packets: list[bytes],
    *,
    serial: int = 0x1234,
    granule_step: int = 960,
    packets_per_page: int = 2,
) -> bytes:
    """Frame opaque packets into a valid Ogg stream: lacing (255-splits
    for long packets), PAGE splits at the 255-segments-per-page limit
    (continuation pages carry the 0x01 flag and granule −1 when no packet
    completes on them), BOS on the first page, EOS on the last, granule
    advancing per completed packet, spec CRC stamped."""
    # segment stream: (lacing value, chunk, index of the packet this
    # segment COMPLETES — None for 255-continuations)
    segs: list[tuple[int, bytes, int | None]] = []
    for pkt_no, p in enumerate(packets, start=1):
        n, off = len(p), 0
        while n >= 255:
            segs.append((255, p[off : off + 255], None))
            off += 255
            n -= 255
        segs.append((n, p[off:], pkt_no))
    pages: list[list[tuple[int, bytes, int | None]]] = []
    cur: list[tuple[int, bytes, int | None]] = []
    completed = 0
    for s in segs:
        cur.append(s)
        if s[2] is not None:
            completed += 1
        if len(cur) == 255 or completed == packets_per_page:
            pages.append(cur)
            cur, completed = [], 0
    if cur:
        pages.append(cur)
    out = bytearray()
    prev_mid = False
    for pi, page in enumerate(pages):
        lacing = bytes(s[0] for s in page)
        body = b"".join(s[1] for s in page)
        finished = [s[2] for s in page if s[2] is not None]
        granule = finished[-1] * granule_step if finished else -1
        htype = (
            (0x01 if prev_mid else 0)
            | (0x02 if pi == 0 else 0)
            | (0x04 if pi == len(pages) - 1 else 0)
        )
        header = (
            b"OggS\x00"
            + bytes([htype])
            + struct.pack("<qIIIB", granule, serial, pi, 0, len(lacing))
            + lacing
        )
        pg = bytearray(header + body)
        pg[22:26] = struct.pack("<I", ogg_crc(bytes(pg)))
        out += pg
        prev_mid = page[-1][0] == 255
    return bytes(out)


# ------------------------------------------------------------------- MP4
def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            (size,) = _unpack(">Q", data, pos + 8, end, "MP4 largesize")
            hdr = 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"corrupt MP4 box {btype!r} at {pos}: size {size}"
            )
        yield btype, pos + hdr, pos + size
        pos += size


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def parse_mp4(payload: bytes) -> dict:
    """Box walk → ``{"brand", "timescale", "duration_s", "tracks":
    [{"handler", "codec", "timescale", "duration_s", "n_samples"}]}``.
    Raises ValueError on files without ftyp/moov, torn boxes, or a zero
    movie timescale."""
    brand = None
    movie: dict = {}
    tracks: list[dict] = []

    def _timing(b0: int, b1: int, what: str) -> tuple[int, int]:
        # (timescale, duration) of a v0 (32-bit) or v1 (64-bit) header
        (ver,) = _unpack(">B", payload, b0, b1, what)
        if ver == 1:
            return _unpack(">IQ", payload, b0 + 20, b1, what)
        return _unpack(">II", payload, b0 + 12, b1, what)

    def walk(start: int, end: int, track: dict | None):
        nonlocal brand
        for btype, b0, b1 in _walk_boxes(payload, start, end):
            if btype == b"ftyp":
                brand = payload[b0 : b0 + 4].decode("latin1")
            elif btype == b"mvhd":
                movie["timescale"], movie["duration"] = _timing(b0, b1, "mvhd")
            elif btype == b"trak":
                t: dict = {}
                tracks.append(t)
                walk(b0, b1, t)
            elif btype == b"mdhd" and track is not None:
                track["timescale"], track["duration"] = _timing(b0, b1, "mdhd")
            elif btype == b"hdlr" and track is not None:
                track["handler"] = payload[b0 + 8 : b0 + 12].decode("latin1")
            elif btype == b"stsd" and track is not None:
                # version/flags(4) entry_count(4) then sample entries
                track["codec"] = payload[b0 + 12 : b0 + 16].decode("latin1")
            elif btype == b"stsz" and track is not None:
                sample_size, count = _unpack(">II", payload, b0 + 4, b1, "stsz")
                track["n_samples"] = count
                track["uniform_sample_size"] = sample_size
            elif btype in _CONTAINERS:
                walk(b0, b1, track)

    walk(0, len(payload), None)
    if brand is None or "timescale" not in movie:
        raise ValueError("not an MP4: missing ftyp or moov/mvhd")
    if not movie["timescale"]:
        raise ValueError("MP4 mvhd timescale is zero")
    out_tracks = []
    for t in tracks:
        out_tracks.append(
            {
                "handler": t.get("handler"),
                "codec": t.get("codec"),
                "timescale": t.get("timescale"),
                "duration_s": (
                    round(t["duration"] / t["timescale"], 6)
                    if t.get("timescale")
                    else None
                ),
                "n_samples": t.get("n_samples"),
            }
        )
    return {
        "brand": brand,
        "timescale": movie["timescale"],
        "duration_s": round(movie["duration"] / movie["timescale"], 6),
        "tracks": out_tracks,
    }


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def build_mp4(
    *,
    brand: str = "isom",
    timescale: int = 1000,
    duration: int = 5000,
    tracks: list[dict] | None = None,
) -> bytes:
    """Minimal valid ISO-BMFF file: ftyp + moov(mvhd + trak(tkhd +
    mdia(mdhd + hdlr + minf(stbl(stsd + stts + stsz + stco))))) + mdat.
    ``tracks``: [{"handler": "vide"|"soun", "codec": fourcc,
    "timescale", "duration", "n_samples"}]."""
    tracks = tracks or []
    mvhd = _box(
        b"mvhd",
        bytes(4)
        + bytes(8)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + bytes(80),
    )
    trak_boxes = b""
    for i, t in enumerate(tracks):
        # v0 tkhd body is exactly 84 bytes: ver/flags 4 + creation 4 +
        # modification 4 + track_ID 4 + reserved 4 + duration 4 +
        # reserved 8 + layer/group/volume/reserved 8 + matrix 36 + w/h 8
        tkhd = _box(
            b"tkhd", bytes(4) + bytes(8) + struct.pack(">I", i + 1) + bytes(68)
        )
        mdhd = _box(
            b"mdhd",
            bytes(4)
            + bytes(8)
            + struct.pack(">II", t["timescale"], t["duration"])
            + bytes(4),
        )
        hdlr = _box(
            b"hdlr",
            bytes(4) + bytes(4) + t["handler"].encode() + bytes(12) + b"\x00",
        )
        entry = struct.pack(">I", 16) + t["codec"].encode() + bytes(8)
        stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        stts = _box(
            b"stts",
            bytes(4)
            + struct.pack(">I", 1)
            + struct.pack(">II", t["n_samples"], 1),
        )
        # uniform 64-byte samples: sample_size != 0 ⇒ no per-sample table
        stsz = _box(
            b"stsz", bytes(4) + struct.pack(">II", 64, t["n_samples"])
        )
        stco = _box(b"stco", bytes(4) + struct.pack(">I", 0))
        stbl = _box(b"stbl", stsd + stts + stsz + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak_boxes += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak_boxes)
    ftyp = _box(b"ftyp", brand.encode() + struct.pack(">I", 0) + b"isom")
    mdat = _box(b"mdat", b"\x00" * 16)
    return ftyp + moov + mdat


# ------------------------------------------------------------------- AVI
def _riff_chunks(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body0 = pos + 8
        if body0 + size > end:
            raise ValueError(f"corrupt RIFF chunk {fourcc!r} at {pos}")
        yield fourcc, body0, body0 + size
        pos = body0 + size + (size & 1)  # chunks pad to even


def parse_avi(payload: bytes) -> dict:
    """RIFF-AVI header walk (public: OpenDML / MS AVI file format):
    ``hdrl``'s ``avih`` (frame period, frame count, dims) and each
    ``strl``'s ``strh`` (fccType vids/auds, handler fourcc, rate/scale,
    length → duration). Returns ``{"width", "height", "n_frames", "fps",
    "streams": [{"type", "handler", "duration_s", "length"}]}``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    out: dict = {"streams": []}

    def walk(start: int, end: int):
        for fourcc, b0, b1 in _riff_chunks(payload, start, end):
            if fourcc == b"LIST":
                walk(b0 + 4, b1)  # skip the list type fourcc
            elif fourcc == b"avih":
                (usec_pf, _mbps, _pad, _flags, frames, _init, _nstreams,
                 _bufsz, w, h) = _unpack("<10I", payload, b0, b1, "AVI avih")
                out["width"], out["height"] = w, h
                out["n_frames"] = frames
                out["fps"] = (
                    round(1_000_000 / usec_pf, 6) if usec_pf else None
                )
            elif fourcc == b"strh":
                ftype = payload[b0 : b0 + 4].decode("latin1")
                handler = payload[b0 + 4 : b0 + 8].decode("latin1")
                scale, rate, _start, length = _unpack(
                    "<IIII", payload, b0 + 20, b1, "AVI strh"
                )
                out["streams"].append(
                    {
                        "type": ftype,
                        "handler": handler,
                        "length": length,
                        "duration_s": (
                            round(length * scale / rate, 6) if rate else None
                        ),
                    }
                )

    walk(12, len(payload))
    if "width" not in out:
        raise ValueError("AVI payload has no avih header")
    return out


def _riff(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b""
    )


def build_avi(
    *,
    width: int = 320,
    height: int = 240,
    n_frames: int = 100,
    fps: float = 25.0,
    streams: list[dict] | None = None,
) -> bytes:
    """Minimal valid RIFF-AVI: hdrl(avih + one strl per stream) + movi.
    ``streams``: [{"type": "vids"|"auds", "handler": fourcc, "scale",
    "rate", "length"}]."""
    streams = streams if streams is not None else [
        {"type": "vids", "handler": "MJPG", "scale": 1,
         "rate": int(fps), "length": n_frames}
    ]
    avih = _riff(
        b"avih",
        struct.pack(
            "<10I", int(1_000_000 / fps), 0, 0, 0, n_frames, 0,
            len(streams), 0, width, height,
        )
        + bytes(16),
    )
    strls = b""
    for st in streams:
        strh = _riff(
            b"strh",
            st["type"].encode()
            + st["handler"].encode()
            + bytes(12)
            + struct.pack(
                "<IIII", st["scale"], st["rate"], 0, st["length"]
            )
            + bytes(16),
        )
        strf = _riff(b"strf", bytes(40))
        strls += _riff(b"LIST", b"strl" + strh + strf)
    hdrl = _riff(b"LIST", b"hdrl" + avih + strls)
    movi = _riff(b"LIST", b"movi" + _riff(b"00dc", b"\x00" * 8))
    return _riff(b"RIFF", b"AVI " + hdrl + movi)
