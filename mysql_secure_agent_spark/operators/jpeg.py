"""Baseline JPEG (JFIF) codec in pure numpy + stdlib — no PIL/libjpeg.

Public specification: ITU-T T.81 (ISO/IEC 10918-1), baseline sequential
DCT, 8-bit precision, Huffman entropy coding. The DECODER is general for
baseline files: it builds its Huffman/quantization tables from the
file's own DHT/DQT segments (baseline JPEGs always embed them), handles
arbitrary sampling factors (4:4:4 / 4:2:2 / 4:2:0 chroma upsample),
byte-stuffing (FF 00), and DRI/RSTn restart intervals. Progressive,
arithmetic-coded, 12-bit and hierarchical modes are out of scope and
refused loudly.

The ENCODER exists for conformance (the container has no other JPEG
producer): 4:4:4 or 4:2:0, flat quantization tables (quality knob =
step size), restart intervals, and deliberately simple VALID Huffman
tables — 12 four-bit DC codes and near-uniform 9/10-bit AC codes
(Kraft-complete canonical prefix codes, never the reserved all-ones).
Code assignment is read back from the emitted DHT by the decoder, so
table choice only affects size, not correctness; a lossy roundtrip is
asserted by error bound, not byte equality.

The Arrow-batch integration lives in ``operators.multimodal`` — this
module is plain bytes → ndarray and back.
"""

from __future__ import annotations

import struct

import numpy as np

from .containers import _unpack

__all__ = ["decode_jpeg", "encode_jpeg"]


# ----------------------------------------------------------------- tables
def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _zigzag_order() -> np.ndarray:
    """(row, col) visit order of the zigzag scan, as 64 flat indices."""
    out = []
    for s in range(15):
        rng = range(min(s, 7), max(0, s - 7) - 1, -1) if s % 2 == 0 else range(
            max(0, s - 7), min(s, 7) + 1
        )
        for r in rng:
            out.append(r * 8 + (s - r))
    return np.array(out, dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)

# orthonormal 8-point DCT-II basis: F = C @ f @ C.T, f = C.T @ F @ C
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _canonical_codes(bits: list[int], values: list[int]):
    """T.81 Annex C canonical code generation: (value → (code, length))
    and the per-length (min_code, max_code, first_value_index) decode
    tables."""
    enc: dict[int, tuple[int, int]] = {}
    lengths = []
    for ln, n in enumerate(bits, start=1):
        lengths.extend([ln] * n)
    code = 0
    prev_len = 0
    dec = {}  # length -> (min_code, max_code, value_offset)
    vi = 0
    for ln in range(1, 17):
        code <<= ln - prev_len if prev_len else ln
        prev_len = ln
        n = bits[ln - 1]
        if n:
            dec[ln] = (code, code + n - 1, vi)
            for _ in range(n):
                enc[values[vi]] = (code, ln)
                code += 1
                vi += 1
    return enc, dec


# ------------------------------------------------------------ bit streams
class _BitReader:
    """Entropy-segment bit reader: FF00 unstuffing, FF fill-byte
    skipping, RSTn/scan-boundary marker surfacing, and PAD ACCOUNTING —
    once the segment ends (marker or EOF), reads are satisfied from
    injected zero padding; T.81 allows at most 7 pad bits to finish the
    final data unit, so consuming a full byte of padding means the scan
    wants more data than the stream holds (truncation) and must raise
    instead of 'decoding' fabricated blocks from zeros."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0  # total bits in acc (real + pad)
        self.real = 0  # how many of them are real stream bits
        self.pad_consumed = 0
        self.marker: int | None = None  # pending marker past the segment

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # pad past the end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    raise ValueError(
                        "truncated JPEG: entropy data ends on a bare 0xFF"
                    )
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                elif nxt == 0xFF:
                    # T.81 B.1.1.2: any number of FF fill bytes may pad
                    # before a marker — skip, keep looking at the next FF
                    self.pos += 1
                    continue
                else:
                    # a marker ends the entropy segment (RSTn mid-scan,
                    # EOI, or the next scan's/table's marker when the
                    # lookahead reaches a scan boundary) — the scan loop
                    # decides what it means
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
            self.real += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        out = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        # real bits sit at the HIGH end (pad is appended after them)
        from_real = min(n, self.real)
        self.real -= from_real
        self.pad_consumed += n - from_real
        if self.pad_consumed > 7:
            raise ValueError(
                "truncated JPEG: scan needs more entropy data than the "
                "stream holds (decoding ran into padding)"
            )
        return out

    def restart(self) -> int:
        """Consume the pending RSTn marker at a restart boundary."""
        self.nbits = 0  # discard pad bits
        self.acc = 0
        self.real = 0
        self.pad_consumed = 0  # ≤7 pad bits per interval tail are legal
        if self.marker is None:
            # marker not reached through _fill yet: scan forward
            while self.pos + 1 < len(self.data):
                if (
                    self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7
                ):
                    break
                self.pos += 1
            if self.pos + 1 >= len(self.data):
                raise ValueError("expected RST marker, hit end of stream")
            self.marker = self.data[self.pos + 1]
        m = self.marker
        if not 0xD0 <= m <= 0xD7:
            raise ValueError(
                f"expected RST marker at restart boundary, got FF{m:02X}"
            )
        self.marker = None
        self.pos += 2
        return m


def _huff_decode(
    br: _BitReader, dec: dict[int, tuple[int, int, int]]
) -> tuple[int, int, tuple[int, int, int]]:
    """(length, code, dec entry) of the next Huffman code."""
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bits(1)
        ent = dec.get(ln)
        if ent and ent[0] <= code <= ent[1]:
            return ln, code, ent  # caller maps to value
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t low bits to the signed magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------- decoder
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential JPEG → (h, w, 3) uint8 RGB (grayscale is
    replicated). Tables come from the file's own DQT/DHT segments."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    huffv: dict[tuple[int, int], list[int]] = {}
    frame = None
    planes = None
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # T.81 B.1.1.2: FF fill bytes before a marker
        if pos + 1 >= len(payload):
            raise ValueError("truncated JPEG: stream ends inside a marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seg_len = _unpack(">H", payload, pos, len(payload), "JPEG segment length")[0]
        seg = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.frombuffer(seg, np.uint8, 64, p).astype(np.int32)
                qt[tq] = tbl[_UNZZ].reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                bits = list(seg[p : p + 16])
                p += 16
                n = sum(bits)
                values = list(seg[p : p + n])
                if len(bits) < 16 or len(values) < n:
                    raise ValueError("truncated DHT segment")
                p += n
                _, dec = _canonical_codes(bits, values)
                huff[(tc, th)] = dec
                huffv[(tc, th)] = values
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = _unpack(">BHHB", seg, 0, len(seg), "SOF header")
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = _unpack(">BBB", seg, 6 + 3 * i, len(seg), "SOF component")
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline SOF marker FF{marker:02X} "
                "(progressive/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = _unpack(">H", seg, 0, len(seg), "DRI segment")[0]
        elif marker == 0xDA:  # SOS: one scan's header + entropy data
            if frame is None:
                raise ValueError("SOS before SOF")
            if not seg or len(seg) < 1 + 2 * seg[0]:
                raise ValueError(f"torn SOS header at {pos}")
            ns = seg[0]
            scan = {}
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan[cs] = (tt >> 4, tt & 0x0F)
            if planes is None:
                planes = _alloc_planes(frame)
            pos = _decode_scan_into(
                payload, pos + seg_len, frame, planes, scan, qt, huff,
                huffv, restart_interval,
            )
            continue  # pos now points at the next marker's 0xFF
        pos += seg_len
    if planes is None:
        raise ValueError("no SOS scan in JPEG payload")
    return _planes_to_rgb(frame, planes)


def _alloc_planes(frame) -> list[np.ndarray]:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcux"], frame["mcuy"] = mcux, mcuy
    return [
        np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        for c in comps
    ]


def _decode_scan_into(data, pos, frame, planes, scan, qt, huff, huffv, ri):
    """Decode ONE scan's entropy data into the persistent planes and
    return the byte position of the NEXT marker. Handles interleaved
    scans (MCU = one sampling cluster of every scan component) and
    non-interleaved single-component scans (T.81 A.2.2: the MCU is one
    data unit over the component's OWN block grid)."""
    comps = frame["comps"]
    br = _BitReader(data, pos)
    scomps = [(ci, c) for ci, c in enumerate(comps) if c["id"] in scan]
    if not scomps:
        raise ValueError("SOS names no frame component")

    def tables(c):
        return (
            huff[(0, scan[c["id"]][0])],
            huffv[(0, scan[c["id"]][0])],
            huff[(1, scan[c["id"]][1])],
            huffv[(1, scan[c["id"]][1])],
            qt[c["tq"]],
        )

    def place(ci, q, by, bx, blk, pred_val):
        coeffs = np.zeros(64)
        coeffs[_ZZ] = blk
        coeffs[0] = pred_val
        f = coeffs.reshape(8, 8) * q
        px = _C.T @ f @ _C + 128.0
        planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px

    if len(scomps) == 1:
        ci, c = scomps[0]
        dc_dec, dc_vals, ac_dec, ac_vals, q = tables(c)
        # the component's own dimensions, scaled by its sampling factors
        cw = _ceil_div(frame["w"] * c["h"], frame["hmax"])
        chh = _ceil_div(frame["h"] * c["v"], frame["vmax"])
        bw_, bh_ = _ceil_div(cw, 8), _ceil_div(chh, 8)
        pred = 0
        n = 0
        for by in range(bh_):
            for bx in range(bw_):
                if ri and n and n % ri == 0:
                    br.restart()
                    pred = 0
                blk = _decode_block(br, dc_dec, dc_vals, ac_dec, ac_vals)
                pred += blk[0]
                place(ci, q, by, bx, blk, pred)
                n += 1
    else:
        ctabs = {ci: tables(c) for ci, c in scomps}
        pred = [0] * len(comps)
        n = 0
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                if ri and n and n % ri == 0:
                    br.restart()
                    pred = [0] * len(comps)
                for ci, c in scomps:
                    dc_dec, dc_vals, ac_dec, ac_vals, q = ctabs[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = _decode_block(
                                br, dc_dec, dc_vals, ac_dec, ac_vals
                            )
                            pred[ci] += blk[0]
                            place(
                                ci, q,
                                my * c["v"] + by, mx * c["h"] + bx,
                                blk, pred[ci],
                            )
                n += 1
    # locate the next marker for the caller's segment walk
    if br.marker is not None:
        return br.pos
    p = br.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def _planes_to_rgb(frame, planes) -> np.ndarray:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    full = []
    for c, pl in zip(comps, planes):
        pl = np.repeat(pl, frame["hmax"] // c["h"], axis=1)
        pl = np.repeat(pl, frame["vmax"] // c["v"], axis=0)
        full.append(pl[:h, :w])
    if len(full) == 1:
        g = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _decode_block(br, dc_dec, dc_vals, ac_dec, ac_vals) -> np.ndarray:
    out = np.zeros(64)
    _ln, code, ent = _huff_decode(br, dc_dec)
    t = dc_vals[ent[2] + (code - ent[0])]
    out[0] = _extend(br.bits(t), t)  # DC DIFF (caller accumulates)
    k = 1
    while k < 64:
        _ln, code, ent = _huff_decode(br, ac_dec)
        rs = ac_vals[ent[2] + (code - ent[0])]
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        out[k] = _extend(br.bits(s), s)
        k += 1
    return out


# ---------------------------------------------------------------- encoder
# simple VALID tables (see module docstring): 12 DC codes at 4 bits;
# 255 AC codes at 9 bits + 1 at 10 (Kraft-complete, all-ones never used)
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_AC_VALS = list(range(255)) + [255]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.bits((1 << pad) - 1, pad)  # pad with 1s per T.81


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def encode_jpeg(
    img: np.ndarray,
    *,
    q: int = 2,
    subsample: bool = False,
    restart_interval: int = 0,
    interleaved: bool = True,
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes. ``q`` is the flat
    quantization step (2 ≈ visually lossless on smooth content);
    ``subsample=True`` emits 4:2:0 (2x2-mean chroma); DRI/RSTn written
    when ``restart_interval`` MCUs > 0. ``interleaved=False`` writes the
    spec's other legal baseline shape — one single-component SOS per
    component (T.81 A.2.2), each over the component's own block grid."""
    h, w, _ = img.shape
    f = img.astype(np.float64)
    y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
    cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128

    sh, sv = (2, 2) if subsample else (1, 1)
    mcu_w, mcu_h = 8 * sh, 8 * sv
    mcux = (w + mcu_w - 1) // mcu_w
    mcuy = (h + mcu_h - 1) // mcu_h

    def pad(plane, ph, pw):
        out = np.empty((ph, pw))
        out[: plane.shape[0], : plane.shape[1]] = plane
        out[plane.shape[0]:, : plane.shape[1]] = plane[-1:, :]
        out[:, plane.shape[1]:] = out[:, plane.shape[1] - 1 : plane.shape[1]]
        return out

    yp = pad(y, mcuy * mcu_h, mcux * mcu_w)
    if subsample:
        cbf = pad(cb, mcuy * mcu_h, mcux * mcu_w)
        crf = pad(cr, mcuy * mcu_h, mcux * mcu_w)
        cbp = cbf.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
        crp = crf.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
    else:
        cbp = pad(cb, mcuy * 8, mcux * 8)
        crp = pad(cr, mcuy * 8, mcux * 8)

    qtab = np.full((8, 8), q, dtype=np.int32)
    dc_enc, _ = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_enc, _ = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = [0, 0, 0]

    def block(plane, by, bx, ci):
        px = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
        coeffs = _C @ px @ _C.T
        zz = np.round(coeffs / q).astype(np.int64).reshape(-1)[_ZZ]
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t = _csize(diff)
        c, ln = dc_enc[t]
        bw.bits(c, ln)
        if t:
            bw.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = max(np.nonzero(zz)[0]) if zz.any() else 0
        for k in range(1, 64):
            v = int(zz[k])
            if k > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_enc[0xF0]
                bw.bits(c, ln)
                run -= 16
            s = _csize(v)
            c, ln = ac_enc[(run << 4) | s]
            bw.bits(c, ln)
            bw.bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            c, ln = ac_enc[0x00]  # EOB
            bw.bits(c, ln)

    scans: list[tuple[bytes, bytes]] = []  # (SOS component spec, entropy)
    if interleaved:
        mcu_count = 0
        rst_no = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + (rst_no & 7)])
                    rst_no += 1
                    pred[:] = [0, 0, 0]
                for by in range(sv):
                    for bx in range(sh):
                        block(yp, my * sv + by, mx * sh + bx, 0)
                block(cbp, my, mx, 1)
                block(crp, my, mx, 2)
                mcu_count += 1
        bw.flush()
        scans.append(
            (bytes([3, 1, 0x00, 2, 0x11, 3, 0x11]), bytes(bw.out))
        )
    else:
        # one single-component scan per component, each over the
        # component's TRUE block grid (ceil of the scaled dims — NOT the
        # MCU-padded plane grid)
        cbw = _ceil_div(_ceil_div(w, sh), 8)
        cbh = _ceil_div(_ceil_div(h, sv), 8)
        specs = [
            (yp, 0, 1, _ceil_div(w, 8), _ceil_div(h, 8)),
            (cbp, 1, 2, cbw, cbh),
            (crp, 2, 3, cbw, cbh),
        ]
        for plane, ci, comp_id, bwb, bhb in specs:
            bw = _BitWriter()
            pred[:] = [0, 0, 0]
            n = 0
            rst_no = 0
            for by in range(bhb):
                for bx in range(bwb):
                    if (
                        restart_interval
                        and n
                        and n % restart_interval == 0
                    ):
                        bw.flush()
                        bw.out += bytes([0xFF, 0xD0 + (rst_no & 7)])
                        rst_no += 1
                        pred[:] = [0, 0, 0]
                    block(plane, by, bx, ci)
                    n += 1
            bw.flush()
            scans.append(
                (bytes([1, comp_id, 0x00 if ci == 0 else 0x11]),
                 bytes(bw.out))
            )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = qtab.reshape(-1)[_ZZ].astype(np.uint8)
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (sh << 4) | sv, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht += bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    dht += bytes([0x01]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht += bytes([0x11]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    out += seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for comp_spec, entropy in scans:
        out += seg(0xDA, comp_spec + bytes([0, 63, 0]))
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)
