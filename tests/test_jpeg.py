"""Baseline JPEG codec (operators/jpeg.py, pure numpy, ITU T.81):
lossy roundtrips bounded by error, sampling/restart variants, marker
guards, and the Arrow decode-batch integration."""

import numpy as np
import pytest

from mysql_secure_agent_spark.operators.jpeg import decode_jpeg, encode_jpeg


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (40 + x * 2).clip(0, 255),
            (30 + y * 3).clip(0, 255),
            (20 + x + y).clip(0, 255),
        ],
        axis=2,
    ).astype(np.uint8)


def test_roundtrip_444_noise_tight():
    """4:4:4 at q=1 keeps even white noise within colorspace-rounding
    error — the codec itself (DCT, Huffman, stuffing) is exact."""
    img = np.random.default_rng(3).integers(0, 256, (33, 47, 3)).astype(
        np.uint8
    )
    out = decode_jpeg(encode_jpeg(img, q=1))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


def test_roundtrip_variants_on_smooth_content():
    img = _gradient(40, 56)
    for kw in (
        dict(),
        dict(subsample=True),
        dict(restart_interval=3),
        dict(subsample=True, restart_interval=2),
        dict(q=8),
    ):
        out = decode_jpeg(encode_jpeg(img, **kw))
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 24, kw  # q=8 quantization bound
        assert err.mean() < 4, kw


def test_odd_dimensions_and_tiny():
    for h, w in ((1, 1), (7, 9), (8, 8), (17, 23)):
        img = _gradient(h, w)
        out = decode_jpeg(encode_jpeg(img, q=2, subsample=True))
        assert out.shape == (h, w, 3)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 12


def test_guards():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nope")
    img = _gradient(16, 16)
    data = bytearray(encode_jpeg(img))
    # flip SOF0 to SOF2 (progressive): refused loudly, not garbage
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="progressive|non-baseline"):
        decode_jpeg(bytes(data))


def test_decode_image_batch_includes_jpeg(spark):
    from mysql_secure_agent_spark.operators.multimodal import (
        decode_image_batch,
    )

    img = _gradient(24, 32)
    df = spark.createDataFrame(
        [(21, "image", encode_jpeg(img, q=2), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = decode_image_batch(df).collect()[0]
    assert (row["width"], row["height"]) == (32, 24)
    # lossy: pix_sum within (max_err * n_samples) of the exact content sum
    exact = int(img.astype(np.int64).sum())
    assert abs(row["pix_sum"] - exact) <= 3 * img.size


def test_non_interleaved_multi_scan():
    """T.81 A.2.2: baseline files may carry one single-component scan per
    component (three SOS segments) — the review-flagged spec shape."""
    img = _gradient(40, 56)
    for kw in (
        dict(interleaved=False),
        dict(interleaved=False, subsample=True),
        dict(interleaved=False, restart_interval=4),
        dict(interleaved=False, subsample=True, restart_interval=2),
    ):
        out = decode_jpeg(encode_jpeg(img, q=2, **kw))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 16, kw
    noise = np.random.default_rng(3).integers(0, 256, (33, 47, 3)).astype(
        np.uint8
    )
    out = decode_jpeg(encode_jpeg(noise, q=1, interleaved=False))
    assert np.abs(out.astype(int) - noise.astype(int)).max() <= 4


def test_truncated_entropy_raises_valueerror():
    img = _gradient(16, 16)
    data = encode_jpeg(img)
    with pytest.raises(ValueError, match="truncated|marker"):
        decode_jpeg(data[: len(data) // 2] + b"\xff")


def test_torn_entropy_never_fabricates_pixels():
    """Review finding: a stray marker mid-entropy used to end the scan
    silently and the remaining blocks 'decoded' from injected zero
    padding — fabricated pixels. Pad accounting must raise instead."""
    img = _gradient(32, 32)
    data = encode_jpeg(img, q=2)
    sos = data.find(b"\xff\xda")
    cut = sos + 40  # inside entropy data
    torn = data[:cut] + b"\xff\xfe\x00\x04ab" + b"\xff\xd9"
    with pytest.raises(ValueError, match="truncated|padding"):
        decode_jpeg(torn)


def test_ff_fill_bytes_before_markers_are_legal():
    """T.81 B.1.1.2: markers may be preceded by any number of FF fill
    bytes — both inside the entropy tail and between segments."""
    img = _gradient(24, 24)
    data = encode_jpeg(img, q=2)
    ref = decode_jpeg(data)
    filled = data[:-2] + b"\xff\xff" + data[-2:]  # FF fill before EOI
    out = decode_jpeg(filled)
    assert (out == ref).all()


def _before_sos(data: bytes) -> bytes:
    return data[: data.find(b"\xff\xda")]


@pytest.mark.parametrize(
    "torn",
    [
        lambda j: j[:4],  # segment length cut after the marker
        lambda j: j[:5],  # segment length cut mid-field
        lambda j: b"\xff\xd8\xff\xc0\x00\x04\x08\x00",  # SOF0 with a 2-byte body
        lambda j: b"\xff\xd8\xff\xdd\x00\x02",  # empty DRI
        lambda j: _before_sos(j) + b"\xff\xda\x00\x02",  # empty SOS header
    ],
    ids=["len_cut_4", "len_cut_5", "short_sof0", "empty_dri", "empty_sos"],
)
def test_torn_headers_raise_valueerror(torn):
    with pytest.raises(ValueError):
        decode_jpeg(torn(encode_jpeg(_gradient(16, 16))))
