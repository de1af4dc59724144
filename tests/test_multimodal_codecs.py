"""Pure-numpy media codecs: PPM/BMP image decode, WAV-PCM audio decode.

Byte layouts follow the public format specs (netpbm P6, Windows
BITMAPINFOHEADER, RIFF/WAVE). The reference agent has no media surface at
all — this is engine-beyond-reference training-data plumbing; the codecs
exist so the pixel path is real and oracle-checkable without PIL/ffmpeg.
"""

import numpy as np
import pytest

from mysql_secure_agent_spark.operators.multimodal import (
    _decode_bmp,
    _decode_gif,
    _decode_png,
    _decode_ppm,
    _decode_wav,
    _resize_nearest,
    _sniff_mime,
    decode_audio_batch,
    decode_image_batch,
    encode_bmp,
    encode_gif,
    encode_ppm,
    encode_wav,
)


def _expected(w, h, start):
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    return (start + x + y + c).astype(np.uint8)


def test_ppm_roundtrip():
    img = _decode_ppm(encode_ppm(5, 4, 10))
    assert img.shape == (4, 5, 3)
    np.testing.assert_array_equal(img, _expected(5, 4, 10))


def test_ppm_header_comments_and_whitespace():
    img = _expected(2, 3, 7)
    payload = b"P6 # a comment\n# another\n 2\t3\n255\n" + img.tobytes()
    np.testing.assert_array_equal(_decode_ppm(payload), img)


def test_bmp_roundtrip_padding_and_flip():
    # w=5 -> 15 raw bytes/row padded to 16: decoder must drop padding, undo
    # bottom-up storage, and swap BGR back to RGB
    img = _decode_bmp(encode_bmp(5, 4, 20))
    np.testing.assert_array_equal(img, _expected(5, 4, 20))


def test_bmp_matches_ppm_content():
    np.testing.assert_array_equal(
        _decode_bmp(encode_bmp(7, 3, 30)), _decode_ppm(encode_ppm(7, 3, 30))
    )


def test_wav_roundtrip():
    rate, n_ch, data = _decode_wav(encode_wav(150, 100, rate=16000))
    assert (rate, n_ch) == (16000, 1)
    np.testing.assert_array_equal(data, 100 + np.arange(150))


def test_wav_skips_unknown_chunks():
    raw = bytearray(encode_wav(10, 5))
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    raw2 = bytes(raw[:fmt_end]) + extra + bytes(raw[fmt_end:])
    rate, n_ch, data = _decode_wav(raw2)
    assert len(data) == 10 and data[0] == 5


def _short_fmt_chunk() -> bytes:
    """A WAV whose ``fmt `` chunk declares 8 bytes: the PCM fields it lacks
    would otherwise be read out of the next chunk's header."""
    raw = bytearray(encode_wav(4, 1))
    raw[16:20] = (8).to_bytes(4, "little")
    return bytes(raw[:20 + 8]) + bytes(raw[20 + 16:])


@pytest.mark.parametrize(
    "decode, payload",
    [
        (_decode_bmp, b"BM" + bytes(12)),  # file header cut short
        (_decode_bmp, encode_bmp(3, 2, 1)[:30]),  # info header cut short
        (_decode_wav, encode_wav(4, 1)[: 12 + 8 + 10]),  # fmt body cut short
        (_decode_wav, _short_fmt_chunk()),  # fmt chunk smaller than PCM fields
        # IHDR chunk declaring 5 of its 13 bytes
        (_decode_png, b"\x89PNG\r\n\x1a\n" + (5).to_bytes(4, "big") + b"IHDR" + bytes(9)),
        (_decode_gif, b"GIF89a" + bytes(3)),  # logical screen cut short
        # encode_gif: 13-byte header, 768-byte color table, an 8-byte
        # graphics-control extension at 781, the image descriptor at 789
        # and its LZW sub-blocks from 800
        (_decode_gif, encode_gif(16, 16, 3)[:784]),  # cut inside the extension
        (_decode_gif, encode_gif(16, 16, 3)[:793]),  # cut inside the descriptor
        (_decode_gif, encode_gif(16, 16, 3)[:799]),  # cut before the code size
        (_decode_gif, encode_gif(16, 16, 3)[:850]),  # cut inside the image data
    ],
    ids=[
        "bmp-file-header", "bmp-info-header", "wav-fmt-cut", "wav-fmt-short-chunk",
        "png-ihdr-short", "gif-screen", "gif-extension-cut", "gif-descriptor-cut",
        "gif-code-size-cut", "gif-image-data-cut",
    ],
)
def test_torn_headers_raise_value_error(decode, payload):
    # the contracted error for torn media is ValueError, never struct.error
    with pytest.raises(ValueError, match="torn"):
        decode(payload)


def test_sniff_disambiguates_riff():
    assert _sniff_mime(encode_wav(4, 1)) == "audio/wav"
    assert _sniff_mime(b"RIFF\x00\x00\x00\x00AVI LIST") == "video/avi"
    assert _sniff_mime(encode_ppm(2, 2, 1)) == "image/x-portable-pixmap"
    assert _sniff_mime(encode_bmp(2, 2, 1)) == "image/bmp"


def test_resize_nearest_picks_pixel_centers():
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = _resize_nearest(img, 2, 2)
    # centers of 2x2 grid over 4 rows/cols -> source indices 1 and 3
    np.testing.assert_array_equal(out, img[[1, 3]][:, [1, 3]])


def test_decode_image_batch_mixed_formats(spark):
    rows = [
        (1, "image", encode_ppm(5, 4, 10), None),
        (2, "image", encode_bmp(6, 2, 40), None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta map<string,string>"
    )
    out = {r["media_id"]: r for r in decode_image_batch(df).collect()}
    assert (out[1]["height"], out[1]["width"]) == (4, 5)
    assert out[1]["pix_sum"] == int(_expected(5, 4, 10).sum())
    assert (out[2]["height"], out[2]["width"]) == (2, 6)
    assert out[2]["pix_sum"] == int(_expected(6, 2, 40).sum())
    # raw buffer is the full native raster
    assert len(out[1]["pixels"]) == 4 * 5 * 3


def test_decode_image_batch_resizes(spark):
    df = spark.createDataFrame(
        [(1, "image", encode_ppm(8, 8, 3), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = decode_image_batch(df, target_size=(2, 2)).collect()[0]
    assert (row["height"], row["width"]) == (8, 8)  # native dims reported
    assert len(row["pixels"]) == 2 * 2 * 3  # payload resized


def test_decode_audio_batch(spark):
    df = spark.createDataFrame(
        [(7, "audio", encode_wav(200, 50), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = decode_audio_batch(df).collect()[0]
    assert row["sample_rate"] == 8000 and row["n_channels"] == 1
    assert row["n_samples"] == 200
    assert row["amp_sum"] == 200 * 50 + 200 * 199 // 2


def test_torn_jpeg_fails_loudly_not_garbage(spark):
    # JPEG now decodes for real (operators/jpeg.py) — a torn payload must
    # error out of the decode batch, never yield fabricated pixels
    df = spark.createDataFrame(
        [(1, "image", b"\xff\xd8\xff\xe0fakejpeg", None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    with pytest.raises(Exception, match="ValueError|no SOS|truncated|marker"):
        decode_image_batch(df).collect()


# ------------------------------------------------------------------ PNG
def test_png_roundtrip_all_filters_and_color_types():
    import numpy as np

    from mysql_secure_agent_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    for ct in (0, 2, 4, 6):
        for cyc in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            img = _decode_png(encode_png(7, 11, 30, color_type=ct, filter_cycle=cyc))
            assert img.shape == (11, 7, 3)
            y, x, c = np.ogrid[0:11, 0:7, 0:3]
            if ct in (0, 4):  # gray replicated across channels
                want = np.repeat((30 + x[..., :1] + y).astype(np.uint8), 3, axis=2)
            else:
                want = (30 + x + y + c).astype(np.uint8)
            assert (img == want).all(), (ct, cyc)


def test_png_matches_ppm_content():
    from mysql_secure_agent_spark.operators.multimodal import (
        _decode_png,
        _decode_ppm,
        encode_png,
    )

    assert (_decode_png(encode_png(5, 4, 10)) == _decode_ppm(encode_ppm(5, 4, 10))).all()


def test_png_interlace_rejected():
    import struct
    import zlib

    from mysql_secure_agent_spark.operators.multimodal import _decode_png

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    p = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        _decode_png(p)


def test_decode_image_batch_includes_png(spark):
    from mysql_secure_agent_spark.operators.multimodal import encode_png

    df = spark.createDataFrame(
        [(9, "image", encode_png(6, 5, 40), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = decode_image_batch(df).collect()[0]
    assert (row["width"], row["height"]) == (6, 5)
    w, h, s = 6, 5, 40
    assert row["pix_sum"] == (
        3 * w * h * s + 3 * h * (w * (w - 1) // 2) + 3 * w * (h * (h - 1) // 2)
        + 3 * w * h
    )


# ------------------------------------------------------------------- GIF
def test_lzw_roundtrip_exhausts_table():
    """LZW at every interesting regime: tiny alphabet, width growth
    through 12 bits, table-full CLEAR cycles, single symbol."""
    from mysql_secure_agent_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = np.random.default_rng(7)
    for n, alphabet in [(1, 2), (10, 4), (5000, 16), (120000, 256),
                        (40000, 2)]:
        data = rng.integers(0, alphabet, n).tolist()
        mcs = max(2, (alphabet - 1).bit_length())
        assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data


def test_gif_matches_ppm_content_both_layouts():
    """encode_gif carries the SAME affine pixel content as encode_ppm
    (palette entry i = (i, i+1, i+2)); sequential and 4-pass interlaced
    layouts must decode identically."""
    from mysql_secure_agent_spark.operators.multimodal import (
        _decode_gif,
        _decode_ppm,
        encode_gif,
        encode_ppm,
    )

    ref = _decode_ppm(encode_ppm(37, 23, 5))
    for interlace in (False, True):
        img = _decode_gif(encode_gif(37, 23, 5, interlace=interlace))
        assert img.shape == (23, 37, 3)
        assert (img == ref).all()


def test_gif_guards():
    from mysql_secure_agent_spark.operators.multimodal import (
        _decode_gif,
        encode_gif,
    )

    with pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"NOPE" + bytes(32))
    # truncated pixel stream fails loudly, never returns a short image
    g = bytearray(encode_gif(16, 16, 3))
    # chop the last data sub-block down (keep terminator + trailer)
    with pytest.raises(ValueError):
        _decode_gif(bytes(g[:60]) + bytes([0, 0x3B]))


def test_decode_image_batch_includes_gif(spark):
    from mysql_secure_agent_spark.operators.multimodal import encode_gif

    df = spark.createDataFrame(
        [(13, "image", encode_gif(6, 5, 40, interlace=True), None)],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = decode_image_batch(df).collect()[0]
    assert (row["width"], row["height"]) == (6, 5)
    w, h, s = 6, 5, 40
    assert row["pix_sum"] == (
        3 * w * h * s + 3 * h * (w * (w - 1) // 2) + 3 * w * (h * (h - 1) // 2)
        + 3 * w * h
    )
