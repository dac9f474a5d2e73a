"""Header kernels of operators/multimodal.py, one table per contract.

``_decode_one`` reads only headers, so every field it returns is a formula
of the header: the tables below pin those formulas per codec and variant.
``decode_media`` turns MediaDecodeError and NotImplementedError into error
rows and lets anything else fail the task, so hostile, truncated and
corrupted blobs must raise one of those two, promptly, and nothing else.
"""

from __future__ import annotations

import random
import signal
import struct
import zlib

import pytest

from nabu_spark.operators import multimodal as mm

ROW_ERRORS = (mm.MediaDecodeError, NotImplementedError)


def _bmp_row(w: int) -> int:
    return (w * 3 + 3) & ~3


def _patch(blob: bytes, off: int, fmt: str, *vals) -> bytes:
    b = bytearray(blob)
    struct.pack_into(fmt, b, off, *vals)
    return bytes(b)


def _png(w: int, h: int, depth: int = 8, color_type: int = 2,
         interlace: int = 0) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    return (mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"")) + mm._png_chunk(b"IEND", b""))


def _wav(rate: int, channels: int, bits: int, n_frames: int,
         pre_data: bytes = b"") -> bytes:
    data = bytes(n_frames * channels * (bits // 8))
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                      channels * bits // 8, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + pre_data
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _gif_interlaced_local_table() -> bytes:
    """10x6 screen without a global table; one interlaced 4x3 frame with a
    4-entry local color table."""
    return (b"GIF89a" + struct.pack("<HHBBB", 10, 6, 0, 0, 0)
            + b"\x2c" + struct.pack("<HHHHB", 1, 1, 4, 3, 0x80 | 0x40 | 0x01)
            + bytes(12) + b"\x02" + b"\x03\x44\x01\x05" + b"\x00" + b"\x3b")


def _opus(rate: int, channels: int, granule: int, payload: int) -> bytes:
    head = (b"OpusHead" + bytes([1, channels]) + (312).to_bytes(2, "little")
            + rate.to_bytes(4, "little") + bytes(3))
    return (mm._ogg_page(9, 0, 0, head, header_type=2)
            + mm._ogg_page(9, 1, granule, bytes(payload), header_type=4))


def _jpeg(w: int, h: int) -> bytes:
    return mm.synth_jpeg(1, w, h)


def _jpeg_marker(blob: bytes, marker: int) -> int:
    """Offset of the first ``0xFF marker`` byte pair in a JPEG header."""
    i = blob.index(bytes([0xFF, marker]))
    assert i < blob.index(b"\xff\xda")
    return i


def _mp4_box_at(blob: bytes, fourcc: bytes) -> int:
    """Offset of the size field of the first box named ``fourcc``."""
    return blob.index(fourcc) - 4


# --- fields are header formulas ---------------------------------------------

HEADER_CASES = {
    "bmp-1x1": (mm.synth_bmp(0, 1, 1), ("image", 1, 1, 1, _bmp_row(1))),
    "bmp-13x7": (mm.synth_bmp(1, 13, 7), ("image", 13, 7, 1, 7 * _bmp_row(13))),
    "bmp-24x16": (mm.synth_bmp(2, 24, 16), ("image", 24, 16, 1, 16 * _bmp_row(24))),
    "bmp-33x5": (mm.synth_bmp(3, 33, 5), ("image", 33, 5, 1, 5 * _bmp_row(33))),
    "bmp-top-down": (_patch(mm.synth_bmp(4, 6, 9), 22, "<i", -9),
                     ("image", 6, 9, 1, 9 * _bmp_row(6))),
    "png-gray": (_png(5, 3, color_type=0), ("image", 5, 3, 1, 15)),
    "png-rgb": (_png(5, 3, color_type=2), ("image", 5, 3, 1, 45)),
    "png-palette": (_png(5, 3, color_type=3), ("image", 5, 3, 1, 15)),
    "png-gray-alpha": (_png(5, 3, color_type=4), ("image", 5, 3, 1, 30)),
    "png-rgba": (_png(5, 3, color_type=6), ("image", 5, 3, 1, 60)),
    "png-synth-13x7": (mm.synth_png(1, 13, 7), ("image", 13, 7, 1, 273)),
    "gif-one-frame": (mm.synth_gif(0, 1, 1, 1), ("image", 1, 1, 1, 3)),
    "gif-13x7x3": (mm.synth_gif(1, 13, 7, 3), ("video", 13, 7, 3, 3 * 273)),
    "gif-40x3x2": (mm.synth_gif(2, 40, 3, 2), ("video", 40, 3, 2, 2 * 360)),
    "gif-interlaced-local-table": (_gif_interlaced_local_table(),
                                   ("image", 10, 6, 1, 36)),
    "jpeg-1x1": (_jpeg(1, 1), ("image", 1, 1, 1, 3)),
    "jpeg-7x9": (_jpeg(7, 9), ("image", 7, 9, 1, 189)),
    "jpeg-8x8": (_jpeg(8, 8), ("image", 8, 8, 1, 192)),
    "jpeg-17x5": (_jpeg(17, 5), ("image", 17, 5, 1, 255)),
    "jpeg-33x16": (_jpeg(33, 16), ("image", 33, 16, 1, 1584)),
    "wav-mono-16": (_wav(8000, 1, 16, 400), ("audio", 8000, 1, 400, 800)),
    "wav-stereo-16": (_wav(44100, 2, 16, 100), ("audio", 44100, 2, 100, 400)),
    "wav-mono-8": (_wav(22050, 1, 8, 300), ("audio", 22050, 1, 300, 300)),
    "wav-stereo-24": (_wav(48000, 2, 24, 10), ("audio", 48000, 2, 10, 60)),
    "wav-odd-chunk-before-data": (
        _wav(8000, 1, 16, 7, pre_data=b"LIST" + struct.pack("<I", 3) + b"abc\x00"),
        ("audio", 8000, 1, 7, 14)),
    "mp4-16x8x1": (mm.synth_mp4(0, 16, 8, 1), ("video", 16, 8, 1, 128)),
    "mp4-16x8x10": (mm.synth_mp4(1, 16, 8, 10), ("video", 16, 8, 10, 1280)),
    "mp4-3x5x9": (mm.synth_mp4(2, 3, 5, 9), ("video", 3, 5, 9, 135)),
    "ogg-vorbis-8k": (mm.synth_ogg(0, 8000, 400), ("audio", 8000, 1, 400, 800)),
    "ogg-vorbis-44k": (mm.synth_ogg(1, 44100, 1000), ("audio", 44100, 1, 1000, 2000)),
    "ogg-opus-stereo": (_opus(48000, 2, 960, 100), ("audio", 48000, 2, 960, 100)),
    "fake": (b"FAKE" + struct.pack("<BIII", 1, 640, 480, 30) + bytes(10),
             ("audio", 640, 480, 30, 10)),
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_header_fields(case):
    blob, want = HEADER_CASES[case]
    d = mm._decode_one(blob)
    assert (d["kind"], d["width"], d["height"], d["n_frames"],
            d["payload_bytes"]) == want


# --- variants no header kernel reads ------------------------------------------

_SOF0 = _jpeg_marker(_jpeg(8, 8), 0xC0)
_DQT = _jpeg_marker(_jpeg(8, 8), 0xDB)

UNSUPPORTED_CASES = {
    "png-16-bit": _png(4, 4, depth=16),
    "png-4-bit-palette": _png(4, 4, depth=4, color_type=3),
    "png-interlaced": _png(4, 4, interlace=1),
    "png-unknown-color-type": _png(4, 4, color_type=5),
    "bmp-8-bit": _patch(mm.synth_bmp(0, 4, 4), 28, "<H", 8),
    "bmp-rle": _patch(mm.synth_bmp(0, 4, 4), 30, "<I", 1),
    "jpeg-progressive": _patch(_jpeg(8, 8), _SOF0 + 1, "B", 0xC2),
    "jpeg-12-bit": _patch(_jpeg(8, 8), _SOF0 + 4, "B", 12),
    "jpeg-16-bit-quant-table": _patch(_jpeg(8, 8), _DQT + 4, "B", 0x10),
}


@pytest.mark.parametrize("case", sorted(UNSUPPORTED_CASES))
def test_unsupported_variant_raises_not_implemented(case):
    with pytest.raises(NotImplementedError):
        mm._decode_one(UNSUPPORTED_CASES[case])


# --- hostile headers are decode errors ----------------------------------------

_BMP = mm.synth_bmp(0, 8, 4)
_GIF = mm.synth_gif(0, 8, 4, 2)
_MP4 = mm.synth_mp4(0, 8, 4, 3)

HOSTILE_CASES = {
    "shorter-than-any-header": b"BM\x00\x01",
    "bmp-truncated-info-header": b"BM" + bytes(30),
    "bmp-zero-width": _patch(_BMP, 18, "<i", 0),
    "bmp-giant-dims": _patch(_patch(_BMP, 18, "<i", 1 << 20), 22, "<i", 1 << 20),
    "bmp-pixel-offset-past-end": _patch(_BMP, 10, "<I", len(_BMP) + 1),
    "png-zero-height": _png(4, 0),
    "png-giant-dims": _png(1 << 21, 2),
    "png-chunk-length-past-end": _patch(_png(4, 4), 8, ">I", 0xFFFFFF00),
    "png-first-chunk-not-ihdr": _patch(_png(4, 4), 12, "4s", b"IDAT"),
    "gif-pixel-bomb": (b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
                       + (b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
                          + b"\x02\x00") * 20 + b"\x3b"),
    "gif-bad-lzw-code-size": _GIF.replace(b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 4, 0) + b"\x08",
                                          b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 4, 0) + b"\x0c", 1),
    "gif-no-frames": b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3b",
    "gif-unknown-block": b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x99\x3b",
    "jpeg-sos-before-sof": (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 6) + b"JFIF"
                            + b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"),
    "jpeg-marker-desync": b"\xff\xd8" + bytes(20),
    "wav-no-data-chunk": _wav(8000, 1, 16, 4)[:36] + b"junk" + struct.pack("<I", 4) + bytes(4),
    "mp4-no-moov": _MP4[:_mp4_box_at(_MP4, b"moov")],
    "mp4-box-size-past-end": _patch(_MP4, _mp4_box_at(_MP4, b"moov"), ">I", 0x7FFFFFFF),
    "ogg-trailing-garbage": mm.synth_ogg(0) + b"xx",
    "ogg-bos-not-vorbis-or-opus": mm._ogg_page(1, 0, 0, b"\x01theora" + bytes(40), 2),
}


@pytest.mark.parametrize("case", sorted(HOSTILE_CASES))
def test_hostile_header_is_decode_error(case):
    with pytest.raises(mm.MediaDecodeError):
        mm._decode_one(HOSTILE_CASES[case])


# --- no blob escapes the row-error contract or stalls the task ----------------

CODEC_BLOBS = {
    "bmp": mm.synth_bmp(3, 13, 7),
    "png": mm.synth_png(3, 13, 7),
    "gif": mm.synth_gif(3, 13, 7, 3),
    "jpeg": mm.synth_jpeg(3, 13, 7),
    "wav": mm.synth_wav(3),
    "mp4": mm.synth_mp4(3, 16, 8, 10),
    "ogg": mm.synth_ogg(3),
}


class _Stalled(Exception):
    pass


def _decode_within(blob: bytes, seconds: float = 2.0):
    """_decode_one under a wall-clock limit; returns the dict or the row
    error it raised. Any other exception propagates and fails the test."""
    def alarm(*_):
        raise _Stalled(f"decode of a {len(blob)}-byte blob ran over {seconds}s")

    old = signal.signal(signal.SIGALRM, alarm)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        return mm._decode_one(blob)
    except ROW_ERRORS as e:
        return e
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


@pytest.mark.parametrize("codec", sorted(CODEC_BLOBS))
def test_every_prefix_is_a_row_or_a_row_error(codec):
    blob = CODEC_BLOBS[codec]
    assert isinstance(_decode_within(blob), dict)
    for cut in range(len(blob)):
        _decode_within(blob[:cut])
    # no header fits in the first 12 bytes
    for cut in range(12):
        assert isinstance(_decode_within(blob[:cut]), mm.MediaDecodeError)


@pytest.mark.parametrize("codec", sorted(CODEC_BLOBS))
def test_corrupted_bytes_are_a_row_or_a_row_error(codec):
    blob = CODEC_BLOBS[codec]
    rng = random.Random(f"corrupt-{codec}")
    errors = 0
    for _ in range(300):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        errors += isinstance(_decode_within(bytes(b)), Exception)
    assert errors < 300  # most flips land in payload bytes no header reads


def test_mp4_samples_per_chunk_does_not_drive_the_keyframe_walk():
    """A samples-per-chunk count near 2**31 puts every sample in chunk 1;
    keyframe offsets stay the chunk offset plus whole samples."""
    w, h, frames = 16, 8, 10
    blob = mm.synth_mp4(0, w, h, frames)
    stsc = blob.index(b"stsc")
    # full box: size, 'stsc', version/flags, entry count, then
    # (first_chunk, samples_per_chunk, sample_description_index)
    hostile = _patch(blob, stsc + 16, ">I", 0x7FFFFFFF)
    good = mm.mp4_metadata(blob)["tracks"][0]
    t = _decode_within(hostile, 1.0)
    assert isinstance(t, dict) and t["n_frames"] == frames
    got = mm.mp4_metadata(hostile)["tracks"][0]
    assert got["keyframe_offsets"] == good["keyframe_offsets"]
    # a first_chunk number past the chunk table locates no keyframe
    past = _patch(blob, stsc + 12, ">I", 0x7FFFFFFF)
    assert mm.mp4_metadata(past)["tracks"][0]["keyframe_offsets"] == []


def test_decode_media_rows_match_the_header_kernels(spark):
    blobs = [b for b, _ in HEADER_CASES.values()]
    blobs += list(UNSUPPORTED_CASES.values()) + list(HOSTILE_CASES.values())
    media = spark.createDataFrame(
        [(i, "x", bytearray(b), ("u", "m")) for i, b in enumerate(blobs)],
        "media_id long, media_type string, media binary, "
        "meta struct<source_url string, mime string>",
    )
    got = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert sorted(got) == list(range(len(blobs)))
    for i, b in enumerate(blobs):
        want = _decode_within(b)
        r = got[i]
        if isinstance(want, dict):
            assert r["decode_error"] is None
            assert (r["width"], r["height"], r["n_frames"], r["payload_bytes"]) == (
                want["width"], want["height"], want["n_frames"], want["payload_bytes"])
        else:
            assert r["decode_error"] == type(want).__name__
            assert r["width"] is None and r["payload_bytes"] is None
