"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Decode reads headers into (kind, width, height, n_frames, payload_bytes);
pixels are never decoded. Coverage, pure struct + numpy:
  * **BMP images** (uncompressed 24/32-bit): BITMAPINFOHEADER.
  * **PNG images** (8-bit gray/RGB/palette/gray-alpha/RGBA, non-interlaced):
    IHDR chunk walk.
  * **GIF images/animations** (87a/89a): block walk counting frames.
  * **Baseline JPEG**: marker walk to the SOF frame header.
  * **WAV audio** (PCM): RIFF/fmt/data chunk walk; reported as
    (width=sample_rate, height=channels, n_frames=sample count).
  * **MP4 (ISO-BMFF)** and **Ogg** containers: box / page walks.
  * **FAKE** — the deterministic synthetic format for plumbing tests:
    b"FAKE" + type(1B: 0=img,1=aud,2=vid) + width/height/n_frames (4B LE
    each) + payload bytes.
  * anything else (progressive/arithmetic JPEG, WebP, TIFF, 16-bit or
    interlaced PNG...) raises NotImplementedError.

The encoders (BMP, PNG, GIF, baseline JPEG) exist for the ``synth_*``
generators. Spark-side the pass is format-agnostic: one partition-preserving
mapInPandas, and per-row decode errors become rows, never task failures.
"""

from __future__ import annotations

import bisect
import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("media", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source_url", T.StringType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

_TYPES = ["image", "audio", "video"]
_MIMES = {"image": "image/fake", "audio": "audio/fake", "video": "video/fake"}


def synth_media(spark: SparkSession, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic media table (seeded by row id): image rows with even id
    are REAL 8-bit RGB PNGs and id%4==1 rows REAL baseline JPEGs, video
    rows with even id are REAL animated GIFs and odd id REAL ISO-BMFF MP4s,
    audio rows with even id are REAL PCM WAVs (all exercising the native
    codecs/parsers); everything else is the FAKE plumbing format. Dimensions
    follow the same id formulas either way, so the decoded header stays
    formula-recomputable by SQL."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                t = i % 3
                w = 16 + (i % 8) * 16
                h = 16 + (i % 5) * 16
                frames = 1 if t == 0 else 8 + i % 24
                if t == 0 and i % 2 == 0:
                    blob = synth_png(i, w, h)
                    mime = "image/png"
                elif t == 0 and i % 4 == 1:
                    blob = synth_jpeg(i, w, h)
                    mime = "image/jpeg"
                elif t == 2 and i % 2 == 0:
                    # even-id video rows are REAL animated GIFs
                    blob = synth_gif(i, w, h, frames)
                    mime = "image/gif"
                elif t == 2:
                    # odd-id video rows are REAL ISO-BMFF MP4s (container
                    # metadata decode; mdat = frames x w*h-byte samples)
                    blob = synth_mp4(i, w, h, frames)
                    mime = "video/mp4"
                elif t == 1 and i % 2 == 0:
                    # even-id audio rows are REAL 16-bit mono PCM WAVs with
                    # id-formula rate/length (decoded header SQL-recomputable)
                    blob = synth_wav(i, rate=8000 + (i % 4) * 4000,
                                     n_samples=400 + (i % 50) * 16)
                    mime = "audio/wav"
                elif t == 1:
                    # odd-id audio rows are REAL Ogg/Vorbis-framed streams
                    # with the SAME rate/sample formulas as the WAV rows
                    blob = synth_ogg(i, rate=8000 + (i % 4) * 4000,
                                     n_samples=400 + (i % 50) * 16)
                    mime = "audio/ogg"
                else:
                    payload = hashlib.sha256(f"media{i}".encode()).digest() * 4
                    blob = b"FAKE" + struct.pack("<BIII", t, w, h, frames) + payload
                    mime = _MIMES[_TYPES[t]]
                rows.append(
                    {
                        "media_id": i,
                        "media_type": _TYPES[t],
                        "media": blob,
                        "meta": {
                            "source_url": f"https://media.example.org/{i}",
                            "mime": mime,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


class MediaDecodeError(ValueError):
    pass


def _decode_bmp(blob: bytes) -> dict:
    """Uncompressed 24/32-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER."""
    if len(blob) < 54:
        raise MediaDecodeError("truncated BMP header")
    _, pixel_off = struct.unpack_from("<IxxxxI", blob, 2)
    hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiihHI", blob, 14
    )
    if hdr_size < 40 or compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            "only uncompressed 24/32-bit BMP decodes natively; other variants "
            "need an imaging library not available in this container"
        )
    # hostile-input guard: absurd or negative dims must become error rows,
    # never reshape ValueErrors / giant allocations inside the task
    if not (0 < w <= 1 << 20 and 0 < abs(h) <= 1 << 20 and w * abs(h) <= 1 << 26):
        raise MediaDecodeError(f"implausible BMP dimensions {w}x{h}")
    if pixel_off < 54 or pixel_off > len(blob):
        raise MediaDecodeError("BMP pixel offset out of range")
    return {
        "kind": "image",
        "width": int(w),
        "height": abs(int(h)),
        "n_frames": 1,
        "payload_bytes": len(blob) - pixel_off,
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> samples/pixel


def _png_chunks(blob: bytes):
    pos = 8
    while pos + 8 <= len(blob):
        length = int.from_bytes(blob[pos : pos + 4], "big")
        ctype = blob[pos + 4 : pos + 8]
        if length > len(blob) - pos - 8:
            raise MediaDecodeError("PNG chunk length out of range")
        yield ctype, blob[pos + 8 : pos + 8 + length]
        pos += 12 + length  # 4 len + 4 type + data + 4 CRC (not verified)
        if ctype == b"IEND":
            return


def _decode_png(blob: bytes) -> dict:
    """PNG header. payload_bytes reports the DECODED pixel byte count
    (h * w * channels) — deterministic in the header alone, unlike
    compressed stream length."""
    if len(blob) < 33 or blob[:8] != _PNG_SIG:
        raise MediaDecodeError("truncated or non-PNG signature")
    chunks = _png_chunks(blob)
    ctype, ihdr = next(chunks)
    if ctype != b"IHDR" or len(ihdr) < 13:
        raise MediaDecodeError("PNG missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    # hostile-input guard, same policy as BMP
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20 and w * h <= 1 << 26):
        raise MediaDecodeError(f"implausible PNG dimensions {w}x{h}")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            "only 8-bit non-interlaced PNG decodes natively; other variants "
            "need an imaging library not available in this container"
        )
    return {
        "kind": "image",
        "width": int(w),
        "height": int(h),
        "n_frames": 1,
        "payload_bytes": int(w) * int(h) * _PNG_CHANNELS[color_type],
    }


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> deterministic 8-bit RGB PNG (filter 0 rows,
    fixed-level zlib) — byte-reproducible across runs."""
    h, w = rgb.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    rows[:, 1:] = rgb.reshape(h, w * 3)
    idat = zlib.compress(rows.tobytes(), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _decode_wav(blob: bytes) -> dict:
    """PCM WAV: walk RIFF chunks for fmt (rate/channels/bits) and data."""
    if len(blob) < 44 or blob[8:12] != b"WAVE":
        raise MediaDecodeError("truncated or non-WAVE RIFF")
    pos, rate, channels, bits, data_size = 12, None, None, None, None
    while pos + 8 <= len(blob):
        cid, size = blob[pos : pos + 4], struct.unpack_from("<I", blob, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(blob):
            _fmt, channels, rate = struct.unpack_from("<HHI", blob, pos + 8)
            bits = struct.unpack_from("<H", blob, pos + 22)[0]
        elif cid == b"data":
            data_size = min(size, len(blob) - pos - 8)
        pos += 8 + size + (size & 1)
    if rate is None or data_size is None:
        raise MediaDecodeError("WAV missing fmt/data chunk")
    bytes_per_sample = max(1, (bits or 8) // 8) * max(1, channels or 1)
    return {
        "kind": "audio",
        "width": int(rate),
        "height": int(channels or 1),
        "n_frames": int(data_size // bytes_per_sample),
        "payload_bytes": int(data_size),
    }


def _decode_one(blob: bytes) -> dict:
    """Dispatch on magic bytes to the header kernels; a codec none of them
    reads raises NotImplementedError."""
    if blob is None or len(blob) < 12:
        raise MediaDecodeError("truncated media blob")
    if blob[:2] == b"BM":
        return _decode_bmp(blob)
    if blob[:8] == _PNG_SIG:
        return _decode_png(blob)
    if blob[:4] == b"RIFF":
        if blob[8:12] == b"WEBP":
            raise NotImplementedError("WebP needs an imaging library")
        return _decode_wav(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(blob)
    if blob[:2] == b"\xff\xd8":
        return _decode_jpeg(blob)
    if blob[4:8] == b"ftyp":
        return _decode_mp4(blob)
    if blob[:4] == b"OggS":
        return _decode_ogg(blob)
    if blob[:4] == b"FAKE":
        if len(blob) < 17:
            raise MediaDecodeError("truncated media blob")
        t, w, h, frames = struct.unpack("<BIII", blob[4:17])
        return {
            "kind": _TYPES[t] if t < 3 else "unknown",
            "width": w,
            "height": h,
            "n_frames": frames,
            "payload_bytes": len(blob) - 17,
        }
    raise NotImplementedError("this codec needs an imaging library")


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> uncompressed 24-bit BMP bytes."""
    h, w = rgb.shape[:2]
    step = 3
    row_size = (w * step + 3) & ~3
    body = np.zeros((h, row_size), dtype=np.uint8)
    body[:, : w * step] = rgb[::-1, :, ::-1].reshape(h, w * step)  # RGB->BGR, bottom-up
    data = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiihHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """Feature-extraction pass: one mapInPandas, per-row errors become rows
    (never task failures) — the lineage-friendly pattern of the KG stages."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, mtype, blob in zip(pdf["media_id"], pdf["media_type"], pdf["media"]):
                if isinstance(blob, memoryview):
                    blob = bytes(blob)
                try:
                    d = _decode_one(blob)
                    out.append(
                        {
                            "media_id": int(mid),
                            "media_type": mtype,
                            "width": d["width"],
                            "height": d["height"],
                            "n_frames": d["n_frames"],
                            "payload_bytes": d["payload_bytes"],
                            "decode_error": None,
                        }
                    )
                except (MediaDecodeError, NotImplementedError) as e:
                    out.append(
                        {
                            "media_id": int(mid),
                            "media_type": mtype,
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "payload_bytes": None,
                            "decode_error": type(e).__name__,
                        }
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, DECODED_SCHEMA)


def synth_bmp(i: int, w: int = 24, h: int = 16) -> bytes:
    """Deterministic test BMP: a gradient + id-seeded stripe pattern."""
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            ((x * 255) // max(1, w - 1)).astype(np.uint8),
            ((y * 255) // max(1, h - 1)).astype(np.uint8),
            (((x + y + i) % 7) * 36).astype(np.uint8),
        ],
        axis=2,
    )
    return encode_bmp(rgb)


def synth_png(i: int, w: int = 24, h: int = 16) -> bytes:
    """Deterministic test PNG: same gradient + id-seeded stripes as
    synth_bmp, through the native encoder."""
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            ((x * 255) // max(1, w - 1)).astype(np.uint8),
            ((y * 255) // max(1, h - 1)).astype(np.uint8),
            (((x + y + i) % 7) * 36).astype(np.uint8),
        ],
        axis=2,
    )
    return encode_png(rgb)


def synth_wav(i: int, rate: int = 8000, n_samples: int = 400) -> bytes:
    """Deterministic test WAV: 16-bit mono PCM square-ish wave."""
    t = np.arange(n_samples)
    wave = (np.sign(np.sin(t * (0.05 + 0.01 * (i % 5)))) * 12000).astype("<i2")
    data = wave.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


# --- native GIF codec (87a/89a subset: frame walk + LZW encoder) -----------


def _skip_gif_subblocks(blob: bytes, pos: int) -> int:
    """Walk a GIF sub-block chain starting at ``pos`` without copying it;
    returns the position after its terminator. Raises on truncation."""
    n = len(blob)
    while True:
        if pos >= n:
            raise MediaDecodeError("truncated GIF sub-block chain")
        size = blob[pos]
        pos += 1
        if size == 0:
            return pos
        if pos + size > n:
            raise MediaDecodeError("truncated GIF sub-block")
        pos += size


_GIF_MAX_PIXELS = 64_000_000  # decompression-bomb guard (frames x w x h)
_GIF_MAX_FRAMES = 10_000


def _parse_gif(blob: bytes) -> dict:
    """Structural parse: screen size and each frame's (w, h); color tables
    and LZW data are bounds-checked and skipped."""
    if blob[:6] not in (b"GIF87a", b"GIF89a") or len(blob) < 13:
        raise MediaDecodeError("not a GIF")
    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", blob[6:13])
    pos = 13
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        if pos + size > len(blob):
            raise MediaDecodeError("truncated GIF color table")
        pos += size
    frames = []
    total_px = 0
    n = len(blob)
    while pos < n:
        marker = blob[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label + sub-block chain, skipped
            if pos >= n:
                raise MediaDecodeError("truncated GIF extension")
            pos = _skip_gif_subblocks(blob, pos + 1)
            continue
        if marker != 0x2C:
            raise MediaDecodeError(f"unexpected GIF block 0x{marker:02x}")
        if pos + 9 > n:
            raise MediaDecodeError("truncated GIF image descriptor")
        _left, _top, fw, fh, fpacked = struct.unpack("<HHHHB", blob[pos : pos + 9])
        pos += 9
        if fw == 0 or fh == 0:
            raise MediaDecodeError("empty GIF frame")
        total_px += fw * fh
        if total_px > _GIF_MAX_PIXELS or len(frames) >= _GIF_MAX_FRAMES:
            raise MediaDecodeError("GIF exceeds safety bounds")
        if fpacked & 0x80:
            size = 3 * (2 << (fpacked & 0x07))
            if pos + size > n:
                raise MediaDecodeError("truncated GIF local color table")
            pos += size
        if pos >= n:
            raise MediaDecodeError("truncated GIF image data")
        min_code = blob[pos]
        pos += 1
        if not (2 <= min_code <= 11):
            raise MediaDecodeError("invalid GIF LZW code size")
        pos = _skip_gif_subblocks(blob, pos)
        frames.append({"w": fw, "h": fh})
    if not frames:
        raise MediaDecodeError("GIF contains no frames")
    return {"width": w, "height": h, "frames": frames}


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """Fixed-width LZW: every pixel is emitted as a literal code, with a
    Clear re-emitted before the decoder's table would force a width bump —
    valid output for ANY decoder, vectorized bit-packing via numpy."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    # decoder table grows by 1 per code after the first following a Clear;
    # re-clear when it would reach (1 << width) - 1
    run = (1 << width) - clear - 2
    chunks = [indices[i : i + run] for i in range(0, len(indices), run)]
    codes: list[np.ndarray] = []
    for c in chunks:
        codes.append(np.array([clear], dtype=np.uint32))
        codes.append(c.astype(np.uint32))
    codes.append(np.array([eoi], dtype=np.uint32))
    allc = np.concatenate(codes)
    # LSB-first bit pack: (n, width) bit matrix -> flat -> bytes
    bitmat = (allc[:, None] >> np.arange(width, dtype=np.uint32)[None, :]) & 1
    flat = bitmat.astype(np.uint8).ravel()
    return np.packbits(flat, bitorder="little").tobytes()


def encode_gif_indexed(
    frames_idx: list[np.ndarray], palette: np.ndarray
) -> bytes:
    """Animated GIF89a from palette-index frames (uint8, shared dims);
    deterministic output (fixed 256-entry table, 4cs frame delay)."""
    if not frames_idx:
        raise MediaDecodeError("GIF needs at least one frame")
    if len(palette) > 256:
        raise MediaDecodeError("GIF palette too large")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    h, w = frames_idx[0].shape[:2]
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x70 | 0x07, 0, 0)
    out += pal.tobytes()
    for idx in frames_idx:
        if idx.shape[:2] != (h, w):
            raise MediaDecodeError("GIF frames must share dimensions")
        if int(idx.max(initial=0)) >= len(palette):
            raise MediaDecodeError("GIF index outside palette")
        out += b"\x21\xf9\x04\x00\x04\x00\x00\x00"  # GCE: 4cs delay
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(8)  # min LZW code size (256-entry table)
        data = _lzw_encode(idx.ravel(), 8)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def _decode_gif(blob: bytes) -> dict:
    g = _parse_gif(blob)
    nf = len(g["frames"])
    return {
        "kind": "video" if nf > 1 else "image",
        "width": g["width"],
        "height": g["height"],
        "n_frames": nf,
        # decoded RGB bytes across frames — computable from descriptors
        "payload_bytes": sum(f["w"] * f["h"] * 3 for f in g["frames"]),
    }


_GIF_PALETTE = None


def _synth_gif_palette() -> np.ndarray:
    global _GIF_PALETTE
    if _GIF_PALETTE is None:
        # deterministic 216-color web-safe-style cube
        levels = np.array([0, 51, 102, 153, 204, 255], dtype=np.uint8)
        _GIF_PALETTE = np.array(
            [(r, g, b) for r in levels for g in levels for b in levels],
            dtype=np.uint8,
        )
    return _GIF_PALETTE


def synth_gif(i: int, w: int, h: int, n_frames: int) -> bytes:
    """Deterministic animated GIF: per-frame shifting palette-index pattern
    (every color drawn from the fixed 216-color cube)."""
    pal = _synth_gif_palette()
    y, x = np.mgrid[0:h, 0:w]
    frames = [
        ((x + y * 3 + i + f * 7) % 216).astype(np.uint8) for f in range(n_frames)
    ]
    return encode_gif_indexed(frames, pal)


# --- native baseline JPEG codec ----------------------------------------------
# Baseline sequential DCT, 8-bit, Huffman (the overwhelming majority of web
# JPEGs). Progressive (SOF2), arithmetic coding, and 12-bit precision raise
# NotImplementedError. Decode reads only the headers; the encoder below
# writes synth_jpeg's test images.

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

_SOF_BASELINE = {0xC0, 0xC1}          # baseline + extended sequential
_SOF_UNSUPPORTED = {0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _dct_basis() -> np.ndarray:
    k = np.arange(8)
    c = np.where(k == 0, 1.0 / np.sqrt(2.0), 1.0)
    return (0.5 * c[:, None] * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16))


_DCT_A = _dct_basis()  # A @ x = DCT; A.T @ X @ A ... (see use sites)


def _jpeg_frame(blob: bytes) -> tuple[int, int]:
    """Marker walk up to (and including) SOS, checking that each segment's
    tables fit it; returns the SOF frame's (width, height)."""
    if blob[:2] != b"\xff\xd8":
        raise MediaDecodeError("not a JPEG")
    pos = 2
    n = len(blob)
    frame = None
    while pos + 4 <= n:
        if blob[pos] != 0xFF:
            raise MediaDecodeError("JPEG marker desync")
        # optional 0xFF fill bytes before the marker code (T.81 B.1.1.2)
        while pos < n and blob[pos] == 0xFF:
            pos += 1
        if pos >= n:
            raise MediaDecodeError("truncated JPEG marker")
        marker = blob[pos]
        pos += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        seg_len = struct.unpack_from(">H", blob, pos)[0]
        if seg_len < 2 or pos + seg_len > n:
            raise MediaDecodeError("truncated JPEG segment")
        body = blob[pos + 2 : pos + seg_len]
        # any short/garbled body below surfaces as a decode ERROR row, never
        # a struct.error/IndexError task failure

        if marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                "only baseline sequential Huffman JPEG is supported natively"
            )
        if marker in _SOF_BASELINE:
            precision, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            if len(body) < 6 + 3 * nc:
                raise MediaDecodeError("truncated JPEG component list")
            frame = (w, h)
        elif marker == 0xDB:  # DQT: one precision/id byte + 64 entries each
            for p in range(0, len(body), 65):
                if body[p] >> 4:
                    raise NotImplementedError("16-bit quant tables unsupported")
        elif marker == 0xC4:  # DHT: class/id byte, 16 code counts, symbols
            p = 0
            while p < len(body):
                p += 17 + sum(body[p + 1 : p + 17])
            if p > len(body):
                raise MediaDecodeError("truncated JPEG huffman table")
        elif marker == 0xDD and len(body) < 2:  # DRI
            raise MediaDecodeError("truncated JPEG restart interval")
        elif marker == 0xDA:  # SOS: component count + 2 bytes per component
            if not body or len(body) < 1 + 2 * body[0]:
                raise MediaDecodeError("truncated JPEG scan header")
            if frame is None:
                break
            return frame
        pos += seg_len
    raise MediaDecodeError("JPEG missing SOF/SOS")


def _decode_jpeg(blob: bytes) -> dict:
    try:
        w, h = _jpeg_frame(blob)
    except (struct.error, IndexError) as e:
        raise MediaDecodeError(f"malformed JPEG segment: {type(e).__name__}")
    return {
        "kind": "image",
        "width": w,
        "height": h,
        "n_frames": 1,
        "payload_bytes": w * h * 3,  # decoded RGB bytes
    }


# standard JPEG Annex K luminance/chrominance quant tables (quality ~50 base)
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# standard Annex K Huffman specs: (BITS counts list, HUFFVAL symbols)
_H_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_H_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_H_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
     0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
     0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
     0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_H_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
     0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
     0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
     0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
     0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _enc_table(spec) -> dict[int, tuple[int, int]]:
    """(counts, symbols) -> {symbol: (code, length)}: canonical Huffman
    assignment, codes counting up within a length and doubling per length."""
    counts, syms = spec
    table = {}
    code = k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[syms[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _dht_segment(tc: int, th: int, spec) -> bytes:
    counts, syms = spec
    body = bytes([tc << 4 | th]) + bytes(counts) + bytes(syms)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(rgb: np.ndarray) -> bytes:
    """Baseline 4:4:4 JPEG with the standard Annex K tables. Lossy (quant
    error); writes synth_jpeg's test images."""
    h, w = rgb.shape[:2]
    r = rgb[..., 0].astype(np.float32)
    g = rgb[..., 1].astype(np.float32)
    b = rgb[..., 2].astype(np.float32)
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [y, cb, cr]
    qts = [_Q_LUM, _Q_CHR, _Q_CHR]
    dc_specs = [_H_DC_LUM, _H_DC_CHR, _H_DC_CHR]
    ac_specs = [_H_AC_LUM, _H_AC_CHR, _H_AC_CHR]
    dc_enc = [_enc_table(s) for s in dc_specs]
    ac_enc = [_enc_table(s) for s in ac_specs]
    bw = _BitWriter()
    dc_pred = [0, 0, 0]
    bh = -(-h // 8)
    bwid = -(-w // 8)
    # edge-replicate pad to block multiples
    padded = []
    for p in planes:
        pp = np.pad(p, ((0, bh * 8 - h), (0, bwid * 8 - w)), mode="edge")
        padded.append(pp)
    # precompute all quantized blocks per plane (vectorized FDCT)
    qblocks = []
    for ci, pp in enumerate(padded):
        blocks = pp.reshape(bh, 8, bwid, 8).transpose(0, 2, 1, 3)
        dct = np.einsum("ij,xyjk,lk->xyil", _DCT_A, blocks, _DCT_A)
        # _Q_LUM/_Q_CHR are the Annex K matrices in NATURAL (row-major)
        # order; zigzag applies only at the DQT serialization boundary
        qn = qts[ci].astype(np.float32).reshape(8, 8)
        qb = np.round(dct / qn).astype(np.int32)
        qblocks.append(qb)
    for by in range(bh):
        for bx in range(bwid):
            for ci in range(3):
                blk = qblocks[ci][by, bx]
                zz = blk.reshape(-1)[_ZIGZAG]
                diff = int(zz[0]) - dc_pred[ci]
                dc_pred[ci] = int(zz[0])
                t = int(diff).bit_length() if diff != 0 else 0
                code, ln = dc_enc[ci][t]
                bw.write(code, ln)
                if t:
                    v = diff if diff > 0 else diff + (1 << t) - 1
                    bw.write(v, t)
                run = 0
                last_nz = 0
                nz = np.nonzero(zz[1:])[0]
                last_nz = (nz[-1] + 1) if len(nz) else 0
                k = 1
                while k <= last_nz:
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        k += 1
                        continue
                    while run > 15:
                        code, ln = ac_enc[ci][0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s = abs(v).bit_length()
                    code, ln = ac_enc[ci][(run << 4) | s]
                    bw.write(code, ln)
                    ev = v if v > 0 else v + (1 << s) - 1
                    bw.write(ev, s)
                    run = 0
                    k += 1
                if last_nz < 63:
                    code, ln = ac_enc[ci][0x00]  # EOB
                    bw.write(code, ln)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    for tq, qt in ((0, _Q_LUM), (1, _Q_CHR)):
        # DQT payload is zigzag-ordered per T.81: element k = natural[ZZ[k]]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(qt[z]) for z in _ZIGZAG
        )
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _H_DC_LUM) + _dht_segment(1, 0, _H_AC_LUM)
    out += _dht_segment(0, 1, _H_DC_CHR) + _dht_segment(1, 1, _H_AC_CHR)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def synth_jpeg(i: int, w: int, h: int) -> bytes:
    """Deterministic test JPEG: smooth id-seeded gradients (JPEG-friendly
    content; the decoded payload is header-derived, so lossiness does not
    affect the contract formulas)."""
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            ((x * 255) // max(1, w - 1)).astype(np.uint8),
            ((y * 255) // max(1, h - 1)).astype(np.uint8),
            (((x + y + i) % 64) * 4).astype(np.uint8),
        ],
        axis=2,
    )
    return encode_jpeg(rgb)


# --- ISO-BMFF (MP4) header walk ----------------------------------------------
# Full video decode stays out of scope (no libav in this container), but the
# CONTAINER is plain struct data: a from-scratch box walker extracts the
# metadata multimodal curation needs — duration, per-track codec/resolution,
# sample counts, and keyframe byte offsets (sync-sample table joined through
# the sample-to-chunk map). Hostile-header-guarded like every codec here.


def _box_iter(blob: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for the boxes in
    [start, end); guards against zero/overflowing sizes (no infinite walks
    on hostile headers)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(blob[pos:pos + 4], "big")
        fourcc = blob[pos + 4:pos + 8]
        header = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise MediaDecodeError("MP4 truncated largesize box")
            size = int.from_bytes(blob[pos + 8:pos + 16], "big")
            header = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < header or pos + size > end:
            raise MediaDecodeError(f"MP4 bad box size for {fourcc!r}")
        yield fourcc, pos + header, pos + size
        pos += size


def _find_box(blob: bytes, start: int, end: int, path: list[bytes]):
    """First box matching the fourcc path, as (payload_start, payload_end)."""
    for fourcc, a, b in _box_iter(blob, start, end):
        if fourcc == path[0]:
            if len(path) == 1:
                return a, b
            return _find_box(blob, a, b, path[1:])
    return None


def _fullbox(blob: bytes, a: int):
    """(version, payload_start_after_version_flags) of a full box. Guarded:
    an empty/truncated full box (payload ends at the blob boundary) must
    surface as MediaDecodeError, never IndexError — decode_media only maps
    MediaDecodeError/NotImplementedError to error rows."""
    if a + 4 > len(blob):
        raise MediaDecodeError("MP4 truncated full box header")
    return blob[a], a + 4


def _parse_track(blob: bytes, a: int, b: int) -> dict | None:
    tk = _find_box(blob, a, b, [b"tkhd"])
    hd = _find_box(blob, a, b, [b"mdia", b"hdlr"])
    if tk is None or hd is None:
        return None
    ver, p = _fullbox(blob, tk[0])
    # tkhd: ver0 has 4-byte times, ver1 8-byte; width/height are the LAST
    # two 16.16 fixed-point fields of the box
    if tk[1] - tk[0] < 12:
        raise MediaDecodeError("MP4 tkhd too short")
    width = int.from_bytes(blob[tk[1] - 8:tk[1] - 4], "big") >> 16
    height = int.from_bytes(blob[tk[1] - 4:tk[1]], "big") >> 16
    # hdlr: version/flags(4) + pre_defined(4) + handler_type(4)
    handler = blob[hd[0] + 8:hd[0] + 12].decode("latin1")
    stbl = _find_box(blob, a, b, [b"mdia", b"minf", b"stbl"])
    codec = None
    n_samples = 0
    keyframes: list[int] = []
    if stbl is not None:
        sa, sb = stbl
        sd = _find_box(blob, sa, sb, [b"stsd"])
        if sd is not None and sd[1] - sd[0] >= 16:
            codec = blob[sd[0] + 12:sd[0] + 16].decode("latin1")
        sz = _find_box(blob, sa, sb, [b"stsz"])
        const_size = 0
        sizes: list[int] = []
        if sz is not None:
            _, p = _fullbox(blob, sz[0])
            if p + 8 > sz[1]:
                raise MediaDecodeError("MP4 truncated stsz header")
            const_size = int.from_bytes(blob[p:p + 4], "big")
            n_samples = int.from_bytes(blob[p + 4:p + 8], "big")
            if const_size == 0:
                need = p + 8 + 4 * n_samples
                if need > sz[1]:
                    raise MediaDecodeError("MP4 truncated stsz table")
                sizes = [
                    int.from_bytes(blob[p + 8 + 4 * j:p + 12 + 4 * j], "big")
                    for j in range(n_samples)
                ]
        ss = _find_box(blob, sa, sb, [b"stss"])
        sync: list[int] = []
        if ss is not None:
            _, p = _fullbox(blob, ss[0])
            if p + 4 > ss[1]:
                raise MediaDecodeError("MP4 truncated stss header")
            cnt = int.from_bytes(blob[p:p + 4], "big")
            if p + 4 + 4 * cnt > ss[1]:
                raise MediaDecodeError("MP4 truncated stss table")
            sync = [
                int.from_bytes(blob[p + 4 + 4 * j:p + 8 + 4 * j], "big")
                for j in range(cnt)
            ]
        co = _find_box(blob, sa, sb, [b"stco"])
        sc = _find_box(blob, sa, sb, [b"stsc"])
        if sync and co is not None and sc is not None:
            _, p = _fullbox(blob, co[0])
            if p + 4 > co[1]:
                raise MediaDecodeError("MP4 truncated stco header")
            n_chunks = int.from_bytes(blob[p:p + 4], "big")
            if p + 4 + 4 * n_chunks > co[1]:
                raise MediaDecodeError("MP4 truncated stco table")
            chunk_offs = [
                int.from_bytes(blob[p + 4 + 4 * j:p + 8 + 4 * j], "big")
                for j in range(n_chunks)
            ]
            _, p = _fullbox(blob, sc[0])
            if p + 4 > sc[1]:
                raise MediaDecodeError("MP4 truncated stsc header")
            n_ent = int.from_bytes(blob[p:p + 4], "big")
            ents = []
            for j in range(n_ent):
                q = p + 4 + 12 * j
                if q + 12 > sc[1]:
                    raise MediaDecodeError("MP4 truncated stsc table")
                ents.append((
                    int.from_bytes(blob[q:q + 4], "big"),        # first_chunk
                    int.from_bytes(blob[q + 4:q + 8], "big"),    # samples/chunk
                ))
            # sync sample -> (chunk, index-in-chunk) -> byte offset. The walk
            # visits each chunk of the stco table once, in order, and finds
            # a chunk's sync samples by bisection: a hostile samples-per-chunk
            # or first-chunk number never drives the loop.
            sync_sorted = sorted(set(sync))
            prefix = [0]  # prefix[j] = bytes of samples 1..j (stsz table)
            for s in sizes:
                prefix.append(prefix[-1] + s)
            n_sized = len(sizes)
            sample_pos: dict[int, int] = {}
            sample_no = 1
            next_chunk = 1
            for e_i, (first, per) in enumerate(ents):
                last = (
                    ents[e_i + 1][0] - 1 if e_i + 1 < len(ents) else n_chunks
                )
                for chunk in range(max(first, next_chunk), min(last, n_chunks) + 1):
                    off = chunk_offs[chunk - 1]
                    base = prefix[min(sample_no - 1, n_sized)]
                    lo = bisect.bisect_left(sync_sorted, sample_no)
                    hi = bisect.bisect_left(sync_sorted, sample_no + per)
                    for s in sync_sorted[lo:hi]:
                        sample_pos[s] = off + (
                            (s - sample_no) * const_size if const_size else
                            prefix[min(s - 1, n_sized)] - base
                        )
                    sample_no += per
                    next_chunk = chunk + 1
            keyframes = [sample_pos[s] for s in sync if s in sample_pos]
    return {
        "handler": handler,
        "codec": codec,
        "width": width,
        "height": height,
        "n_samples": n_samples,
        "keyframe_offsets": keyframes,
    }


def mp4_metadata(blob: bytes) -> dict:
    """Parse an ISO-BMFF (MP4/MOV) container's metadata: brand, duration,
    per-track handler/codec/resolution/sample-count, keyframe byte offsets,
    and the mdat payload size. Pure stdlib box walk — no codec decode."""
    if len(blob) < 16 or blob[4:8] != b"ftyp":
        raise MediaDecodeError("not an ISO-BMFF file")
    end = len(blob)
    brand = blob[8:12].decode("latin1")
    mdat_bytes = 0
    for fourcc, a, b in _box_iter(blob, 0, end):
        if fourcc == b"mdat":
            mdat_bytes += b - a
    mv = _find_box(blob, 0, end, [b"moov", b"mvhd"])
    if mv is None:
        raise MediaDecodeError("MP4 missing moov/mvhd")
    ver, p = _fullbox(blob, mv[0])
    if (mv[1] - p) < (28 if ver == 1 else 16):
        raise MediaDecodeError("MP4 truncated mvhd")
    if ver == 1:
        timescale = int.from_bytes(blob[p + 16:p + 20], "big")
        duration = int.from_bytes(blob[p + 20:p + 28], "big")
    else:
        timescale = int.from_bytes(blob[p + 8:p + 12], "big")
        duration = int.from_bytes(blob[p + 12:p + 16], "big")
    moov = _find_box(blob, 0, end, [b"moov"])
    tracks = []
    for fourcc, a, b in _box_iter(blob, moov[0], moov[1]):
        if fourcc == b"trak":
            t = _parse_track(blob, a, b)
            if t is not None:
                tracks.append(t)
    return {
        "brand": brand,
        "duration_s": duration / timescale if timescale else 0.0,
        "tracks": tracks,
        "mdat_bytes": mdat_bytes,
    }


def _decode_mp4(blob: bytes) -> dict:
    m = mp4_metadata(blob)
    vid = next((t for t in m["tracks"] if t["handler"] == "vide"), None)
    if vid is None:
        raise MediaDecodeError("MP4 has no video track")
    return {
        "kind": "video",
        "width": vid["width"],
        "height": vid["height"],
        "n_frames": vid["n_samples"],
        "payload_bytes": m["mdat_bytes"],
    }


def _u32(v: int) -> bytes:
    return v.to_bytes(4, "big")


def _mp4_box(fourcc: bytes, payload: bytes) -> bytes:
    return _u32(8 + len(payload)) + fourcc + payload


def synth_mp4(i: int, w: int, h: int, n_frames: int) -> bytes:
    """Deterministic minimal-but-valid MP4: ftyp + mdat (one chunk of
    ``n_frames`` w*h-byte samples, deterministic pattern) + moov with one
    video track (mp4v sample entry, constant sample size, sync sample every
    8th frame). 25 fps timeline; byte-stable for a fixed (i, w, h, frames)."""
    sample_size = w * h
    payload = bytes(
        ((np.arange(sample_size * n_frames, dtype=np.int64) + i) % 251)
        .astype(np.uint8)
    )
    ftyp = _mp4_box(b"ftyp", b"isom" + _u32(512) + b"isomiso2mp41")
    mdat_off = len(ftyp) + 8  # payload starts after the mdat header
    mdat = _mp4_box(b"mdat", payload)
    timescale, fps = 1000, 25
    duration = n_frames * timescale // fps
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00" + _u32(0) * 2 + _u32(timescale) + _u32(duration)
        + _u32(0x00010000) + b"\x01\x00" + b"\x00" * 10
        + _u32(0x00010000) + _u32(0) * 2 + _u32(0) + _u32(0x00010000) + _u32(0)
        + _u32(0) * 2 + _u32(0x40000000) + _u32(0) * 6 + _u32(2),
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x03" + _u32(0) * 2 + _u32(1) + _u32(0) + _u32(duration)
        + _u32(0) * 2 + b"\x00" * 8
        + _u32(0x00010000) + _u32(0) * 2 + _u32(0) + _u32(0x00010000) + _u32(0)
        + _u32(0) * 2 + _u32(0x40000000)
        + _u32(w << 16) + _u32(h << 16),
    )
    mdhd = _mp4_box(
        b"mdhd",
        b"\x00\x00\x00\x00" + _u32(0) * 2 + _u32(fps) + _u32(n_frames)
        + b"\x55\xc4\x00\x00",
    )
    hdlr = _mp4_box(
        b"hdlr",
        b"\x00\x00\x00\x00" + _u32(0) + b"vide" + _u32(0) * 3 + b"Video\x00",
    )
    entry = (
        _u32(86) + b"mp4v" + b"\x00" * 6 + b"\x00\x01"
        + b"\x00" * 16
        + w.to_bytes(2, "big") + h.to_bytes(2, "big")
        + _u32(0x00480000) + _u32(0x00480000) + _u32(0) + b"\x00\x01"
        + b"\x00" * 32 + b"\x00\x18" + b"\xff\xff"
    )
    stsd = _mp4_box(b"stsd", b"\x00\x00\x00\x00" + _u32(1) + entry)
    stts = _mp4_box(b"stts", b"\x00\x00\x00\x00" + _u32(1) + _u32(n_frames) + _u32(1))
    sync = list(range(1, n_frames + 1, 8))
    stss = _mp4_box(
        b"stss", b"\x00\x00\x00\x00" + _u32(len(sync)) + b"".join(_u32(s) for s in sync)
    )
    stsc = _mp4_box(
        b"stsc", b"\x00\x00\x00\x00" + _u32(1) + _u32(1) + _u32(n_frames) + _u32(1)
    )
    stsz = _mp4_box(b"stsz", b"\x00\x00\x00\x00" + _u32(sample_size) + _u32(n_frames))
    stco = _mp4_box(b"stco", b"\x00\x00\x00\x00" + _u32(1) + _u32(mdat_off))
    stbl = _mp4_box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
    vmhd = _mp4_box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
    dref = _mp4_box(
        b"dref", b"\x00\x00\x00\x00" + _u32(1) + _mp4_box(b"url ", b"\x00\x00\x00\x01")
    )
    dinf = _mp4_box(b"dinf", dref)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# --- Ogg container (Vorbis/Opus identification headers) ----------------------
# Same posture as the MP4 walk: no audio decode (no libvorbis here), but the
# CONTAINER framing is plain struct data — page walk, codec identification
# from the first packet, duration from the final granule position.


def ogg_metadata(blob: bytes) -> dict:
    """Walk Ogg pages: codec (vorbis/opus from the BOS packet), channels,
    sample rate, final granule position (total samples for audio streams),
    and summed audio payload bytes. Hostile-header-guarded."""
    if blob[:4] != b"OggS":
        raise MediaDecodeError("not an Ogg stream")
    pos = 0
    codec = None
    channels = rate = None
    last_granule = 0
    payload_bytes = 0
    first = True
    header_done = False
    while pos + 27 <= len(blob):
        if blob[pos:pos + 4] != b"OggS":
            raise MediaDecodeError("Ogg page desync")
        if blob[pos + 4] != 0:
            raise MediaDecodeError("unsupported Ogg version")
        granule = int.from_bytes(blob[pos + 6:pos + 14], "little")
        n_seg = blob[pos + 26]
        seg_table = blob[pos + 27:pos + 27 + n_seg]
        if len(seg_table) < n_seg:
            raise MediaDecodeError("Ogg truncated segment table")
        body_len = sum(seg_table)
        body_start = pos + 27 + n_seg
        if body_start + body_len > len(blob):
            raise MediaDecodeError("Ogg truncated page body")
        body = blob[body_start:body_start + body_len]
        if first:
            # BOS packet: Vorbis id header or OpusHead
            if body[:7] == b"\x01vorbis" and len(body) >= 30:
                codec = "vorbis"
                channels = body[11]
                rate = int.from_bytes(body[12:16], "little")
            elif body[:8] == b"OpusHead" and len(body) >= 19:
                codec = "opus"
                channels = body[9]
                rate = int.from_bytes(body[12:16], "little")
            else:
                raise MediaDecodeError("Ogg BOS packet is not Vorbis/Opus")
            first = False
        elif not header_done and granule == 0:
            # comment/setup header pages carry granule 0 before any audio
            # finishes — real Vorbis always has them; they are NOT payload
            pass
        else:
            header_done = True
            payload_bytes += body_len
        if granule not in (0xFFFFFFFFFFFFFFFF,):
            last_granule = max(last_granule, granule)
        pos = body_start + body_len
    if pos != len(blob):
        raise MediaDecodeError("Ogg trailing garbage")
    if codec is None:
        raise MediaDecodeError("Ogg stream with no pages")
    return {
        "codec": codec,
        "channels": int(channels),
        "sample_rate": int(rate),
        "n_samples": int(last_granule),
        "duration_s": last_granule / rate if rate else 0.0,
        "payload_bytes": int(payload_bytes),
    }


def _decode_ogg(blob: bytes) -> dict:
    m = ogg_metadata(blob)
    return {
        "kind": "audio",
        "width": m["sample_rate"],
        "height": m["channels"],
        "n_frames": m["n_samples"],
        "payload_bytes": m["payload_bytes"],
    }


def _ogg_page(serial: int, seq: int, granule: int, body: bytes,
              header_type: int = 0) -> bytes:
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    head = (
        b"OggS" + b"\x00" + bytes([header_type])
        + granule.to_bytes(8, "little") + serial.to_bytes(4, "little")
        + seq.to_bytes(4, "little") + b"\x00" * 4
        + bytes([len(segs)]) + bytes(segs)
    )
    return head + body


def synth_ogg(i: int, rate: int = 8000, n_samples: int = 400) -> bytes:
    """Deterministic Ogg/Vorbis-framed stream: BOS page with a real Vorbis
    identification header (mono, ``rate``), one audio page whose payload is
    2*n_samples deterministic bytes (16-bit-sample-sized, mirroring WAV),
    EOS granule = n_samples. The audio payload is container-framed fill, not
    encoded Vorbis packets — header/duration metadata is what decodes."""
    id_header = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([1])
        + rate.to_bytes(4, "little") + b"\x00" * 12 + b"\xb8" + b"\x01"
    )
    payload = bytes(
        ((np.arange(2 * n_samples, dtype=np.int64) + i) % 253).astype(np.uint8)
    )
    return (
        _ogg_page(i & 0x7FFFFFFF, 0, 0, id_header, header_type=2)
        + _ogg_page(i & 0x7FFFFFFF, 1, n_samples, payload, header_type=4)
    )
