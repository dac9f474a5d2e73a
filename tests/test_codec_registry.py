"""Codec boundary of operators/multimodal.py: blobs no native header kernel
reads raise NotImplementedError, and decode_media turns that into a row."""

from __future__ import annotations

import pytest

from nabu_spark.operators import multimodal as mm

WEBP = b"RIFF" + b"\x10\x00\x00\x00" + b"WEBPVP8 " + b"\x00" * 16
TIFF_LE = b"II*\x00" + b"\x00" * 16
TIFF_BE = b"MM\x00*" + b"\x00" * 16


class TestFallbackWithoutPil:
    def test_unknown_codec_still_raises(self, spark):
        for blob in (WEBP, TIFF_LE, TIFF_BE):
            with pytest.raises(NotImplementedError):
                mm._decode_one(blob)
        media = spark.createDataFrame(
            [(i, "image", bytearray(b), ("u", "image/x")) for i, b in
             enumerate((WEBP, TIFF_LE, TIFF_BE, mm.synth_bmp(0)))],
            "media_id long, media_type string, media binary, "
            "meta struct<source_url string, mime string>",
        )
        got = {r["media_id"]: r for r in mm.decode_media(media).collect()}
        assert [got[i]["decode_error"] for i in range(4)] == [
            "NotImplementedError", "NotImplementedError",
            "NotImplementedError", None]
        assert got[0]["width"] is None and got[3]["width"] == 24
