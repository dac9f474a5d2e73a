"""WARC source: Common-Crawl-style archives -> the ``pages`` table.

The reference crawls live (site.go:61-212); this engine reads pre-crawled
corpora (BASELINE input_hint), and the open web's pre-crawled corpus format
is WARC/1.0 — so this source turns `.warc` / `.warc.gz` archives into the
same ``pages(url, warc_ts, html, text, lang)`` table every downstream
operator consumes.

Scale shape: ``spark.read.format("binaryFile")`` gives one task per archive
file — exactly the Common-Crawl processing granularity (archives are ~1 GB
and individually gzip-membered, so they cannot be split finer without a
custom input format; a 100 TB crawl is ~100k files = ~100k tasks, ideal).
Record parsing is a ``mapInPandas`` pass emitting one row per WARC
``response`` record; malformed records are skipped, and the scan of an
archive stops at the first record it cannot frame.

Format notes (ISO 28500 subset):
  * records: ``WARC/1.0\\r\\n`` header block, blank line, ``Content-Length``
    bytes of block, ``\\r\\n\\r\\n`` separator;
  * ``WARC-Type: response`` blocks are HTTP responses — headers split from
    the payload at the first ``\\r\\n\\r\\n``;
  * ``.warc.gz``: one gzip MEMBER per record (zlib wbits=31 loop over
    ``unused_data``) — the layout Common-Crawl ships.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "warc_file string"
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the per-record CC layout)."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(data))
        out.append(d.flush())
        if not d.unused_data or d.unused_data == data:
            break
        data = d.unused_data
    return b"".join(out)


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, block_bytes) per record; stops at garbage, so a
    mid-archive desync hides every record after it."""
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record padding
        while pos < n and raw[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not raw.startswith(b"WARC/", pos):
            return  # desynchronized: stop rather than guess
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            return
        headers: dict[str, str] = {}
        for line in raw[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.decode("latin-1").strip().lower()] = (
                    v.decode("latin-1").strip()
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            return  # malicious/corrupt length would move pos BACKWARD
        block_start = hdr_end + 4
        if block_start + length > n:
            return  # truncated archive
        yield headers, raw[block_start : block_start + length]
        pos = block_start + length


def _maybe_gunzip(fpath: str, raw: bytes) -> bytes | None:
    """Decompress when the file is gzip'd; None on corrupt streams."""
    if fpath.endswith(".gz") or raw[:2] == b"\x1f\x8b":
        try:
            return _gunzip_members(raw)
        except zlib.error:
            return None
    return raw


def _page_of(headers: dict, block: bytes) -> tuple[str, bytes] | None:
    """(url, body) when the record is an emittable page, else None."""
    if headers.get("warc-type") != "response":
        return None
    url = headers.get("warc-target-uri")
    if not url:
        return None
    body = _response_payload(block)
    if body is None:
        return None
    return url, body


def _parse_warc_ts(v: str) -> datetime | None:
    try:
        return datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def _response_payload(block: bytes) -> bytes | None:
    """HTTP response block -> body bytes (None when not a 2xx response)."""
    sep = block.find(b"\r\n\r\n")
    if sep == -1:
        return None
    status_line = block[: block.find(b"\r\n")]
    parts = status_line.split()
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        return None
    if not parts[1].startswith(b"2"):
        return None  # non-2xx: the reference records an error row upstream
    return block[sep + 4 :]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """``pages`` rows (plus ``warc_file`` provenance) from WARC archives.

    ``path`` may glob (``/data/cc/*.warc.gz``). ``text``/``lang`` are empty —
    they are downstream-derived columns in this corpus layout."""
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.warc*"
    ).load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls, fnames = [], [], [], []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                raw = _maybe_gunzip(fpath, bytes(content))
                if raw is None:
                    continue  # corrupt archive -> zero rows for the file
                for headers, block in iter_warc_records(raw):
                    page = _page_of(headers, block)
                    if page is None:
                        continue
                    urls.append(page[0])
                    tss.append(_parse_warc_ts(headers.get("warc-date", "")))
                    htmls.append(page[1])
                    fnames.append(fpath)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "warc_ts": pd.Series(tss, dtype="object"),
                    "html": pd.Series(htmls, dtype="object"),
                    "text": pd.Series([""] * len(urls), dtype="object"),
                    "lang": pd.Series([""] * len(urls), dtype="object"),
                    "warc_file": pd.Series(fnames, dtype="object"),
                }
            )

    return files.mapInPandas(parse, WARC_PAGES_SCHEMA)


# --- deterministic fixture writer (datagen companion; no external data) ------


def write_warc_fixture(
    path: str, n_pages: int, *, gzip_members: bool = False, start: int = 0
) -> list[tuple[int, str]]:
    """Serialize ``datagen.page_for`` pages into a spec-shaped WARC file so
    the source can be tested end-to-end against known content. Returns the
    (byte_offset, url) of each record — the CDX-index view of the file."""
    import gzip as _gzip
    import io

    from ..datagen import page_for

    out = io.BytesIO()
    offsets: list[tuple[int, str]] = []
    for i in range(start, start + n_pages):
        p = page_for(i)
        offsets.append((out.tell(), p["url"]))
        body = p["html"]
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        ts = p["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + p["url"].encode() + b"\r\n"
            b"WARC-Date: " + ts.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        if gzip_members:
            out.write(_gzip.compress(rec, mtime=0))
        else:
            out.write(rec)
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return offsets

