"""CDX(J) index source: parse, latest-capture, fetch plan."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from nabu_spark.sources.cdx import fetch_plan, latest_captures, parse_cdx

CDX_SAMPLE = """\
org,example)/a 20240101120000 {"url": "https://example.org/a", "mime": "text/html", "status": "200", "digest": "AAAA", "length": 100, "offset": 0, "filename": "w/0.warc.gz"}
org,example)/a 20240301120000 {"url": "https://example.org/a", "mime": "text/html", "status": "200", "digest": "BBBB", "length": 120, "offset": 4000, "filename": "w/1.warc.gz"}
org,example)/b 20240102120000 {"url": "https://example.org/b", "mime": "text/html", "status": "200", "digest": "AAAA", "length": 100, "offset": 900, "filename": "w/0.warc.gz"}
org,other)/c 20240105120000 {"url": "https://other.org/c", "mime": "application/pdf", "status": "404", "digest": "CCCC", "length": 7, "offset": 100, "filename": "w/1.warc.gz"}
this line is not valid cdxj at all
"""


@pytest.fixture(scope="module")
def captures(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("cdx") / "index.cdxj.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(CDX_SAMPLE)
    return parse_cdx(spark.read.text(str(p)))


class TestParse:
    def test_fields(self, captures):
        rows = {r["surt"]: r for r in captures.collect()}
        a = rows["org,example)/a"]
        assert a["url"] == "https://example.org/a"
        assert a["filename"].startswith("w/")
        assert a["length"] in (100, 120) and a["ts"] is not None

    def test_malformed_line_yields_null_fields_not_failure(self, captures):
        bad = captures.filter(F.col("url").isNull())
        assert bad.count() == 1  # the junk line survives as a filterable row

    def test_gzip_transparent(self, captures):
        assert captures.count() == 5  # 4 valid + 1 junk


class TestOps:
    def _valid(self, captures):
        return captures.filter(F.col("url").isNotNull())

    def test_latest_capture_per_url(self, captures):
        latest = latest_captures(self._valid(captures))
        got = {r["url"]: r["digest"] for r in latest.collect()}
        assert got["https://example.org/a"] == "BBBB"  # March beats January
        assert len(got) == 3

    def test_exact_dedup_over_digests(self, captures):
        """Index-level content dedup is exact_dedup keyed on the digest:
        one fetch per digest, from the smallest URL."""
        import hashlib

        from nabu_spark.operators.dedup import exact_dedup

        got = {
            r["content_hash"]: (r["dup_count"], r["canonical_id"])
            for r in exact_dedup(self._valid(captures), "digest", "url").collect()
        }
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
        assert got == {
            md5("AAAA"): (2, "https://example.org/a"),
            md5("BBBB"): (1, "https://example.org/a"),
            md5("CCCC"): (1, "https://other.org/c"),
        }

    def test_fetch_plan_sorted_offsets(self, captures):
        plan = {
            r["filename"]: (r["n_records"], list(r["offsets"]))
            for r in fetch_plan(self._valid(captures)).collect()
        }
        assert plan["w/0.warc.gz"] == (2, [0, 900])
        assert plan["w/1.warc.gz"] == (2, [100, 4000])
