"""WARC source: fixture roundtrip + e2e through the fused KG pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nabu_spark.datagen import page_for
from nabu_spark.snapshots import SnapshotTable
from nabu_spark.sources.warc import (
    _gunzip_members,
    iter_warc_records,
    read_warc,
    write_warc_fixture,
)


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    write_warc_fixture(str(d / "a.warc"), 40, start=0)
    write_warc_fixture(str(d / "b.warc.gz"), 40, gzip_members=True, start=40)
    return str(d)


class TestWarcParsing:
    def test_plain_roundtrip(self, warc_dir):
        raw = open(f"{warc_dir}/a.warc", "rb").read()
        recs = list(iter_warc_records(raw))
        assert len(recs) == 40
        h, block = recs[3]
        assert h["warc-type"] == "response"
        assert h["warc-target-uri"] == page_for(3)["url"]
        assert block.endswith(page_for(3)["html"])

    def test_gzip_members_roundtrip(self, warc_dir):
        raw = open(f"{warc_dir}/b.warc.gz", "rb").read()
        plain = _gunzip_members(raw)
        assert len(list(iter_warc_records(plain))) == 40

    def test_truncated_and_garbage_stop_cleanly(self, warc_dir):
        raw = open(f"{warc_dir}/a.warc", "rb").read()
        assert len(list(iter_warc_records(raw[: len(raw) // 2]))) < 40
        assert list(iter_warc_records(b"not a warc")) == []
        assert list(iter_warc_records(b"")) == []

    def test_non_response_and_non_2xx_skipped(self, spark, tmp_path):
        rec = (
            b"WARC/1.0\r\nWARC-Type: request\r\n"
            b"WARC-Target-URI: http://x/\r\nContent-Length: 4\r\n\r\nGET \r\n\r\n"
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://x/404\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 29\r\n\r\n"
            b"HTTP/1.1 404 NF\r\n\r\nnot found.\r\n\r\n"
        )
        p = tmp_path / "odd.warc"
        p.write_bytes(rec)
        assert read_warc(spark, str(tmp_path)).count() == 0


class TestWarcSource:
    def test_pages_table_shape_and_content(self, spark, warc_dir):
        pages = read_warc(spark, warc_dir)
        rows = {r["url"]: r for r in pages.collect()}
        assert len(rows) == 80
        for i in (0, 17, 63):
            exp = page_for(i)
            got = rows[exp["url"]]
            assert bytes(got["html"]) == exp["html"]
            assert got["warc_ts"].strftime("%Y%m%d%H%M") == exp[
                "warc_ts"
            ].strftime("%Y%m%d%H%M")
            assert got["warc_file"].endswith(
                "a.warc" if i < 40 else "b.warc.gz"
            )

    def test_e2e_through_kg_pipeline(self, spark, warc_dir):
        from nabu_spark.pipeline import pages_to_quads_fused

        pages = read_warc(spark, warc_dir).drop("warc_file")
        quads = pages_to_quads_fused(pages, salt=False)
        good = quads.filter(F.col("error_code").isNull())
        # identical pages parquet -> identical quads (same generator slice)
        from nabu_spark.datagen import generate_pages

        expected = pages_to_quads_fused(
            generate_pages(spark, 80), salt=False
        ).filter(F.col("error_code").isNull())
        assert good.count() == expected.count() > 0
        assert (
            good.select("subj", "pred", "obj", "prov")
            .exceptAll(expected.select("subj", "pred", "obj", "prov"))
            .count()
            == 0
        )


class TestWarcCli:
    def test_harvest_format_warc(self, spark, warc_dir, tmp_path):
        import subprocess
        import sys

        out = str(tmp_path / "run")
        res = subprocess.run(
            [sys.executable, "-m", "nabu_spark.cli", "--cores", "4",
             "harvest", "--pages", warc_dir, "--out", out,
             "--format", "warc", "--no-salt"],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
        )
        assert res.returncode in (0, 3), res.stderr[-2000:]
        docs = SnapshotTable(f"{out}/docs_tbl").read(spark)
        assert docs.count() == 80


class TestWarcRobustnessAndStats:
    def test_negative_content_length_terminates(self):
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://x/\r\nContent-Length: -54\r\n\r\n"
        ) * 3
        assert list(iter_warc_records(rec)) == []
