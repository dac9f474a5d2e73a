"""Hostile-input robustness: a trillion-row corpus WILL contain garbage.
Row-level problems must become lineage rows, never task/job failures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nabu_spark.operators.extract import extract_docs, with_object_key
from nabu_spark.operators.triples import docs_to_quads
from nabu_spark.pipeline import pages_to_quads_fused

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

GOOD_DOC = b'{"@context":"https://schema.org/","@id":"https://x.org/3","name":"c"}'


@pytest.fixture(scope="module")
def hostile_pages(spark):
    rows = [
        ("not a url at all", None, GOOD_DOC, None, "en"),
        (None, None, GOOD_DOC, None, "en"),
        ("https://ok.example.org/x", None, GOOD_DOC, None, "en"),
        ("https://ok.example.org/null-body", None, None, None, "en"),
        ("https://ok.example.org/binary-garbage", None, b"\x00\xff\xfe\x01garbage" * 10, None, "en"),
        ("https://ok.example.org/bad-json", None, b'<html><head><script type="application/ld+json">{not json</script></head></html>', None, "en"),
        ("https://ok.example.org/deep", None, b'{"@context":"https://schema.org/","@id":"https://x/d","a":' + b'[' * 200 + b'1' + b']' * 200 + b'}', None, "en"),
        ("https://ok.example.org/remote-ctx", None, b'{"@context":"https://unknown.example/ctx.jsonld","@id":"https://x/r","name":"n"}', None, "en"),
    ]
    return spark.createDataFrame(rows, PAGES_DDL)


def test_fused_never_fails_on_garbage(spark, hostile_pages):
    out = pages_to_quads_fused(hostile_pages, salt=False).cache()
    rows = out.collect()  # must not raise
    errs = {r["error_code"] for r in rows if r["error_code"]}
    assert "invalid_url" in errs
    assert "empty_body" in errs
    good = [r for r in rows if r["error_code"] is None]
    assert any(r["subj"] == "<https://x.org/3>" for r in good)
    # exactly one good page produced quads
    assert {r["prov"] for r in good if r["prov"]}


def test_staged_path_never_fails_on_garbage(spark, hostile_pages):
    docs = with_object_key(extract_docs(hostile_pages, salt=False))
    out = docs_to_quads(docs).collect()
    assert len(out) >= len(hostile_pages.collect())


def test_remote_context_is_error_row_not_crash(spark, hostile_pages):
    out = pages_to_quads_fused(hostile_pages, salt=False)
    remote = out.filter(F.col("host") == "ok.example.org").filter(
        F.col("error_code") == "jsonld_convert"
    )
    assert remote.count() >= 1


_NQHASH = "https://docs.geoconnex.us/nqhash/"


@pytest.mark.parametrize("tail", ["foo bar", "x>y", "a" * 64 + "> <https://e/p> <https://e/o"])
def test_hostile_id_under_skolem_prefix_is_gated(tail):
    """Only the minted skolem shape skips the strict term gate; an untrusted
    IRI that merely starts with the public prefix is dropped and counted."""
    import json

    from nabu_spark.operators.triples import doc_to_quads, finish_quads

    hostile = "<" + _NQHASH + tail + ">"
    minted = "<" + _NQHASH + "0" * 64 + ">"
    name = ("<https://x.org/s>", "<https://schema.org/name>", '"n"')
    quads, err, dropped = finish_quads(
        [(hostile, "<https://schema.org/p>", '"v"'),
         ("<https://x.org/s>", "<https://schema.org/p>", hostile),
         (minted, "<https://schema.org/p>", minted), name],
        "summoned/site/a.jsonld", skolemize=False,
    )
    assert err == "" and dropped == 2
    assert [q[:3] for q in quads] == [(minted, "<https://schema.org/p>", minted), name]

    doc = {"@context": {"@vocab": "https://schema.org/"}, "@id": "https://x.org/s",
           "@type": _NQHASH + tail, "name": "n"}
    quads, err, dropped = doc_to_quads(json.dumps(doc), "summoned/site/a.jsonld")
    assert err == "" and dropped == 1
    assert all(_NQHASH + tail not in "".join(q) for q in quads)
