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


_ROW = ("subj", "pred", "obj", "prov", "host", "error_code")


def test_fused_and_staged_agree_including_failure_rows(spark, hostile_pages):
    """The fused and staged paths share one emitter, so they give the same
    multiset of rows — failure rows (and their prov) included — on garbage
    and on a generated corpus, and neither fails a task on garbage."""
    from collections import Counter

    from nabu_spark.datagen import generate_pages

    # a null url over a body that fails extraction: the missing key wins
    keyless = spark.createDataFrame([(None, None, b"x", None, "en")], PAGES_DDL)
    pages = hostile_pages.unionByName(keyless).unionByName(
        generate_pages(spark, 150)).cache()
    fused = pages_to_quads_fused(pages, salt=False).collect()
    staged = docs_to_quads(
        with_object_key(extract_docs(pages, salt=False))).collect()
    assert len(staged) >= pages.count()
    failed = [r for r in fused if r["error_code"]]
    assert {r["error_code"] for r in failed} >= {
        "invalid_url", "empty_body", "json_parse", "jsonld_convert"}
    assert all(r["prov"] and r["subj"] is None for r in failed)
    assert sum(r["prov"] == "<urn:iow:invalid>" for r in failed) == 2
    assert Counter(tuple(r[c] for c in _ROW) for r in fused) == Counter(
        tuple(r[c] for c in _ROW) for r in staged)


def test_long_url_keys_are_unbroken_base64(spark):
    """obj_key is one unbroken standard-base64 string on both page paths,
    as ``urn.object_key`` computes it, for a url whose base64 passes 76
    characters (where Spark's base64 may break its output with CRLF)."""
    from nabu_spark.functions.urn import make_urn, object_key

    url = "https://long.example.org/" + "\u00fc" * 40 + "/station?id=" + "9" * 80
    pages = spark.createDataFrame([(url, None, GOOD_DOC, None, "en")], PAGES_DDL)
    want = object_key("long_example_org", url)
    keyed = with_object_key(pages.withColumn("sitemap_id", F.lit("long_example_org")))
    assert keyed.first()["obj_key"] == want
    assert extract_docs(pages, salt=False).first()["obj_key"] == want
    provs = {r["prov"] for r in pages_to_quads_fused(pages, salt=False).collect()}
    assert provs == {"<" + make_urn(want) + ">"}


def test_structured_failure_row_carries_prov(spark):
    from nabu_spark.functions.urn import object_key
    from nabu_spark.operators.structured_extract import pages_to_structured_quads
    from nabu_spark.operators.triples import _failed_prov

    md = (b'<html><body><div itemscope itemtype="https://schema.org/Place" '
          b'itemid="https://x/md1"><meta itemprop="name" content="MD"></div>'
          b'</body></html>')
    pages = spark.createDataFrame(
        [("https://h.org/md", None, md, None, "en"),
         ("https://h.org/none", None, b"<html><body>nothing</body></html>", None, "en"),
         (None, None, md, None, "en")], PAGES_DDL)
    rows = pages_to_structured_quads(pages).collect()
    failed = {r["error_code"]: r for r in rows if r["error_code"]}
    assert set(failed) == {"no_structured_data", "invalid_url"}
    assert failed["no_structured_data"]["prov"] == _failed_prov(
        object_key("h_org", "https://h.org/none"))
    assert failed["invalid_url"]["prov"] == "<urn:iow:invalid>"
    assert all(r["subj"] is None for r in failed.values())
    assert any(r["subj"] == "<https://x/md1>" for r in rows if not r["error_code"])


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
