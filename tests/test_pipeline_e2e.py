"""End-to-end Spark pipeline tests on the deterministic synthetic corpus."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nabu_spark.datagen import generate_pages, page_for
from nabu_spark.operators.extract import extract_docs, with_object_key
from nabu_spark.operators.triples import doc_to_quads
from nabu_spark.pipeline import pages_to_quads_fused

N = 200


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, N).cache()
    df.count()
    return df


def test_datagen_deterministic():
    a = page_for(7)
    b = page_for(7)
    assert a == b
    assert a["html"] != page_for(8)["html"]


def test_extraction_byte_identical(spark, pages):
    """North-rule invariant: extracted doc text is byte-identical to the
    page's ``text`` column for every successfully extracted page."""
    docs = extract_docs(pages, salt=False).cache()
    ok = docs.filter(F.col("error_code") == "")
    assert ok.count() > 0
    mismatches = ok.filter(~F.col("text_match")).count()
    assert mismatches == 0
    # failure taxonomy shows up
    errs = {r["error_code"] for r in docs.select("error_code").distinct().collect()}
    assert "no_jsonld" in errs or "empty_body" in errs


def test_fused_quads(spark, pages):
    quads = pages_to_quads_fused(pages, salt=False).cache()
    good = quads.filter(F.col("error_code").isNull())
    assert good.count() > 100
    # every good row is a valid quad with a urn prov
    bad_prov = good.filter(~F.col("prov").startswith("<urn:iow:summoned:")).count()
    assert bad_prov == 0
    # skolemized: no blank nodes escape
    assert good.filter(F.col("subj").startswith("_:")).count() == 0
    assert good.filter(F.col("obj").startswith("_:")).count() == 0
    # double literals are canonical E-notation
    lat = good.filter(F.col("pred") == "<https://schema.org/latitude>").first()
    assert "E" in lat["obj"] and "XMLSchema#double" in lat["obj"]


def test_quads_match_local_oracle(spark, pages):
    """Spark output equals a driver-side single-process run of the same
    kernels over the same corpus (distribution-invariance check)."""
    quads = pages_to_quads_fused(pages, salt=False)
    got = {
        (r["subj"], r["pred"], r["obj"], r["prov"])
        for r in quads.filter(F.col("error_code").isNull()).collect()
    }
    docs = with_object_key(extract_docs(pages, salt=False)).filter(
        F.col("error_code") == ""
    )
    expected = set()
    for row in docs.collect():
        qs, err, _ = doc_to_quads(row["doc"], row["obj_key"])
        assert err == ""
        expected.update(qs)
    assert got == expected


def test_lineage_counts(spark, pages):
    res = pages_to_quads_fused(pages, salt=False).cache()
    failures = res.filter(F.col("error_code").isNotNull()).count()
    # generator plants ~5% no-jsonld/empty pages
    assert failures > 0
    from nabu_spark.operators.triples import failures_by_host

    lin = failures_by_host(res, "fused")
    total = lin.agg(F.sum("parse_failures")).first()[0]
    assert total == failures
