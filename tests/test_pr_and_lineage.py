"""Explicit P/R scoring (the north-rule headline metric) + lineage schema."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nabu_spark.datagen import generate_pages
from nabu_spark.evaluation import quads_pr, triple_pr
from nabu_spark.functions.jsonld import jsonld_to_triples, standardize_jsonld_context
from nabu_spark.functions.skolem import skolemize_terms
from nabu_spark.functions.urn import make_urn, object_key
from nabu_spark.operators.extract import extract_docs, with_object_key
from nabu_spark.operators.triples import doc_to_quads
from nabu_spark.pipeline import pages_to_quads_fused
from nabu_spark.snapshots import run_pipeline_snapshots

from .conftest import needs_reference, reference_path


@needs_reference
def test_pr_vs_reference_golden_is_perfect(spark):
    """P/R of the Spark pipeline vs the reference's own emitted quads on its
    fixture corpus: must be 1.0/1.0 (>= 0.95 required)."""
    urls = {
        "1084.jsonld": "https://geoconnex.us/iow/wqp/BPMWQX-1084-WR-CC01C",
        "1085.jsonld": "https://geoconnex.us/iow/wqp/BPMWQX-1085-WR-CC01C2",
    }
    rows = []
    for name, url in urls.items():
        with open(reference_path("cmd/nabu/testdata", name), "rb") as f:
            body = f.read()
        rows.append((url, body))
    pages = spark.createDataFrame(
        [(u, None, b, None, "en") for u, b in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    # force the reference's sitemap id for prov parity
    from nabu_spark.operators.extract import extract_docs

    docs = extract_docs(pages, salt=False).withColumn(
        "sitemap_id", F.lit("iow_wqp_stations__5")
    )
    docs = with_object_key(docs)
    from nabu_spark.operators.triples import docs_to_quads, quads_only

    emitted_df = quads_only(docs_to_quads(docs))
    with open(reference_path("cmd/nabu/testdata/iow_wqp_stations__5_release.nq")) as f:
        expected = set()
        for line in f:
            line = line.strip()
            if not line:
                continue
            # split golden quad line into 4 terms: subj pred obj prov .
            first = line.find(" ")
            second = line.find(" ", first + 1)
            rest = line[second + 1 :]
            prov_start = rest.rfind(" <urn:iow:")
            obj = rest[:prov_start]
            prov = rest[prov_start + 1 : -2]
            expected.add((line[:first], line[first + 1 : second], obj, prov))
    score = quads_pr(emitted_df, expected, with_prov=True)
    print("P/R vs reference golden:", json.dumps(score))
    assert score["precision"] == 1.0 and score["recall"] == 1.0


def test_pr_vs_single_process_oracle(spark):
    """Distribution invariance on the synthetic corpus: Spark output vs the
    same kernels run driver-side. Must be exact."""
    pages = generate_pages(spark, 150).cache()
    emitted_df = pages_to_quads_fused(pages, salt=False).filter(
        F.col("error_code").isNull()
    )
    emitted = {
        (r["subj"], r["pred"], r["obj"], r["prov"])
        for r in emitted_df.select("subj", "pred", "obj", "prov").collect()
    }
    # driver-side oracle
    from nabu_spark.datagen import page_for
    from nabu_spark.functions.html_extract import extract_document

    expected = set()
    for i in range(150):
        p = page_for(i)
        doc, err = extract_document(p["html"])
        if err:
            continue
        host = p["url"].split("/")[2]
        sid = host.replace(".", "_").replace("-", "_")
        quads, qerr, _ = doc_to_quads(doc, object_key(sid, p["url"]))
        if qerr:
            continue
        expected.update(quads)
    score = triple_pr(emitted, expected)
    print("P/R vs single-process oracle:", json.dumps(score))
    assert score["precision"] == 1.0 and score["recall"] == 1.0


def test_lineage_schema_and_reconciliation(spark, tmp_path):
    pages = generate_pages(spark, 80).cache()
    res = run_pipeline_snapshots(spark, pages, str(tmp_path / "run"), salt=False)
    lin = res["lineage"].cache()
    assert set(lin.columns) == {
        "stage", "partition_key", "urls_in", "triples_out", "parse_failures", "seconds",
    }
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "docs_to_quads"}
    # urls_in reconciles with the corpus size per stage
    per_stage = lin.groupBy("stage").agg(F.sum("urls_in").alias("n")).collect()
    assert all(r["n"] == 80 for r in per_stage)
    # triples_out reconciles with the quads table
    total_triples = lin.filter(F.col("stage") == "docs_to_quads").agg(
        F.sum("triples_out")
    ).first()[0]
    assert total_triples == res["quads"].count()
    assert lin.filter(F.col("seconds") <= 0).count() == 0
