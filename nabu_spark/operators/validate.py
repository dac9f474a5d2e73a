"""SHACL-lite structural validation as triple-pattern DataFrame predicates.

The reference SHACL-validates over gRPC against a pyshacl service; failures
are non-fatal warning rows unless --exit-on-shacl-failure
(/root/reference/internal/crawl/shacl.go:29-46). Its cheap pre-check — the
graph must contain a node typed schema:Place or schema:Dataset
(shacl_validator_grpc_py/src/lib.py:13-22) — is implemented natively here as
a relational predicate on the quads table.

FULL shape evaluation now lives in operators/shacl.py: a native SHACL-lite
engine (no pyshacl dependency) that classifies the reference's entire
valid/invalid corpus correctly and runs distributed per document graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
SCHEMA_PLACE = "<https://schema.org/Place>"
SCHEMA_DATASET = "<https://schema.org/Dataset>"


def structural_check(quads: DataFrame) -> DataFrame:
    """Per document graph (prov): passes iff some node is typed
    schema:Place or schema:Dataset. Returns (prov, shacl_ok, has_geometry,
    has_name) — one row per graph."""
    return quads.groupBy("prov").agg(
        (
            F.count(
                F.when(
                    (F.col("pred") == RDF_TYPE)
                    & F.col("obj").isin(SCHEMA_PLACE, SCHEMA_DATASET),
                    1,
                )
            )
            > 0
        ).alias("shacl_ok"),
        (
            F.count(
                F.when(F.col("pred").contains("geosparql#hasGeometry"), 1)
            )
            > 0
        ).alias("has_geometry"),
        (
            F.count(F.when(F.col("pred") == "<https://schema.org/name>", 1)) > 0
        ).alias("has_name"),
    )


def shacl_warnings(quads: DataFrame, cap: int = 20) -> DataFrame:
    """Warning rows for failing graphs, capped per sitemap (the reference
    stores only the first 20 per sitemap, sitemap.go:258-273)."""
    checks = structural_check(quads).filter(~F.col("shacl_ok"))
    with_sitemap = checks.withColumn(
        "sitemap",
        F.split(F.regexp_replace("prov", r"^<|>$", ""), ":").getItem(3),
    )
    return with_sitemap.groupBy("sitemap").agg(
        F.count("*").alias("total_warnings"),
        F.slice(F.sort_array(F.collect_list("prov")), 1, cap).alias("warning_sample"),
    )

