"""Pages -> quads: the fused one-pass path and the resume key of the staged
one.

Stage graph of a resumable run (``snapshots.commit_docs`` /
``commit_quads``; ``harvest``, ``bulk``, ``release`` and ``snap run``), each
stage committed to a manifest-published ``snapshots.SnapshotTable`` — a
local stand-in for Iceberg snapshots:

    pages --keyed_pages+extract (mapInArrow)--> docs_tbl/
    docs  --toRdf+skolemize+URN (mapInArrow)--> quads_tbl/  (+ lineage_tbl)

``pages_to_quads_fused`` runs both stages in one ``mapInArrow`` pass with no
docs table (the ``build`` path). It starts from the same
``operators.extract.keyed_pages`` prelude (host, sitemap_id, obj_key, then
salt or coalesce) and runs, per page, ``extract_document`` and then the
staged quads stage's ``operators.triples.per_doc``, so both paths give the
same rows and failure rows.

Resume semantics mirror the reference's incremental hash-skip
(/root/reference/internal/crawl/hash_checks/hash_check.go:34-122): a restarted
run left-anti-joins the input against the keys already present in the last
committed snapshot and processes only the remainder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_prov_key(docs: DataFrame) -> DataFrame:
    """prov URN as a pure column expression (urn.go:31-49 semantics:
    'urn:iow:' + key with '/'->':'). Total: null obj_keys map to the same
    deterministic sentinel ``triples._failed_prov`` emits, so resume
    anti-joins match every recorded row — including failures."""
    return docs.withColumn(
        "prov",
        F.concat(
            F.lit("<urn:iow:"),
            F.regexp_replace(
                F.coalesce(F.col("obj_key"), F.lit("invalid")), "/", ":"
            ),
            F.lit(">"),
        ),
    )


def pages_to_quads_fused(
    pages: DataFrame,
    *,
    salt: bool = True,
    fallback_structured: bool = False,
) -> DataFrame:
    """Single-UDF fused path: ``extract_docs`` and ``docs_to_quads`` composed
    in one ``triples.emit_quads`` pass, avoiding the Arrow round-trip between
    stages. Each page runs ``extract_document`` and then the staged path's
    ``triples.per_doc``, after the same ``keyed_pages`` prelude, so rows and
    failure rows are those of ``docs_to_quads(extract_docs(pages))``.

    ``fallback_structured``: a page whose JSON-LD path fails is retried
    through the microdata/RDFa extractors."""
    from .functions.html_extract import extract_document
    from .operators.extract import keyed_pages
    from .operators.triples import emit_quads, per_doc

    def per_page(obj_key, body, url, sid):
        doc_text, err = extract_document(body)
        quads, err, obj_key = per_doc(doc_text, obj_key, err)
        if err and fallback_structured and err in (
            "no_jsonld", "json_parse", "jsonld_convert", "empty_graph"
        ):
            # JSON-LD-free page: try microdata/RDFa (the long tail of the
            # open web annotates without script tags); absolute import —
            # the closure is unpickled outside the package
            from nabu_spark.operators.structured_extract import (
                page_structured_quads,
            )

            quads, err = page_structured_quads(body, url, sid)
        return quads, err, obj_key

    return emit_quads(
        keyed_pages(pages, salt=salt), per_page, "obj_key", "html", "url", "sitemap_id"
    )
