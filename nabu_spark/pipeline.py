"""Pages -> quads: the fused one-pass path and the resume key of the staged
one.

Stage graph of a resumable run (``snapshots.commit_docs`` /
``commit_quads``; ``harvest``, ``bulk``, ``release`` and ``snap run``), each
stage committed to a manifest-published ``snapshots.SnapshotTable`` — a
local stand-in for Iceberg snapshots:

    pages --extract(mapInPandas, salted on host)--> docs_tbl/
    docs  --toRdf+skolemize+URN (mapInArrow)------> quads_tbl/  (+ lineage_tbl)

``pages_to_quads_fused`` runs both stages in one ``mapInArrow`` pass with no
docs table (the ``build`` path); both quads paths go through
``operators.triples.emit_quads``, so their rows and failure rows are the
same.

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
    num_partitions: int | None = None,
    salt: bool = True,
    fallback_structured: bool = False,
) -> DataFrame:
    """Single-UDF fused path: one ``triples.emit_quads`` pass does extract ->
    toRdf -> skolemize -> URN tag per page, avoiding the Arrow round-trip
    between stages. Rows and failure rows are those of
    ``docs_to_quads(with_object_key(extract_docs(pages)))``.

    ``fallback_structured``: a page whose JSON-LD path fails is retried
    through the microdata/RDFa extractors."""
    from .functions.html_extract import OK, extract_document
    from .functions.urn import object_key
    from .operators.extract import salted_repartition, with_sitemap_id
    from .operators.triples import doc_to_quads, emit_quads

    df = with_sitemap_id(pages)
    # Scale note: extraction is per-row CPU, so its parallelism comes from the
    # table's input splits (spark.sql.files.maxPartitionBytes), NOT from a
    # repartition — shuffling the html binary column costs more than the whole
    # extraction (measured 10x the UDF time at local[32]). Salting on url-host
    # belongs to shuffle-keyed stages over the narrow quad rows; here a salt
    # repartition is only worth it when the source has too few splits.
    if salt:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        df = salted_repartition(df, n)
    else:
        # Fewer, larger map tasks for the Python stage (guide §2.2/§6): every
        # scan task pays a JVM->Python worker handshake + Arrow stream setup,
        # so a many-small-files corpus (256 one-file splits here) spends more
        # wall time on per-task boundary overhead than on extraction
        # (measured 3.7s -> 2.0s at 200k pages). Coalesce — NOT repartition:
        # no shuffle, adjacent splits merge — down to the core count; splits
        # are already bounded by maxPartitionBytes so merged tasks stay even.
        # A coalesce never raises the count, so no split-count probe (one
        # more scan planning on the driver, ~65 ms) decides whether to add it.
        sc = df.sparkSession.sparkContext
        df = df.coalesce(num_partitions or sc.defaultParallelism)

    def per_page(url, sid, body):
        if url is None or sid is None:
            return [], "invalid_url", None
        obj_key = object_key(sid, url)
        doc_text, err = extract_document(body)
        quads = None
        if err == OK:
            quads, err, _ = doc_to_quads(doc_text, obj_key)
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

    return emit_quads(df, per_page, "url", "sitemap_id", "html")
