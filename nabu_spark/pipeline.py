"""End-to-end harvest/release pipeline with stage checkpoints and resume.

Stage layout (each stage commits an atomic parquet snapshot — the sandbox
stand-in for Iceberg snapshots; on a real cluster swap ``format("parquet")``
for ``format("iceberg")`` and the resume anti-join for a MERGE INTO):

    pages --extract(mapInPandas, salted on host)--> docs/   (+ lineage)
    docs  --toRdf+skolemize+URN (mapInArrow)------> quads/  (+ lineage)

``pages_to_quads_fused`` runs both stages in one ``mapInArrow`` pass with no
docs table; both quads paths go through ``operators.triples.emit_quads``, so
their rows and failure rows are the same.

Resume semantics mirror the reference's incremental hash-skip
(/root/reference/internal/crawl/hash_checks/hash_check.go:34-122): a restarted
run left-anti-joins the input against the keys already present in the last
committed stage output and processes only the remainder.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.extract import extract_docs, with_object_key
from .operators.triples import docs_to_quads, failures_by_host, quads_only


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write_stage(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def run_extract_stage(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    num_partitions: int | None = None,
    resume: bool = True,
    salt: bool = True,
) -> DataFrame:
    docs_path = os.path.join(out_dir, "docs")
    if resume and _committed(docs_path):
        existing = spark.read.parquet(docs_path)
        remaining = pages.join(existing.select("url"), "url", "left_anti")
        if remaining.isEmpty():
            return existing
        docs = with_object_key(extract_docs(remaining, num_partitions=num_partitions, salt=salt))
        docs.write.mode("append").parquet(docs_path)
        return spark.read.parquet(docs_path)
    docs = with_object_key(extract_docs(pages, num_partitions=num_partitions, salt=salt))
    _write_stage(docs, docs_path)
    return spark.read.parquet(docs_path)


def run_quads_stage(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    resume: bool = True,
    partition_buckets: int | None = None,
    bnode_mode: str = "skolem",
) -> DataFrame:
    """``partition_buckets`` adds hash-bucket partitioning on subj (the plain
    -parquet analogue of Iceberg's bucket(subj) transform; prov-prefix
    routing lives in the release export) — bounded directory fan-out with
    co-located subjects for the downstream self-joins. ``bnode_mode``:
    see operators/triples.docs_to_quads ('skolem' | 'rdfc' | 'raw')."""
    quads_path = os.path.join(out_dir, "quads")

    def bucketed(df: DataFrame) -> tuple[DataFrame, list[str] | None]:
        if not partition_buckets:
            return df, None
        return (
            df.withColumn(
                "subj_bucket",
                F.pmod(F.xxhash64(F.coalesce(F.col("subj"), F.lit(""))), F.lit(partition_buckets)).cast("int"),
            ),
            ["subj_bucket"],
        )

    mode_marker = os.path.join(quads_path, "_bnode_mode")

    def _write_mode_marker() -> None:
        with open(mode_marker, "w") as fh:
            fh.write(bnode_mode)

    if resume and _committed(quads_path):
        if os.path.exists(mode_marker):
            with open(mode_marker) as fh:
                prev_mode = fh.read().strip()
            if prev_mode != bnode_mode:
                raise ValueError(
                    f"quads table at {quads_path} was built with "
                    f"bnode_mode={prev_mode!r}; resuming with "
                    f"{bnode_mode!r} would mix blank-node conventions — "
                    "use a fresh --out or --no-resume"
                )
        existing = spark.read.parquet(quads_path)
        done_provs = existing.select("prov").distinct()
        todo = with_prov_key(docs).join(done_provs, "prov", "left_anti").drop("prov")
        if todo.isEmpty():
            return existing
        out, parts = bucketed(docs_to_quads(todo, bnode_mode=bnode_mode))
        writer = out.write.mode("append")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(quads_path)
        _write_mode_marker()
        return spark.read.parquet(quads_path)
    out, parts = bucketed(docs_to_quads(docs, bnode_mode=bnode_mode))
    _write_stage(out, quads_path, partition_by=parts)
    _write_mode_marker()
    return spark.read.parquet(quads_path)


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


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    num_partitions: int | None = None,
    resume: bool = True,
    salt: bool = True,
) -> dict:
    """Full pages -> quads run with per-partition lineage for every stage
    (north rule): (stage, partition_key=host, urls_in, triples_out,
    parse_failures, seconds)."""
    import time

    t0 = time.monotonic()
    docs = run_extract_stage(
        spark, pages, out_dir, num_partitions=num_partitions, resume=resume, salt=salt
    )
    extract_seconds = time.monotonic() - t0
    extract_lineage = (
        docs.groupBy("host")
        .agg(
            F.count("*").alias("urls_in"),
            F.count(F.when(F.col("error_code") != "", 1)).alias("parse_failures"),
        )
        .withColumn("stage", F.lit("extract"))
        .withColumn("triples_out", F.lit(None).cast("long"))
        .withColumn("seconds", F.lit(extract_seconds))
        .withColumnRenamed("host", "partition_key")
    )

    t1 = time.monotonic()
    raw_quads = run_quads_stage(spark, docs, out_dir, resume=resume)
    quads_seconds = time.monotonic() - t1
    quads = quads_only(raw_quads)
    quads_lineage = (
        failures_by_host(raw_quads, stage="docs_to_quads")
        .join(
            docs.groupBy(F.col("host").alias("partition_key")).agg(
                F.count("*").alias("urls_in")
            ),
            "partition_key",
            "left",
        )
        .withColumn("seconds", F.lit(quads_seconds))
    )

    cols = ["stage", "partition_key", "urls_in", "triples_out", "parse_failures", "seconds"]
    lineage = extract_lineage.select(*cols).unionByName(quads_lineage.select(*cols))
    lineage_path = os.path.join(out_dir, "lineage")
    _write_stage(lineage, lineage_path)
    return {"docs": docs, "quads": quads, "raw_quads": raw_quads, "lineage": lineage}


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
