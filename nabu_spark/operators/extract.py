"""pages -> docs: JSON-LD extraction stage.

Input table (BASELINE.json input_hint):
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Output:
    docs(url, host, sitemap_id, obj_key, doc, error_code, text_match)

Spark design notes:
  * the extraction kernel (byte-identical invariant,
    /root/reference/internal/crawl/helpers.go:53-71) runs inside a single
    ``mapInPandas`` pass — Arrow batches, no per-row Python;
  * mega-host skew is handled *before* the UDF with salted repartitioning on
    url-host: per-host counts drive the salt fan-out, so one hot host spreads
    over many tasks while cold hosts stay on one (SURVEY.md §4 north rule);
  * obj_key/sitemap_id/prov derivations are JVM-side column expressions
    (base64/concat/regexp_replace) — never Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.html_extract import OK, extract_document

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("sitemap_id", T.StringType()),
        T.StructField("doc", T.StringType()),
        T.StructField("error_code", T.StringType()),
        T.StructField("text_match", T.BooleanType()),
    ]
)


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Derive the url-host partition key JVM-side. ``try_parse_url`` so one
    garbage URL in a trillion-row corpus yields a null host (lineage row),
    not a failed job."""
    return df.withColumn(
        "host",
        F.coalesce(
            F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("invalid_host")
        ),
    )


def with_sitemap_id(df: DataFrame, url_col: str = "url") -> DataFrame:
    """``with_host`` plus the default page key: ``sitemap_id`` is the host
    with every character outside ``[A-Za-z0-9_]`` mapped to ``_`` (the
    grouping key of the offline corpus), JVM-side."""
    return with_host(df, url_col).withColumn(
        "sitemap_id", F.regexp_replace(F.col("host"), r"[^A-Za-z0-9_]", "_")
    )


def fan_out(df: DataFrame, *key_cols: str, min_parts: int | None = None) -> DataFrame:
    """Hash-spread a NARROW input across the cluster when its scan yields
    fewer splits than cores — the tiny-file / single-row-group case where a
    per-row compute stage downstream would otherwise run in one task
    (optimization guide §2.5 "input skew": one unsplittable input; parquet
    splits at row-group granularity, so a one-row-group file is one task no
    matter how small ``maxPartitionBytes`` goes). No-op when the source is
    already at least core-parallel (a production table with thousands of
    splits), so the shuffle is only paid when it buys parallelism. Key by a
    high-cardinality id so the hash spreads evenly; keyless falls back to
    round-robin."""
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "host",
    rows_per_salt: int = 50_000,
) -> DataFrame:
    """Spread hot keys across tasks: a first cheap pass counts rows per key,
    hot keys get ``ceil(count / rows_per_salt)`` salt buckets, and the data is
    hash-repartitioned on (key, salt). Catalyst will not invent salting for a
    UDF stage, so it is explicit here. The per-key count table is tiny
    relative to the data (one row per distinct host) and is broadcast.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("_key_count"))
    salted = (
        df.join(F.broadcast(counts), key_col, "left")
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.col("url")),
                F.greatest(F.lit(1), F.ceil(F.col("_key_count") / rows_per_salt)).cast("int"),
            ),
        )
        .repartition(num_partitions, F.col(key_col), F.col("_salt"))
        .drop("_key_count", "_salt")
    )
    return salted


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        htmls = pdf["html"]
        texts = pdf["text"] if "text" in pdf else pd.Series([None] * len(pdf))
        docs, errors, matches = [], [], []
        for body, expected in zip(htmls, texts):
            if isinstance(body, memoryview):
                body = bytes(body)
            doc, err = extract_document(body)
            docs.append(doc if err == OK else "")
            errors.append(err)
            matches.append(bool(err == OK and expected is not None and doc == expected))
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "host": pdf["host"],
                "sitemap_id": pdf["sitemap_id"],
                "doc": docs,
                "error_code": errors,
                "text_match": matches,
            }
        )


def extract_docs(
    pages: DataFrame,
    *,
    num_partitions: int | None = None,
    sitemap_col: str | None = None,
    salt: bool = True,
) -> DataFrame:
    """pages -> docs. ``sitemap_id`` defaults to the url-host (the grouping
    key of the offline corpus); pass ``sitemap_col`` to use a real dimension.
    """
    if sitemap_col:
        df = with_host(pages).withColumn("sitemap_id", F.col(sitemap_col))
    else:
        df = with_sitemap_id(pages)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if salt:
        df = salted_repartition(df, n)
    df = df.select("url", "host", "sitemap_id", "html", "text")
    return df.mapInPandas(_extract_batches, DOCS_SCHEMA)


def with_object_key(docs: DataFrame) -> DataFrame:
    """obj_key = summoned/{sitemap_id}/{base64(url)}.jsonld — pure column
    expression (sitemap.go:144-149 semantics), stays in codegen."""
    return docs.withColumn(
        "obj_key",
        F.concat(
            F.lit("summoned/"),
            F.col("sitemap_id"),
            F.lit("/"),
            F.base64(F.col("url").cast("binary")),
            F.lit(".jsonld"),
        ),
    )
