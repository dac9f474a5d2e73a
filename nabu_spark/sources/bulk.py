"""Bulk NDJSON source: newline-delimited JSON-LD documents.

Reference semantics: the bulk harvester reads NDJSON docs from a container's
stdout and keys each by ``base64(@id)``
(/root/reference/internal/crawl/sitemap_bulk.go:32-313, key at :192-200).
Here the stream is any text path (the distributed analogue of stdout) and the
key derivation is the page paths' JVM-side ``with_object_key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import with_object_key


def read_bulk_ndjson(spark: SparkSession, path: str, sitemap_id: str) -> DataFrame:
    """path -> docs(url, host, sitemap_id, doc, error_code, obj_key). Docs
    without an @id become error rows (lineage), mirroring the bulk
    harvester's skip-and-log behavior."""
    lines = spark.read.text(path).withColumnRenamed("value", "doc")
    lines = lines.filter(F.trim(F.col("doc")) != "")
    with_id = lines.withColumn("_id", F.get_json_object(F.col("doc"), "$['@id']"))
    docs = with_id.select(
        F.coalesce(F.col("_id"), F.lit("")).alias("url"),
        F.coalesce(F.try_parse_url(F.col("_id"), F.lit("HOST")), F.lit("")).alias("host"),
        F.lit(sitemap_id).alias("sitemap_id"),
        F.col("doc"),
        F.when(F.col("_id").isNull(), F.lit("missing_id")).otherwise(F.lit("")).alias(
            "error_code"
        ),
    )
    # a doc without an @id has no key
    return with_object_key(docs).withColumn(
        "obj_key", F.when(F.col("error_code") == "", F.col("obj_key"))
    )
