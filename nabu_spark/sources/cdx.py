"""Common-Crawl CDX(J) index source.

Web-scale pipelines don't start from WARC bytes — they start from the CDX
index (one line per capture: SURT key, 14-digit timestamp, JSON payload
with url/mime/status/digest/offset/length/filename) and plan the fetch:
keep the latest capture per URL and group the surviving records by WARC
file so range reads co-locate. All of it is relational:

  * ``parse_cdx`` — split each line into (surt, ts, json) with a 3-limit
    split and ``from_json`` — pure JVM, no UDF; malformed lines surface as
    null-field rows (filterable), never task failures.
  * ``latest_captures`` — row_number per url by (ts desc, digest) → rn = 1.
  * ``fetch_plan`` — per-WARC-file sorted offset lists: each task streams
    one archive file's ranges in order.

Scale notes: the CDX index for a full crawl is ~10^10 lines of ~300 bytes —
text-splittable, so the parse parallelizes on line boundaries; every
downstream op is one shuffle on its natural key (url, filename).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

CDX_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("filename", T.StringType()),
    ]
)


def parse_cdx(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """(surt, ts, url, mime, status, digest, length, offset, filename) from
    raw CDXJ lines. The payload is the line's third space-separated field
    onward (split limit 3 — URLs inside the JSON may contain spaces only
    percent-encoded, but the JSON itself contains spaces after colons)."""
    parts = F.split(F.col(line_col), " ", 3)
    payload = F.from_json(parts.getItem(2), CDX_PAYLOAD_SCHEMA)
    return lines.select(
        parts.getItem(0).alias("surt"),
        # try_: a malformed timestamp is a null-field row, not a task failure
        F.try_to_timestamp(parts.getItem(1), F.lit("yyyyMMddHHmmss")).alias("ts"),
        payload.alias("_p"),
    ).select("surt", "ts", "_p.*")


def latest_captures(captures: DataFrame) -> DataFrame:
    """One row per url: the most recent capture (ties broken by digest then
    filename/offset for determinism)."""
    w = Window.partitionBy("url").orderBy(
        F.desc("ts"), F.asc("digest"), F.asc("filename"), F.asc("offset")
    )
    return (
        captures.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def fetch_plan(captures: DataFrame) -> DataFrame:
    """(filename, n_records, bytes, offsets): per-WARC-file read plan with
    offsets sorted ascending so each task streams its archive sequentially."""
    return captures.groupBy("filename").agg(
        F.count("*").alias("n_records"),
        F.sum("length").alias("bytes"),
        F.sort_array(F.collect_list("offset")).alias("offsets"),
    )
