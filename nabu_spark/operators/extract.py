"""pages -> docs: JSON-LD extraction stage.

Input table (BASELINE.json input_hint):
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Output:
    docs(url, host, sitemap_id, doc, error_code, text_match, obj_key)

Spark design notes:
  * the extraction kernel (byte-identical invariant,
    /root/reference/internal/crawl/helpers.go:53-71) runs inside a single
    ``mapInArrow`` pass: Arrow columns in and out, the page columns passed
    through untouched;
  * mega-host skew is handled *before* the UDF with salted repartitioning on
    url-host: per-host counts drive the salt fan-out, so one hot host spreads
    over many tasks while cold hosts stay on one (SURVEY.md §4 north rule);
  * obj_key/sitemap_id/prov derivations are JVM-side column expressions
    (base64/concat/regexp_replace) — never Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.html_extract import OK, extract_document


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


DOCS_DDL = (
    "url string, host string, sitemap_id string, doc string, "
    "error_code string, text_match boolean, obj_key string"
)


def keyed_pages(pages: DataFrame, *, salt: bool) -> DataFrame:
    """The prelude of every page path (``extract_docs`` and
    ``pipeline.pages_to_quads_fused``): ``with_sitemap_id``, then
    ``with_object_key`` (null for a null url), then either a salted
    repartition on host or a coalesce to the core count.

    Extraction is per-row CPU, so without ``salt`` its parallelism comes
    from the table's input splits (``spark.sql.files.maxPartitionBytes``),
    not from a repartition: shuffling the html column costs more than the
    whole extraction (measured 10x the UDF time at local[32]). Fewer, larger
    map tasks still pay off (guide §2.2/§6): every scan task pays a
    JVM->Python worker handshake and Arrow stream setup, so a
    many-small-files corpus (256 one-file splits) spent more wall time on
    per-task boundary overhead than on extraction (3.7 s -> 2.0 s at 200k
    pages). A coalesce merges adjacent splits with no shuffle and never
    raises the count, so no split-count probe decides whether to add it."""
    df = with_object_key(with_sitemap_id(pages))
    n = df.sparkSession.sparkContext.defaultParallelism
    return salted_repartition(df, n) if salt else df.coalesce(n)


def _extract(batches):
    import pyarrow as pa

    for rb in batches:
        docs, errs, matches = [], [], []
        for body, expected in zip(
            rb.column("html").to_pylist(), rb.column("text").to_pylist()
        ):
            doc, err = extract_document(body)
            ok = err == OK
            docs.append(doc if ok else "")
            errs.append(err)
            matches.append(ok and doc == expected)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column("url"),
                rb.column("host"),
                rb.column("sitemap_id"),
                pa.array(docs, type=pa.string()),
                pa.array(errs, type=pa.string()),
                pa.array(matches, type=pa.bool_()),
                rb.column("obj_key"),
            ],
            ["url", "host", "sitemap_id", "doc", "error_code", "text_match", "obj_key"],
        )


def extract_docs(pages: DataFrame, *, salt: bool = True) -> DataFrame:
    """pages -> docs(url, host, sitemap_id, doc, error_code, text_match,
    obj_key): one ``mapInArrow`` pass after ``keyed_pages``. A failed page
    keeps ``doc = ""`` and its extraction ``error_code``; ``text_match`` says
    whether an extracted doc equals the page's expected ``text``."""
    df = keyed_pages(pages, salt=salt).select(
        "host", "url", "sitemap_id", "obj_key", "html", "text"
    )
    return df.mapInArrow(_extract, DOCS_DDL)


def with_object_key(docs: DataFrame) -> DataFrame:
    """obj_key = summoned/{sitemap_id}/{base64(url)}.jsonld — pure column
    expression (sitemap.go:144-149 semantics), stays in codegen; null when
    the url is. ``translate`` drops the CRLF that Spark's MIME-style
    ``base64`` inserts every 76 characters under
    ``spark.sql.chunkBase64String.enabled`` (on by default in Spark 4.1):
    the key is one unbroken standard-base64 string, as ``urn.object_key``
    computes it, whatever the setting."""
    return docs.withColumn(
        "obj_key",
        F.concat(
            F.lit("summoned/"),
            F.col("sitemap_id"),
            F.lit("/"),
            F.translate(F.base64(F.col("url").cast("binary")), "\r\n", ""),
            F.lit(".jsonld"),
        ),
    )
