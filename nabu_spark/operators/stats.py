"""Crawl-stats aggregation, circuit breaker, warning caps, duplicate-key
detection, incremental skip, and cleanup — the relational operators around
the KG core (SURVEY.md §2 #19, #26-30, #36).

All pure DataFrame ops; semantics mirrored from the reference:
  * SitemapCrawlStats counters (pkg/stats.go:75-99, sitemap.go:200-313)
  * warning cap = first 20 per sitemap (sitemap.go:258-273)
  * circuit breaker: >= threshold failures with zero successes
    (helpers.go:107-154; batch semantics make early-exit an optimization)
  * duplicate storage keys are flagged, not dropped (sitemap.go:274-284)
  * incremental skip = left anti-join on (key, content hash)
    (hash_checks/hash_check.go:34-122)
  * cleanup = stored keys minus current url-set (storage/storage.go:75-148)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WARNING_CAP = 20
CIRCUIT_BREAKER_THRESHOLD = 20


def crawl_stats(docs: DataFrame, *, group_col: str = "sitemap_id") -> DataFrame:
    """Per-sitemap crawl report: sites in sitemap, successes, failures,
    capped failure list, dataset_down flag."""
    return (
        docs.groupBy(group_col)
        .agg(
            F.count("*").alias("sites_in_sitemap"),
            F.count(F.when(F.col("error_code") == "", 1)).alias("successful_sites"),
            F.count(F.when(F.col("error_code") != "", 1)).alias("crawl_failures"),
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("error_code") != "",
                            F.struct("url", "error_code"),
                        )
                    )
                ),
                1,
                WARNING_CAP,
            ).alias("failure_sample"),
        )
        .withColumn(
            "dataset_down",
            (F.col("successful_sites") == 0)
            & (F.col("crawl_failures") >= CIRCUIT_BREAKER_THRESHOLD),
        )
    )


def duplicate_keys(docs: DataFrame, key_col: str = "obj_key") -> DataFrame:
    """Two URLs resolving to the same storage path -> error rows (flagged,
    never silently dropped)."""
    return (
        docs.groupBy(key_col)
        .agg(F.count("*").alias("n_docs"), F.collect_list("url").alias("urls"))
        .filter(F.col("n_docs") > 1)
    )


def incremental_skip(
    new_docs: DataFrame, existing: DataFrame, key_col: str = "obj_key"
) -> DataFrame:
    """Docs that still need processing: anti-join on (key, md5(doc)).
    Unchanged content is skipped; changed content under the same key is
    re-processed (the md5-vs-ETag HEAD check, distributed)."""
    new_hashed = new_docs.withColumn("_h", F.md5(F.col("doc")))
    existing_hashed = existing.select(
        F.col(key_col), F.md5(F.col("doc")).alias("_h")
    )
    return new_hashed.join(existing_hashed, [key_col, "_h"], "left_anti").drop("_h")


def cleanup_list(stored: DataFrame, current: DataFrame, key_col: str = "obj_key") -> DataFrame:
    """Stored objects no longer present in the current url-set -> delete list."""
    return stored.select(key_col).distinct().join(
        current.select(key_col).distinct(), key_col, "left_anti"
    )


def void_stats(triples: DataFrame) -> DataFrame:
    """W3C VoID-style dataset statistics over a (subj, pred, obj) graph:
    global counts plus the property partition (triples per predicate) and
    class partition (distinct instances per rdf:type class), as tidy
    (part, key, n) rows. Each block is one map-side-combined aggregation
    on a low-cardinality key — the vocabulary, not the data — so the
    graph is scanned a bounded number of times and nothing collects.

    The reference has no dataset-description artifact; downstream VoID
    publication is a standard triplestore companion (north-star surface)."""
    from ..functions.turtle import RDF_TYPE  # single source of truth

    t = triples.select("subj", "pred", "obj")
    globals_ = t.agg(
        F.count(F.lit(1)).alias("triples"),
        F.countDistinct("subj").alias("distinctSubjects"),
        F.countDistinct("obj").alias("distinctObjects"),
        F.countDistinct("pred").alias("properties"),
    ).selectExpr(
        "stack(4, 'triples', triples, 'distinctSubjects', distinctSubjects, "
        "'distinctObjects', distinctObjects, 'properties', properties) "
        "as (key, n)"
    ).select(F.lit("dataset").alias("part"), "key", "n")
    prop_part = (
        t.groupBy(F.col("pred").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("property").alias("part"), "key", "n")
    )
    class_part = (
        t.filter(F.col("pred") == RDF_TYPE)
        .groupBy(F.col("obj").alias("key"))
        .agg(F.countDistinct("subj").alias("n"))
        .select(F.lit("class").alias("part"), "key", "n")
    )
    return globals_.unionByName(prop_part).unionByName(class_part)

