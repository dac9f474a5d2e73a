"""Incremental (streaming) KG construction.

The reference's incremental story is batch + content-hash skip; the Spark
engine additionally exposes the natural streaming formulation: new page files
landing in the corpus directory are picked up by a file-source readStream,
flow through the SAME fused extract->toRdf->skolemize transform (its one
mapInArrow pass is streaming-safe: doc-local, no state), and append to the quads table with
exactly-once file-sink semantics via the checkpoint directory. A watermarked
windowed aggregation provides streaming lineage (late pages tolerated up to
the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..datagen import PAGES_SCHEMA
from ..pipeline import pages_to_quads_fused


def read_pages_stream(
    spark: SparkSession, pages_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(pages_dir)


def quads_stream(pages_stream: DataFrame) -> DataFrame:
    # salting is a batch-shuffle concern; the streaming micro-batch already
    # bounds per-task work via maxFilesPerTrigger
    return pages_to_quads_fused(pages_stream, salt=False)


def start_incremental_quads(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Append new pages' quads to ``out_dir`` exactly once per input file."""
    q = quads_stream(read_pages_stream(spark, pages_dir))
    writer = (
        q.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_dedup_quads(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup: pages whose content hash was already seen
    within the watermark window are dropped BEFORE the (expensive) extract
    transform runs — Spark's stateful dropDuplicatesWithinWatermark keeps the
    seen-hash state store bounded by event time, so re-crawled unchanged
    pages (the dominant incremental case) cost one hash instead of a full
    toRdf pass. The reference's batch analogue is the content-hash skip
    (hash_check.go); this is its streaming-native formulation."""
    pages = read_pages_stream(spark, pages_dir)
    deduped = (
        pages.withColumn("content_hash", F.md5(F.col("html").cast("binary")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .drop("content_hash")
    )
    q = pages_to_quads_fused(deduped, salt=False)
    writer = (
        q.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_circuit_breaker(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    failure_threshold: int = 20,
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful operator (applyInPandasWithState): the streaming form
    of the batch circuit breaker (§2 #27, crawl_stats.dataset_down). Per-host
    success/failure counters accumulate in the state store across
    micro-batches; a host with zero successes and >= threshold failures is
    emitted as tripped. State is per host (bounded by the host universe, the
    same cardinality the batch groupBy shuffles on)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    pages = read_pages_stream(spark, pages_dir)
    ev = pages.select(
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        (F.length(F.col("html")) > 2).alias("ok"),
    ).filter(F.col("host").isNotNull())

    def update(key, pdfs, state):
        ok, fail = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            ok += int(pdf["ok"].sum())
            fail += int((~pdf["ok"]).sum())
        state.update((ok, fail))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "successes": [ok],
                "failures": [fail],
                "dataset_down": [ok == 0 and fail >= failure_threshold],
            }
        )

    out = ev.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, successes long, failures long, dataset_down boolean",
        stateStructType="ok long, fail long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_lineage(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked windowed lineage: pages per (host, event-time window);
    late arrivals within the watermark still count."""
    pages = read_pages_stream(spark, pages_dir)
    counts = (
        # try_parse_url like the batch path: malformed URLs become null-host
        # lineage rows instead of failing the streaming query under ANSI mode
        pages.withColumn("host", F.try_parse_url(F.col("url"), F.lit("HOST")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("host"))
        .agg(F.count("*").alias("urls_in"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "urls_in",
        )
    )
    writer = (
        counts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_graph_store(
    spark: SparkSession,
    pages_dir: str,
    store_root: str,
    checkpoint_dir: str,
    *,
    view_root: str | None = None,
    view_query: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """The continuously-fresh-KG loop: new page files -> fused
    extract->toRdf->skolemize -> ONE atomic GraphStore snapshot per
    micro-batch -> (optionally) an incremental refresh of a CONSTRUCT
    materialized view. Exactly-once effect: the file-source checkpoint
    never replays a completed batch, and a crash-replayed batch re-asserts
    quads the store's set-merge already holds (append_quads docstring) —
    the store view and the derived view are both idempotent under retry.

    Scale shape per batch: append is O(batch) with no store read; the
    view refresh reads only the window's delta files and delta-joins them
    against the store (matview module)."""
    from ..graphstore import GraphStore
    from ..matview import MaterializedView

    store = GraphStore(spark, store_root)
    view = (
        MaterializedView(store, view_root, view_query)
        if view_root and view_query else None
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        good = batch_df.filter(F.col("error_code").isNull()).select(
            "subj", "pred", "obj", "prov"
        )
        store.append_quads(good, stage=f"stream-batch-{batch_id}")
        if view is not None:
            view.refresh()

    q = quads_stream(
        read_pages_stream(
            spark, pages_dir, max_files_per_trigger=max_files_per_trigger
        )
    )
    writer = q.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
