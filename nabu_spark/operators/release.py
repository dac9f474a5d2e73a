"""Release-graph materialization: N-Quads text export, order-agnostic
bytesum sidecar, release-name routing, and bytesum-skip pull.

Reference semantics (studied, not copied):
  * release stream = concatenated N-Quads lines + a ``.bytesum`` sidecar
    (/root/reference/internal/synchronizer/client_release_graphs.go:192-321);
  * the bytesum exists precisely because S3 streaming has no stable order
    (docs/nabu_overview.md:21) -> it is a commutative sum and therefore an
    exact distributed aggregate here;
  * deterministic gzip (helpers.go:57-68) does not distribute; this engine
    hashes the uncompressed canonical line set instead (documented deviation);
  * pull-with-skip compares the stored sidecar against the computed sum and
    skips unchanged releases (s3/client.go:286-318).

Every release path builds its lines with one helper (``release_lines``,
JVM-side ``concat_ws``). Byte sums come from one Arrow-native kernel
(``utf8_bytesums``): a single ``cumsum`` over a batch's UTF-8 values buffer,
differenced at the offsets — no per-row Python. ``write_release`` evaluates
it once per line, writes each release graph from exactly one task (one part
file per graph) and sums the sidecar from the persisted line relation in a
JVM-only job.
"""

from __future__ import annotations

import gzip
import itertools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def with_release_name(quads: DataFrame) -> DataFrame:
    """Route each quad to its release file from the prov URN
    (urn:iow:summoned:{sitemap}:{key}) per helpers.go:29-52: the path after
    the bucket-class segment names the file."""
    # the split URN gets a projection of its own so it is computed once per
    # row: Spark does not collapse a non-trivial expression into the four
    # places that read it
    urn = quads.withColumn(
        "_urn", F.split(F.regexp_replace("prov", r"^<|>$", ""), ":")
    )
    prefix_class, sitemap = F.col("_urn").getItem(2), F.col("_urn").getItem(3)
    return urn.withColumn(
        "release_name",
        F.when(prefix_class == "summoned", F.concat(sitemap, F.lit("_release.nq")))
        .when(prefix_class == "prov", F.concat(sitemap, F.lit("_prov.nq")))
        .when(prefix_class == "orgs", F.lit("organizations.nq"))
        .otherwise(F.lit(None)),
    ).drop("_urn")


def release_lines(quads: DataFrame) -> DataFrame:
    """quads -> ``(release_name, line)``: the N-Quads text line of each quad
    and the release graph it belongs to."""
    return with_release_name(quads).select(
        "release_name",
        F.concat_ws(" ", "subj", "pred", "obj", "prov", F.lit(".")).alias("line"),
    )


def utf8_bytesums(texts: pa.Array) -> pa.Array:
    """Sum of UTF-8 byte VALUES per string — the reference's order-agnostic
    hash kernel (hash.go:29-51 sums the bytes of each object's content).
    One uint64 ``cumsum`` over the values buffer, differenced at the
    offsets; honours the array's slice offset, and a null sums to 0."""
    if len(texts) == 0:
        return pa.array([], pa.int64())
    width = np.dtype(np.int64 if pa.types.is_large_string(texts.type) else np.int32)
    _, offsets, values = texts.buffers()
    ends = np.frombuffer(offsets, width, len(texts) + 1, texts.offset * width.itemsize)
    prefix = np.zeros(values.size + 1, dtype=np.uint64)
    np.cumsum(np.frombuffer(values, np.uint8), dtype=np.uint64, out=prefix[1:])
    sums = prefix[ends[1:]] - prefix[ends[:-1]]
    if texts.null_count:
        # a null slot may still span bytes of the values buffer
        sums[texts.is_null().to_numpy(zero_copy_only=False)] = 0
    return pa.array(sums.view(np.int64))


def utf8_bytesum(col):
    """Arrow-native UTF-8 byte-value sum column (the release sidecar kernel;
    also used by the driver-contract ``bytesum`` query)."""
    return F.arrow_udf(utf8_bytesums, "long")(col)


def _bytesum_lines(quads: DataFrame) -> DataFrame:
    """``(release_name, line, b)``: each release line with its byte sum,
    +10 for the newline ending the line in the release stream."""
    return release_lines(quads).withColumn(
        "b", utf8_bytesum(F.col("line")) + F.lit(10)
    )


def _sum_by_release(lines: DataFrame) -> DataFrame:
    """Per-release sum of ``b`` (uint64 wrap-around). The signed Spark long
    wraps mod 2^64 identically; presented as unsigned."""
    signed = F.col("signed_sum").cast("decimal(20,0)")
    return (
        lines.groupBy("release_name")
        .agg(F.sum("b").alias("signed_sum"))
        .withColumn(
            "bytesum",
            F.when(F.col("signed_sum") >= 0, signed).otherwise(
                signed + F.expr("CAST('18446744073709551616' AS DECIMAL(21,0))")
            ),
        )
        .drop("signed_sum")
    )


def release_bytesums(quads: DataFrame) -> DataFrame:
    """Per-release bytesum sidecar values: ``(release_name, bytesum)``."""
    return _sum_by_release(_bytesum_lines(quads))


def write_release(quads: DataFrame, out_dir: str, *, compress: bool = False) -> None:
    """Write release text files (one directory per release graph, one part
    file each) + bytesum sidecars. Text lines are the canonical release
    content; ordering is deliberately unspecified, matching the reference's
    rationale for the order-agnostic hash. ``compress`` gzips the text parts;
    unlike the reference's deterministic-gzip (helpers.go:57-68), compressed
    bytes are NOT the hashed artifact — the bytesum is always over the
    uncompressed canonical line set (documented deviation, SURVEY §2 #37).
    Lines and byte sums are computed once, by the graph write; the sidecar
    job aggregates the persisted relation."""
    parallelism = quads.sparkSession.sparkContext.defaultParallelism
    lines = _bytesum_lines(quads).repartition(parallelism, "release_name").persist()
    try:
        writer = (lines.select("release_name", "line").write
                  .mode("overwrite").partitionBy("release_name"))
        if compress:
            writer = writer.option("compression", "gzip")
        writer.text(os.path.join(out_dir, "graphs"))
        _sum_by_release(lines).write.mode("overwrite").json(
            os.path.join(out_dir, "bytesums")
        )
    finally:
        lines.unpersist()


def write_release_canonical(quads: DataFrame, out_dir: str) -> None:
    """Canonical-ordering variant: one file per release graph with lines in
    lexicographic order (the skolemized graph has no blank labels left, so a
    plain sort IS its canonical serialization — the RDFC ordering concern is
    discharged by content-hash skolemization upstream). Deterministic bytes,
    suitable for file-level diffing; the order-agnostic bytesum still matches
    because addition commutes."""
    (
        release_lines(quads)
        .repartition(F.col("release_name"))
        .sortWithinPartitions("release_name", "line")
        .write.mode("overwrite")
        .partitionBy("release_name")
        .text(os.path.join(out_dir, "graphs_canonical"))
    )


def write_release_deterministic_gzip(quads: DataFrame, out_dir: str) -> list[dict]:
    """Deterministic-gzip release export — the full helpers.go:57-68
    semantics: one ``<release>.nq.gz`` per release graph whose BYTES are
    reproducible across runs (lines in canonical sorted order, gzip header
    with zeroed mtime and OS=unknown, max compression). Spark's builtin gzip
    codec stamps wall-clock mtimes, so each release is written by the task
    that owns its sorted partition via Python's gzip with ``mtime=0`` —
    distributed one-pass, same carry-over pattern as the SHACL evaluator.
    Returns the manifest [(release_name, path, lines)...]."""
    os.makedirs(out_dir, exist_ok=True)

    def write_groups(it):
        rows = ((name, line) for pdf in it
                for name, line in zip(pdf["release_name"], pdf["line"])
                if name is not None)
        out_rows = []
        for name, group in itertools.groupby(rows, key=lambda r: r[0]):
            path = os.path.join(out_dir, f"{name}.gz")
            n = 0
            with open(path, "wb") as raw, gzip.GzipFile(
                filename="", mode="wb", fileobj=raw, compresslevel=9, mtime=0
            ) as fh:
                for _, line in group:
                    fh.write(line.encode("utf-8") + b"\n")
                    n += 1
            out_rows.append({"release_name": name, "path": path, "lines": n})
        yield pd.DataFrame(out_rows, columns=["release_name", "path", "lines"])

    manifest = (
        release_lines(quads)
        .repartition(F.col("release_name"))
        .sortWithinPartitions("release_name", "line")
        .mapInPandas(write_groups, "release_name string, path string, lines long")
        .collect()
    )
    return [r.asDict() for r in manifest]


def _graph_part_files(spark, release_dir: str) -> DataFrame:
    """(release_name, path, content) for every graph part-file under
    ``release_dir/graphs`` — byte-exact parallel reads via the binaryFile
    source (one task per file, no driver I/O)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(release_dir, "graphs"))
        .select(
            F.regexp_extract("path", r"release_name=([^/]+)/", 1).alias(
                "release_name"
            ),
            "path",
            "content",
        )
    )


def pull_release_graphs(
    spark, release_dir: str, names: list[str], dest_dir: str
) -> int:
    """Distributed pull: stream every graph's part-files (sorted by path)
    into ``dest_dir/<release_name>`` in ONE Spark job — parallel binary
    reads, rows co-partitioned by graph, each task writing its graphs with
    carry-over across Arrow batches (the write_release_deterministic_gzip
    pattern). Replaces the reference's single-box driver copy loop
    (s3/client.go:503-589) with a shape that holds at 100 TB: no per-file
    driver round-trips, bytes move executor-side once."""
    if not names:
        return 0
    os.makedirs(dest_dir, exist_ok=True)
    files = _graph_part_files(spark, release_dir).filter(
        F.col("release_name").isin(list(names))
    )

    def write_groups(it):
        cur, fh, done = None, None, []
        for pdf in it:
            for name, content in zip(pdf["release_name"], pdf["content"]):
                if name != cur:
                    if fh is not None:
                        fh.close()
                        done.append(cur)
                    fh = open(os.path.join(dest_dir, name), "wb")
                    cur = name
                fh.write(content)
        if fh is not None:
            fh.close()
            done.append(cur)
        yield pd.DataFrame({"release_name": pd.Series(done, dtype="object")})

    written = (
        files.repartition(F.col("release_name"))
        .sortWithinPartitions("release_name", "path")
        .mapInPandas(write_groups, "release_name string")
        .collect()
    )
    return len(written)


def concat_release_file(
    spark, release_dir: str, names: list[str], concat_path: str
) -> int:
    """Whole-corpus bulk-load file: all listed graphs' part-files in
    (release_name, path) order through a single ordered writer task. The
    reads fan out across the cluster; the single final partition is inherent
    to producing one file (same as the reference's concat pull). Returns the
    number of distinct graphs that contributed bytes."""
    files = _graph_part_files(spark, release_dir).filter(
        F.col("release_name").isin(list(names)) if names else F.lit(False)
    )

    def write_all(it):
        seen: set[str] = set()
        with open(concat_path, "wb") as out:
            for pdf in it:
                for name, content in zip(pdf["release_name"], pdf["content"]):
                    out.write(content)
                    seen.add(name)
        yield pd.DataFrame({"graphs": [len(seen)]})

    rows = (
        files.repartition(1)
        .sortWithinPartitions("release_name", "path")
        .mapInPandas(write_all, "graphs long")
        .collect()
    )
    return rows[0]["graphs"] if rows else 0


def pull_skip_list(
    current: DataFrame, stored: DataFrame
) -> DataFrame:
    """Which releases to (re)download: compare computed bytesums against the
    stored sidecars; equal sum -> skip (MatchesWithLocalBytesum semantics).
    Inputs: (release_name, bytesum) both sides. Output adds ``skip``."""
    return (
        current.alias("c")
        .join(stored.alias("s"), "release_name", "left")
        .select(
            "release_name",
            F.col("c.bytesum").alias("bytesum"),
            (F.col("s.bytesum").isNotNull() & (F.col("c.bytesum") == F.col("s.bytesum"))).alias("skip"),
        )
    )
