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
differenced at the offsets — no per-row Python. Every graph writer
(``write_release``, ``write_release_deterministic_gzip``) is one Spark job: lines shuffled by
graph, sorted within each partition, and written by one ``mapInArrow`` task
writer that joins each graph's values-buffer slice with newlines
(``join_lines``) and sums exactly the bytes it writes. Each graph is one file,
written under a hidden attempt-unique name and renamed into its
partition-determined final name, so a retried or speculative attempt replaces
rather than duplicates it. The tasks write straight to the output directory:
like ``pull_release_graphs``, this assumes the driver and every executor see
one local or POSIX-shared filesystem.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions.bytesum import MASK64
from .graphpass import runs


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


def _utf8_buffers(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(ends, values)`` of a string array: its ``len + 1`` offsets (the
    array's slice offset applied) and its whole UTF-8 values buffer."""
    width = np.dtype(np.int64 if pa.types.is_large_string(texts.type) else np.int32)
    _, offsets, values = texts.buffers()
    ends = np.frombuffer(offsets, width, len(texts) + 1, texts.offset * width.itemsize)
    return ends, np.frombuffer(values or b"", np.uint8)


def utf8_bytesums(texts: pa.Array) -> pa.Array:
    """Sum of UTF-8 byte VALUES per string — the reference's order-agnostic
    hash kernel (hash.go:29-51 sums the bytes of each object's content).
    One uint64 ``cumsum`` over the values buffer, differenced at the
    offsets; honours the array's slice offset, and a null sums to 0."""
    if len(texts) == 0:
        return pa.array([], pa.int64())
    ends, values = _utf8_buffers(texts)
    prefix = np.zeros(values.size + 1, dtype=np.uint64)
    np.cumsum(values, dtype=np.uint64, out=prefix[1:])
    sums = prefix[ends[1:]] - prefix[ends[:-1]]
    if texts.null_count:
        # a null slot may still span bytes of the values buffer
        sums[texts.is_null().to_numpy(zero_copy_only=False)] = 0
    return pa.array(sums.view(np.int64))


def join_lines(lines: pa.Array) -> np.ndarray:
    """Release text of a null-free string array as uint8: every line's
    UTF-8 followed by a newline. The values-buffer slice the lines span,
    with one ``np.insert`` of a newline at every line end."""
    if len(lines) == 0:
        return np.zeros(0, np.uint8)
    ends, values = _utf8_buffers(lines)
    return np.insert(values[ends[0]:ends[-1]], ends[1:] - ends[0], 10)


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


_MANIFEST = pa.schema([("release_name", pa.string()), ("path", pa.string()),
                       ("lines", pa.int64()), ("bytesum", pa.int64())])

# characters Spark escapes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName)
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?\\\x7f{[]^')


def _partition_dir(name: str | None) -> str:
    """``release_name=<name>`` exactly as Spark's partitioned writer names
    it; a null (or empty) name is Hive's default partition."""
    if not name:
        return "release_name=__HIVE_DEFAULT_PARTITION__"
    return "release_name=" + "".join(
        f"%{ord(c):02X}" if c in _ESCAPED else c for c in name
    )


class _GraphFile:
    """One graph's output file: written under a hidden attempt-unique name
    and renamed to ``path`` when the ``with`` block completes (removed if it
    raises). Counts the lines and sums the uncompressed bytes written
    (uint64 wrap-around)."""

    def __init__(self, path, attempt, level):
        self.path, self.lines, self.bytesum = path, 0, 0
        folder, base = os.path.split(path)
        os.makedirs(folder, exist_ok=True)
        self.tmp = os.path.join(folder, f".{base}.{attempt}.tmp")
        self.level = level

    def __enter__(self):
        self.raw = open(self.tmp, "wb")
        self.fh = self.raw if self.level is None else gzip.GzipFile(
            filename="", mode="wb", fileobj=self.raw, compresslevel=self.level, mtime=0
        )
        return self

    def write(self, lines: pa.Array) -> None:
        data = join_lines(lines)
        self.fh.write(data)
        self.lines += len(lines)
        self.bytesum = (self.bytesum + int(data.sum(dtype=np.uint64))) & MASK64

    def __exit__(self, exc_type, *_):
        self.fh.close()
        self.raw.close()
        if exc_type is None:
            os.replace(self.tmp, self.path)
        else:
            os.remove(self.tmp)


def _write_graphs(lines: DataFrame, sort: tuple[str, ...], path_of, level) -> list[dict]:
    """Write every graph of ``(release_name, line)`` to one file in one Spark
    job: lines shuffled by graph, sorted by ``sort`` within each partition,
    each task writing the graphs it owns to ``path_of(name, partition)``
    (gzip at ``level``, plain text if None). Returns one manifest row per
    graph, ``bytesum`` unsigned."""
    def write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part, attempt = ctx.partitionId(), ctx.taskAttemptId()
        rows = []
        for name, parts in runs(batches):
            with _GraphFile(path_of(name, part), attempt, level) as out:
                for chunk in parts:
                    out.write(chunk.column(1))
            rows.append({"release_name": name, "path": out.path, "lines": out.lines,
                         # the uint64 sum's bits in a signed long
                         "bytesum": out.bytesum - (out.bytesum >> 63 << 64)})
        yield pa.RecordBatch.from_pylist(rows, schema=_MANIFEST)

    parallelism = lines.sparkSession.sparkContext.defaultParallelism
    rows = (
        lines.repartition(parallelism, "release_name")
        .sortWithinPartitions(*sort)
        .mapInArrow(write, "release_name string, path string, lines long, bytesum long")
        .collect()
    )
    return [{**r.asDict(), "bytesum": r["bytesum"] & MASK64} for r in rows]


def _write_partitioned(lines: DataFrame, graphs_dir: str, sort, compress: bool) -> list[dict]:
    """Replace ``graphs_dir`` with ``release_name=<name>/part-<partition>-<run>.txt``
    files in Spark's partitioned-text layout, one per graph, plus ``_SUCCESS``."""
    shutil.rmtree(graphs_dir, ignore_errors=True)
    run, ext = uuid.uuid4().hex, ".txt.gz" if compress else ".txt"

    def path_of(name, part):
        return os.path.join(graphs_dir, _partition_dir(name), f"part-{part:05d}-{run}{ext}")

    # level 6: the Hadoop gzip codec's default
    rows = _write_graphs(lines, sort, path_of, 6 if compress else None)
    os.makedirs(graphs_dir, exist_ok=True)
    open(os.path.join(graphs_dir, "_SUCCESS"), "wb").close()
    return rows


def write_release(quads: DataFrame, out_dir: str, *, compress: bool = False) -> list[dict]:
    """Write the release: ``graphs/release_name=<name>/part-*.txt`` (one
    file per release graph) and the bytesum sidecar
    ``bytesums/part-00000.json`` (one compact JSON object per graph; a null
    graph name has no ``release_name`` key and the
    ``__HIVE_DEFAULT_PARTITION__`` directory). Line order within a graph is
    deliberately unspecified, matching the reference's rationale for the
    order-agnostic hash. ``compress`` gzips the text files (level 6, zeroed
    mtime); unlike the reference's deterministic-gzip (helpers.go:57-68),
    compressed bytes are NOT the hashed artifact — the bytesum is always over
    the uncompressed line set (documented deviation, SURVEY §2 #37).

    Commit protocol: the driver clears ``graphs/`` and ``bytesums/``; one
    Spark job writes every graph (see ``_write_graphs``; each file is renamed
    into place by its task) and returns one manifest row per graph; the
    driver then writes the sidecar from those rows and ``_SUCCESS`` in both
    directories, with no further Spark job. Tasks write to ``out_dir``
    directly, so it must be on a filesystem the driver and every executor
    share (local or POSIX). Returns the manifest rows
    ``{release_name, path, lines, bytesum}``."""
    sums_dir = os.path.join(out_dir, "bytesums")
    shutil.rmtree(sums_dir, ignore_errors=True)
    rows = _write_partitioned(release_lines(quads), os.path.join(out_dir, "graphs"),
                              ("release_name",), compress)
    os.makedirs(sums_dir)
    with open(os.path.join(sums_dir, "part-00000.json"), "w", encoding="utf-8") as fh:
        for r in rows:
            # like Spark's JSON writer: a null name is left out, not null
            rec = {k: r[k] for k in ("release_name", "bytesum") if r[k] is not None}
            fh.write(json.dumps(rec, ensure_ascii=False, separators=(",", ":")) + "\n")
    open(os.path.join(sums_dir, "_SUCCESS"), "wb").close()
    return rows


def write_release_deterministic_gzip(quads: DataFrame, out_dir: str) -> list[dict]:
    """Deterministic-gzip release export — the full helpers.go:57-68
    semantics: one ``<release>.nq.gz`` per named release graph whose BYTES
    are reproducible across runs (lines in canonical sorted order, gzip
    header with zeroed mtime and OS=unknown, level 9). Spark's builtin gzip
    codec stamps wall-clock mtimes, so the shared task writer compresses with
    Python's gzip. Returns the manifest ``{release_name, path, lines,
    bytesum}`` per graph."""
    os.makedirs(out_dir, exist_ok=True)
    lines = release_lines(quads).filter(F.col("release_name").isNotNull())
    return _write_graphs(lines, ("release_name", "line"),
                         lambda name, _: os.path.join(out_dir, f"{name}.gz"), 9)


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

    def write_groups(batches):
        done = []
        for name, parts in runs(batches):
            with open(os.path.join(dest_dir, name), "wb") as fh:
                for chunk in parts:
                    fh.writelines(chunk.column(1).to_pylist())
            done.append(name)
        yield pa.RecordBatch.from_arrays([pa.array(done, pa.string())], ["release_name"])

    written = (
        files.repartition(F.col("release_name"))
        .sortWithinPartitions("release_name", "path")
        .select("release_name", "content")
        .mapInArrow(write_groups, "release_name string")
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

    def write_all(batches):
        seen: set[str] = set()
        with open(concat_path, "wb") as out:
            for rb in batches:
                out.writelines(rb.column("content").to_pylist())
                seen.update(rb.column("release_name").to_pylist())
        yield pa.RecordBatch.from_arrays([pa.array([len(seen)], pa.int64())], ["graphs"])

    rows = (
        files.repartition(1)
        .sortWithinPartitions("release_name", "path")
        .mapInArrow(write_all, "graphs long")
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
