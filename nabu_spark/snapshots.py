"""Snapshot-committed tables: a minimal Iceberg-style table format.

The north rule requires the pipeline to be "resumable from an
Iceberg-snapshot checkpoint so a killed run restarts at the last committed
partition". Plain ``_SUCCESS``-gated parquet directories approximate that,
but directory listing cannot distinguish a torn append from a committed one.
This module implements the actual Iceberg core property on top of parquet,
with no external dependency:

  * every commit writes data files into a fresh ``data/snap-<uuid>/``
    directory, THEN publishes a JSON manifest listing the table's exact
    file set via an atomic hard-link rename — readers resolve the manifest,
    never the directory, so a crashed writer is invisible;
  * manifests are versioned and immutable: appends create a new version
    whose file list extends the parent's, old versions stay readable
    (time travel), and ``rollback`` is just a new manifest pointing at an
    old file list;
  * concurrent committers race on the version-file creation (hard links
    fail atomically if the target exists) and retry against the new head —
    Iceberg's optimistic concurrency, scaled down;
  * ``vacuum`` deletes data directories no manifest references (crash
    leftovers / rolled-back snapshots).

On a real cluster the same call sites swap to ``format("iceberg")`` +
``MERGE INTO``; the semantics the pipeline depends on — atomic visibility,
last-committed-snapshot resume, per-snapshot lineage metrics — are identical
by construction. Reference parity: nabu's incremental hash-skip
(/root/reference/internal/crawl/hash_checks/hash_check.go:34-122) restarts
from what the object store already holds; here "what the store holds" is the
last committed snapshot rather than a bucket listing.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed the same version; retried past the limit."""


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "snapshots")

    # --- manifest plumbing ---------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:06d}.json")

    def _versions(self) -> list[int]:
        """Every published version; none when the table was never
        committed (its directories are made by the first commit, so a read
        of a missing table leaves nothing behind)."""
        if not os.path.isdir(self.manifest_dir):
            return []
        # int(name[1:-5]) — strip 'v' and '.json' — so versions beyond the
        # %06d-formatted width (>= 1000000) still resolve correctly
        return [
            int(name[1:-5])
            for name in os.listdir(self.manifest_dir)
            if name.startswith("v") and name.endswith(".json")
        ]

    def latest_version(self) -> int | None:
        return max(self._versions(), default=None)

    def manifest(self, version: int | None = None) -> dict | None:
        if version is None:
            version = self.latest_version()
            if version is None:
                return None
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        out = []
        v = self.latest_version()
        while v is not None:
            m = self.manifest(v)
            out.append(
                {
                    k: m[k]
                    for k in (
                        "version",
                        "parent",
                        "operation",
                        "stage",
                        "row_count",
                        "committed_at",
                        "metrics",
                    )
                }
            )
            v = m["parent"]
        return out

    def _publish(self, manifest: dict, *, max_retries: int = 20) -> int:
        """Atomically publish a manifest at the next free version via
        hard-link creation (fails if the version exists — the optimistic
        concurrency point). On collision, re-resolve the head, reparent,
        and retry."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        for _ in range(max_retries):
            head = self.latest_version()
            version = (head or 0) + 1 if head is not None else 1
            manifest = dict(manifest)
            manifest["version"] = version
            manifest["parent"] = head
            if manifest["operation"] == "append" and head is not None:
                parent_files = self.manifest(head)["files"]
                manifest["files"] = parent_files + manifest["new_files"]
            else:
                manifest["files"] = list(manifest["new_files"])
            tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, self._manifest_path(version))
                return version
            except FileExistsError:
                continue  # lost the race: reparent on the new head and retry
            finally:
                os.unlink(tmp)
        raise CommitConflict(
            f"could not commit after {max_retries} attempts at {self.root}"
        )

    # --- public API ----------------------------------------------------------

    def commit(
        self,
        df,
        *,
        operation: str = "append",
        stage: str | None = None,
        metrics: dict | None = None,
    ) -> int:
        """Write ``df``'s rows as parquet data files, then publish them in a
        new snapshot. Nothing is visible to readers until the manifest
        lands; a crash before that leaves only unreferenced data files
        (reclaimable with ``vacuum``).

        ``df`` is a Spark DataFrame (written by a Spark job) or a
        ``pyarrow.Table`` of rows already on the driver, written as ONE
        parquet file by ``pyarrow.parquet.write_table`` with no Spark job.
        Both land in a fresh ``snap-<uuid>`` directory and publish through
        the same manifest link."""
        if operation not in ("append", "overwrite"):
            raise ValueError(f"unknown operation {operation!r}")
        snap_dir = os.path.join(self.data_dir, f"snap-{uuid.uuid4().hex}")
        if isinstance(df, DataFrame):
            df.write.mode("overwrite").parquet(snap_dir)
        else:
            import pyarrow.parquet as pq

            os.makedirs(snap_dir)
            pq.write_table(df, os.path.join(snap_dir, "part-00000.parquet"))
        files = sorted(
            os.path.join(snap_dir, f)
            for f in os.listdir(snap_dir)
            if f.endswith(".parquet")
        )
        row_count = _parquet_rows(files)
        manifest = {
            "operation": operation,
            "stage": stage,
            "new_files": files,
            "row_count": row_count,
            "metrics": metrics or {},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        }
        return self._publish(manifest)

    def files(self, version: int | None = None) -> list[str]:
        """The exact data file list of ``version`` (default: latest
        committed); raises FileNotFoundError when there is none."""
        m = self.manifest(version)
        if m is None or not m["files"]:
            raise FileNotFoundError(
                f"no committed snapshot at {self.root}"
                + (f" version {version}" if version is not None else "")
            )
        return m["files"]

    def read(self, spark: SparkSession, version: int | None = None, *,
             schema=None) -> DataFrame:
        """The table at ``version`` (default: latest committed). Reads the
        manifest's exact file list — never a directory listing — so torn
        writes are invisible by construction. ``schema`` (a DDL string or
        StructType) skips parquet schema inference, which otherwise costs a
        footer-reading Spark job per read; columns match by name, and files
        written with a narrower integer type read widened."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*self.files(version))

    def exists(self) -> bool:
        return self.latest_version() is not None

    def rollback(self, version: int) -> int:
        """Publish a new snapshot whose file list equals an older one's —
        history stays intact (Iceberg rollback semantics)."""
        old = self.manifest(version)
        if old is None:
            raise FileNotFoundError(f"no snapshot v{version} at {self.root}")
        manifest = {
            "operation": "overwrite",
            "stage": old.get("stage"),
            "new_files": old["files"],
            "row_count": old["row_count"],
            # carry the target's metrics forward: sequence counters (e.g.
            # GraphStore's max_seq) must keep counting from the restored
            # state or later delta rows would lose the max_by merge
            "metrics": {**(old.get("metrics") or {}),
                        "rolled_back_to": version},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        }
        return self._publish(manifest)

    def vacuum(self, *, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data directories referenced by NO manifest (crash debris,
        discarded concurrent writes). Returns the removed directories.

        Only directories whose mtime is older than ``min_age_seconds`` are
        removed — Iceberg's orphan-file age guard: a concurrent committer's
        freshly written snap-<uuid> dir is unreferenced only for the window
        between its parquet write and its manifest publish, so an age gate
        keeps vacuum safe to run beside live commits."""
        if not os.path.isdir(self.data_dir):
            return []
        referenced: set[str] = set()
        for v in self._versions():
            for f in self.manifest(v)["files"]:
                referenced.add(os.path.dirname(f))
        removed = []
        import shutil

        cutoff = time.time() - min_age_seconds
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if full not in referenced and os.path.getmtime(full) < cutoff:
                shutil.rmtree(full)
                removed.append(full)
        return removed


def _parquet_rows(files: list[str]) -> int:
    """Row count from parquet footers — local metadata, no Spark job (the
    writer-side stats Iceberg keeps in its manifests)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# --- snapshot-committed pipeline ---------------------------------------------


def _commit_remainder(spark, tbl, rows, key, build, *, resume, stage, metrics):
    """Commit ``build(rows)`` for the rows whose ``key`` the table does not
    hold yet, as an append; with ``resume`` off or no committed snapshot,
    commit ``build`` of every row as an overwrite. Publishes nothing when no
    row is left."""
    t0 = time.monotonic()
    operation = "overwrite"
    if resume and tbl.exists():
        done = tbl.read(spark).select(key).distinct()
        rows = rows.join(done, key, "left_anti")
        if rows.isEmpty():
            return
        operation = "append"
    tbl.commit(
        build(rows),
        operation=operation,
        stage=stage,
        metrics={**metrics, "seconds": round(time.monotonic() - t0, 3)},
    )


def commit_docs(
    spark: SparkSession,
    docs_tbl: SnapshotTable,
    pages: DataFrame,
    *,
    resume: bool = True,
    salt: bool = True,
    extract: bool = True,
) -> DataFrame:
    """Docs stage: extract (``extract_docs``) the pages whose ``url`` the
    docs table does not hold yet and commit them; returns the committed docs
    table. ``extract=False`` takes ``pages`` as docs rows already (the bulk
    NDJSON source)."""
    from .operators.extract import extract_docs

    def build(todo: DataFrame) -> DataFrame:
        return extract_docs(todo, salt=salt) if extract else todo

    _commit_remainder(
        spark, docs_tbl, pages, "url", build,
        resume=resume, stage="extract", metrics={},
    )
    return docs_tbl.read(spark)


def commit_quads(
    spark: SparkSession,
    quads_tbl: SnapshotTable,
    docs: DataFrame,
    *,
    resume: bool = True,
    bnode_mode: str = "skolem",
) -> DataFrame:
    """Quads stage: ``docs_to_quads`` of the docs whose prov key
    (``pipeline.with_prov_key``) the quads table does not hold yet, failure
    rows included; returns the committed raw quads table. Each commit
    records ``bnode_mode`` in its manifest metrics, and a resume under
    another mode is refused before any Spark job runs (a table with no
    recorded mode holds ``skolem`` quads)."""
    from .operators.triples import docs_to_quads
    from .pipeline import with_prov_key

    if resume and quads_tbl.exists():
        prev_mode = quads_tbl.manifest()["metrics"].get("bnode_mode", "skolem")
        if prev_mode != bnode_mode:
            raise ValueError(
                f"quads table at {quads_tbl.root} was built with "
                f"bnode_mode={prev_mode!r}; resuming with "
                f"{bnode_mode!r} would mix blank-node conventions — "
                "use a fresh --out or --no-resume"
            )
    _commit_remainder(
        spark, quads_tbl, with_prov_key(docs), "prov",
        lambda todo: docs_to_quads(todo.drop("prov"), bnode_mode=bnode_mode),
        resume=resume, stage="docs_to_quads", metrics={"bnode_mode": bnode_mode},
    )
    return quads_tbl.read(spark)


def run_pipeline_snapshots(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    salt: bool = True,
) -> dict:
    """pages -> ``<out_dir>/docs_tbl`` (``commit_docs``) -> ``quads_tbl``
    (``commit_quads``), plus a ``lineage_tbl`` with one row per stage and
    host: (stage, partition_key, urls_in, triples_out, parse_failures,
    seconds). A killed run restarts from the last committed snapshot of
    each table (anti-join on what it already holds), exactly once per input
    row; ``harvest`` and ``release`` commit the same two tables."""
    from .operators.triples import failures_by_host, quads_only
    from pyspark.sql import functions as F

    docs_tbl = SnapshotTable(os.path.join(out_dir, "docs_tbl"))
    quads_tbl = SnapshotTable(os.path.join(out_dir, "quads_tbl"))
    lineage_tbl = SnapshotTable(os.path.join(out_dir, "lineage_tbl"))

    t0 = time.monotonic()
    docs = commit_docs(spark, docs_tbl, pages, salt=salt)
    t1 = time.monotonic()
    raw_quads = commit_quads(spark, quads_tbl, docs)
    t2 = time.monotonic()

    per_host = docs.groupBy(F.col("host").alias("partition_key")).agg(
        F.count("*").alias("urls_in"),
        F.count(F.when(F.col("error_code") != "", 1)).alias("parse_failures"),
    )
    extract_lineage = per_host.select(
        F.lit("extract").alias("stage"),
        "partition_key",
        "urls_in",
        F.lit(None).cast("long").alias("triples_out"),
        "parse_failures",
        F.lit(t1 - t0).alias("seconds"),
    )
    quads_lineage = (
        failures_by_host(raw_quads, stage="docs_to_quads")
        .join(per_host.select("partition_key", "urls_in"), "partition_key", "left")
        .withColumn("seconds", F.lit(t2 - t1))
        .select(*extract_lineage.columns)
    )
    # overwrite, not append: lineage is recomputed over the whole tables
    # each run, so appending would leave N duplicated copies after N resumes
    lineage_tbl.commit(
        extract_lineage.unionByName(quads_lineage),
        operation="overwrite",
        stage="lineage",
    )

    return {
        "docs": docs,
        "quads": quads_only(raw_quads),
        "raw_quads": raw_quads,
        "lineage": lineage_tbl.read(spark),
        "tables": {"docs": docs_tbl, "quads": quads_tbl, "lineage": lineage_tbl},
    }
