"""Snapshot-table layer: atomic visibility, time travel, resume, vacuum —
the Iceberg-checkpoint semantics the north rule requires."""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nabu_spark.datagen import generate_pages
from nabu_spark.snapshots import SnapshotTable, run_pipeline_snapshots


@pytest.fixture()
def tbl(tmp_path):
    return SnapshotTable(str(tmp_path / "t"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _rows(quads):
    """Multiset of raw quad rows (a failure row has null terms)."""
    return Counter(
        map(tuple, quads.select("subj", "pred", "obj", "prov", "error_code").collect())
    )


class TestSnapshotTable:
    def test_commit_read_roundtrip(self, spark, tbl):
        v = tbl.commit(_df(spark, 0, 10), operation="overwrite", stage="s1")
        assert v == 1
        got = tbl.read(spark)
        assert got.count() == 10
        assert sorted(got.columns) == ["id", "v"]
        assert tbl.manifest()["row_count"] == 10

    def test_arrow_commit_appends_one_file_and_reads_with_schema(
            self, spark, tbl):
        """Driver-held rows commit as one pyarrow-written parquet file
        through the same manifest publish, and mix with Spark-written
        files under an explicit read schema."""
        import pyarrow as pa

        tbl.commit(_df(spark, 0, 10), operation="overwrite")
        v = tbl.commit(pa.table({"id": pa.array([10, 11], pa.int64()),
                                 "v": pa.array([20, 22], pa.int64())}),
                       stage="arrow")
        m = tbl.manifest(v)
        assert len(m["new_files"]) == 1 and m["row_count"] == 2
        assert os.path.basename(os.path.dirname(m["new_files"][0])
                                ).startswith("snap-")
        got = tbl.read(spark, schema="id long, v long")
        assert sorted(tuple(r) for r in got.collect()) == [
            (i, 2 * i) for i in range(12)]

    def test_append_creates_new_version_time_travel(self, spark, tbl):
        tbl.commit(_df(spark, 0, 10), operation="overwrite")
        tbl.commit(_df(spark, 10, 15), operation="append")
        assert tbl.latest_version() == 2
        assert tbl.read(spark).count() == 15
        assert tbl.read(spark, version=1).count() == 10  # time travel

    def test_overwrite_replaces_visible_set_history_survives(self, spark, tbl):
        tbl.commit(_df(spark, 0, 10), operation="overwrite")
        tbl.commit(_df(spark, 100, 103), operation="overwrite")
        assert tbl.read(spark).count() == 3
        assert tbl.read(spark, version=1).count() == 10
        hist = tbl.history()
        assert [h["version"] for h in hist] == [2, 1]

    def test_torn_write_invisible(self, spark, tbl):
        """Data files without a manifest (writer crashed pre-publish) never
        reach readers — the property a bare directory listing lacks."""
        tbl.commit(_df(spark, 0, 10), operation="overwrite")
        # simulate a crash: data lands, manifest never does
        crash_dir = os.path.join(tbl.data_dir, "snap-crashed")
        _df(spark, 50, 99).write.parquet(crash_dir)
        assert tbl.read(spark).count() == 10
        # fresh unreferenced dirs survive vacuum (a concurrent committer's
        # pre-publish write looks exactly like this) — Iceberg age guard
        assert tbl.vacuum() == []
        # once older than the retention threshold, the debris is reclaimed
        old = time.time() - 7200
        os.utime(crash_dir, (old, old))
        removed = tbl.vacuum()
        assert crash_dir in removed
        assert tbl.read(spark).count() == 10  # committed files untouched

    def test_rollback(self, spark, tbl):
        tbl.commit(_df(spark, 0, 10), operation="overwrite")
        tbl.commit(_df(spark, 0, 3), operation="overwrite")
        v = tbl.rollback(1)
        assert v == 3
        assert tbl.read(spark).count() == 10
        assert tbl.manifest()["metrics"]["rolled_back_to"] == 1

    def test_concurrent_commit_retries_and_keeps_both(self, spark, tbl):
        """Optimistic concurrency: a committer that loses the version race
        reparents onto the new head, so both appends land."""
        tbl.commit(_df(spark, 0, 5), operation="overwrite")

        original_publish = SnapshotTable._publish
        raced = {"done": False}

        def racing_publish(self, manifest, **kw):
            if not raced["done"]:
                raced["done"] = True
                # another writer lands v2 between our head-resolve and link
                other = SnapshotTable(self.root)
                original_publish(
                    other,
                    {
                        "operation": "append",
                        "stage": "racer",
                        "new_files": self.manifest(1)["files"],
                        "row_count": 5,
                        "metrics": {},
                        "committed_at": "now",
                    },
                )
            return original_publish(self, manifest, **kw)

        SnapshotTable._publish = racing_publish
        try:
            v = tbl.commit(_df(spark, 5, 8), operation="append")
        finally:
            SnapshotTable._publish = original_publish
        assert v == 3
        # racer duplicated v1's files as an append (5+5) plus ours (3)
        assert tbl.read(spark).count() == 13
        assert tbl.manifest()["parent"] == 2

    def test_read_missing_raises(self, spark, tbl):
        with pytest.raises(FileNotFoundError):
            tbl.read(spark)

    def test_reading_a_missing_table_creates_nothing(self, tmp_path):
        """A never-committed table reads as "no snapshot" and leaves no
        directory behind (a leftover one passes for a snapshot table); the
        first commit makes the layout. Spark-free: the commit is a pyarrow
        table."""
        import pyarrow as pa

        root = tmp_path / "missing" / "docs_tbl"
        tbl = SnapshotTable(str(root))
        with pytest.raises(FileNotFoundError):
            tbl.files()
        assert tbl.latest_version() is None and tbl.manifest() is None
        assert tbl.history() == [] and tbl.vacuum() == []
        assert not tbl.exists()
        assert not (tmp_path / "missing").exists()
        assert tbl.commit(pa.table({"id": pa.array([1], pa.int64())})) == 1
        assert sorted(os.listdir(root)) == ["data", "snapshots"]
        assert tbl.manifest()["row_count"] == 1

    def test_manifest_is_valid_json_with_exact_files(self, spark, tbl):
        tbl.commit(_df(spark, 0, 4), operation="overwrite")
        with open(tbl._manifest_path(1)) as fh:
            m = json.load(fh)
        assert all(f.endswith(".parquet") and os.path.exists(f) for f in m["files"])


class TestSnapshotPipeline:
    def test_full_run_then_resume_is_incremental(self, spark, tmp_path):
        out = str(tmp_path / "run")
        pages = generate_pages(spark, 60)
        res1 = run_pipeline_snapshots(spark, pages, out, salt=False)
        n_quads = res1["raw_quads"].count()
        assert n_quads > 0
        docs_tbl = res1["tables"]["docs"]
        quads_v1 = res1["tables"]["quads"].latest_version()

        n_lineage = res1["lineage"].count()

        # rerun over the same pages: nothing to do, no new snapshot
        res2 = run_pipeline_snapshots(spark, pages, out, salt=False)
        assert res2["tables"]["quads"].latest_version() == quads_v1
        assert res2["raw_quads"].count() == n_quads
        # lineage is recomputed + overwritten each run, never duplicated
        assert res2["lineage"].count() == n_lineage
        assert res2["tables"]["lineage"].manifest()["operation"] == "overwrite"

        # grow the input: only the delta is processed (append snapshot)
        more = generate_pages(spark, 80)
        res3 = run_pipeline_snapshots(spark, more, out, salt=False)
        assert res3["tables"]["quads"].latest_version() == quads_v1 + 1
        assert res3["docs"].count() == 80
        assert res3["raw_quads"].count() > n_quads
        appended = res3["tables"]["docs"].manifest()
        assert appended["operation"] == "append"
        assert docs_tbl.read(spark, version=1).count() == 60  # time travel

        # the resumed run holds exactly the rows of a fresh run over the
        # grown input, failure rows included
        fresh = run_pipeline_snapshots(
            spark, more, str(tmp_path / "fresh"), salt=False
        )
        assert _rows(res3["raw_quads"]) == _rows(fresh["raw_quads"])

    def test_failure_prov_matches_resume_key(self, spark):
        """Failure lineage rows carry the SAME prov the resume anti-join
        keys on — including obj_keys containing '//' (an empty sitemap-id
        segment produces 'summoned//<b64>.jsonld', which make_urn rejects;
        base64 of valid UTF-8 itself can never yield '//' — the sextet
        alignment puts '/' only at positions needing a 0xFF/0xFC+ byte)
        and keyless rows (deterministic sentinel). If any failure prov
        diverged from with_prov_key's output, the anti-join would
        re-append that failure on every resume."""
        from nabu_spark.operators.triples import docs_to_quads
        from nabu_spark.pipeline import with_prov_key

        docs = spark.createDataFrame(
            [
                ("https://ex.org/d1", "ex.org", "summoned//aGk=.jsonld", "{", None),
                ("https://ex.org/x", "ex.org", None, "{}", "no_jsonld"),
            ],
            "url string, host string, obj_key string, doc string, error_code string",
        )
        quads = docs_to_quads(docs)
        rows = quads.collect()
        assert all(r["error_code"] is not None for r in rows)
        assert all(r["prov"] is not None for r in rows)
        # resume: every docs row's prov key is already recorded -> no redo
        todo = with_prov_key(docs).join(
            quads.select("prov").distinct(), "prov", "left_semi"
        )
        assert todo.count() == docs.count()

    def test_quads_match_non_snapshot_pipeline(self, spark, tmp_path):
        """The staged tables hold the rows of the one-pass fused path,
        failure rows included."""
        from nabu_spark.pipeline import pages_to_quads_fused

        pages = generate_pages(spark, 40)
        staged = run_pipeline_snapshots(
            spark, pages, str(tmp_path / "snap"), salt=False
        )["raw_quads"]
        fused = pages_to_quads_fused(pages, salt=False)
        rows = _rows(staged)
        assert rows == _rows(fused)
        assert any(r[-1] is not None for r in rows)  # failure rows compared


class TestSnapCli:
    def test_run_history_rollback_vacuum(self, spark, tmp_path, capsys):
        import json

        from nabu_spark.cli import main

        pages_path = str(tmp_path / "pages")
        generate_pages(spark, 40).write.parquet(pages_path)
        out = str(tmp_path / "snaprun")

        rc = main(["snap", "run", "--pages", pages_path, "--out", out, "--no-salt"])
        assert rc == 0
        run_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        n_quads = SnapshotTable(os.path.join(out, "quads_tbl")).read(spark).count()
        assert run_out["versions"]["quads"] == 1
        assert run_out["quads"] == n_quads > 0

        rc = main(["snap", "history", "--out", out, "--table", "quads"])
        assert rc == 0
        hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [h["version"] for h in hist["history"]] == [1]

        rc = main(["snap", "rollback", "--out", out, "--table", "quads",
                   "--to-version", "1"])
        assert rc == 0
        rb = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rb["new_version"] == 2

        rc = main(["snap", "vacuum", "--out", out, "--table", "quads"])
        assert rc == 0
        vc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert vc["removed"] == 0  # nothing unreferenced after rollback
