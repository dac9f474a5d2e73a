"""Release export (nq lines + bytesum sidecar + routing), crawl stats,
incremental skip / cleanup, and SHACL-lite validation."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from nabu_spark.datagen import generate_pages
from nabu_spark.functions.bytesum import bytesum_lines
from nabu_spark.operators.extract import extract_docs, with_object_key
from nabu_spark.operators.release import (
    pull_skip_list,
    release_bytesums,
    release_lines,
    with_release_name,
    write_release,
)
from nabu_spark.operators.stats import (
    cleanup_list,
    crawl_stats,
    duplicate_keys,
    incremental_skip,
)
from nabu_spark.operators.triples import docs_to_quads, quads_only
from nabu_spark.operators.validate import shacl_warnings, structural_check


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, 150).cache()
    docs = with_object_key(extract_docs(pages, salt=False)).cache()
    quads = quads_only(docs_to_quads(docs)).cache()
    return pages, docs, quads


def _check_release_files(quads, out, *, compress):
    """One part file per release graph; each sidecar equals the byte sum of
    its graph's uncompressed text, gzipped or not."""
    import gzip

    write_release(quads, out, compress=compress)
    graphs = glob.glob(os.path.join(out, "graphs", "release_name=*"))
    names = {r["release_name"] for r in release_lines(quads).select("release_name").distinct().collect()}
    assert {g.split("release_name=")[-1] for g in graphs} == names
    totals = {}
    for g in graphs:
        (part,) = glob.glob(os.path.join(g, "part-*"))
        assert part.endswith(".txt.gz" if compress else ".txt")
        with (gzip.open if compress else open)(part, "rb") as fh:
            totals[g.split("release_name=")[-1]] = sum(fh.read())
    sidecars = {}
    for f in glob.glob(os.path.join(out, "bytesums", "*.json")):
        for line in open(f):
            if line.strip():
                d = json.loads(line)
                sidecars[d["release_name"]] = int(d["bytesum"])
    assert sidecars == totals


class TestRelease:
    def test_release_routing(self, spark, corpus):
        _, _, quads = corpus
        named = with_release_name(quads)
        assert named.filter(F.col("release_name").isNull()).count() == 0
        sample = named.select("release_name").distinct().collect()
        assert all(r["release_name"].endswith("_release.nq") for r in sample)

    def test_bytesum_matches_local_oracle(self, spark, corpus):
        _, _, quads = corpus
        sums = {
            r["release_name"]: int(r["bytesum"])
            for r in release_bytesums(quads).collect()
        }
        named = release_lines(quads)
        for name, rows in {
            n: [r["line"] for r in named.filter(F.col("release_name") == n).collect()]
            for n in sums
        }.items():
            assert sums[name] == bytesum_lines(rows), name

    def test_write_release_roundtrip(self, spark, corpus, tmp_path):
        _check_release_files(corpus[2], str(tmp_path / "rel"), compress=False)

    def test_write_release_gzip_roundtrip(self, spark, corpus, tmp_path):
        _check_release_files(corpus[2], str(tmp_path / "rel"), compress=True)

    def test_canonical_release_is_sorted_and_deterministic(self, spark, corpus, tmp_path):
        from nabu_spark.operators.release import write_release_canonical

        _, _, quads = corpus
        out1 = str(tmp_path / "c1")
        out2 = str(tmp_path / "c2")
        write_release_canonical(quads, out1)
        write_release_canonical(quads.repartition(7), out2)  # different layout
        import glob as g

        def read_release(base):
            rel = {}
            for d in g.glob(os.path.join(base, "graphs_canonical", "release_name=*")):
                name = d.split("release_name=")[-1]
                lines = []
                for f in sorted(g.glob(os.path.join(d, "*.txt"))):
                    lines.extend(open(f).read().splitlines())
                rel[name] = lines
            return rel

        r1, r2 = read_release(out1), read_release(out2)
        assert r1 and r1.keys() == r2.keys()
        for name in r1:
            assert r1[name] == sorted(r1[name])  # canonical order
            assert r1[name] == r2[name]  # byte-deterministic across layouts

    def test_pull_skip(self, spark):
        cur = spark.createDataFrame(
            [("a.nq", 100), ("b.nq", 200), ("c.nq", 300)], "release_name string, bytesum long"
        )
        stored = spark.createDataFrame(
            [("a.nq", 100), ("b.nq", 999)], "release_name string, bytesum long"
        )
        got = {r["release_name"]: r["skip"] for r in pull_skip_list(cur, stored).collect()}
        assert got == {"a.nq": True, "b.nq": False, "c.nq": False}


class TestStats:
    def test_crawl_stats(self, spark, corpus):
        _, docs, _ = corpus
        stats = crawl_stats(docs).cache()
        total = stats.agg(
            F.sum("sites_in_sitemap"), F.sum("successful_sites"), F.sum("crawl_failures")
        ).first()
        assert total[0] == 150
        assert total[1] + total[2] == 150
        assert total[2] > 0  # generator plants failures
        # no sitemap is down (every host mixes good and bad pages)
        down = stats.filter(F.col("dataset_down")).count()
        assert down == 0

    def test_circuit_breaker_trips(self, spark):
        rows = [(f"u{i}", "dead_site", "err") for i in range(25)]
        docs = spark.createDataFrame(rows, "url string, sitemap_id string, error_code string")
        stats = crawl_stats(docs)
        assert stats.first()["dataset_down"] is True

    def test_duplicate_keys(self, spark):
        docs = spark.createDataFrame(
            [("u1", "k1"), ("u2", "k1"), ("u3", "k2")], "url string, obj_key string"
        )
        dups = duplicate_keys(docs).collect()
        assert len(dups) == 1 and dups[0]["obj_key"] == "k1" and dups[0]["n_docs"] == 2

    def test_incremental_skip(self, spark):
        new = spark.createDataFrame(
            [("k1", "same"), ("k2", "changed-new"), ("k3", "brand-new")],
            "obj_key string, doc string",
        )
        existing = spark.createDataFrame(
            [("k1", "same"), ("k2", "changed-old")], "obj_key string, doc string"
        )
        todo = {r["obj_key"] for r in incremental_skip(new, existing).collect()}
        assert todo == {"k2", "k3"}

    def test_cleanup(self, spark):
        stored = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "obj_key string")
        current = spark.createDataFrame([("k2",), ("k3",), ("k4",)], "obj_key string")
        gone = {r["obj_key"] for r in cleanup_list(stored, current).collect()}
        assert gone == {"k1"}


class TestValidate:
    def test_structural_check(self, spark, corpus):
        _, _, quads = corpus
        checks = structural_check(quads).cache()
        ok = checks.filter(F.col("shacl_ok")).count()
        bad = checks.filter(~F.col("shacl_ok")).count()
        assert ok > 0
        assert bad > 0  # untyped template docs fail the pre-check

    def test_warning_cap(self, spark, corpus):
        _, _, quads = corpus
        warn = shacl_warnings(quads, cap=3).collect()
        assert warn
        for r in warn:
            assert len(r["warning_sample"]) <= 3
            assert r["total_warnings"] >= len(r["warning_sample"])

    def test_full_shacl_gated(self, spark, corpus):
        from nabu_spark.operators.validate import full_shacl_available, full_shacl_validate

        if not full_shacl_available():
            _, docs, _ = corpus
            with pytest.raises(NotImplementedError):
                full_shacl_validate(docs, "")


class TestDeterministicGzip:
    def test_bytes_reproducible_across_runs(self, spark, tmp_path):
        """helpers.go:57-68 semantics: the gzipped release bytes are a pure
        function of the quad set — zeroed mtime, canonical line order."""
        import glob
        import gzip as _gzip
        import hashlib

        from nabu_spark.operators.release import write_release_deterministic_gzip

        rows = [
            (f"<https://d.org/{i}>", "<https://schema.org/name>",
             f'"doc {i}"', f"<urn:iow:summoned:sm{i % 3}:k{i}>")
            for i in range(60)
        ]
        digests = []
        for run in ("a", "b"):
            out = str(tmp_path / run)
            # reversed insertion order on the second run: canonical sort
            # must erase any input-order dependence
            data = rows if run == "a" else list(reversed(rows))
            quads = spark.createDataFrame(
                data, "subj string, pred string, obj string, prov string"
            ).repartition(7)
            manifest = write_release_deterministic_gzip(quads, out)
            assert {m["release_name"] for m in manifest} == {
                "sm0_release.nq", "sm1_release.nq", "sm2_release.nq"
            }
            files = sorted(glob.glob(out + "/*.gz"))
            digests.append(
                [hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files]
            )
            # content round-trips to the sorted line set
            with _gzip.open(files[0], "rt") as fh:
                lines = fh.read().splitlines()
            assert lines == sorted(lines) and len(lines) == 20
        assert digests[0] == digests[1]


class TestTrivialFilters:
    """SURVEY §2 #15 (name filter) and #28 (count per prefix) — trivial
    column expressions, pinned here so the coverage rows carry a test."""

    def test_name_filter_and_prefix_count(self, spark):
        keys = spark.createDataFrame(
            [("summoned/a/x.jsonld",), ("summoned/a/y.jsonld",),
             ("summoned/b/z.jsonld",), ("prov/a/x.jsonld",),
             ("orgs/acme.jsonld",)],
            "obj_key string",
        )
        # name filter: substring containment on the storage key
        assert keys.filter(F.col("obj_key").contains("/a/")).count() == 3
        # metadata-suffix exclusion composes with it
        assert (
            keys.filter(
                F.col("obj_key").contains("/a/")
                & ~F.col("obj_key").startswith("prov/")
            ).count()
            == 2
        )
        # count per prefix (ObjectCount semantics): startswith + count
        counts = {
            p: keys.filter(F.col("obj_key").startswith(p)).count()
            for p in ("summoned/", "prov/", "orgs/")
        }
        assert counts == {"summoned/": 3, "prov/": 1, "orgs/": 1}


class TestVoidStats:
    ROWS = [
        ("<urn:a>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<urn:C>"),
        ("<urn:b>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<urn:C>"),
        ("<urn:a>", "<urn:p>", '"x"'),
        ("<urn:a>", "<urn:p>", '"y"'),
    ]

    def test_stats_rows(self, spark):
        from nabu_spark.operators.stats import void_stats

        df = spark.createDataFrame(
            self.ROWS, "subj string, pred string, obj string")
        got = {(r.part, r.key): r.n for r in void_stats(df).collect()}
        assert got[("dataset", "triples")] == 4
        assert got[("dataset", "distinctSubjects")] == 2
        assert got[("dataset", "properties")] == 2
        assert got[("property", "<urn:p>")] == 2
        assert got[("class", "<urn:C>")] == 2

    def test_void_rdf_deterministic_and_linked(self, spark):
        from nabu_spark.operators.stats import void_triples

        df = spark.createDataFrame(
            self.ROWS, "subj string, pred string, obj string")
        a = sorted(tuple(r) for r in void_triples(df, "<urn:ds>").collect())
        b = sorted(tuple(r) for r in void_triples(df, "<urn:ds>").collect())
        assert a == b  # partition-node IRIs are content-derived, not bnodes
        # every partition node the dataset links to carries its key + count
        links = {o for s, p, o in a if p.endswith("Partition>")}
        subjects = {s for s, _, _ in a}
        assert links and links <= subjects
        assert ("<urn:ds>", "<http://rdfs.org/ns/void#triples>",
                '"4"^^<http://www.w3.org/2001/XMLSchema#integer>') in a
