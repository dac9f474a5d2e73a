"""RDFC-1.0 canonicalization: invariance properties, hard automorphism
cases, the advantage over one-degree skolem hashing, and the distributed
per-graph operator."""

from __future__ import annotations

import random
import uuid

import pytest
from hypothesis import given, settings, strategies as st

from nabu_spark.functions.rdfc import (
    CanonicalizationError,
    canonical_graph_hash,
    canonical_label_map,
    canonical_ntriples,
    canonicalize_triples,
)


def relabel(triples, mapping):
    def sub(t):
        return mapping.get(t, t)

    return [(sub(s), p, sub(o)) for s, p, o in triples]


class TestBasics:
    def test_single_bnode(self):
        t = [("_:x", "<urn:p>", '"v"')]
        assert canonical_label_map(t) == {"_:x": "c14n0"}
        assert canonical_ntriples(t) == '_:c14n0 <urn:p> "v" .\n'

    def test_no_bnodes_passthrough_sorted(self):
        t = [("<urn:b>", "<urn:p>", '"2"'), ("<urn:a>", "<urn:p>", '"1"')]
        assert canonicalize_triples(t) == sorted(t)

    def test_distinct_content_orders_by_hash(self):
        t = [("_:x", "<urn:p>", '"aaa"'), ("_:y", "<urn:p>", '"bbb"')]
        labels = canonical_label_map(t)
        assert sorted(labels.values()) == ["c14n0", "c14n1"]
        # labels are assigned by first-degree hash order, so swapping the
        # input order changes nothing
        assert canonical_label_map(list(reversed(t))) == labels

    def test_duplicate_triples_collapse(self):
        t = [("_:x", "<urn:p>", '"v"')] * 3
        assert canonical_ntriples(t) == '_:c14n0 <urn:p> "v" .\n'


class TestInvariance:
    CASES = [
        # chain of bnodes
        [("_:a", "<urn:p>", "_:b"), ("_:b", "<urn:p>", "_:c"),
         ("_:c", "<urn:q>", '"end"')],
        # two-cycle (automorphic pair resolved by n-degree + permutation)
        [("_:a", "<urn:p>", "_:b"), ("_:b", "<urn:p>", "_:a"),
         ("_:a", "<urn:n>", '"1"')],
        # symmetric star
        [("_:h", "<urn:p>", "_:l1"), ("_:h", "<urn:p>", "_:l2"),
         ("_:l1", "<urn:v>", '"x"'), ("_:l2", "<urn:v>", '"y"')],
        # disconnected components
        [("_:a", "<urn:p>", '"1"'), ("_:b", "<urn:q>", '"2"'),
         ("<urn:s>", "<urn:r>", "_:c"), ("_:c", "<urn:p>", '"3"')],
    ]

    @pytest.mark.parametrize("case", range(len(CASES)))
    def test_rename_and_shuffle_invariant(self, case):
        triples = self.CASES[case]
        base = canonical_ntriples(triples)
        rng = random.Random(case)
        bnodes = sorted({t for tr in triples for t in (tr[0], tr[2])
                         if t.startswith("_:")})
        for trial in range(10):
            names = [f"_:r{trial}_{i}" for i in range(len(bnodes))]
            rng.shuffle(names)
            mapping = dict(zip(bnodes, names))
            shuffled = relabel(triples, mapping)
            rng.shuffle(shuffled)
            assert canonical_ntriples(shuffled) == base, (case, trial)

    def test_nonisomorphic_graphs_hash_differently(self):
        a = [("_:a", "<urn:p>", "_:b"), ("_:b", "<urn:p>", "_:a")]
        b = [("_:a", "<urn:p>", "_:b"), ("_:b", "<urn:p>", "_:c"),
             ("_:c", "<urn:p>", "_:a")]
        assert canonical_graph_hash(a) != canonical_graph_hash(b)

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def test_random_graph_isomorphism_invariance(self, data):
        n = data.draw(st.integers(2, 5))
        bnodes = [f"_:b{i}" for i in range(n)]
        terms = bnodes + ["<urn:i1>", '"lit"']
        n_edges = data.draw(st.integers(1, 8))
        triples = list({
            (data.draw(st.sampled_from(bnodes)),
             data.draw(st.sampled_from(["<urn:p>", "<urn:q>"])),
             data.draw(st.sampled_from(terms)))
            for _ in range(n_edges)
        })
        base = canonical_ntriples(triples)
        # bijective renaming in a drawn permutation order
        perm = data.draw(st.permutations(bnodes))
        mapping = {old: f"_:x{i}" for i, old in enumerate(perm)}
        renamed = relabel(triples, mapping)
        random.Random(0).shuffle(renamed)
        assert canonical_ntriples(renamed) == base


class TestBeyondOneDegreeSkolem:
    def test_rename_invariance_where_one_degree_skolem_is_variant(self):
        """The reference-style one-degree context hash (functions/skolem.py)
        bakes RAW neighbor bnode labels into the preimage, so renaming a
        bnode changes its neighbors' skolem IRIs — required for reference
        parity, but not a canonical form. RDFC-1.0 is rename-invariant."""
        triples = [
            ("_:p1", "<urn:child>", "_:c1"),
            ("_:p2", "<urn:child>", "_:c2"),
            ("_:c1", "<urn:name>", '"left"'),
            ("_:c2", "<urn:name>", '"right"'),
        ]
        labels = canonical_label_map(triples)
        assert labels["_:p1"] != labels["_:p2"]
        assert len(set(labels.values())) == 4
        renamed = relabel(
            triples, {"_:p1": "_:zz1", "_:c1": "_:zz2",
                      "_:p2": "_:zz3", "_:c2": "_:zz4"}
        )
        assert canonical_ntriples(renamed) == canonical_ntriples(triples)

        from nabu_spark.functions.skolem import skolem_map_from_lines

        sk = skolem_map_from_lines([f"{s} {p} {o} ." for s, p, o in triples])
        sk_renamed = skolem_map_from_lines(
            [f"{s} {p} {o} ." for s, p, o in renamed]
        )
        # documented motivation: p1's skolem IRI moves when its CHILD is
        # renamed — the one-degree hash is not isomorphism-canonical
        assert sk["_:p1"] != sk_renamed["_:zz1"]

    def test_fully_automorphic_pair_gets_deterministic_labels(self):
        # a symmetric 2-cycle with identical attachments: truly automorphic,
        # any assignment is isomorphic — RDFC still picks ONE deterministically
        triples = [
            ("_:a", "<urn:p>", "_:b"),
            ("_:b", "<urn:p>", "_:a"),
        ]
        one = canonical_ntriples(triples)
        two = canonical_ntriples(relabel(triples, {"_:a": "_:q", "_:b": "_:z"}))
        assert one == two
        assert one == "_:c14n0 <urn:p> _:c14n1 .\n_:c14n1 <urn:p> _:c14n0 .\n"

    def test_blowup_guard(self):
        # complete directed graph over 12 identical bnodes: every node shares
        # the same first-degree hash -> permutation search would explode;
        # the guard raises instead of hanging
        nodes = [f"_:k{i}" for i in range(12)]
        triples = [(a, "<urn:p>", b) for a in nodes for b in nodes if a != b]
        with pytest.raises(CanonicalizationError):
            canonical_label_map(triples, max_degree=8)


class TestDistributedOperator:
    def test_canonical_quads_per_graph(self, spark):
        from nabu_spark.operators.graphops import canonical_quads

        rows = []
        # graph g0 and g1 are isomorphic (different bnode names/order),
        # g2 differs in content
        for gi, (b1, b2, val) in enumerate(
            [("_:x", "_:y", '"v"'), ("_:m", "_:n", '"v"'), ("_:x", "_:y", '"w"')]
        ):
            prov = f"<urn:g:{gi}>"
            rows += [
                (b1, "<urn:p>", b2, prov),
                (b2, "<urn:q>", val, prov),
            ]
        quads = spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string"
        )
        out = canonical_quads(quads).collect()
        by_prov = {}
        for r in out:
            by_prov.setdefault(r.prov, []).append(r)
        h = {p: rs[0].graph_sha256 for p, rs in by_prov.items()}
        assert h["<urn:g:0>"] == h["<urn:g:1>"]
        assert h["<urn:g:2>"] != h["<urn:g:0>"]
        subjects = {r.subj for r in by_prov["<urn:g:0>"]}
        assert subjects == {"_:c14n0", "_:c14n1"}
        assert all(r.error_code is None for r in out)

    def test_canonical_quads_match_the_local_canonical_form(
            self, spark, arrow_batches_of_two):
        """Per prov, the null-prov default graph included and whichever
        Arrow batches a graph spans, canonical_quads' rows are
        canonical_ntriples' lines in order and graph_sha256 is
        canonical_graph_hash."""
        from nabu_spark.operators.graphops import canonical_quads

        graphs = {
            "<urn:g:a>": [("_:x", "<urn:p>", "_:y"), ("_:y", "<urn:q>", '"v"'),
                          ("<urn:s>", "<urn:p>", "_:x")],
            "<urn:g:b>": [("_:k", "<urn:p>", "_:k"), ("<urn:s>", "<urn:q>", '"w"')],
            "<urn:g:c>": [("<urn:s>", "<urn:q>", '"w"')] * 2,
            None: [("_:d", "<urn:p>", "_:e"), ("_:e", "<urn:p>", "_:d"),
                   ("_:d", "<urn:q>", '"v"')],
        }
        quads = spark.createDataFrame(
            [(*t, g) for g, ts in graphs.items() for t in ts],
            "subj string, pred string, obj string, prov string",
        ).repartition(3)
        rows: dict[str, list] = {}
        for r in canonical_quads(quads).collect():
            rows.setdefault(r.prov, []).append(r)
        assert rows.keys() == graphs.keys()
        for g, ts in graphs.items():
            assert "".join(f"{r.subj} {r.pred} {r.obj} .\n" for r in rows[g]) == (
                canonical_ntriples(ts))
            assert {r.graph_sha256 for r in rows[g]} == {canonical_graph_hash(ts)}

    def test_blowup_becomes_error_row(self, spark):
        from nabu_spark.operators.graphops import canonical_quads

        nodes = [f"_:k{i}" for i in range(12)]
        rows = [(a, "<urn:p>", b, "<urn:g:bad>")
                for a in nodes for b in nodes if a != b]
        rows += [("_:a", "<urn:p>", '"fine"', "<urn:g:ok>")]
        quads = spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string"
        )
        out = canonical_quads(quads).collect()
        bad = [r for r in out if r.prov == "<urn:g:bad>"]
        ok = [r for r in out if r.prov == "<urn:g:ok>"]
        assert len(bad) == 1 and bad[0].error_code == "canon_blowup"
        assert len(ok) == 1 and ok[0].subj == "_:c14n0"


class TestSelfLoopsAndDuplicates:
    """Review-fix pins: the quad-mention map is a SET — self-loops and
    duplicate input triples must not double-serialize into the hashes."""

    def test_self_loop_canonicalizes(self):
        t = [("_:b", "<urn:p>", "_:b")]
        assert canonical_ntriples(t) == "_:c14n0 <urn:p> _:c14n0 .\n"
        # invariant under renaming, like every other graph
        assert canonical_ntriples([("_:zz", "<urn:p>", "_:zz")]) == \
            canonical_ntriples(t)

    def test_self_loop_hash_equals_manual_first_degree(self):
        # with the mention-set fix, the first-degree hash of _:b serializes
        # the self-loop quad ONCE: sha256('_:a <urn:p> _:a .\n')
        import hashlib

        expected = hashlib.sha256(b"_:a <urn:p> _:a .\n").hexdigest()
        from nabu_spark.functions.rdfc import _Canonicalizer

        c = _Canonicalizer([("_:b", "<urn:p>", "_:b")])
        assert c._hash_first_degree("_:b") == expected

    def test_duplicate_input_triples_do_not_change_hashes(self):
        base = [("_:x", "<urn:p>", "_:y"), ("_:y", "<urn:q>", '"v"')]
        assert canonical_graph_hash(base * 3) == canonical_graph_hash(base)


class TestBnodeModeExtraction:
    """docs_to_quads bnode_mode: rdfc labels run doc-locally inside the
    extraction Arrow pass (no extra shuffle), skolem stays the default."""

    def _docs(self, spark):
        doc = (
            '{"@context": {"name": "https://schema.org/name",'
            ' "child": {"@id": "https://schema.org/child", "@type": "@id"}},'
            ' "name": "parent", "child": {"name": "kid"}}'
        )
        return spark.createDataFrame(
            [("u", "h", "sm", "summoned/sm/aGtleQ==", doc, None)],
            "url string, host string, sitemap_id string, obj_key string, "
            "doc string, error_code string",
        )

    def test_rdfc_mode_labels(self, spark):
        import re as _re

        from nabu_spark.operators.triples import docs_to_quads

        out = docs_to_quads(self._docs(spark), bnode_mode="rdfc").collect()
        subjects = {r.subj for r in out}
        # doc-scoped canonical labels: _:g<12-hex dochash>c14nN
        assert any(_re.match(r"_:g[0-9a-f]{12}c14n\d+$", s) for s in subjects)
        assert not any((r.subj or "").startswith("<https://docs.geoconnex.us/nqhash/")
                       for r in out)
        # deterministic across runs
        again = docs_to_quads(self._docs(spark), bnode_mode="rdfc").collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_skolem_default_unchanged(self, spark):
        from nabu_spark.operators.triples import docs_to_quads

        out = docs_to_quads(self._docs(spark)).collect()
        assert any(
            (r.subj or "").startswith("<https://docs.geoconnex.us/nqhash/")
            for r in out
        )

    def test_bad_mode_rejected(self, spark):
        import pytest as _pytest

        from nabu_spark.operators.triples import docs_to_quads

        with _pytest.raises(ValueError):
            docs_to_quads(self._docs(spark), bnode_mode="nope")


class TestRdfcLabelScoping:
    def test_labels_do_not_collide_across_docs(self, spark):
        """Review-fix pin: two docs each produce canonical bnodes; the
        doc-hash scope keeps them distinct when graphs concatenate."""
        from nabu_spark.operators.triples import docs_to_quads

        doc = ('{"@context": {"name": "https://schema.org/name"},'
               ' "name": "thing"}')
        rows = [
            (f"u{i}", "h", "sm", f"summoned/sm/k{i}", doc, None)
            for i in range(2)
        ]
        docs = spark.createDataFrame(
            rows,
            "url string, host string, sitemap_id string, obj_key string, "
            "doc string, error_code string",
        )
        out = docs_to_quads(docs, bnode_mode="rdfc").collect()
        bnode_subjects = {r.subj for r in out if r.subj and r.subj.startswith("_:")}
        assert len(bnode_subjects) == 2  # same doc content, distinct scopes


class TestResumeModeGuard:
    DOC = ('{"@context": {"name": "https://schema.org/name"},'
           ' "name": "thing"}')

    def _docs(self, spark):
        return spark.createDataFrame(
            [("u", "h", "sm", "summoned/sm/k", self.DOC, None)],
            "url string, host string, sitemap_id string, obj_key string, "
            "doc string, error_code string",
        )

    @staticmethod
    def _refused(spark, tbl, docs, mode):
        """The stage refuses ``mode``, and refuses it before any Spark job."""
        from nabu_spark.snapshots import commit_quads

        sc = spark.sparkContext
        group = f"mode-guard-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bnode_mode refusal")
        try:
            with pytest.raises(ValueError, match="bnode_mode"):
                commit_quads(spark, tbl, docs, bnode_mode=mode)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    def test_resume_with_changed_mode_raises(self, spark, tmp_path):
        from nabu_spark.snapshots import SnapshotTable, commit_quads

        docs = self._docs(spark)
        tbl = SnapshotTable(str(tmp_path / "quads_tbl"))
        commit_quads(spark, tbl, docs)
        assert tbl.manifest()["metrics"]["bnode_mode"] == "skolem"
        self._refused(spark, tbl, docs, "rdfc")
        # same mode resumes fine, and has nothing left to commit
        commit_quads(spark, tbl, docs)
        assert tbl.latest_version() == 1
        # --no-resume overwrites under the new mode, and the manifest's
        # recorded mode is what the next resume is checked against
        commit_quads(spark, tbl, docs, resume=False, bnode_mode="rdfc")
        assert tbl.manifest()["metrics"]["bnode_mode"] == "rdfc"
        self._refused(spark, tbl, docs, "skolem")
        commit_quads(spark, tbl, docs, bnode_mode="rdfc")
        assert tbl.latest_version() == 2

    def test_unrecorded_mode_is_skolem(self, spark, tmp_path):
        from nabu_spark.operators.triples import docs_to_quads
        from nabu_spark.snapshots import SnapshotTable, commit_quads

        docs = self._docs(spark)
        tbl = SnapshotTable(str(tmp_path / "quads_tbl"))
        tbl.commit(docs_to_quads(docs), operation="overwrite",
                   stage="docs_to_quads", metrics={"seconds": 0.1})
        self._refused(spark, tbl, docs, "raw")
        commit_quads(spark, tbl, docs)
        assert tbl.latest_version() == 1
