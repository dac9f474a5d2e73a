"""RDFS-lite materialization (operators/reasoner.py)."""

from nabu_spark.operators.reasoner import (
    DOMAIN,
    RANGE,
    RDF_TYPE,
    SUBCLASS,
    SUBPROP,
    rdfs_materialize,
    transitive_closure,
)
from nabu_spark.session import driver_cap


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _run(spark, rows):
    return sorted(tuple(r) for r in rdfs_materialize(_df(spark, rows)).collect())


class TestRules:
    def test_hand_computed_closure(self, spark):
        rows = [
            ("<urn:C1>", SUBCLASS, "<urn:C2>"),
            ("<urn:C2>", SUBCLASS, "<urn:C3>"),
            ("<urn:p>", SUBPROP, "<urn:q>"),
            ("<urn:q>", SUBPROP, "<urn:r>"),
            ("<urn:p>", DOMAIN, "<urn:C1>"),
            ("<urn:r>", RANGE, "<urn:C2>"),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
            ("<urn:x>", RDF_TYPE, "<urn:C1>"),
            ("<urn:a>", "<urn:p>", '"lit"'),
        ]
        got = set(_run(spark, rows))
        # rdfs5/11 transitivity
        assert ("<urn:p>", SUBPROP, "<urn:r>") in got
        assert ("<urn:C1>", SUBCLASS, "<urn:C3>") in got
        # rdfs7 through the CLOSED hierarchy (p -> r directly)
        assert ("<urn:a>", "<urn:r>", "<urn:b>") in got
        # rdfs2 via derived property use; rdfs9 lifts it up the chain
        assert ("<urn:a>", RDF_TYPE, "<urn:C1>") in got
        assert ("<urn:a>", RDF_TYPE, "<urn:C3>") in got
        # rdfs3 on the derived r-triple; literal object excluded
        assert ("<urn:b>", RDF_TYPE, "<urn:C2>") in got
        assert not any(s == '"lit"' for s, _, _ in got)
        assert len(got) == 22  # full hand-enumerated closure size

    def test_idempotent(self, spark):
        rows = [
            ("<urn:C1>", SUBCLASS, "<urn:C2>"),
            ("<urn:p>", SUBPROP, "<urn:q>"),
            ("<urn:p>", DOMAIN, "<urn:C1>"),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
        ]
        once = rdfs_materialize(_df(spark, rows))
        twice = sorted(tuple(r) for r in rdfs_materialize(once).collect())
        assert twice == sorted(tuple(r) for r in once.collect())

    def test_cyclic_hierarchy_terminates(self, spark):
        rows = [
            ("<urn:C1>", SUBCLASS, "<urn:C2>"),
            ("<urn:C2>", SUBCLASS, "<urn:C1>"),
            ("<urn:x>", RDF_TYPE, "<urn:C1>"),
        ]
        got = set(_run(spark, rows))
        assert ("<urn:x>", RDF_TYPE, "<urn:C2>") in got
        assert ("<urn:C1>", SUBCLASS, "<urn:C1>") in got  # via the cycle

    def test_deep_chain_logarithmic_closure(self, spark):
        # 40-deep chain; both kernels must agree: the driver fast path
        # (vocabulary-sized) and the distributed pointer doubling
        rows = [(f"<urn:C{i}>", SUBCLASS, f"<urn:C{i+1}>") for i in range(40)]
        edges = _df(spark, rows).selectExpr("subj as child", "obj as parent")
        fast = sorted(tuple(r) for r in transitive_closure(edges).collect())
        with driver_cap(0):
            dist = sorted(tuple(r) for r in
                          transitive_closure(edges).collect())
        assert fast == dist
        assert len(fast) == 40 * 41 // 2

    def test_empty_edges_close_to_empty(self, spark):
        edges = spark.createDataFrame([], "child string, parent string")
        assert transitive_closure(edges).count() == 0


class TestStoreEntailment:
    def test_entail_update_reentail(self, spark, tmp_path):
        """GraphStore.entail maintains <urn:nabu:inference>: derived-only
        triples live there, queries see them via the union default graph,
        re-entailment after updates is exact (stale inferences retracted),
        and a no-op re-entail commits an empty delta."""
        from nabu_spark.graphstore import GraphStore

        st = GraphStore(spark, str(tmp_path / "store"))
        st.init(spark.createDataFrame(
            [("<urn:C1>", SUBCLASS, "<urn:C2>", None),
             ("<urn:x>", RDF_TYPE, "<urn:C1>", "<urn:g1>")],
            "subj string, pred string, obj string, prov string"))
        st.entail()
        inf = {(r.subj, r.pred, r.obj) for r in st.read().filter(
            "prov = '<urn:nabu:inference>'").collect()}
        assert inf == {("<urn:x>", RDF_TYPE, "<urn:C2>")}
        # SPARQL over the store sees the inferred type via union default
        got = st.query(
            "SELECT ?s WHERE { ?s "
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <urn:C2> }"
        ).collect()
        assert [r.s for r in got] == ["<urn:x>"]

        # update retracts the class edge -> the inference must disappear
        st.update(f"DELETE DATA {{ <urn:C1> "
                  f"<http://www.w3.org/2000/01/rdf-schema#subClassOf> "
                  f"<urn:C2> }}")
        st.entail()
        assert st.read().filter(
            "prov = '<urn:nabu:inference>'").count() == 0

        # idempotent: a second entail commits an empty delta
        v = st.entail()
        assert st.tbl.manifest(v)["row_count"] == 0


class TestOwlRlLite:
    """owl_rl_materialize: property + equality rules over the ρdf core."""

    @staticmethod
    def _owl(spark, rows, **kw):
        from nabu_spark.operators.reasoner import owl_rl_materialize
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string")
        return {tuple(r) for r in owl_rl_materialize(df, **kw).collect()}

    def test_inverse_and_symmetric(self, spark):
        from nabu_spark.operators.reasoner import (
            INVERSE_OF, SYMMETRIC,
        )
        got = self._owl(spark, [
            ("<urn:p>", INVERSE_OF, "<urn:q>"),
            ("<urn:r>", RDF_TYPE, SYMMETRIC),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
            ("<urn:c>", "<urn:q>", "<urn:d>"),
            ("<urn:e>", "<urn:r>", "<urn:f>"),
            ("<urn:a>", "<urn:p>", '"lit"'),
        ])
        assert ("<urn:b>", "<urn:q>", "<urn:a>") in got
        assert ("<urn:d>", "<urn:p>", "<urn:c>") in got      # both directions
        assert ("<urn:f>", "<urn:r>", "<urn:e>") in got
        assert not any(s == '"lit"' for s, _, _ in got)      # no literal subj

    def test_transitive_property(self, spark):
        from nabu_spark.operators.reasoner import TRANSITIVE
        got = self._owl(spark, [
            ("<urn:t>", RDF_TYPE, TRANSITIVE),
            ("<urn:a>", "<urn:t>", "<urn:b>"),
            ("<urn:b>", "<urn:t>", "<urn:c>"),
            ("<urn:c>", "<urn:t>", "<urn:d>"),
        ])
        for s, o in (("a", "c"), ("a", "d"), ("b", "d")):
            assert (f"<urn:{s}>", "<urn:t>", f"<urn:{o}>") in got

    def test_functional_merges_and_canonicalizes(self, spark):
        from nabu_spark.operators.reasoner import FUNCTIONAL, SAMEAS
        got = self._owl(spark, [
            ("<urn:f>", RDF_TYPE, FUNCTIONAL),
            ("<urn:x>", "<urn:f>", "<urn:n2>"),
            ("<urn:x>", "<urn:f>", "<urn:n1>"),
            ("<urn:n2>", "<urn:p>", "<urn:y>"),
        ])
        # n1 < n2 lexicographically -> n1 is canonical; n2's triple rewrites
        assert ("<urn:n2>", SAMEAS, "<urn:n1>") in got
        assert ("<urn:n1>", "<urn:p>", "<urn:y>") in got
        assert ("<urn:x>", "<urn:f>", "<urn:n1>") in got
        assert ("<urn:x>", "<urn:f>", "<urn:n2>") not in got  # canonicalized

    def test_inverse_functional(self, spark):
        from nabu_spark.operators.reasoner import INV_FUNCTIONAL, SAMEAS
        got = self._owl(spark, [
            ("<urn:k>", RDF_TYPE, INV_FUNCTIONAL),
            ("<urn:s1>", "<urn:k>", "<urn:o>"),
            ("<urn:s2>", "<urn:k>", "<urn:o>"),
        ])
        assert ("<urn:s2>", SAMEAS, "<urn:s1>") in got
        assert ("<urn:s1>", "<urn:k>", "<urn:o>") in got
        assert ("<urn:s2>", "<urn:k>", "<urn:o>") not in got

    def test_equivalent_property_and_class(self, spark):
        from nabu_spark.operators.reasoner import EQ_CLASS, EQ_PROP
        got = self._owl(spark, [
            ("<urn:p>", EQ_PROP, "<urn:q>"),
            ("<urn:C>", EQ_CLASS, "<urn:D>"),
            ("<urn:a>", "<urn:q>", "<urn:b>"),
            ("<urn:x>", RDF_TYPE, "<urn:C>"),
        ])
        assert ("<urn:a>", "<urn:p>", "<urn:b>") in got
        assert ("<urn:x>", RDF_TYPE, "<urn:D>") in got
        # mutual subsumption is itself entailed
        assert ("<urn:p>", SUBPROP, "<urn:q>") in got
        assert ("<urn:q>", SUBPROP, "<urn:p>") in got

    def test_rule_interaction_needs_second_round(self, spark):
        """A functional merge creates a sameAs that only then completes a
        transitive chain — exercises the outer fixpoint."""
        from nabu_spark.operators.reasoner import FUNCTIONAL, TRANSITIVE
        got = self._owl(spark, [
            ("<urn:t>", RDF_TYPE, TRANSITIVE),
            ("<urn:f>", RDF_TYPE, FUNCTIONAL),
            ("<urn:x>", "<urn:f>", "<urn:m1>"),
            ("<urn:x>", "<urn:f>", "<urn:m2>"),
            ("<urn:a>", "<urn:t>", "<urn:m2>"),
            ("<urn:m1>", "<urn:t>", "<urn:c>"),
        ])
        assert ("<urn:a>", "<urn:t>", "<urn:c>") in got

    def test_subsumes_rdfs_closure(self, spark):
        """On pure-RDFS input the OWL profile derives a superset of (here:
        exactly) the ρdf closure."""
        rows = [
            ("<urn:C1>", SUBCLASS, "<urn:C2>"),
            ("<urn:p>", SUBPROP, "<urn:q>"),
            ("<urn:p>", DOMAIN, "<urn:C1>"),
            ("<urn:r>", RANGE, "<urn:C2>"),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
        ]
        assert self._owl(spark, rows) == set(_run(spark, rows))

    def test_idempotent(self, spark):
        from nabu_spark.operators.reasoner import (
            FUNCTIONAL, INVERSE_OF, TRANSITIVE, owl_rl_materialize,
        )
        rows = [
            ("<urn:t>", RDF_TYPE, TRANSITIVE),
            ("<urn:p>", INVERSE_OF, "<urn:q>"),
            ("<urn:f>", RDF_TYPE, FUNCTIONAL),
            ("<urn:a>", "<urn:t>", "<urn:b>"),
            ("<urn:b>", "<urn:t>", "<urn:c>"),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
            ("<urn:x>", "<urn:f>", "<urn:u>"),
            ("<urn:x>", "<urn:f>", "<urn:v>"),
        ]
        once = owl_rl_materialize(spark.createDataFrame(
            rows, "subj string, pred string, obj string"))
        twice = {tuple(r) for r in owl_rl_materialize(once).collect()}
        assert twice == {tuple(r) for r in once.collect()}

    def test_store_entail_owl_profile(self, spark, tmp_path):
        from nabu_spark.graphstore import GraphStore
        from nabu_spark.operators.reasoner import INVERSE_OF
        st = GraphStore(spark, str(tmp_path / "store"))
        st.init(spark.createDataFrame(
            [("<urn:p>", INVERSE_OF, "<urn:q>", None),
             ("<urn:a>", "<urn:p>", "<urn:b>", "<urn:g1>")],
            "subj string, pred string, obj string, prov string"))
        st.entail(profile="owl-rl")
        inf = {(r.subj, r.pred, r.obj) for r in st.read().filter(
            "prov = '<urn:nabu:inference>'").collect()}
        assert ("<urn:b>", "<urn:q>", "<urn:a>") in inf
        got = st.query("SELECT ?s WHERE { ?s <urn:q> <urn:a> }").collect()
        assert [r.s for r in got] == ["<urn:b>"]
        import pytest as _pytest
        with _pytest.raises(ValueError):
            st.entail(profile="owl-full")


class TestOwlTwinAgreement:
    """The distributed OWL-RL path (driver_cap(0)) must agree exactly
    with the in-memory twin that serves as the small-graph fast path."""

    def _both(self, spark, rows):
        from nabu_spark.operators.reasoner import (
            owl_closure_local, owl_rl_materialize,
        )
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string")
        with driver_cap(0):
            dist = {tuple(r) for r in owl_rl_materialize(df).collect()}
        local = owl_closure_local(rows)
        assert dist == local, (f"extra={sorted(dist - local)[:5]} "
                               f"missing={sorted(local - dist)[:5]}")
        return dist

    def test_combined_fixture(self, spark):
        from nabu_spark.operators.reasoner import (
            EQ_PROP, FUNCTIONAL, INVERSE_OF, SYMMETRIC, TRANSITIVE,
        )
        self._both(spark, [
            ("<urn:t>", RDF_TYPE, TRANSITIVE),
            ("<urn:t>", INVERSE_OF, "<urn:t_inv>"),
            ("<urn:near>", RDF_TYPE, SYMMETRIC),
            ("<urn:f>", RDF_TYPE, FUNCTIONAL),
            ("<urn:p>", EQ_PROP, "<urn:q>"),
            ("<urn:p>", SUBPROP, "<urn:attr>"),
            ("<urn:p>", DOMAIN, "<urn:C>"),
            ("<urn:C>", SUBCLASS, "<urn:D>"),
            ("<urn:a>", "<urn:t>", "<urn:b>"),
            ("<urn:b>", "<urn:t>", "<urn:c>"),
            ("<urn:a>", "<urn:near>", "<urn:b>"),
            ("<urn:x>", "<urn:f>", "<urn:n1>"),
            ("<urn:x>", "<urn:f>", "<urn:n2>"),
            ("<urn:n2>", "<urn:p>", '"lit"'),
        ])

    def test_random_graphs(self, spark):
        import random

        from nabu_spark.operators.reasoner import (
            FUNCTIONAL, INVERSE_OF, SAMEAS, SYMMETRIC, TRANSITIVE,
        )
        rng = random.Random(23)
        preds = ["<urn:p1>", "<urn:p2>", "<urn:p3>"]
        nodes = [f"<urn:n{i}>" for i in range(8)]
        for _ in range(2):
            rows = [
                ("<urn:p1>", RDF_TYPE, rng.choice([TRANSITIVE, SYMMETRIC])),
                ("<urn:p2>", RDF_TYPE, FUNCTIONAL),
                ("<urn:p2>", INVERSE_OF, "<urn:p3>"),
                ("<urn:p3>", SUBPROP, "<urn:p1>"),
            ]
            for _ in range(rng.randint(5, 12)):
                rows.append((rng.choice(nodes), rng.choice(preds),
                             rng.choice(nodes + ['"v"'])))
            if rng.random() < 0.5:
                rows.append((nodes[0], SAMEAS, nodes[1]))
            self._both(spark, rows)


class TestRdfsTwinAgreement:
    def test_distributed_equals_local(self, spark):
        from nabu_spark.operators.reasoner import (
            rdfs_closure_local, rdfs_materialize,
        )
        rows = [
            ("<urn:C1>", SUBCLASS, "<urn:C2>"),
            ("<urn:C2>", SUBCLASS, "<urn:C3>"),
            ("<urn:p>", SUBPROP, "<urn:q>"),
            ("<urn:q>", SUBPROP, "<urn:r>"),
            ("<urn:p>", DOMAIN, "<urn:C1>"),
            ("<urn:r>", RANGE, "<urn:C2>"),
            ("<urn:a>", "<urn:p>", "<urn:b>"),
            ("<urn:x>", RDF_TYPE, "<urn:C1>"),
            ("<urn:a>", "<urn:p>", '"lit"'),
        ]
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string")
        with driver_cap(0):
            dist = {tuple(r) for r in rdfs_materialize(df).collect()}
        fast = {tuple(r) for r in rdfs_materialize(df).collect()}
        local = rdfs_closure_local(rows)
        assert dist == local == fast


class TestIncrementalEntail:
    """entail(incremental=True): semi-naive maintenance from the append
    window, with every unsound condition falling back to full recompute."""

    SCHEMA = [
        ("<urn:C1>", SUBCLASS, "<urn:C2>", None),
        ("<urn:p>", SUBPROP, "<urn:q>", None),
        ("<urn:p>", DOMAIN, "<urn:C1>", None),
    ]

    def _store(self, spark, tmp_path, name="store"):
        from nabu_spark.graphstore import GraphStore

        st = GraphStore(spark, str(tmp_path / name))
        st.init(spark.createDataFrame(
            self.SCHEMA + [("<urn:a>", "<urn:p>", "<urn:b>", "<urn:g1>")],
            "subj string, pred string, obj string, prov string"))
        return st

    @staticmethod
    def _mode(st, v):
        return st.tbl.manifest(v)["metrics"].get("entail_mode")

    @staticmethod
    def _inf(st):
        from pyspark.sql import functions as F
        return {(r.subj, r.pred, r.obj) for r in st.read().filter(
            F.col("prov") == "<urn:nabu:inference>").collect()}

    def test_incremental_equals_full(self, spark, tmp_path):
        st = self._store(spark, tmp_path, "inc")
        st.entail()
        st.update("INSERT DATA { GRAPH <urn:g2> "
                  "{ <urn:c> <urn:p> <urn:d> } }")
        v = st.entail(incremental=True)
        assert self._mode(st, v) == "incremental"

        full = self._store(spark, tmp_path, "full")
        full.update("INSERT DATA { GRAPH <urn:g2> "
                    "{ <urn:c> <urn:p> <urn:d> } }")
        full.entail()
        assert self._inf(st) == self._inf(full)
        # the new doc's inferences actually landed
        assert ("<urn:c>", RDF_TYPE, "<urn:C2>") in self._inf(st)

        # chain a second incremental on top of the first
        st.update("INSERT DATA { <urn:e> <urn:p> <urn:f> }")
        v2 = st.entail(incremental=True)
        assert self._mode(st, v2) == "incremental"
        assert ("<urn:e>", RDF_TYPE, "<urn:C2>") in self._inf(st)

    def test_noop_window_commits_empty_delta(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        st.entail()
        v = st.entail(incremental=True)
        assert self._mode(st, v) == "incremental"
        assert st.tbl.manifest(v)["row_count"] == 0

    def test_schema_delta_falls_back_to_full(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        st.entail()
        st.update("INSERT DATA { <urn:C2> "
                  "<http://www.w3.org/2000/01/rdf-schema#subClassOf> "
                  "<urn:C3> }")
        v = st.entail(incremental=True)
        assert self._mode(st, v) is None  # full path ran
        # old data re-derived through the NEW schema edge
        assert ("<urn:a>", RDF_TYPE, "<urn:C3>") in self._inf(st)

    def test_delete_window_falls_back_and_retracts(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        st.entail()
        assert ("<urn:a>", RDF_TYPE, "<urn:C2>") in self._inf(st)
        st.update("DELETE DATA { GRAPH <urn:g1> "
                  "{ <urn:a> <urn:p> <urn:b> } }")
        v = st.entail(incremental=True)
        assert self._mode(st, v) is None
        assert ("<urn:a>", RDF_TYPE, "<urn:C2>") not in self._inf(st)

    def test_no_prior_entail_falls_back(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        v = st.entail(incremental=True)
        assert self._mode(st, v) is None
        assert ("<urn:a>", RDF_TYPE, "<urn:C2>") in self._inf(st)

    def test_window_asserting_an_inference_retracts_it(self, spark, tmp_path):
        """A triple the append window newly asserts must leave the
        inference graph (exactly derived-but-NOT-asserted), same as a
        full re-entail would."""
        st = self._store(spark, tmp_path, "retract")
        st.entail()
        assert ("<urn:a>", "<urn:q>", "<urn:b>") in self._inf(st)
        st.update("INSERT DATA { GRAPH <urn:g2> "
                  "{ <urn:a> <urn:q> <urn:b> } }")
        v = st.entail(incremental=True)
        assert self._mode(st, v) == "incremental"
        assert ("<urn:a>", "<urn:q>", "<urn:b>") not in self._inf(st)

        full = self._store(spark, tmp_path, "retract_full")
        full.update("INSERT DATA { GRAPH <urn:g2> "
                    "{ <urn:a> <urn:q> <urn:b> } }")
        full.entail()
        assert self._inf(st) == self._inf(full)


class TestOwlLiteralSameas:
    def test_literal_object_sameas_is_kept_as_data(self, spark):
        from nabu_spark.operators.reasoner import (
            SAMEAS, owl_closure_local, owl_rl_materialize,
        )
        rows = [
            ("<urn:x>", SAMEAS, '"v"'),
            ("<urn:b>", SAMEAS, "<urn:a>"),
            ("<urn:b>", "<urn:p>", "<urn:c>"),
        ]
        local = owl_closure_local(rows)
        # literal-object assertion survives; IRI sameAs folds to mapping;
        # subjects rewrite onto the canonical member
        assert ("<urn:x>", SAMEAS, '"v"') in local
        assert ("<urn:b>", SAMEAS, "<urn:a>") in local
        assert ("<urn:a>", "<urn:p>", "<urn:c>") in local
        assert ("<urn:b>", "<urn:p>", "<urn:c>") not in local
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string")
        with driver_cap(0):
            dist = {tuple(r) for r in owl_rl_materialize(df).collect()}
        assert dist == local
