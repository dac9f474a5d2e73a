"""Incrementally-maintained CONSTRUCT views (nabu_spark.matview).

The correctness gate is EQUIVALENCE: after every store mutation, the
refreshed view must equal a from-scratch sparql_query() of the same
CONSTRUCT over the store head — whichever mode (incremental/full) the
refresh chose. Mode choices themselves are pinned so the incremental
path is proven to actually run."""

import pytest

from nabu_spark.graphstore import GraphStore
from nabu_spark.matview import MaterializedView, _monotone_bgp
from nabu_spark.sparql import SparqlError, parse_sparql, sparql_query


BASE = [
    ("<urn:a>", "<urn:knows>", "<urn:b>", None),
    ("<urn:b>", "<urn:knows>", "<urn:c>", None),
    ("<urn:a>", "<urn:name>", '"A"', None),
    ("<urn:b>", "<urn:name>", '"B"', None),
]

# friend-of-friend view: 2-pattern join + a name lookup
VIEW_Q = """
    CONSTRUCT { ?x <urn:foaf> ?z . ?x <urn:label> ?n }
    WHERE { ?x <urn:knows> ?y . ?y <urn:knows> ?z .
            ?x <urn:name> ?n }
"""


def _store(spark, tmp_path, rows=BASE):
    st = GraphStore(spark, str(tmp_path / "store"))
    st.init(spark.createDataFrame(
        rows, "subj string, pred string, obj string, prov string"))
    return st


def _assert_matches_recompute(view: MaterializedView):
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(
        tuple(r) for r in
        sparql_query(view.store.read(), view.text, graph_col="prov").collect()
    )
    assert got == want, f"view diverged:\n view={got}\n full={want}"


class TestRefreshModes:
    def test_first_refresh_is_full_then_noop(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        assert mv.refresh()["mode"] == "full"
        _assert_matches_recompute(mv)
        assert mv.refresh()["mode"] == "noop"

    def test_insert_refreshes_incrementally(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        # c->d extends the chain: new foaf pairs need OLD ⋈ NEW cross terms
        st.update("""
            INSERT DATA { <urn:c> <urn:knows> <urn:d> .
                          <urn:c> <urn:name> "C" }
        """)
        res = mv.refresh()
        assert res["mode"] == "incremental"
        assert res["added"] > 0
        _assert_matches_recompute(mv)
        # b-knows-d via c is derivable only by joining an old quad
        # (b knows c) with a new one (c knows d)
        rows = {tuple(r) for r in mv.read().collect()}
        assert ("<urn:b>", "<urn:foaf>", "<urn:d>") in rows

    def test_reinserting_existing_quad_adds_nothing(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        st.update('INSERT DATA { <urn:a> <urn:knows> <urn:b> }')
        res = mv.refresh()
        assert res["mode"] == "incremental" and res["added"] == 0
        _assert_matches_recompute(mv)

    def test_delete_falls_back_to_full(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        st.update('DELETE DATA { <urn:b> <urn:knows> <urn:c> }')
        res = mv.refresh()
        assert res["mode"] == "full"
        _assert_matches_recompute(mv)
        assert mv.read().count() == 0  # the only foaf pair is gone

    def test_compact_inside_window_falls_back(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        st.compact()  # overwrite snapshot: file-set diff ≠ logical delta
        st.update('INSERT DATA { <urn:c> <urn:knows> <urn:a> }')
        res = mv.refresh()
        assert res["mode"] == "full"
        _assert_matches_recompute(mv)

    def test_nonmonotone_query_always_full(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(
            st, str(tmp_path / "view"),
            """CONSTRUCT { ?x <urn:lonely> "yes" }
               WHERE { ?x <urn:name> ?n
                       FILTER NOT EXISTS { ?x <urn:knows> ?y } }""",
        )
        mv.refresh()
        st.update('INSERT DATA { <urn:c> <urn:name> "C" }')
        res = mv.refresh()
        assert res["mode"] == "full"
        _assert_matches_recompute(mv)

    def test_filter_applies_on_incremental_path(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(
            st, str(tmp_path / "view"),
            """CONSTRUCT { ?x <urn:named> ?n }
               WHERE { ?x <urn:name> ?n FILTER(?n != "C") }""",
        )
        mv.refresh()
        st.update('INSERT DATA { <urn:c> <urn:name> "C" . '
                  '<urn:d> <urn:name> "D" }')
        res = mv.refresh()
        assert res["mode"] == "incremental" and res["added"] == 1
        _assert_matches_recompute(mv)


class TestMonotoneGate:
    def test_gate_classification(self):
        mono = parse_sparql(
            'CONSTRUCT { ?x <urn:p> ?y } WHERE { ?x <urn:q> ?y '
            'FILTER(?y != "z") }')
        assert _monotone_bgp(mono)
        for text in (
            # OPTIONAL
            'CONSTRUCT { ?x <urn:p> ?y } WHERE { ?x <urn:q> ?y '
            'OPTIONAL { ?x <urn:r> ?z } }',
            # property path
            'CONSTRUCT { ?x <urn:p> ?y } WHERE { ?x <urn:q>+ ?y }',
            # UNION
            'CONSTRUCT { ?x <urn:p> ?y } WHERE { { ?x <urn:q> ?y } '
            'UNION { ?x <urn:r> ?y } }',
            # LIMIT
            'CONSTRUCT { ?x <urn:p> ?y } WHERE { ?x <urn:q> ?y } LIMIT 3',
            # BIND feeding a later pattern
            'CONSTRUCT { ?x <urn:p> ?z } WHERE { ?x <urn:q> ?y . '
            'BIND(iri(concat(str(?y), "x")) AS ?w) . ?w <urn:r> ?z }',
        ):
            assert not _monotone_bgp(parse_sparql(text)), text

    def test_select_query_rejected(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        with pytest.raises(SparqlError, match="CONSTRUCT"):
            MaterializedView(st, str(tmp_path / "view"),
                             "SELECT ?s WHERE { ?s ?p ?o }")


class TestViewHistory:
    def test_view_snapshots_record_synced_version(self, spark, tmp_path):
        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        v0 = mv.synced_version()
        st.update('INSERT DATA { <urn:c> <urn:knows> <urn:d> . '
                  '<urn:c> <urn:name> "C" }')
        mv.refresh()
        assert mv.synced_version() == st.tbl.latest_version() > v0


class TestIncrementalPlanShape:
    def test_delta_side_broadcasts(self, spark, tmp_path):
        """100-TB invariant: the Σ_i expansion joins must broadcast the
        (small) delta relation — a shuffle of the store per refresh would
        defeat the point of incremental maintenance."""
        from nabu_spark.matview import _delta_solutions
        from nabu_spark.sparql import _SqlCompiler

        st = _store(spark, tmp_path)
        mv = MaterializedView(st, str(tmp_path / "view"), VIEW_Q)
        mv.refresh()
        v0 = mv.synced_version()
        st.update('INSERT DATA { <urn:c> <urn:knows> <urn:d> . '
                  '<urn:c> <urn:name> "C" }')
        head = st.tbl.latest_version()
        win = st.raw_window(v0, head)
        delta = (win.select("subj", "pred", "obj", "prov").distinct()
                 .hint("broadcast"))
        sol = _delta_solutions(mv.query, _SqlCompiler(
            spark, {"old": st.read(v0), "new": st.read(head),
                    "delta": delta}, "prov"))
        plan = sol._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        # and the correctness side: rows match a refresh's additions
        res = mv.refresh()
        assert res["mode"] == "incremental"
        _assert_matches_recompute(mv)
