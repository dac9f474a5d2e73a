"""SPARQL 1.1 Update engine + snapshot graph store.

Every case runs the DataFrame backend and, where the twin supports it
(everything but LOAD), cross-checks `apply_update_local` — two independent
implementations of one documented semantics."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from nabu_spark.graphstore import (
    GraphStore,
    SparqlError,
    apply_update,
    apply_update_local,
    parse_update,
)
from nabu_spark.session import driver_cap

def _store(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, prov string"
    )


BASE = [
    ("<urn:a>", "<urn:p>", '"1"', None),
    ("<urn:a>", "<urn:q>", "<urn:b>", None),
    ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>"),
    ("<urn:c>", "<urn:p>", '"3"', "<urn:g1>"),
    ("<urn:c>", "<urn:q>", "<urn:a>", "<urn:g2>"),
]


def _key(t):
    return tuple("" if x is None else x for x in t)


def _run(spark, rows, text):
    """Both backends; assert agreement; return the sorted quad list."""
    df = apply_update(_store(spark, rows), text)
    got = sorted((tuple(r) for r in df.collect()), key=_key)
    loc = sorted(apply_update_local(rows, text), key=_key)
    assert got == loc, f"backend divergence:\n df={got}\n local={loc}"
    return got


class TestUpdateData:
    def test_insert_data_default_and_named(self, spark):
        got = _run(spark, BASE, """
            INSERT DATA { <urn:d> <urn:p> "4" .
                          GRAPH <urn:g1> { <urn:d> <urn:p> "5" } }
        """)
        assert ("<urn:d>", "<urn:p>", '"4"', None) in got
        assert ("<urn:d>", "<urn:p>", '"5"', "<urn:g1>") in got
        assert len(got) == len(BASE) + 2

    def test_insert_data_idempotent_set_semantics(self, spark):
        got = _run(spark, BASE, 'INSERT DATA { <urn:a> <urn:p> "1" }')
        assert got == sorted(BASE, key=_key)

    def test_delete_data(self, spark):
        got = _run(spark, BASE, """
            DELETE DATA { <urn:a> <urn:p> "1" .
                          GRAPH <urn:g1> { <urn:b> <urn:p> "2" } }
        """)
        assert ("<urn:a>", "<urn:p>", '"1"', None) not in got
        assert ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>") not in got
        assert len(got) == len(BASE) - 2

    def test_delete_data_absent_quad_is_noop(self, spark):
        got = _run(spark, BASE, 'DELETE DATA { <urn:zz> <urn:p> "9" }')
        assert got == sorted(BASE, key=_key)

    def test_insert_data_bnode_fresh_and_deterministic(self, spark):
        upd = "INSERT DATA { _:x <urn:p> _:x . _:x <urn:q> _:y }"
        got = _run(spark, [], upd)
        subs = {s for s, p, o, g in got}
        # _:x is one fresh node shared across the op; _:y another
        assert len(got) == 2 and len(subs) == 1
        assert all(s.startswith("_:u") for s in subs)
        # deterministic across runs
        assert got == _run(spark, [], upd)

    def test_delete_data_rejects_bnodes_and_vars(self, spark):
        with pytest.raises(SparqlError):
            parse_update("DELETE DATA { _:b <urn:p> <urn:o> }")
        with pytest.raises(SparqlError):
            parse_update("DELETE DATA { ?s <urn:p> <urn:o> }")
        with pytest.raises(SparqlError):
            parse_update("INSERT DATA { ?s <urn:p> <urn:o> }")


class TestModify:
    def test_delete_insert_where(self, spark):
        got = _run(spark, BASE, """
            DELETE { ?s <urn:p> ?o } INSERT { ?s <urn:p2> ?o }
            WHERE { ?s <urn:p> ?o }
        """)
        # bare templates scope to the DEFAULT graph: the default-graph
        # <urn:p> quad is rewritten, named-graph ones stay where they are —
        # but the WHERE matched all graphs, so every subject gains a
        # default-graph <urn:p2> quad
        assert ("<urn:a>", "<urn:p>", '"1"', None) not in got
        assert ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>") in got
        assert ("<urn:a>", "<urn:p2>", '"1"', None) in got
        assert ("<urn:b>", "<urn:p2>", '"2"', None) in got

    def test_where_values_bind_as_parameters(self, spark):
        """Quotes, backslashes, comment and statement marks, formatter
        braces and parameter markers in a WHERE match literally."""
        lits = ['"it\'s"', '"say \\"hi\\""', '"back\\\\slash"',
                '"a -- b; c"', '"{q}"', '"{{"', '":t0 ?"']
        rows = BASE + [(f"<urn:n{i}>", "<urn:v>", lit, None)
                       for i, lit in enumerate(lits)]
        for lit in lits:
            got = _run(spark, rows, f"""
                DELETE {{ ?s <urn:v> ?o }} INSERT {{ ?s <urn:w> {lit} }}
                WHERE {{ ?s <urn:v> ?o FILTER(?o = {lit}) }}""")
            assert sum(p == "<urn:w>" and o == lit
                       for _, p, o, _ in got) == 1, lit
        got = _run(spark, rows, (
            "INSERT { ?s <urn:hit> ?o } WHERE { VALUES ?o { "
            + " ".join(lits) + ' } ?s <urn:v> ?o FILTER(REGEX(STR(?o), '
            '"^[a-z]{2}")) }'))
        assert {o for _, p, o, _ in got if p == "<urn:hit>"} == {
            lits[0], lits[1], lits[2]}

    def test_with_scopes_where_and_templates(self, spark):
        got = _run(spark, BASE, """
            WITH <urn:g1> DELETE { ?s <urn:p> ?o } INSERT { ?s <urn:p2> ?o }
            WHERE { ?s <urn:p> ?o }
        """)
        # default-graph <urn:a> untouched; g1 rows rewritten inside g1
        assert ("<urn:a>", "<urn:p>", '"1"', None) in got
        assert ("<urn:b>", "<urn:p2>", '"2"', "<urn:g1>") in got
        assert ("<urn:c>", "<urn:p2>", '"3"', "<urn:g1>") in got
        assert not any(p == "<urn:p>" and g == "<urn:g1>"
                       for _, p, _, g in got)

    def test_delete_where_shorthand_with_graph_var(self, spark):
        got = _run(spark, BASE, "DELETE WHERE { GRAPH ?g { ?s <urn:p> ?o } }")
        assert ("<urn:a>", "<urn:p>", '"1"', None) in got  # default kept
        assert not any(g is not None and p == "<urn:p>"
                       for _, p, _, g in got)

    def test_insert_where_with_filter_and_graph_template(self, spark):
        got = _run(spark, BASE, """
            INSERT { GRAPH <urn:out> { ?s <urn:flag> "hit" } }
            WHERE { ?s <urn:p> ?o . FILTER(?o != "1") }
        """)
        flagged = {s for s, p, o, g in got if g == "<urn:out>"}
        assert flagged == {"<urn:b>", "<urn:c>"}

    def test_unbound_template_var_skips_quad(self, spark):
        got = _run(spark, BASE, """
            INSERT { ?s <urn:v> ?v . ?s <urn:seen> "y" }
            WHERE { ?s <urn:p> ?o . OPTIONAL { ?s <urn:q> ?v } }
        """)
        # ?v binds for <urn:a> and (via the g2 quad — WHERE is
        # union-default-graph) <urn:c>; the ?v quad is skipped for
        # <urn:b>, whose ?s-only quad still instantiates
        assert ("<urn:a>", "<urn:v>", "<urn:b>", None) in got
        assert ("<urn:c>", "<urn:v>", "<urn:a>", None) in got
        assert not any(p == "<urn:v>" and s == "<urn:b>"
                       for s, p, _, _ in got)
        assert sum(1 for _, p, _, _ in got if p == "<urn:seen>") == 3

    def test_literal_in_subject_position_skipped(self, spark):
        got = _run(spark, BASE, """
            INSERT { ?o <urn:rev> ?s } WHERE { ?s <urn:p> ?o }
        """)
        # all <urn:p> objects are literals -> every instantiation skipped
        assert got == sorted(BASE, key=_key)

    def test_insert_bnode_fresh_per_solution(self, spark):
        got = _run(spark, BASE, """
            INSERT { ?s <urn:addr> _:b . _:b <urn:of> ?s }
            WHERE { ?s <urn:p> ?o }
        """)
        bnodes = {o for _, p, o, _ in got if p == "<urn:addr>"}
        # three distinct subjects -> three fresh bnodes, each linked back
        assert len(bnodes) == 3
        for b in bnodes:
            assert any(s == b and p == "<urn:of>" for s, p, _, _ in got)

    def test_delete_insert_same_quad_survives(self, spark):
        got = _run(spark, BASE, """
            DELETE { ?s ?p ?o } INSERT { ?s ?p ?o } WHERE { ?s ?p ?o }
        """)
        # named-graph rows collapse into default (bare template), default
        # rows survive verbatim
        assert ("<urn:a>", "<urn:p>", '"1"', None) in got

    def test_sequence_sees_prior_op(self, spark):
        got = _run(spark, [], """
            INSERT DATA { <urn:x> <urn:p> "1" } ;
            DELETE { ?s <urn:p> ?o } INSERT { ?s <urn:p> "2" }
            WHERE { ?s <urn:p> ?o } ;
            INSERT { ?s <urn:p3> ?o } WHERE { ?s <urn:p> ?o }
        """)
        assert got == sorted(
            [("<urn:x>", "<urn:p>", '"2"', None),
             ("<urn:x>", "<urn:p3>", '"2"', None)], key=_key)

    def test_paths_rejected_in_templates_but_fine_in_where(self, spark):
        with pytest.raises(SparqlError):
            parse_update("DELETE { ?s <urn:p>+ ?o } WHERE { ?s <urn:p> ?o }")
        got = _run(spark, BASE, """
            INSERT { ?s <urn:reach> ?o } WHERE { ?s <urn:q>+ ?o }
        """)
        assert ("<urn:c>", "<urn:reach>", "<urn:b>", None) in got  # c-q-a-q-b


class TestUsing:
    """USING/USING NAMED (§3.1.3): the WHERE evaluates against the USING
    dataset exactly as a query's FROM would; WITH is then ignored for the
    WHERE but still routes templates."""

    def test_using_scopes_where_to_graph(self, spark):
        got = _run(spark, BASE, """
            INSERT { GRAPH <urn:out> { ?s <urn:p> ?o } }
            USING <urn:g1> WHERE { ?s <urn:p> ?o }
        """)
        added = [q for q in got if q[3] == "<urn:out>"]
        # default-graph <urn:a> "1" is OUTSIDE the USING dataset
        assert added == [("<urn:b>", "<urn:p>", '"2"', "<urn:out>"),
                         ("<urn:c>", "<urn:p>", '"3"', "<urn:out>")]

    def test_using_named_empties_default_graph(self, spark):
        got = _run(spark, BASE, """
            INSERT { GRAPH <urn:out> { ?s ?p ?o } }
            USING NAMED <urn:g2> WHERE { ?s ?p ?o }
        """)
        assert got == sorted(BASE, key=_key)  # bare pattern saw nothing

    def test_using_named_scopes_graph_var(self, spark):
        got = _run(spark, BASE, """
            INSERT { GRAPH <urn:out> { ?s ?p ?o } }
            USING NAMED <urn:g2> WHERE { GRAPH ?g { ?s ?p ?o } }
        """)
        added = [q for q in got if q[3] == "<urn:out>"]
        assert added == [("<urn:c>", "<urn:q>", "<urn:a>", "<urn:out>")]

    def test_with_ignored_for_where_under_using(self, spark):
        got = _run(spark, BASE, """
            WITH <urn:dst> INSERT { ?s <urn:r> ?o }
            USING <urn:g2> WHERE { ?s <urn:q> ?o }
        """)
        # WHERE ranged over g2 (not the empty <urn:dst> WITH would give);
        # the GRAPH-less template still lands in the WITH graph
        assert ("<urn:c>", "<urn:r>", "<urn:a>", "<urn:dst>") in got

    def test_delete_using(self, spark):
        got = _run(spark, BASE, """
            DELETE { GRAPH <urn:g1> { ?s <urn:p> ?o } }
            USING <urn:g1> WHERE { ?s <urn:p> ?o . FILTER(?s = <urn:b>) }
        """)
        assert ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>") not in got
        assert len(got) == len(BASE) - 1


class TestGraphMgmt:
    def test_clear_forms(self, spark):
        assert all(g == "<urn:g2>" or g is None for _, _, _, g in
                   _run(spark, BASE, "CLEAR GRAPH <urn:g1>"))
        assert all(g is not None for _, _, _, g in
                   _run(spark, BASE, "CLEAR DEFAULT"))
        assert all(g is None for _, _, _, g in
                   _run(spark, BASE, "CLEAR NAMED"))
        assert _run(spark, BASE, "DROP ALL") == []

    def test_create_is_noop(self, spark):
        assert _run(spark, BASE, "CREATE GRAPH <urn:new>") == sorted(BASE, key=_key)

    def test_copy_overwrites_destination(self, spark):
        got = _run(spark, BASE, "COPY GRAPH <urn:g1> TO DEFAULT")
        default = {(s, p, o) for s, p, o, g in got if g is None}
        assert default == {("<urn:b>", "<urn:p>", '"2"'),
                           ("<urn:c>", "<urn:p>", '"3"')}
        # source untouched
        assert ("<urn:b>", "<urn:p>", '"2"', "<urn:g1>") in got

    def test_move_removes_source(self, spark):
        got = _run(spark, BASE, "MOVE DEFAULT TO GRAPH <urn:g2>")
        assert not any(g is None for _, _, _, g in got)
        g2 = {(s, p, o) for s, p, o, g in got if g == "<urn:g2>"}
        assert g2 == {("<urn:a>", "<urn:p>", '"1"'),
                      ("<urn:a>", "<urn:q>", "<urn:b>")}

    def test_add_merges_without_clearing(self, spark):
        got = _run(spark, BASE, "ADD GRAPH <urn:g1> TO GRAPH <urn:g2>")
        g2 = {(s, p, o) for s, p, o, g in got if g == "<urn:g2>"}
        assert ("<urn:c>", "<urn:q>", "<urn:a>") in g2  # pre-existing kept
        assert ("<urn:b>", "<urn:p>", '"2"') in g2

    def test_self_copy_is_noop(self, spark):
        assert _run(spark, BASE, "COPY DEFAULT TO DEFAULT") == sorted(BASE, key=_key)
        assert (_run(spark, BASE, "MOVE GRAPH <urn:g1> TO GRAPH <urn:g1>")
                == sorted(BASE, key=_key))


class TestParser:
    def test_using_parses_before_where_only(self):
        # grammar: templates, then UsingClause*, then WHERE — a leading
        # USING is not an operation
        with pytest.raises(SparqlError):
            parse_update("USING <urn:g> DELETE { ?s ?p ?o } "
                         "WHERE { ?s ?p ?o }")
        ops = parse_update(
            "DELETE { ?s ?p ?o } USING <urn:g1> USING NAMED <urn:g2> "
            "WHERE { ?s ?p ?o }")
        assert ops[0].using == (["<urn:g1>"], ["<urn:g2>"])

    def test_prefixes_and_semicolons(self):
        ops = parse_update("""
            PREFIX u: <urn:>
            INSERT DATA { u:a u:p "1" } ;
            PREFIX v: <urn:v/>
            DELETE DATA { v:b u:p "2" } ;
        """)
        assert len(ops) == 2
        assert ops[1].delete[0][1] == ("term", "<urn:v/b>")

    def test_empty_update_rejected(self):
        with pytest.raises(SparqlError):
            parse_update("   ")

    def test_literal_graph_label_rejected(self):
        with pytest.raises(SparqlError):
            parse_update('INSERT DATA { GRAPH "g" { <urn:a> <urn:p> "1" } }')


class TestGraphStore:
    def test_update_commit_time_travel_rollback(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "store"))
        v0 = gs.init(_store(spark, BASE))
        v1 = gs.update('INSERT DATA { <urn:new> <urn:p> "9" }')
        v2 = gs.update("CLEAR GRAPH <urn:g1>")
        assert v0 < v1 < v2
        assert gs.read(v0).count() == len(BASE)
        assert gs.read(v1).count() == len(BASE) + 1
        now = sorted(tuple(r) for r in gs.read().collect())
        assert not any(g == "<urn:g1>" for _, _, _, g in now)
        # equality with the batch engine applied to the same script
        batch = apply_update_local(
            BASE, 'INSERT DATA { <urn:new> <urn:p> "9" } ; '
                  "CLEAR GRAPH <urn:g1>")
        assert now == sorted(batch)
        # rollback then re-read
        gs.rollback(v1)
        assert gs.read().count() == len(BASE) + 1

    def test_delete_then_reinsert_within_one_script(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "s2"))
        gs.init(_store(spark, BASE))
        gs.update("""
            DELETE DATA { <urn:a> <urn:p> "1" } ;
            INSERT DATA { <urn:a> <urn:p> "1" }
        """)
        assert ("<urn:a>", "<urn:p>", '"1"', None) in {
            tuple(r) for r in gs.read().collect()}

    def test_compact_preserves_view_and_folds_log(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "s3"))
        gs.init(_store(spark, BASE))
        gs.update('DELETE DATA { <urn:a> <urn:p> "1" }')
        before = sorted(tuple(r) for r in gs.read().collect())
        v = gs.compact()
        assert sorted(tuple(r) for r in gs.read().collect()) == before
        raw = gs.tbl.read(spark, v)
        assert raw.filter(F.col("__op") == "d").count() == 0

    def test_deltas_only_commits(self, spark, tmp_path):
        """A small update against a big-ish base commits ONLY delta rows —
        the 100-TB property: the base is never rewritten."""
        gs = GraphStore(spark, str(tmp_path / "s4"))
        rows = [(f"<urn:s{i}>", "<urn:p>", f'"{i}"', None)
                for i in range(500)]
        gs.init(_store(spark, rows))
        v = gs.update('DELETE DATA { <urn:s0> <urn:p> "0" } ; '
                      'INSERT DATA { <urn:x> <urn:p> "x" }')
        m = gs.tbl.manifest(v)
        assert m["operation"] == "append"
        assert m["row_count"] == 2  # one delete marker + one add
        assert gs.read().count() == 500

    def test_load_nquads_into_graph(self, spark, tmp_path):
        nq = tmp_path / "data.nq"
        nq.write_text('<urn:l1> <urn:p> "v" .\n'
                      '<urn:l2> <urn:p> "w" <urn:orig> .\n'
                      "malformed line\n")
        gs = GraphStore(spark, str(tmp_path / "s5"))
        gs.init(_store(spark, []))
        gs.load(str(nq), graph="<urn:dst>")
        got = {tuple(r) for r in gs.read().collect()}
        # INTO GRAPH overrides the file's own labels; malformed dropped
        assert got == {("<urn:l1>", "<urn:p>", '"v"', "<urn:dst>"),
                       ("<urn:l2>", "<urn:p>", '"w"', "<urn:dst>")}
        # without INTO, the file's labels survive
        gs.update(f"LOAD <file://{nq}>")
        got2 = {tuple(r) for r in gs.read().collect()}
        assert ("<urn:l2>", "<urn:p>", '"w"', "<urn:orig>") in got2

    def test_load_silent_missing_file(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "s6"))
        gs.init(_store(spark, BASE))
        gs.update("LOAD SILENT <file:///nonexistent/x.nq>")
        assert gs.read().count() == len(BASE)
        with pytest.raises(Exception):
            gs.update("LOAD <file:///nonexistent/x.nq>")

    def test_query_over_store(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "s7"))
        gs.init(_store(spark, BASE))
        rows = gs.query(
            "SELECT ?s WHERE { GRAPH <urn:g1> { ?s <urn:p> ?o } }"
        ).collect()
        assert sorted(r["s"] for r in rows) == ["<urn:b>", "<urn:c>"]


class TestGraphSync:
    """Object-store -> triplestore sync semantics (the reference's core
    synchronizer loop) as two anti-joins over the store."""

    STORE = [
        ("<urn:a>", "<urn:p>", '"keep"', "<urn:iow:d:1>"),   # unchanged
        ("<urn:a>", "<urn:p>", '"old"', "<urn:iow:d:1>"),    # changed away
        ("<urn:b>", "<urn:p>", '"orphan"', "<urn:iow:d:2>"),  # orphan graph
        ("<urn:x>", "<urn:p>", '"other"', "<urn:other:9>"),  # out of scope
        ("<urn:y>", "<urn:p>", '"default"', None),           # default graph
    ]
    RELEASE = [
        ("<urn:a>", "<urn:p>", '"keep"', "<urn:iow:d:1>"),
        ("<urn:a>", "<urn:p>", '"new"', "<urn:iow:d:1>"),
        ("<urn:c>", "<urn:p>", '"fresh"', "<urn:iow:d:3>"),  # new graph
        ("<urn:z>", "<urn:p>", '"noise"', "<urn:other:8>"),  # ignored
    ]

    def test_sync_graphs_diff(self, spark):
        from nabu_spark.graphstore import sync_graphs

        new, dels, adds = sync_graphs(
            _store(spark, self.STORE), _store(spark, self.RELEASE),
            "urn:iow:")
        got = sorted((tuple(r) for r in new.collect()), key=_key)
        want = sorted([
            self.STORE[0], self.STORE[3], self.STORE[4],
            self.RELEASE[1], self.RELEASE[2],
        ], key=_key)
        assert got == want
        assert sorted(tuple(r) for r in dels.collect()) == sorted(
            [self.STORE[1], self.STORE[2]])
        assert sorted(tuple(r) for r in adds.collect()) == sorted(
            [self.RELEASE[1], self.RELEASE[2]])

    def test_store_sync_idempotent_delta_commits(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "sync"))
        gs.init(_store(spark, self.STORE))
        rel = _store(spark, self.RELEASE)
        v1 = gs.sync(rel, "urn:iow:")
        m1 = gs.tbl.manifest(v1)
        assert m1["operation"] == "append"
        assert m1["row_count"] == 4  # 2 delete markers + 2 adds
        got = sorted((tuple(r) for r in gs.read().collect()), key=_key)
        assert ("<urn:b>", "<urn:p>", '"orphan"', "<urn:iow:d:2>") not in got
        assert ("<urn:c>", "<urn:p>", '"fresh"', "<urn:iow:d:3>") in got
        assert ("<urn:x>", "<urn:p>", '"other"', "<urn:other:9>") in got
        # second sync of the same release: empty delta, view unchanged
        v2 = gs.sync(rel, "urn:iow:")
        assert gs.tbl.manifest(v2)["row_count"] == 0
        assert sorted((tuple(r) for r in gs.read().collect()),
                      key=_key) == got


class TestUpdateFuzz:
    """Seeded random update scripts over random stores: the DataFrame
    compiler and the in-memory twin must agree on every final state."""

    def test_random_scripts_agree(self, spark):
        import random

        rng = random.Random(20260817)
        subs = [f"<urn:s{i}>" for i in range(6)]
        preds = [f"<urn:p{i}>" for i in range(3)]
        objs = ['"a"', '"b"', "<urn:o1>", '"c"@en']
        graphs = [None, "<urn:g1>", "<urn:g2>"]

        def rand_store(n):
            return list({(rng.choice(subs), rng.choice(preds),
                          rng.choice(objs), rng.choice(graphs))
                         for _ in range(n)})

        def rand_ground_quad():
            g = rng.choice(graphs)
            q = f"{rng.choice(subs)} {rng.choice(preds)} {rng.choice(objs)}"
            return f"GRAPH {g} {{ {q} }}" if g else q

        def rand_op():
            kind = rng.randrange(6)
            if kind == 0:
                return ("INSERT DATA { "
                        + " . ".join(rand_ground_quad()
                                     for _ in range(rng.randrange(1, 3)))
                        + " }")
            if kind == 1:
                return ("DELETE DATA { "
                        + " . ".join(rand_ground_quad()
                                     for _ in range(rng.randrange(1, 3)))
                        + " }")
            if kind == 2:
                ref = rng.choice(["DEFAULT", "NAMED", "GRAPH <urn:g1>",
                                  "GRAPH <urn:g2>"])
                return f"CLEAR {ref}"
            if kind == 3:
                a, b = rng.sample(["DEFAULT", "GRAPH <urn:g1>",
                                   "GRAPH <urn:g2>"], 2)
                return f"{rng.choice(['COPY', 'MOVE', 'ADD'])} {a} TO {b}"
            if kind == 4:
                p, p2 = rng.sample(preds, 2)
                return (f"DELETE {{ ?s {p} ?o }} INSERT {{ ?s {p2} ?o }} "
                        f"WHERE {{ ?s {p} ?o }}")
            p = rng.choice(preds)
            o = rng.choice(objs)
            return (f"INSERT {{ ?s <urn:hit> {o} }} "
                    f"WHERE {{ GRAPH ?g {{ ?s {p} ?o2 }} }}")

        for trial in range(8):
            rows = rand_store(rng.randrange(3, 10))
            script = " ; ".join(rand_op()
                                for _ in range(rng.randrange(1, 4)))
            got = sorted(
                (tuple(r) for r in
                 apply_update(_store(spark, rows), script).collect()),
                key=_key)
            loc = sorted(apply_update_local(rows, script), key=_key)
            assert got == loc, (
                f"trial {trial} diverged\nscript: {script}\n"
                f"store: {rows}\n df={got}\n local={loc}")


class TestRollbackSequencing:
    def test_update_after_rollback_still_wins_merge(self, spark, tmp_path):
        """Review fix: rollback must carry max_seq forward — a delete
        committed after a rollback has to out-sequence the restored rows
        or the max_by merge silently ignores it."""
        st = GraphStore(spark, str(tmp_path / "store"))
        st.init(_store(spark, BASE))
        st.update('INSERT DATA { <urn:z> <urn:p> "9" }')
        v_before = st.tbl.latest_version()
        st.update('INSERT DATA { <urn:z2> <urn:p> "10" }')
        st.rollback(v_before)
        st.update('DELETE DATA { <urn:a> <urn:p> "1" }')
        rows = {tuple(r) for r in st.read().collect()}
        assert ("<urn:a>", "<urn:p>", '"1"', None) not in rows
        assert ("<urn:z>", "<urn:p>", '"9"', None) in rows
        assert not any(s == "<urn:z2>" for s, _, _, _ in rows)


# ASK, and EXISTS groups that share no variable with the outer pattern
ASK_EXISTS = (
    "ASK { ?s <urn:p> ?o }",
    "ASK { <urn:zz> ?p ?o }",
    "SELECT ?s WHERE { ?s <urn:p> ?o "
    "FILTER EXISTS { <urn:c> <urn:q> ?x } }",
    "SELECT ?s WHERE { ?s <urn:p> ?o "
    "FILTER NOT EXISTS { <urn:c> <urn:q> ?x } }",
    "SELECT ?s WHERE { ?s <urn:p> ?o "
    "FILTER NOT EXISTS { <urn:zz> ?p ?x } }",
)


def _jobs_launched(spark, fn):
    """Spark job ids that ``fn()`` launched, via a one-off job group."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


class TestGroundUpdatePath:
    """Scripts of INSERT DATA / DELETE DATA only never read the store: the
    delta rows are built on the driver and committed by pyarrow."""

    def test_ground_update_launches_no_job(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "g1"))
        # the probe sees jobs: init writes through Spark
        assert _jobs_launched(spark, lambda: gs.init(_store(spark, BASE)))
        script = ('DELETE DATA { <urn:a> <urn:p> "1" } ; '
                  'INSERT DATA { <urn:n> <urn:p> "9" . _:b <urn:q> _:b }')
        assert _jobs_launched(spark, lambda: gs.update(script)) == []
        got = sorted((tuple(r) for r in gs.read().collect()), key=_key)
        assert got == sorted(apply_update_local(BASE, script), key=_key)

    def test_ground_update_commits_one_file(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "g2"))
        gs.init(_store(spark, BASE))
        v = gs.update('INSERT DATA { <urn:n> <urn:p> "9" . '
                      '<urn:n> <urn:p> "9" . <urn:m> <urn:p> "8" } ; '
                      'DELETE DATA { <urn:a> <urn:p> "1" }')
        m = gs.tbl.manifest(v)
        assert len(m["new_files"]) == 1
        assert m["row_count"] == 3  # the duplicated template quad once
        raw = {tuple(r)
               for r in spark.read.parquet(*m["new_files"]).collect()}
        # op i deletes at seq0 + 2i and inserts at seq0 + 2i + 1
        seq0 = m["metrics"]["max_seq"] - 3
        assert raw == {("<urn:n>", "<urn:p>", '"9"', None, "a", seq0 + 1),
                       ("<urn:m>", "<urn:p>", '"8"', None, "a", seq0 + 1),
                       ("<urn:a>", "<urn:p>", '"1"', None, "d", seq0 + 2)}

    def test_redundant_insert_and_absent_delete_are_noops(self, spark,
                                                          tmp_path):
        gs = GraphStore(spark, str(tmp_path / "g3"))
        gs.init(_store(spark, BASE))
        before = sorted((tuple(r) for r in gs.read().collect()), key=_key)
        script = ('INSERT DATA { <urn:a> <urn:p> "1" . '
                  'GRAPH <urn:g1> { <urn:b> <urn:p> "2" } } ; '
                  'DELETE DATA { <urn:zz> <urn:p> "9" }')
        v = gs.update(script)
        # the redundant 'a' rows are committed; the merge ignores them
        assert gs.tbl.manifest(v)["row_count"] == 3
        got = sorted((tuple(r) for r in gs.read().collect()), key=_key)
        assert got == before
        assert got == sorted(apply_update_local(BASE, script), key=_key)

    def test_query_construction_launches_no_job(self, spark, tmp_path):
        # pins the SQL path: the driver twin would answer these otherwise
        with driver_cap(0):
            gs = GraphStore(spark, str(tmp_path / "g4"))
            gs.init(_store(spark, BASE))
            gs.update('DELETE DATA { <urn:a> <urn:p> "1" }')
            text = "SELECT ?s ?o WHERE { ?s <urn:p> ?o }"
            assert _jobs_launched(spark, lambda: gs.query(text)) == []
            assert len(gs.query(text).collect()) == 2
            # ASK and an EXISTS that shares no variable compile to SQL EXISTS
            from nabu_spark.sparql import sparql_eval_local

            quads = [tuple(r) for r in gs.read().collect()]
            for text in ASK_EXISTS:
                assert _jobs_launched(spark, lambda: gs.query(text)) == [], \
                    text
                got = sorted(tuple(r) for r in gs.query(text).collect())
                want = sorted(tuple(r.values())
                              for r in sparql_eval_local(quads, text))
                assert got == want, text

    def test_redundant_insert_keeps_views_incremental(self, spark, tmp_path):
        from nabu_spark.matview import MaterializedView
        from nabu_spark.sparql import sparql_query

        sub = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
        typ = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        rows = [("<urn:C1>", sub, "<urn:C2>", None),
                ("<urn:x>", typ, "<urn:C1>", None),
                ("<urn:x>", "<urn:knows>", "<urn:y>", "<urn:g1>"),
                ("<urn:y>", "<urn:knows>", "<urn:z>", "<urn:g1>")]
        view_q = ("CONSTRUCT { ?a <urn:foaf> ?c } "
                  "WHERE { ?a <urn:knows> ?b . ?b <urn:knows> ?c }")

        def inference(st):
            return {tuple(r) for r in st.read().filter(
                F.col("prov") == "<urn:nabu:inference>").collect()}

        gs = GraphStore(spark, str(tmp_path / "g5"))
        gs.init(_store(spark, rows))
        gs.entail()
        mv = MaterializedView(gs, str(tmp_path / "view"), view_q)
        assert mv.refresh()["mode"] == "full"
        redundant = ("INSERT DATA { GRAPH <urn:g1> "
                     "{ <urn:x> <urn:knows> <urn:y> } }")
        gs.update(redundant)

        res = mv.refresh()
        assert res["mode"] == "incremental" and res["added"] == 0
        want = {tuple(r) for r in sparql_query(
            gs.read(), view_q, graph_col="prov").collect()}
        assert {tuple(r) for r in mv.read().collect()} == want

        v = gs.entail(incremental=True)
        assert gs.tbl.manifest(v)["metrics"]["entail_mode"] == "incremental"
        full = GraphStore(spark, str(tmp_path / "g5-full"))
        full.init(_store(spark, rows))
        full.update(redundant)
        full.entail()
        assert inference(gs) == inference(full)
        assert ("<urn:x>", typ, "<urn:C2>", "<urn:nabu:inference>") \
            in inference(gs)


class TestSeqPhysicalType:
    def test_mixed_int32_and_int64_seq_files_merge(self, spark, tmp_path):
        """Stores written before __seq was pinned to long hold int32 files;
        every raw read passes the long schema, so they read widened and
        merge with the int64 files by sequence."""
        from pyspark.sql import types as T

        from nabu_spark.graphstore import RAW_SCHEMA

        gs = GraphStore(spark, str(tmp_path / "mixed"))
        old = spark.createDataFrame(
            [(*q, "a", 0) for q in BASE],
            "subj string, pred string, obj string, prov string, "
            "__op string, __seq int")
        gs.tbl.commit(old, operation="overwrite", metrics={"max_seq": 0})
        gs.tbl.commit(spark.createDataFrame(
            [("<urn:a>", "<urn:p>", '"1"', None, "d", 1),
             ("<urn:n>", "<urn:p>", '"7"', None, "a", 1)],
            "subj string, pred string, obj string, prov string, "
            "__op string, __seq int"), metrics={"max_seq": 1})
        gs.update('INSERT DATA { <urn:a> <urn:p> "1" } ; '
                  'DELETE DATA { <urn:n> <urn:p> "7" }')
        # the int64 rows out-sequence the int32 ones: back to BASE
        want = sorted(BASE, key=_key)
        assert sorted((tuple(r) for r in gs.read().collect()),
                      key=_key) == want
        assert sorted(gs._collect_merged(), key=_key) == want
        raw = gs.tbl.read(spark, schema=RAW_SCHEMA)
        assert raw.schema["__seq"].dataType == T.LongType()
        assert sorted(r["__seq"] for r in raw.collect()) == \
            [0] * len(BASE) + [1, 1, 3, 4]
        window = gs.raw_window(1, 3)
        assert sorted(r["__seq"] for r in window.collect()) == [1, 1, 3, 4]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=_key)


def _plan_nodes(plan):
    """Physical operator names of an executed plan, through AQE wrappers
    and query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [name] + _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return [name] + _plan_nodes(plan.plan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size())
                     for n in _plan_nodes(kids.apply(i))]


def _unmemoized(gs, version=None):
    """read()'s groupBy/max_by merge built by hand over the same files.
    The extra grouping column keeps its plan distinct from the memoized
    one, so Spark's cache lookup cannot substitute the persisted view."""
    from nabu_spark.graphstore import QUAD_COLS, RAW_SCHEMA

    raw = gs.spark.read.schema(RAW_SCHEMA).parquet(*gs.tbl.files(version))
    merged = (raw.withColumn("__probe", F.lit(0))
              .groupBy(*QUAD_COLS, "__probe")
              .agg(F.max_by("__op", "__seq").alias("__op"))
              .filter(F.col("__op") == "a").select(*QUAD_COLS))
    assert "InMemoryTableScanExec" not in _plan_nodes(
        merged._jdf.queryExecution().executedPlan())
    return merged


class TestReadMemo:
    """read() memoizes the merged view per committed file set."""

    @staticmethod
    def _check(gs, want, version=None):
        got = _rows(gs.read(version))
        assert got == _rows(_unmemoized(gs, version))
        assert got == sorted(want, key=_key)
        assert gs.read(version) is gs.read(version)

    def test_read_matches_unmemoized_plan_and_local_twin(self, spark,
                                                         tmp_path):
        root = str(tmp_path / "memo")
        gs = GraphStore(spark, root)
        v0 = gs.init(_store(spark, BASE))
        self._check(gs, BASE)
        cur, states = set(BASE), {v0: set(BASE)}

        def update(store, text):
            nonlocal cur
            v = store.update(text)
            cur = apply_update_local(cur, text)
            states[v] = cur
            return v

        v1 = update(gs, 'INSERT DATA { <urn:n> <urn:p> "9" }')
        self._check(gs, cur)
        update(gs, "WITH <urn:g1> DELETE { ?s <urn:p> ?o } "
                   "INSERT { ?s <urn:r> ?o } WHERE { ?s <urn:p> ?o }")
        self._check(gs, cur)
        gs.rollback(v1)
        cur = states[v1]
        self._check(gs, cur)
        gs.compact()
        self._check(gs, cur)
        self._check(gs, BASE, v0)
        # a commit by another instance on the same root changes the key
        update(GraphStore(spark, root), 'DELETE DATA { <urn:a> <urn:p> "1" }')
        self._check(gs, cur)

    def test_same_file_list_returns_same_dataframe(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "same"))
        v0 = gs.init(_store(spark, BASE))
        first = gs.read()
        assert gs.read(v0) is first
        gs.update('INSERT DATA { <urn:n> <urn:p> "9" }')
        # a rollback republishes v0's exact file list: the memo still holds
        gs.rollback(v0)
        assert gs.read() is first

    def test_stale_dataframe_recomputes_from_lineage(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "stale"))
        gs.init(_store(spark, BASE))
        old = gs.read()
        before = _rows(old)
        gs.update('DELETE DATA { <urn:a> <urn:p> "1" }')
        assert _rows(gs.read()) != before  # the memo moved and unpersisted
        assert _rows(old) == before == sorted(BASE, key=_key)

    def test_lookup_on_hit_scans_cache_without_exchange(self, spark,
                                                        tmp_path):
        # pins the SQL path: the driver twin would answer this otherwise
        with driver_cap(0):
            gs = GraphStore(spark, str(tmp_path / "hit"))
            gs.init(_store(spark, BASE))
            gs.update('INSERT DATA { <urn:a> <urn:p> "9" }')
            gs.read().count()  # fills the cache
            df = gs.query("SELECT ?p ?o WHERE { <urn:a> ?p ?o }")
            assert len(df.collect()) == 3
            nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
            assert "InMemoryTableScanExec" in nodes
            assert not [n for n in nodes if "Exchange" in n]

    def test_one_persisted_relation_per_store(self, spark, tmp_path):
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

        gs = GraphStore(spark, str(tmp_path / "bound"))
        gs.init(_store(spark, BASE))
        before = persisted()
        for i in range(5):
            gs.update(f'INSERT DATA {{ <urn:n{i}> <urn:p> "{i}" }}')
            assert gs.read().count() == len(BASE) + i + 1
            assert len(persisted() - before) <= 1
        assert len(persisted() - before) == 1

    def test_read_decisions_are_recorded_as_spans(self, spark, tmp_path):
        from nabu_spark.telemetry import Tracer, set_active

        gs = GraphStore(spark, str(tmp_path / "spans"))
        gs.init(_store(spark, BASE))
        files = gs.tbl.files()
        conf = "spark.sql.autoBroadcastJoinThreshold"
        tracer = Tracer()
        set_active(tracer)
        try:
            gs.read()
            gs.read()
            prev = spark.conf.get(conf)
            spark.conf.set(conf, "-1")
            try:
                over = gs.read()
            finally:
                spark.conf.set(conf, prev)
        finally:
            set_active(None)
        spans = [s.attributes for s in tracer.spans
                 if s.name == "graphstore.read"]
        nbytes = sum(os.path.getsize(f) for f in files)
        assert spans == [
            {"memo": m, "files": len(files), "bytes": nbytes}
            for m in ("miss", "hit", "over_cap")]
        assert over is not gs.read()
        assert _rows(over) == sorted(BASE, key=_key)


HYF = "https://www.opengis.net/def/schema/hy_features/hyf/"
# perfbench's five read templates, one instance each
TEMPLATES = {
    "lookup": "SELECT ?p ?o WHERE { <urn:a> ?p ?o }",
    "optional": (
        "SELECT ?s ?n WHERE { { ?s a <https://schema.org/Place> "
        'FILTER(STRSTARTS(STR(?s), "https://geoconnex.us/iow/demo/site-12")) '
        "} OPTIONAL { ?s <https://schema.org/name> ?n } }"),
    "type_count": "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t",
    "path": (f"SELECT ?s WHERE {{ ?s <{HYF}referencedPosition>/"
             f"<{HYF}HY_IndirectPosition>/<{HYF}linearElement> "
             "<https://geoconnex.us/ref/mainstems/36801> }"),
    "filter": ("SELECT ?s ?n WHERE { ?s <https://schema.org/name> ?n "
               'FILTER(STRSTARTS(STR(?n), "MONITORING SITE 12")) }'),
}


def _py4j_calls(spark, fn):
    """The Py4J commands that ``fn()`` sends from the calling thread."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls, me = client.send_command, [], threading.get_ident()

    def counted(*args, **kwargs):
        # py4j's finalizer thread frees dead proxies through the
        # same client; only this thread's calls belong to fn
        if threading.get_ident() == me:
            calls.append(args[0])
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = send
    return calls


class TestQueryCompile:
    """A query compiles to one parameter-bound SQL statement: on a memo hit
    ``GraphStore.query`` crosses the Py4J boundary a bounded number of
    times, not once per Column and DataFrame transform."""

    @pytest.mark.parametrize("template", sorted(TEMPLATES))
    def test_template_compiles_in_few_round_trips(self, spark, tmp_path,
                                                  template):
        # pins the SQL path: the driver twin would answer these otherwise
        with driver_cap(0):
            gs = GraphStore(spark, str(tmp_path / "rt"))
            gs.init(_store(spark, BASE))
            gs.read().count()  # fills the memo: every query below is a hit
            text = TEMPLATES[template]
            gs.query(text)  # first use of each JVM function is not counted
            calls = _py4j_calls(spark, lambda: gs.query(text))
            assert len(calls) <= 25, (template, len(calls))


RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _served_quads():
    """BASE plus sites that every perfbench template reaches: Places with
    and without a name, and hy_features position chains to mainstems."""
    out = list(BASE)
    for i in range(12):
        s = f"<https://geoconnex.us/iow/demo/site-12{i}>"
        g = None if i % 3 == 0 else f"<urn:site-g{i % 2}>"
        out.append((s, RDF_TYPE, "<https://schema.org/Place>", g))
        if i % 4:
            out.append((s, "<https://schema.org/name>",
                        f'"MONITORING SITE 12{i}"', g))
        out += [(s, f"<{HYF}referencedPosition>", f"_:rp{i}", g),
                (f"_:rp{i}", f"<{HYF}HY_IndirectPosition>", f"_:ip{i}", g),
                (f"_:ip{i}", f"<{HYF}linearElement>",
                 f"<https://geoconnex.us/ref/mainstems/3680{i % 3}>", g)]
    return out + [("<urn:e>", "<urn:label>", '"Café"', None),
                  ("<urn:f>", "<urn:label>", '"ÉCOLE"', None)]


# beyond the templates and ASK_EXISTS: the hash joins, graph and dataset
# scoping, aggregates, the other query forms, and a computed column the
# driver cannot type (it falls back to SQL)
TWIN_QUERIES = (
    "SELECT ?s ?n WHERE { ?s a <https://schema.org/Place> "
    "OPTIONAL { ?s <https://schema.org/name> ?n "
    'FILTER(STRENDS(STR(?n), "5")) } }',
    "SELECT ?s WHERE { ?s a <https://schema.org/Place> "
    "MINUS { ?s <https://schema.org/name> ?n } }",
    "SELECT ?g ?s WHERE { GRAPH ?g { ?s <urn:p> ?o } }",
    "SELECT ?s ?o FROM <urn:g1> WHERE { ?s <urn:p> ?o }",
    "SELECT ?g ?s FROM NAMED <urn:g2> WHERE { GRAPH ?g { ?s ?p ?o } }",
    "SELECT ?g (COUNT(?s) AS ?n) (SUM(?o) AS ?tot) (MAX(?o) AS ?hi) "
    "(GROUP_CONCAT(?s) AS ?all) (SAMPLE(?s) AS ?one) "
    "WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g",
    "SELECT (COUNT(*) AS ?n) WHERE { ?s <urn:zz> ?o }",
    "SELECT * WHERE { ?s <urn:q> ?o OPTIONAL { ?o <urn:p> ?v } }",
    'SELECT * WHERE { <urn:a> <urn:p> "1" }',
    "CONSTRUCT { ?s <urn:r> ?o } WHERE { ?s <urn:q> ?o }",
    "DESCRIBE <urn:a>",
    "SELECT ?s ?o WHERE { ?s <urn:q>+ ?o }",
    "SELECT ?s (SAMPLE(?d) AS ?x) WHERE { ?s <urn:p> ?o BIND(?o * 2 AS ?d) } "
    "GROUP BY ?s",
    "SELECT (SAMPLE(?n) AS ?x) WHERE { { SELECT ?s (COUNT(?o) AS ?n) "
    "WHERE { ?s ?p ?o } GROUP BY ?s } }",
    "SELECT ?s ?d WHERE { ?s <urn:zz> ?o BIND(?o * 2 AS ?d) }",
)

# queries the twin leaves to SQL: a column it cannot type; joins on a
# variable that may be unbound, which SQL's USING never matches and the
# local evaluator treats as compatible; and REGEX and REPLACE, where
# Python's re and the Java regex behind RLIKE disagree on \w and case
# folding over non-ASCII text, and re rejects \p{L}
SQL_ONLY_QUERIES = (
    TWIN_QUERIES[-1],
    "SELECT (SAMPLE(?d) AS ?x) WHERE { ?s <urn:zz> ?o BIND(?o * 2 AS ?d) }",
    "SELECT ?s ?o ?x WHERE { { ?s <urn:p> ?o } UNION { ?s <urn:zz> ?x } "
    "OPTIONAL { ?s <urn:q> ?x } }",
    "SELECT ?s ?o WHERE { { ?s <urn:p> ?o } UNION { ?s <urn:zz> ?x } "
    "MINUS { ?s <urn:q> ?x } }",
    "SELECT ?s ?n WHERE { ?s <urn:q> ?o OPTIONAL { ?o <urn:zz> ?n } "
    "?s <urn:p> ?n }",
    'SELECT ?s ?o WHERE { ?s <urn:p> ?o VALUES (?s ?o) { (UNDEF "1") } }',
    "SELECT ?s ?n WHERE { ?s <urn:q> ?o OPTIONAL { ?o <urn:zz> ?n } "
    "{ SELECT ?n WHERE { ?x <urn:p> ?n } } }",
    "SELECT ?s ?o WHERE { ?s <urn:p> ?o "
    "{ ?s <urn:q> ?z MINUS { ?z <urn:p> ?o } } }",
    r'SELECT ?s WHERE { ?s <urn:label> ?n FILTER(REGEX(?n, "^\w+$")) }',
    'SELECT ?s WHERE { ?s <urn:label> ?n FILTER(REGEX(?n, "^école$", "i")) }',
    r'SELECT ?s WHERE { ?s <urn:label> ?n FILTER(REGEX(?n, "^\p{L}+$")) }',
    r'SELECT ?r WHERE { ?s <urn:label> ?n BIND(REPLACE(?n, "\w", "x") AS ?r) }',
)


def _buckets(ev):
    return {pos: {k: sorted(b, key=_key) for k, b in idx.items()}
            for pos, idx in ev.index.items()}


def _answers(gs, text, version=None):
    df = gs.query(text, version=version)
    return sorted((tuple(r) for r in df.collect()), key=_key), df.schema


class TestQueryTwin:
    """A store within the driver cap answers queries from its driver
    twin, with no Spark job; every answer equals the SQL path's."""

    def _served(self, spark, tmp_path):
        gs = GraphStore(spark, str(tmp_path / "twin"))
        gs.init(_store(spark, _served_quads()))
        return gs

    @pytest.mark.parametrize(
        "text", [*TEMPLATES.values(), *ASK_EXISTS, *TWIN_QUERIES])
    def test_rows_and_schema_equal_the_sql_path(self, spark, tmp_path, text):
        gs = self._served(spark, tmp_path)
        got = _answers(gs, text)
        with driver_cap(0):
            want = _answers(gs, text)
        assert got == want

    @pytest.mark.parametrize("text", SQL_ONLY_QUERIES)
    def test_queries_the_twin_leaves_take_the_sql_path(self, spark, tmp_path,
                                                       text):
        from nabu_spark.telemetry import Tracer, set_active

        gs = self._served(spark, tmp_path)
        tracer = Tracer()
        set_active(tracer)
        try:
            got = _answers(gs, text)
        finally:
            set_active(None)
        assert [s.attributes["path"] for s in tracer.spans
                if s.name == "graphstore.query"] == ["sql"]
        with driver_cap(0):
            assert got == _answers(gs, text)

    def test_templates_find_rows(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        for name, text in TEMPLATES.items():
            assert _answers(gs, text)[0], name

    def test_query_and_collect_launch_no_job(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        for text in [*TEMPLATES.values(), *ASK_EXISTS, *TWIN_QUERIES[:-1]]:
            assert _jobs_launched(
                spark, lambda: gs.query(text).collect()) == [], text
        assert "LocalTableScan" in gs.query(TEMPLATES["lookup"]) \
            ._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize("template", sorted(TEMPLATES))
    def test_collect_and_count_stay_on_the_driver(self, spark, tmp_path,
                                                  template):
        gs = self._served(spark, tmp_path)
        text = TEMPLATES[template]
        gs.query(text).collect()  # builds the twin

        def read():
            df = gs.query(text)
            assert len(df.collect()) == df.count() > 0

        assert _py4j_calls(spark, read) == []
        assert _jobs_launched(spark, read) == []

    @pytest.mark.parametrize(
        "text", [*TEMPLATES.values(), ASK_EXISTS[0], TWIN_QUERIES[0]])
    def test_dataframe_methods_equal_the_sql_path(self, spark, tmp_path,
                                                  text):
        gs = self._served(spark, tmp_path)

        def methods(df, keys, tag):
            first, out = df.columns[0], str(tmp_path / f"out_{tag}")
            df.createOrReplaceTempView(f"twin_{tag}")
            df.write.parquet(out)
            back = spark.read.parquet(out)
            arrow = df.toArrow()
            return (
                df.count(),
                df.first() is None, len(df.take(1)),
                len(df.limit(1).collect()),
                sorted((r.asDict() for r in df.collect()),
                       key=lambda d: _key(d.values())),
                _rows(df.join(keys, first)),
                _rows(df.crossJoin(spark.range(2))),
                _rows(back), back.schema,
                _rows(spark.sql(f"SELECT * FROM twin_{tag}")),
                arrow.schema,
                sorted(zip(*(c.to_pylist() for c in arrow.columns)),
                       key=_key))

        with driver_cap(0):
            sql = gs.query(text)
        keys = sql.select(sql.columns[0]).distinct()  # built by Spark
        want = methods(sql, keys, "sql")
        twin = gs.query(text)
        assert type(twin) is not type(sql)  # the driver twin answered
        assert methods(twin, keys, "twin") == want

    def test_query_without_variables_keeps_its_row_count(self, spark,
                                                         tmp_path):
        gs = self._served(spark, tmp_path)
        for text, n in (('SELECT * WHERE { <urn:a> <urn:p> "1" }', 1),
                        ('SELECT * WHERE { <urn:a> <urn:p> "7" }', 0),
                        ('SELECT * WHERE { { <urn:a> <urn:p> "1" } UNION '
                         '{ <urn:c> <urn:p> "3" } }', 2)):
            df = gs.query(text)
            assert df.columns == [] and df.count() == n, text
            assert [r.asDict() for r in df.collect()] == [{}] * n, text
            assert df.limit(5).count() == n, text  # the planned frame
            with driver_cap(0):
                assert gs.query(text).count() == n, text

    def test_ground_updates_advance_the_twin(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        gs.query(TEMPLATES["lookup"])
        ev = gs._twin[1]
        cur = set(_served_quads())
        for text in (
                'INSERT DATA { <urn:a> <urn:p> "9" . '
                'GRAPH <urn:g1> { <urn:n> <urn:q> <urn:a> } }',
                'DELETE DATA { <urn:a> <urn:p> "1" } ; '
                'INSERT DATA { <urn:a> <urn:p> "1" }',
                'DELETE DATA { <urn:a> <urn:q> <urn:b> }',
                'INSERT DATA { <urn:a> <urn:p> "9" }',  # redundant
                'DELETE DATA { <urn:zz> <urn:p> "0" }'):  # absent
            gs.update(text)
            cur = apply_update_local(cur, text)
            assert gs._twin[1] is ev  # advanced, not rebuilt
            assert gs._twin[0] == tuple(gs.tbl.files())
            fresh = GraphStore(spark, gs.tbl.root)
            fresh.query(TEMPLATES["lookup"])
            assert set(ev.triples) == set(fresh._twin[1].triples) == cur
            assert _buckets(ev) == _buckets(fresh._twin[1])
            got = _answers(gs, TEMPLATES["lookup"])
            with driver_cap(0):
                assert got == _answers(gs, TEMPLATES["lookup"])

    def test_other_key_changes_give_the_right_rows(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        root = gs.tbl.root
        v0 = gs.tbl.latest_version()
        text = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"

        def check(version=None):
            got = _answers(gs, text, version)
            with driver_cap(0):
                want = _answers(gs, text, version)
            assert got == want
            return {r[:3] for r in got[0]}

        base = check()
        gs.update('INSERT DATA { <urn:n> <urn:p> "7" }')
        assert ("<urn:n>", "<urn:p>", '"7"') in check()
        gs.update("DELETE { ?s <urn:q> ?o } WHERE { ?s <urn:q> ?o }")
        assert ("<urn:a>", "<urn:q>", "<urn:b>") not in check()
        assert check(v0) == base  # time travel
        gs.rollback(v0)
        assert check() == base
        gs.update('DELETE DATA { <urn:a> <urn:p> "1" }')
        gs.compact()
        assert ("<urn:a>", "<urn:p>", '"1"') not in check()
        # a commit by another instance on the same root
        GraphStore(spark, root).update('INSERT DATA { <urn:o> <urn:p> "8" }')
        assert ("<urn:o>", "<urn:p>", '"8"') in check()

    def test_over_the_cap_takes_the_sql_path(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        gs.query(TEMPLATES["lookup"])
        with driver_cap(1):
            df = gs.query(TEMPLATES["lookup"])
            assert "LocalTableScan" not in \
                df._jdf.queryExecution().executedPlan().toString()
            assert len(df.collect()) == 2
        assert _jobs_launched(
            spark, lambda: gs.query(TEMPLATES["lookup"]).collect()) == []

    def test_over_the_cap_reads_no_footer_per_query(self, spark, tmp_path,
                                                    monkeypatch):
        import pyarrow.parquet as pq

        gs = self._served(spark, tmp_path)
        text = TEMPLATES["lookup"]
        opened = []

        class Counted(pq.ParquetFile):
            def __init__(self, source, *args, **kwargs):
                opened.append(source)
                super().__init__(source, *args, **kwargs)

        monkeypatch.setattr(pq, "ParquetFile", Counted)
        with driver_cap(0):
            gs.query(text)
        assert opened == []
        with driver_cap(1):
            gs.query(text)  # the new key's row count, read once
            assert opened
            opened.clear()
            gs.query(text)
            gs.update('INSERT DATA { <urn:a> <urn:p> "9" }')
            opened.clear()  # the commit counts its own file's rows
            gs.query(text)
        assert opened == []
        # back within the cap, the twin is built from the files
        got = _answers(gs, text)
        assert gs._twin[1] is not None
        with driver_cap(0):
            assert got == _answers(gs, text)

    def test_path_decisions_are_recorded_as_spans(self, spark, tmp_path):
        from nabu_spark.telemetry import Tracer, set_active

        gs = self._served(spark, tmp_path)
        text = TEMPLATES["lookup"]
        gs.query(text)
        tracer = Tracer()
        set_active(tracer)
        try:
            gs.query(text)  # a hit
            gs.update('INSERT DATA { <urn:a> <urn:p> "9" }')
            gs.query(text)  # the read-back of an update
            with driver_cap(1):
                gs.query(text)  # over the cap
            gs.query(TWIN_QUERIES[-1])  # a column the driver cannot type
        finally:
            set_active(None)
        spans = [s.attributes for s in tracer.spans
                 if s.name == "graphstore.query"]
        cap = 100_000
        assert spans == [
            {"cap": cap, "path": "driver", "rows": 2},
            {"cap": cap, "path": "driver", "rows": 3},
            {"cap": 1, "path": "sql"},
            {"cap": cap, "path": "sql"}]
        assert [s.attributes["memo"] for s in tracer.spans
                if s.name == "graphstore.read"] == ["miss", "hit"]

    def test_twin_keeps_no_state_across_queries(self, spark, tmp_path):
        gs = self._served(spark, tmp_path)
        gs.query(TEMPLATES["lookup"])
        ev = gs._twin[1]
        attrs = dict(vars(ev))
        sizes = {pos: sorted((k, len(b)) for k, b in idx.items())
                 for pos, idx in ev.index.items()}
        texts = [*TWIN_QUERIES, *ASK_EXISTS, *TEMPLATES.values(),
                 "SELECT ?s (NOW() AS ?t) (BNODE() AS ?b) "
                 "WHERE { ?s <urn:p> ?o }",
                 "SELECT ?s ?o FROM <urn:g1> FROM <urn:site-g1> "
                 "WHERE { ?s ?p ?o }"]
        texts += [TEMPLATES["optional"].replace("site-12", f"site-12{i}")
                  for i in range(6)]
        texts += [TEMPLATES["filter"].replace("SITE 12", f"SITE 12{i}")
                  for i in range(6)]
        texts += [TEMPLATES["path"].replace("36801", f"3680{i}")
                  for i in (0, 2, 3)]
        texts += [f"SELECT ?p ?o WHERE {{ <https://geoconnex.us/iow/demo/"
                  f"site-12{i}> ?p ?o }}" for i in range(12)]
        assert len(set(texts)) == len(texts) >= 50
        for text in texts:
            gs.query(text).collect()
        assert gs._twin[1] is ev
        assert vars(ev).keys() == attrs.keys()
        assert all(vars(ev)[k] is v for k, v in attrs.items())
        assert ev.seed == {}
        assert {pos: sorted((k, len(b)) for k, b in idx.items())
                for pos, idx in ev.index.items()} == sizes

    def test_one_parsed_query_gives_the_same_rows_each_time(self):
        import pickle

        from nabu_spark.sparql import parse_sparql, sparql_eval_local

        text = ("SELECT ?p ?o ?b ?n WHERE { $this ?p ?o "
                "OPTIONAL { ?o <urn:p> ?n } FILTER(!ISBLANK(?o)) "
                "BIND(BNODE() AS ?b) }")
        q = parse_sparql(text)
        quads = _served_quads()
        nodes = ("<urn:a>", "<urn:c>", "<https://geoconnex.us/iow/demo/site-121>")
        first = {n: sparql_eval_local(quads, q, {"this": n}) for n in nodes}
        assert all(first.values())
        for _ in range(3):
            for n in nodes:
                assert sparql_eval_local(quads, q, {"this": n}) == first[n]
        # the same rows as a fresh parse, and from a pickled copy (SHACL
        # ships its parsed constraints to the executors)
        for n in nodes:
            assert sparql_eval_local(
                quads, parse_sparql(text), {"this": n}) == first[n]
            assert sparql_eval_local(
                quads, pickle.loads(pickle.dumps(q)), {"this": n}) == first[n]
