"""SPARQL subset engine: parser, both evaluators, and their agreement.

The DataFrame compiler and the in-memory evaluator share one parse; every
semantic test here runs the SAME query through both backends over the SAME
graph and asserts identical result multisets — the strongest cheap check
that the Catalyst compilation implements the documented semantics.
"""

from __future__ import annotations

import random
from contextlib import nullcontext

import pytest

from nabu_spark.session import driver_cap
from nabu_spark.sparql import (
    SparqlError,
    parse_sparql,
    sparql_eval_local,
    sparql_query,
    term_datatype,
    term_lang,
    term_lex,
    term_num,
)

XSD = "http://www.w3.org/2001/XMLSchema#"


def iri(x):
    return f"<urn:t:{x}>"


def num(n):
    return f'"{n}"^^<{XSD}integer>'


def small_graph():
    """Deterministic mixed graph: people with ages, names, knows-links."""
    t = []
    for i in range(8):
        s = iri(f"p{i}")
        t.append((s, iri("age"), num(20 + i * 3)))
        t.append((s, iri("name"), f'"Person {i}"'))
        if i % 2 == 0:
            t.append((s, iri("lang"), '"hallo"@de'))
        if i:
            t.append((s, iri("knows"), iri(f"p{i - 1}")))
        if i % 3 == 0:
            t.append((s, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
                      iri("Admin")))
    t.append(("_:b0", iri("age"), num(99)))
    return t


def both(spark, triples, query):
    """Run via both backends; return (df_rows, local_rows) as sorted tuples."""
    local = sparql_eval_local(triples, query)
    df = spark.createDataFrame(
        [(s, p, o) for s, p, o in triples], "subj string, pred string, obj string"
    )
    out = sparql_query(df, query)
    cols = out.columns
    df_rows = sorted(
        tuple(None if v is None else v for v in (r[c] for c in cols))
        for r in out.collect()
    )
    local_rows = sorted(tuple(r.get(c) for c in cols) for r in local)
    return df_rows, local_rows


AGREEMENT_QUERIES = [
    # plain BGP + join
    "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:knows ?o . ?o t:age ?a }",
    # constant subject + predicate list syntax
    'PREFIX t: <urn:t:> SELECT ?n ?a WHERE { t:p3 t:name ?n ; t:age ?a }',
    # numeric FILTER with arithmetic
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a FILTER(?a > 20 + 6) }",
    # term equality + !=
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(?n != "Person 3") }',
    # regex + str()
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(regex(?n, "son [0-2]$")) }',
    # lang() / datatype()
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:lang ?l FILTER(lang(?l) = "de") }',
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
    f'FILTER(datatype(?a) = "{XSD}integer") }}',
    # isIRI / isBlank on subjects
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a FILTER(isBlank(?s)) }",
    # OPTIONAL with bound() test
    "PREFIX t: <urn:t:> SELECT ?s ?l WHERE { ?s t:age ?a "
    "OPTIONAL { ?s t:lang ?l } }",
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
    "OPTIONAL { ?s t:lang ?l } FILTER(!bound(?l)) }",
    # OPTIONAL whose group filters its own bindings: a left join on ?s
    "PREFIX t: <urn:t:> SELECT ?s ?o ?n WHERE { ?s t:age ?a "
    'OPTIONAL { ?s t:knows ?o . ?o t:name ?n FILTER(?n != "Person 2") } }',
    # MINUS on a shared variable, its group a join of two patterns
    "PREFIX t: <urn:t:> SELECT ?s ?a WHERE { ?s t:age ?a "
    "MINUS { ?s t:knows ?o . ?o t:lang ?l } }",
    # UNION (both branches bind ?s only)
    "PREFIX t: <urn:t:> SELECT DISTINCT ?s WHERE { { ?s a t:Admin } UNION "
    '{ ?s t:lang "hallo"@de } }',
    # rdf:type via 'a' keyword
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s a t:Admin }",
    # repeated variable within one pattern (self-loop check -> empty)
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:knows ?s }",
    # two-hop chain
    "PREFIX t: <urn:t:> SELECT ?a ?c WHERE { ?a t:knows ?b . ?b t:knows ?c }",
    # BIND + filter on computed value
    "PREFIX t: <urn:t:> SELECT ?s ?d WHERE { ?s t:age ?a "
    "BIND(?a * 2 AS ?d) FILTER(?d >= 70) }",
    # aggregates
    "PREFIX t: <urn:t:> SELECT (COUNT(*) AS ?n) (SUM(?a) AS ?tot) WHERE "
    "{ ?s t:age ?a }",
    "PREFIX t: <urn:t:> SELECT ?o (COUNT(?s) AS ?n) WHERE { ?s t:knows ?o } "
    "GROUP BY ?o ORDER BY ?o",
    # DISTINCT + ORDER + LIMIT/OFFSET
    "PREFIX t: <urn:t:> SELECT DISTINCT ?p WHERE { ?s ?p ?o } ORDER BY ?p "
    "LIMIT 3 OFFSET 1",
    # strstarts / strlen / ucase
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(strstarts(str(?n), "Person")) }',
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(strlen(?n) > 7) }",
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(ucase(?n) = "PERSON 4") }',
    # || and ! combinations
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
    "FILTER(?a < 23 || !(?a < 35)) }",
    # --- round-4 function additions ---
    # IN / NOT IN desugaring
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a FILTER(?a IN (23, 29, 99)) }",
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a FILTER(?a NOT IN (23, 99)) }",
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(?n IN ("Person 1", "Person 5")) }',
    # string builders
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(CONCAT(LCASE(SUBSTR(?n, 1, 6)), "#", STRAFTER(?n, " ")) AS ?x) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(STRBEFORE(?n, " ") AS ?x) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(REPLACE(?n, "Person (\\\\d)", "P$1") AS ?x) }',
    # numerics
    "PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:age ?a "
    "BIND(FLOOR(?a / 10) AS ?x) }",
    "PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:age ?a "
    "BIND(CEIL(?a / 10) + ROUND(?a / 10) + ABS(0 - ?a) AS ?x) }",
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a FILTER(ISNUMERIC(?a)) }",
    "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(ISNUMERIC(?n)) }",
    # conditionals
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:age ?a '
    'BIND(IF(?a >= 30, "elder", "younger") AS ?x) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:age ?a '
    'OPTIONAL { ?s t:lang ?l } BIND(COALESCE(?l, "none") AS ?x) }',
    # term tests + constructors
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:name ?n FILTER(SAMETERM(?n, "Person 2")) }',
    'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:lang ?l '
    'FILTER(LANGMATCHES(LANG(?l), "DE")) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(IRI(CONCAT("urn:h:", MD5(?n))) AS ?x) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(STRLANG(SHA1(?n), "en") AS ?x) }',
    'PREFIX t: <urn:t:> SELECT ?s ?x WHERE { ?s t:name ?n '
    'BIND(STRDT(SHA256(?n), <urn:dt:hex>) AS ?x) }',
    # GROUP_CONCAT / SAMPLE
    'PREFIX t: <urn:t:> SELECT (GROUP_CONCAT(?n ; SEPARATOR="|") AS ?all) '
    "(SAMPLE(?n) AS ?one) WHERE { ?s t:name ?n }",
    'PREFIX t: <urn:t:> SELECT ?o (GROUP_CONCAT(DISTINCT ?n) AS ?who) WHERE '
    "{ ?s t:knows ?o . ?s t:name ?n } GROUP BY ?o ORDER BY ?o",
]


SUBQUERY_QUERIES = [
    # per-node max incoming age via aggregate subquery, joined back
    """PREFIX t: <urn:t:>
       SELECT ?s ?a WHERE {
         ?s t:age ?a .
         { SELECT (MAX(?x) AS ?a) WHERE { ?p t:age ?x } }
       }""",
    # DISTINCT + ORDER + LIMIT inside the subquery
    """PREFIX t: <urn:t:>
       SELECT ?s ?o WHERE {
         ?s t:knows ?o .
         { SELECT DISTINCT ?o WHERE { ?x t:knows ?o } ORDER BY ?o LIMIT 3 }
       } ORDER BY ?o ?s""",
    # subquery first, outer patterns join onto its projection
    """PREFIX t: <urn:t:>
       SELECT ?s ?n WHERE {
         { SELECT ?s WHERE { ?s t:age ?a FILTER(?a > 26) } }
         ?s t:name ?n .
       } ORDER BY ?s""",
    # GROUP BY subquery joined on the grouping variable
    """PREFIX t: <urn:t:>
       SELECT ?o ?n ?cnt WHERE {
         ?o t:name ?n .
         { SELECT ?o (COUNT(?s) AS ?cnt) WHERE { ?s t:knows ?o } GROUP BY ?o }
       } ORDER BY ?o""",
]


class TestAgreement:
    @pytest.mark.parametrize("q", AGREEMENT_QUERIES)
    def test_backends_agree(self, spark, q):
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows

    @pytest.mark.parametrize("q", SUBQUERY_QUERIES)
    def test_subqueries_agree(self, spark, q):
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert df_rows, q  # every subquery fixture has nonempty results

    def test_subquery_values(self, spark):
        """The aggregate-subquery join keeps only the max-age person."""
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a . "
             "{ SELECT (MAX(?x) AS ?a) WHERE { ?p t:age ?x FILTER(isIRI(?p)) } } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows == [(iri("p7"),)]

    def test_regex_and_replace_decode_string_escapes(self, spark):
        # the SPARQL strings are ^urn:\w$ and \s(\d): the regex \w and \s,
        # not a literal backslash
        q = (r'SELECT ?s ?r WHERE { ?s ?p ?n FILTER(REGEX(STR(?s), "^urn:\\w$")) '
             r'BIND(REPLACE(STR(?n), "\\s(\\d)", "-$1") AS ?r) }')
        df_rows, local_rows = both(spark, [("<urn:x>", iri("name"), '"Person 1"')], q)
        assert df_rows == local_rows == [("<urn:x>", "Person-1")]

    def test_subquery_requires_projection(self):
        with pytest.raises(SparqlError, match="projection"):
            parse_sparql(
                "SELECT ?s WHERE { { SELECT * WHERE { ?s ?p ?o } } }"
            )

    def test_group_concat_separator_and_distinct(self, spark):
        q = ('PREFIX t: <urn:t:> SELECT (GROUP_CONCAT(DISTINCT ?l ; '
             'SEPARATOR="+") AS ?langs) WHERE { ?s t:lang ?l }')
        # concatenation is over LEXICAL forms; 4 duplicate @de literals
        # collapse under DISTINCT to a single "hallo"
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows == [("hallo",)]

    def test_agg_values(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT (COUNT(*) AS ?n) (SUM(?a) AS ?tot) "
             "(MIN(?a) AS ?lo) (MAX(?a) AS ?hi) (AVG(?a) AS ?mean) "
             "WHERE { ?s t:age ?a FILTER(isIRI(?s)) }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        ages = [20 + i * 3 for i in range(8)]
        n, tot, lo, hi, mean = df_rows[0]
        assert (n, tot, lo, hi) == (8, float(sum(ages)), 20.0, 41.0)
        assert mean == pytest.approx(sum(ages) / 8)

    def test_random_graphs_agree(self, spark):
        rng = random.Random(42)
        preds = [iri(p) for p in ("a", "b", "c")]
        nodes = [iri(f"n{i}") for i in range(6)]
        queries = [
            "PREFIX t: <urn:t:> SELECT ?x ?y WHERE { ?x t:a ?y . ?y t:b ?z }",
            "PREFIX t: <urn:t:> SELECT ?x WHERE { ?x t:a ?y "
            "OPTIONAL { ?y t:c ?z } FILTER(bound(?z)) }",
            "PREFIX t: <urn:t:> SELECT DISTINCT ?x WHERE "
            "{ { ?x t:a ?y } UNION { ?x t:b ?y } }",
            "PREFIX t: <urn:t:> SELECT ?x (COUNT(?y) AS ?deg) WHERE "
            "{ ?x ?p ?y } GROUP BY ?x",
        ]
        for trial in range(5):
            triples = list({
                (rng.choice(nodes), rng.choice(preds),
                 rng.choice(nodes + [num(rng.randint(0, 9))]))
                for _ in range(25)
            })
            for q in queries:
                df_rows, local_rows = both(spark, triples, q)
                assert df_rows == local_rows, f"trial {trial}: {q}"


class TestGraphScope:
    def test_graph_constant_and_var(self, spark):
        quads = [
            (iri("s1"), iri("p"), num(1), "<urn:g:a>"),
            (iri("s2"), iri("p"), num(2), "<urn:g:b>"),
            (iri("s3"), iri("p"), num(3), "<urn:g:a>"),
        ]
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string, prov string"
        )
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE "
             "{ GRAPH <urn:g:a> { ?s t:p ?o } } ORDER BY ?s")
        got = [r.s for r in sparql_query(df, q).collect()]
        assert got == [iri("s1"), iri("s3")]
        local = sparql_eval_local(quads, q)
        assert [r["s"] for r in local] == got

        q2 = ("PREFIX t: <urn:t:> SELECT ?g (COUNT(*) AS ?n) WHERE "
              "{ GRAPH ?g { ?s t:p ?o } } GROUP BY ?g ORDER BY ?g")
        got2 = [(r.g, r.n) for r in sparql_query(df, q2).collect()]
        assert got2 == [("<urn:g:a>", 2), ("<urn:g:b>", 1)]


class TestParser:
    def test_rejects_non_select(self):
        with pytest.raises(SparqlError):
            parse_sparql("DELETE WHERE { ?s ?p ?o }")

    def test_rejects_unknown_prefix(self):
        with pytest.raises(SparqlError):
            parse_sparql("SELECT ?s WHERE { ?s x:p ?o }")

    def test_rejects_trailing_garbage(self):
        with pytest.raises(SparqlError):
            parse_sparql("SELECT ?s WHERE { ?s ?p ?o } SHAZAM")

    def test_object_list_and_pred_list(self):
        q = parse_sparql(
            'PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:a "x", "y" ; t:b ?o }'
        )
        triples = [i for i in q.where.items if i[0] == "triple"]
        assert len(triples) == 3
        assert triples[0][3] == ("term", '"x"')
        assert triples[1][3] == ("term", '"y"')
        assert triples[2][2] == ("term", "<urn:t:b>")

    def test_numeric_literal_forms(self):
        q = parse_sparql("SELECT ?s WHERE { ?s <urn:p> 5 . ?s <urn:q> 2.5 }")
        t1, t2 = [i for i in q.where.items if i[0] == "triple"]
        assert "integer" in t1[3][1] and "double" in t2[3][1]

    def test_term_helpers(self):
        assert term_lex("<urn:x>") == "urn:x"
        assert term_lex('"ab"@en') == "ab"
        assert term_lex(f'"7"^^<{XSD}integer>') == "7"
        assert term_num(f'"7.5"^^<{XSD}double>') == 7.5
        assert term_num('"x"') is None
        assert term_lang('"a"@en-GB') == "en-GB"
        assert term_datatype('"a"') == f"{XSD}string"
        assert term_datatype('"a"@en').endswith("langString")
        assert term_datatype("<urn:x>") is None


class TestPlanShape:
    def test_constant_positions_push_to_scan(self, spark, tmp_path):
        """Constant predicate/object filters must reach the parquet scan as
        pushed filters — at 100 TB each triple pattern is a pruned scan, not
        a full-table read."""
        path = str(tmp_path / "quads")
        spark.createDataFrame(
            [(iri(f"s{i}"), iri("p" if i % 2 else "q"), num(i)) for i in range(64)],
            "subj string, pred string, obj string",
        ).write.parquet(path)
        df = spark.read.parquet(path)
        q = "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:p ?o }"
        plan = sparql_query(df, q)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,<urn:t:p>)" in plan

    def test_join_is_equijoin_not_cartesian(self, spark):
        df = spark.createDataFrame(
            [(s, p, o) for s, p, o in small_graph()],
            "subj string, pred string, obj string",
        )
        q = ("PREFIX t: <urn:t:> SELECT ?a ?c WHERE "
             "{ ?a t:knows ?b . ?b t:knows ?c }")
        plan = sparql_query(df, q)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Join" in plan


class TestConstruct:
    Q = (
        "PREFIX t: <urn:t:> CONSTRUCT { ?s <urn:out:knows2> ?c . "
        "?s <urn:out:tag> \"hop\" } WHERE { ?s t:knows ?b . ?b t:knows ?c }"
    )

    def test_backends_agree(self, spark):
        triples = small_graph()
        local = sparql_eval_local(triples, self.Q)
        df = spark.createDataFrame(
            [(s, p, o) for s, p, o in triples],
            "subj string, pred string, obj string",
        )
        out = sparql_query(df, self.Q)
        assert out.columns == ["subj", "pred", "obj"]
        df_rows = sorted((r.subj, r.pred, r.obj) for r in out.collect())
        local_rows = sorted((r["subj"], r["pred"], r["obj"]) for r in local)
        assert df_rows == local_rows
        # template dedup: the "hop" tag appears once per subject even though
        # several ?c solutions share a subject... (p_i knows-chain: one path
        # each) — and constants instantiate verbatim
        assert ('<urn:t:p7>', '<urn:out:tag>', '"hop"') in df_rows

    def test_optional_unbound_template_rows_dropped(self, spark):
        triples = [
            (iri("s1"), iri("p"), iri("s2")),
            (iri("s2"), iri("name"), '"n2"'),
        ]
        q = ("PREFIX t: <urn:t:> CONSTRUCT { ?a <urn:out:n> ?n } WHERE "
             "{ ?a t:p ?b OPTIONAL { ?a t:name ?n } }")
        local = sparql_eval_local(triples, q)
        assert local == []  # s1 has no name -> ?n unbound -> no triple
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        assert sparql_query(df, q).count() == 0

    def test_rejects_filter_in_template(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "CONSTRUCT { ?s <urn:p> ?o FILTER(?o > 1) } WHERE { ?s <urn:p> ?o }"
            )


PATH_QUERIES = [
    # inverse
    "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s ^t:knows ?o }",
    # sequence
    "PREFIX t: <urn:t:> SELECT ?s ?n WHERE { ?s t:knows/t:name ?n }",
    # alternative
    "PREFIX t: <urn:t:> SELECT ?s ?v WHERE { ?s (t:name|t:lang) ?v }",
    # one-or-more closure from a constant start
    "PREFIX t: <urn:t:> SELECT ?o WHERE { t:p7 t:knows+ ?o } ORDER BY ?o",
    # zero-or-more with both endpoints constrained by a second pattern
    "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:knows* ?o . ?o a t:Admin }",
    # zero-or-one
    "PREFIX t: <urn:t:> SELECT ?o WHERE { t:p2 t:knows? ?o }",
    # sequence of inverse + closure, grouped
    "PREFIX t: <urn:t:> SELECT ?s WHERE { t:p0 (^t:knows)+ ?s }",
    # path into an aggregate
    "PREFIX t: <urn:t:> SELECT (COUNT(*) AS ?n) WHERE { t:p7 t:knows+ ?o }",
]


class TestPropertyPaths:
    @pytest.mark.parametrize("q", PATH_QUERIES)
    def test_backends_agree(self, spark, q):
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows

    def test_closure_values(self, spark):
        # knows-chain p7 -> p6 -> ... -> p0
        local = sparql_eval_local(
            small_graph(),
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:p7 t:knows+ ?o } ORDER BY ?o",
        )
        assert [r["o"] for r in local] == [iri(f"p{i}") for i in range(7)]

    def test_star_includes_zero_length(self):
        local = sparql_eval_local(
            small_graph(),
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:p2 t:knows* ?o } ORDER BY ?o",
        )
        assert [r["o"] for r in local] == [iri("p0"), iri("p1"), iri("p2")]

    def test_cycle_terminates(self, spark):
        cyc = [
            (iri("a"), iri("n"), iri("b")),
            (iri("b"), iri("n"), iri("c")),
            (iri("c"), iri("n"), iri("a")),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:n+ ?o } "
             "ORDER BY ?s ?o")
        df_rows, local_rows = both(spark, cyc, q)
        assert df_rows == local_rows
        assert len(df_rows) == 9  # complete closure of a 3-cycle

    def test_var_predicate_still_plain(self, spark):
        q = "PREFIX t: <urn:t:> SELECT DISTINCT ?p WHERE { t:p3 ?p ?o }"
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert (iri("knows"),) in df_rows

    def test_path_in_graph_var_supported(self, spark):
        # was rejected through round 4 early; now keyed per graph —
        # see TestGraphVarPaths for the semantics
        df = spark.createDataFrame(
            [(iri("a"), iri("p"), iri("b"), "<urn:g>")],
            "subj string, pred string, obj string, prov string",
        )
        got = sparql_query(
            df,
            "PREFIX t: <urn:t:> SELECT ?g ?s WHERE "
            "{ GRAPH ?g { ?s t:p+ ?o } }",
        ).collect()
        assert [(r.g, r.s) for r in got] == [("<urn:g>", iri("a"))]


class TestNegation:
    def test_not_exists_agreement(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "FILTER NOT EXISTS { ?x t:knows ?s } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        # p7 is the chain head (nobody knows p7); the lone bnode also unknown
        assert (iri("p7"),) in df_rows and ("_:b0",) in df_rows

    def test_exists_agreement(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "FILTER EXISTS { ?s t:lang ?l } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert df_rows == sorted((iri(f"p{i}"),) for i in range(0, 8, 2))

    def test_minus_agreement(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "MINUS { ?s a t:Admin } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        # admins are p0, p3, p6; bnode row survives
        assert ("_:b0",) in df_rows
        assert (iri("p3"),) not in df_rows
        assert len(df_rows) == 6

    def test_minus_disjoint_domain_removes_nothing(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "MINUS { ?x t:name ?n } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert len(df_rows) == 9  # all age-bearing nodes kept

    def test_uncorrelated_exists_emptiness(self, spark):
        # no shared vars: EXISTS over an empty inner group kills everything
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "FILTER EXISTS { ?x <urn:t:nope> ?y } }")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows == []
        q2 = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
              "FILTER NOT EXISTS { ?x <urn:t:nope> ?y } }")
        df_rows, local_rows = both(spark, small_graph(), q2)
        assert df_rows == local_rows
        assert len(df_rows) == 9


class TestValuesAndAsk:
    def test_values_single_var_agreement(self, spark):
        q = ('PREFIX t: <urn:t:> SELECT ?s ?a WHERE { '
             'VALUES ?s { t:p1 t:p4 } ?s t:age ?a } ORDER BY ?s')
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert [r[0] for r in df_rows] == [iri("p1"), iri("p4")]

    def test_values_tuple_form_agreement(self, spark):
        q = ('PREFIX t: <urn:t:> SELECT ?s ?n WHERE { '
             '?s t:name ?n VALUES (?s ?n) { (t:p2 "Person 2") (t:p3 "nope") } }')
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert df_rows == [(iri("p2"), '"Person 2"')]

    def test_values_undef_local(self):
        q = ('PREFIX t: <urn:t:> SELECT ?s ?a WHERE { '
             'VALUES (?s ?a) { (t:p1 UNDEF) } ?s t:age ?a }')
        local = sparql_eval_local(small_graph(), q)
        assert local == [{"s": iri("p1"), "a": num(23)}]

    def test_ask(self, spark):
        triples = small_graph()
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        q_yes = "PREFIX t: <urn:t:> ASK { ?s t:knows ?o }"
        q_no = "PREFIX t: <urn:t:> ASK WHERE { ?s <urn:t:nope> ?o }"
        assert sparql_query(df, q_yes).first().ask is True
        assert sparql_query(df, q_no).first().ask is False
        assert sparql_eval_local(triples, q_yes) == [{"ask": True}]
        assert sparql_eval_local(triples, q_no) == [{"ask": False}]

    def test_ask_rejects_modifiers(self):
        with pytest.raises(SparqlError):
            parse_sparql("ASK { ?s ?p ?o } LIMIT 1")


class TestDescribeAndHaving:
    def test_describe_iri(self, spark):
        triples = small_graph()
        q = "DESCRIBE <urn:t:p3>"
        local = sparql_eval_local(triples, q)
        assert {r["pred"] for r in local} == {
            iri("age"), iri("name"), iri("knows"),
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
        }
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        got = sorted((r.subj, r.pred, r.obj)
                     for r in sparql_query(df, q).collect())
        assert got == [(r["subj"], r["pred"], r["obj"]) for r in local]

    def test_describe_var_with_where(self, spark):
        triples = small_graph()
        q = ('PREFIX t: <urn:t:> DESCRIBE ?s WHERE '
             '{ ?s t:age ?a FILTER(?a > 38) }')  # p7 (41) and _:b0 (99)
        local = sparql_eval_local(triples, q)
        assert {r["subj"] for r in local} == {iri("p7"), "_:b0"}
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        assert sparql_query(df, q).count() == len(local)

    def test_describe_var_requires_where(self):
        with pytest.raises(SparqlError):
            parse_sparql("DESCRIBE ?x")

    def test_having_agreement(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?o (COUNT(?s) AS ?n) WHERE "
             "{ ?s ?p ?o } GROUP BY ?o HAVING(?n >= 2) ORDER BY ?o")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert all(n >= 2 for _, n in df_rows)
        assert (iri("Admin"), 3) in df_rows

    def test_having_on_sum(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?p (SUM(?a) AS ?tot) WHERE "
             "{ ?s ?p ?a } GROUP BY ?p HAVING(?tot > 200) ORDER BY ?p")
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows
        assert [p for p, _ in df_rows] == [iri("age")]


class TestReviewFixes:
    """Regression pins for the round-4 code-review findings."""

    def test_trailing_semicolon_accepted(self):
        q = parse_sparql(
            "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:p ?o ; . }"
        )
        assert sum(1 for i in q.where.items if i[0] == "triple") == 1
        q2 = parse_sparql(
            "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:p ?o ;; t:q ?r }"
        )
        assert sum(1 for i in q2.where.items if i[0] == "triple") == 2

    def test_unspaced_negative_literal_subtraction(self, spark):
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:age ?a "
             "FILTER(?a-1 > 40) }")  # only _:b0 (99); p7 is 41-1=40
        df_rows, local_rows = both(spark, small_graph(), q)
        assert df_rows == local_rows == [("_:b0",)]

    def test_regex_variable_pattern_rejected(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "SELECT ?s WHERE { ?s <urn:p> ?o FILTER(regex(?o, ?pat)) }"
            )

    def test_count_distinct_star_rejected(self):
        with pytest.raises(SparqlError):
            parse_sparql("SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?s ?p ?o }")

    def test_division_by_zero_is_error_both_backends(self, spark):
        triples = [
            (iri("a"), iri("v"), num(4)),
            (iri("b"), iri("v"), num(0)),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:v ?x "
             "FILTER(8 / ?x > 0) }")
        df_rows, local_rows = both(spark, triples, q)
        assert df_rows == local_rows == [(iri("a"),)]

    def test_not_over_error_drops_row_both_backends(self, spark):
        triples = [
            (iri("a"), iri("v"), '"not a number"'),
            (iri("b"), iri("v"), num(3)),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:v ?x "
             "FILTER(!(?x > 5)) }")
        df_rows, local_rows = both(spark, triples, q)
        # error stays error under '!': only the genuinely-small number passes
        assert df_rows == local_rows == [(iri("b"),)]

    def test_order_by_nulls_first_on_asc(self, spark):
        triples = [
            (iri("a"), iri("p"), iri("b")),
            (iri("b"), iri("name"), '"B"'),
            (iri("b"), iri("p"), iri("c")),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s ?n WHERE { ?s t:p ?o "
             "OPTIONAL { ?s t:name ?n } } ORDER BY ?n LIMIT 1")
        local = sparql_eval_local(triples, q)
        assert local == [{"s": iri("a"), "n": None}]  # unbound sorts lowest
        df = spark.createDataFrame(
            triples, "subj string, pred string, obj string"
        )
        row = sparql_query(df, q).first()
        assert (row.s, row.n) == (iri("a"), None)


class TestDatasetClause:
    """FROM / FROM NAMED (§13.2): a dataset clause REPLACES the store's
    dataset — default graph = merge of FROM graphs, named graphs = the
    FROM NAMED set. Both backends run every query."""

    QUADS = [
        (iri("s1"), iri("p"), num(1), "<urn:g:a>"),
        (iri("s2"), iri("p"), num(2), "<urn:g:b>"),
        (iri("s3"), iri("p"), num(3), "<urn:g:a>"),
        (iri("s4"), iri("p"), num(4), None),           # store default graph
        (iri("s1"), iri("k"), iri("s2"), "<urn:g:a>"),
        (iri("s2"), iri("k"), iri("s3"), "<urn:g:b>"),
    ]

    def _both(self, spark, query):
        local_triples = [
            (s, p, o) if g is None else (s, p, o, g)
            for s, p, o, g in self.QUADS
        ]
        local = sparql_eval_local(local_triples, query)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string, prov string"
        )
        out = sparql_query(df, query)
        cols = out.columns
        got = sorted(tuple(r[c] for c in cols) for r in out.collect())
        loc = sorted(tuple(r.get(c) for c in cols) for r in local)
        assert got == loc, f"{query}\n df={got}\n local={loc}"
        return got

    def test_from_restricts_default_graph(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s FROM <urn:g:a> "
            "WHERE { ?s t:p ?o }",
        )
        assert got == [(iri("s1"),), (iri("s3"),)]

    def test_from_merges_graphs_excludes_store_default(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s FROM <urn:g:a> FROM <urn:g:b> "
            "WHERE { ?s t:p ?o }",
        )
        # s4 lives in the store's default graph, which FROM cannot name
        assert got == [(iri("s1"),), (iri("s2"),), (iri("s3"),)]

    def test_from_only_empties_named_section(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?s FROM <urn:g:a> "
            "WHERE { GRAPH ?g { ?s t:p ?o } }",
        )
        assert got == []

    def test_from_named_only(self, spark):
        # bare patterns see an EMPTY default graph
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s FROM NAMED <urn:g:b> "
            "WHERE { ?s t:p ?o }",
        ) == []
        # GRAPH ranges over exactly the FROM NAMED set
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?s FROM NAMED <urn:g:b> "
            "WHERE { GRAPH ?g { ?s t:p ?o } }",
        )
        assert got == [("<urn:g:b>", iri("s2"))]

    def test_from_plus_from_named(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s ?s2 "
            "FROM <urn:g:a> FROM NAMED <urn:g:b> "
            "WHERE { ?s t:p ?o . GRAPH <urn:g:b> { ?s2 t:p ?o2 } }",
        )
        assert got == [(iri("s1"), iri("s2")), (iri("s3"), iri("s2"))]
        # a GRAPH constant outside the FROM NAMED set matches nothing
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s FROM NAMED <urn:g:b> "
            "WHERE { GRAPH <urn:g:a> { ?s t:p ?o } }",
        ) == []

    def test_no_dataset_keeps_union_default_graph(self, spark):
        got = self._both(
            spark, "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:p ?o }"
        )
        assert got == [(iri(f"s{i}"),) for i in range(1, 5)]

    def test_property_path_scoped_by_from(self, spark):
        # k-edges: s1->s2 in g:a, s2->s3 in g:b; the closure must not
        # escape the dataset's default graph
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?o FROM <urn:g:a> "
            "WHERE { t:s1 t:k+ ?o }",
        ) == [(iri("s2"),)]
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:s1 t:k+ ?o }",
        ) == [(iri("s2"),), (iri("s3"),)]

    def test_ask_and_describe_with_from(self, spark):
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> ASK FROM <urn:g:b> { t:s1 t:p ?o }",
        ) == [(False,)]
        assert self._both(
            spark,
            "PREFIX t: <urn:t:> ASK FROM <urn:g:a> { t:s1 t:p ?o }",
        ) == [(True,)]
        # s2's quads live in g:b only — invisible under FROM g:a
        assert self._both(
            spark, "PREFIX t: <urn:t:> DESCRIBE t:s2 FROM <urn:g:a>"
        ) == []
        assert self._both(
            spark, "PREFIX t: <urn:t:> DESCRIBE t:s2 FROM <urn:g:b>"
        ) == [(iri("s2"), iri("k"), iri("s3")), (iri("s2"), iri("p"), num(2))]

    def test_from_accepts_pname(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?s FROM g:a "
            "WHERE { ?s t:p ?o }",
        )
        assert got == [(iri("s1"),), (iri("s3"),)]

    def test_from_needs_graph_column(self, spark):
        df = spark.createDataFrame(
            [(iri("s"), iri("p"), num(1))],
            "subj string, pred string, obj string",
        )
        with pytest.raises(SparqlError, match="graph column"):
            sparql_query(
                df,
                "PREFIX t: <urn:t:> SELECT ?s FROM <urn:g:a> "
                "WHERE { ?s t:p ?o }",
            )

    def test_subquery_rejects_dataset_clause(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> SELECT ?s WHERE { "
                "{ SELECT ?s FROM <urn:g:a> WHERE { ?s t:p ?o } } }"
            )


class TestGraphVarPaths:
    """Property paths inside GRAPH ?var: evaluated per named graph — the
    DF backend keys every path join on __g, the local twin loops graphs.
    A closure must NOT cross graph boundaries."""

    QUADS = [
        (iri("s1"), iri("k"), iri("s2"), "<urn:g:a>"),
        (iri("s2"), iri("k"), iri("s3"), "<urn:g:a>"),
        (iri("s3"), iri("k"), iri("s4"), "<urn:g:b>"),
        (iri("s9"), iri("k"), iri("s1"), None),        # default-graph decoy
    ]

    def _both(self, spark, query):
        local_triples = [
            (s, p, o) if g is None else (s, p, o, g)
            for s, p, o, g in self.QUADS
        ]
        local = sparql_eval_local(local_triples, query)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string, prov string"
        )
        out = sparql_query(df, query)
        cols = out.columns
        got = sorted(tuple(r[c] for c in cols) for r in out.collect())
        loc = sorted(tuple(r.get(c) for c in cols) for r in local)
        assert got == loc, f"{query}\n df={got}\n local={loc}"
        return got

    def test_closure_stays_graph_local(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?s ?o WHERE "
            "{ GRAPH ?g { ?s t:k+ ?o } }",
        )
        assert got == [
            ("<urn:g:a>", iri("s1"), iri("s2")),
            ("<urn:g:a>", iri("s1"), iri("s3")),   # 2-hop within g:a
            ("<urn:g:a>", iri("s2"), iri("s3")),
            ("<urn:g:b>", iri("s3"), iri("s4")),   # NOT s1/s2 -> s4
        ]

    def test_zero_length_identity_is_per_graph(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?o WHERE "
            "{ GRAPH ?g { t:s3 t:k* ?o } }",
        )
        # g:a contains s3 only as an object -> zero-length match there too
        assert got == [
            ("<urn:g:a>", iri("s3")),
            ("<urn:g:b>", iri("s3")),
            ("<urn:g:b>", iri("s4")),
        ]

    def test_graph_var_path_joins_outer_binding(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?o WHERE "
            "{ GRAPH ?g { t:s2 t:k ?x } GRAPH ?g { ?x t:k* ?o } }",
        )
        assert got == [("<urn:g:a>", iri("s3"))]

    def test_graph_var_path_under_from_named(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?s ?o FROM NAMED <urn:g:b> "
            "WHERE { GRAPH ?g { ?s t:k+ ?o } }",
        )
        assert got == [("<urn:g:b>", iri("s3"), iri("s4"))]

    def test_inverse_and_alt_keyed(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?g ?s WHERE "
            "{ GRAPH ?g { t:s3 (^t:k|t:k) ?s } }",
        )
        assert got == [
            ("<urn:g:a>", iri("s2")),
            ("<urn:g:b>", iri("s4")),
        ]


class TestRandomQuadGraphs:
    """Backend-agreement fuzz over random QUAD graphs: dataset clauses,
    GRAPH scoping and graph-var paths on the same random data."""

    QUERIES = [
        # FROM merge + join
        "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?x ?y "
        "FROM g:1 FROM g:2 WHERE { ?x t:a ?y . ?y t:b ?z }",
        # FROM NAMED restricting GRAPH ?g
        "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?g ?x "
        "FROM NAMED g:1 FROM NAMED g:3 WHERE { GRAPH ?g { ?x t:a ?y } }",
        # dataset + aggregate
        "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?x (COUNT(?y) AS ?n) "
        "FROM g:2 FROM g:3 WHERE { ?x ?p ?y } GROUP BY ?x",
        # graph-var closure
        "PREFIX t: <urn:t:> SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x t:a+ ?y } }",
        # graph-var path under FROM NAMED
        "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?g ?x ?y "
        "FROM NAMED g:2 WHERE { GRAPH ?g { ?x (t:a|^t:b) ?y } }",
        # mixed default + named sections
        "PREFIX t: <urn:t:> PREFIX g: <urn:g:> SELECT ?x ?y "
        "FROM g:1 FROM NAMED g:2 WHERE "
        "{ ?x t:a ?y . GRAPH g:2 { ?y t:b ?z } }",
    ]

    def test_random_quad_graphs_agree(self, spark):
        rng = random.Random(7)
        preds = [iri(p) for p in ("a", "b")]
        nodes = [iri(f"n{i}") for i in range(5)]
        graphs = [f"<urn:g:{i}>" for i in range(1, 4)] + [None]
        for trial in range(4):
            quads = list({
                (rng.choice(nodes), rng.choice(preds), rng.choice(nodes),
                 rng.choice(graphs))
                for _ in range(30)
            })
            local_triples = [
                (s, p, o) if g is None else (s, p, o, g)
                for s, p, o, g in quads
            ]
            df = spark.createDataFrame(
                quads, "subj string, pred string, obj string, prov string"
            )
            for q in self.QUERIES:
                local = sparql_eval_local(local_triples, q)
                out = sparql_query(df, q)
                cols = out.columns
                got = sorted(tuple(r[c] for c in cols) for r in out.collect())
                loc = sorted(tuple(r.get(c) for c in cols) for r in local)
                assert got == loc, f"trial {trial}: {q}\n df={got}\n local={loc}"


class TestResultsJson:
    """W3C SPARQL 1.1 Query Results JSON serialization."""

    def test_bindings_shape(self, spark):
        from nabu_spark.sparql import sparql_results_json

        df = spark.createDataFrame(
            [("<urn:a>", iri("p"), '"x\\nx"@en'),
             ("_:b0", iri("p"), num(3))],
            "subj string, pred string, obj string",
        )
        out = sparql_query(
            df, "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:p ?o } "
                "ORDER BY ?s")
        res = sparql_results_json(out)
        assert res["head"]["vars"] == ["s", "o"]
        b = res["results"]["bindings"]
        assert b[0]["s"] == {"type": "uri", "value": "urn:a"}
        assert b[0]["o"] == {"type": "literal", "value": "x\nx",
                             "xml:lang": "en"}  # escapes decoded
        assert b[1]["s"] == {"type": "bnode", "value": "b0"}
        assert b[1]["o"]["datatype"].endswith("integer")

    def test_unbound_omitted_and_aggregates_typed(self, spark):
        from nabu_spark.sparql import sparql_results_json

        df = spark.createDataFrame(
            [(iri("a"), iri("p"), iri("b"))],
            "subj string, pred string, obj string",
        )
        out = sparql_query(
            df, "PREFIX t: <urn:t:> SELECT ?s ?x (COUNT(*) AS ?n) WHERE "
                "{ ?s t:p ?o OPTIONAL { ?s t:q ?x } } GROUP BY ?s ?x")
        b = sparql_results_json(out)["results"]["bindings"]
        assert "x" not in b[0]          # unbound var omitted per spec
        assert b[0]["n"]["datatype"].endswith("integer")

    def test_ask_boolean(self, spark):
        from nabu_spark.sparql import sparql_results_json

        df = spark.createDataFrame(
            [(iri("a"), iri("p"), iri("b"))],
            "subj string, pred string, obj string",
        )
        res = sparql_results_json(
            sparql_query(df, "PREFIX t: <urn:t:> ASK { ?s t:p ?o }"))
        assert res == {"head": {}, "boolean": True}


class TestDatasetMergeSemantics:
    def test_from_merge_is_set_union(self, spark):
        """§13.2: the dataset default graph is the RDF MERGE of the FROM
        graphs — a triple asserted in BOTH graphs matches once, and
        aggregates must not double count (review fix)."""
        quads = [
            (iri("s"), iri("p"), num(1), "<urn:g:a>"),
            (iri("s"), iri("p"), num(1), "<urn:g:b>"),   # same triple
            (iri("s"), iri("p"), num(2), "<urn:g:b>"),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s (COUNT(?o) AS ?n) "
             "FROM <urn:g:a> FROM <urn:g:b> "
             "WHERE { ?s t:p ?o } GROUP BY ?s")
        local = sparql_eval_local(
            [(s, p, o, g) for s, p, o, g in quads], q)
        assert local == [{"s": iri("s"), "n": 2}]
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string, prov string")
        row = sparql_query(df, q).first()
        assert (row.s, row.n) == (iri("s"), 2)

    def test_select_var_named_ask_not_boolean(self, spark):
        from nabu_spark.sparql import sparql_results_json

        df = spark.createDataFrame(
            [(iri("a"), iri("p"), iri("b"))],
            "subj string, pred string, obj string")
        res = sparql_results_json(sparql_query(
            df, "PREFIX t: <urn:t:> SELECT ?ask WHERE { ?ask t:p ?o }"))
        assert res["head"]["vars"] == ["ask"]
        assert res["results"]["bindings"][0]["ask"]["type"] == "uri"
        # and the empty case must not crash
        res2 = sparql_results_json(sparql_query(
            df, "PREFIX t: <urn:t:> SELECT ?ask WHERE { ?ask t:q ?o }"))
        assert res2["results"]["bindings"] == []


class TestConstructWhereShorthand:
    QUADS = [
        (iri("a"), iri("p"), iri("b")),
        (iri("b"), iri("p"), iri("c")),
        (iri("a"), iri("q"), '"x"'),
    ]

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        out = sparql_query(df, q)
        got = sorted(tuple(r) for r in out.collect())
        loc = sorted((r["subj"], r["pred"], r["obj"]) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_shorthand_equals_explicit_template(self, spark):
        got = self._both(
            spark, "PREFIX t: <urn:t:> CONSTRUCT WHERE { ?s t:p ?o }")
        want = self._both(
            spark,
            "PREFIX t: <urn:t:> CONSTRUCT { ?s t:p ?o } WHERE { ?s t:p ?o }")
        assert got == want == [
            (iri("a"), iri("p"), iri("b")),
            (iri("b"), iri("p"), iri("c")),
        ]

    def test_shorthand_with_limit_and_order(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> CONSTRUCT WHERE { ?s t:p ?o } "
            "ORDER BY ?s LIMIT 1")
        assert got == [(iri("a"), iri("p"), iri("b"))]

    def test_shorthand_rejects_filters_and_paths(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                'PREFIX t: <urn:t:> CONSTRUCT WHERE '
                '{ ?s t:p ?o FILTER(?o != "x") }')
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> CONSTRUCT WHERE { ?s t:p+ ?o }")


class TestResultsCsvTsv:
    """W3C SPARQL 1.1 Query Results CSV and TSV formats."""

    QUADS = [
        ("<urn:d:1>", iri("name"), '"plain, with \\"comma\\""'),
        ("<urn:d:1>", iri("note"), '"line1\\nline2"'),
        ("<urn:d:2>", iri("name"), '"hallo"@de'),
        ("<urn:d:2>", iri("size"),
         '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ("_:b0", iri("name"), '"anon"'),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")

    def test_csv_lexical_values_and_quoting(self, spark):
        from nabu_spark.sparql import sparql_results_csv
        out = sparql_results_csv(sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:name ?o } "
            "ORDER BY ?s"))
        lines = out.split("\r\n")
        assert lines[0] == "s,o"
        # IRI without brackets; embedded comma + quote RFC4180-escaped
        assert lines[1] == '"plain, with ""comma""",urn:d:1'.replace(
            '"plain, with ""comma""",urn:d:1',
            'urn:d:1,"plain, with ""comma"""')
        # lang literal -> bare lexical form; bnode label kept
        assert "urn:d:2,hallo" in lines
        assert "_:b0,anon" in lines

    def test_csv_embedded_newline(self, spark):
        from nabu_spark.sparql import sparql_results_csv
        out = sparql_results_csv(sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> SELECT ?o WHERE { ?s t:note ?o }"))
        assert '"line1\nline2"' in out

    def test_csv_unbound_is_empty(self, spark):
        from nabu_spark.sparql import sparql_results_csv
        out = sparql_results_csv(sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> SELECT ?s ?z WHERE "
            "{ ?s t:size ?n OPTIONAL { ?s t:missing ?z } }"))
        assert out.split("\r\n")[1] == "urn:d:2,"

    def test_tsv_full_term_syntax(self, spark):
        from nabu_spark.sparql import sparql_results_tsv
        out = sparql_results_tsv(sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:name ?o } "
            "ORDER BY ?s"))
        lines = out.rstrip("\n").split("\n")
        assert lines[0] == "?s\t?o"
        assert '_:b0\t"anon"' in lines
        assert '<urn:d:2>\t"hallo"@de' in lines
        # escapes survive verbatim (no raw newline in the field)
        assert any("\\\"comma\\\"" in ln for ln in lines)

    def test_tsv_aggregates(self, spark):
        from nabu_spark.sparql import sparql_results_tsv
        out = sparql_results_tsv(sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> SELECT (COUNT(?s) AS ?n) (AVG(?v) AS ?a) "
            "WHERE { ?s t:size ?v }"))
        lines = out.rstrip("\n").split("\n")
        assert lines[0] == "?n\t?a"
        n, a = lines[1].split("\t")
        assert n == "1"
        assert a == ('"4.2E1"^^<http://www.w3.org/2001/XMLSchema#double>')

    def test_ask_rejected(self, spark):
        from nabu_spark.sparql import (
            sparql_results_csv, sparql_results_tsv,
        )
        res = sparql_query(
            self._df(spark),
            "PREFIX t: <urn:t:> ASK { ?s t:name ?o }")
        with pytest.raises(SparqlError):
            sparql_results_csv(res)
        with pytest.raises(SparqlError):
            sparql_results_tsv(res)


class TestNegatedPropertySets:
    QUADS = [
        (iri("a"), iri("p"), iri("b")),
        (iri("a"), iri("q"), iri("c")),
        (iri("a"), iri("r"), iri("d")),
        (iri("b"), iri("p"), iri("c")),
    ]

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        out = sparql_query(df, q)
        got = sorted(tuple(r) for r in out.collect())
        cols = out.columns
        loc = sorted(tuple(r[c] for c in cols) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_single_negation(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:a !t:p ?o } ORDER BY ?o")
        assert got == [(iri("c"),), (iri("d"),)]

    def test_set_negation(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:a !(t:p|t:q) ?o }")
        assert got == [(iri("d"),)]

    def test_inverse_only(self, spark):
        # !(^t:p): inverted triples whose pred is not p — never forward ones
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s WHERE { t:c !(^t:p) ?s }")
        assert got == [(iri("a"),)]  # via q, inverted; b-p-c excluded

    def test_mixed_set(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?x WHERE { t:b !(t:p|^t:p) ?x } "
            "ORDER BY ?x")
        assert got == []  # b's only edges are p (fwd) and p (inv)

    def test_empty_set_matches_everything_forward(self, spark):
        got = self._both(
            spark, "PREFIX t: <urn:t:> SELECT ?o WHERE { t:b !() ?o }")
        assert got == [(iri("c"),)]

    def test_in_sequence(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?o WHERE { t:a t:p/!t:q ?o }")
        assert got == [(iri("c"),)]


class TestClosureDriverFastPath:
    """The bounded in-memory closure path must agree with the distributed
    pointer-doubling fixpoint, including per-graph keyed closures."""

    QUADS = [
        (iri("a"), iri("p"), iri("b"), "<urn:g:1>"),
        (iri("b"), iri("p"), iri("c"), "<urn:g:1>"),
        (iri("c"), iri("p"), iri("d"), "<urn:g:2>"),
        (iri("a"), iri("q"), iri("a"), "<urn:g:2>"),  # cycle
    ]

    def _run(self, spark, q, force_distributed):
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string, prov string")
        with driver_cap(0) if force_distributed else nullcontext():
            out = sparql_query(df, q, graph_col="prov")
            return sorted(tuple(r) for r in out.collect())

    @pytest.mark.parametrize("q", [
        "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:p+ ?o }",
        "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:p* ?o }",
        "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s (t:p|t:q)+ ?o }",
        "PREFIX t: <urn:t:> SELECT ?g ?s ?o WHERE "
        "{ GRAPH ?g { ?s t:p+ ?o } }",
    ])
    def test_fast_equals_distributed(self, spark, q):
        fast = self._run(spark, q, force_distributed=False)
        dist = self._run(spark, q, force_distributed=True)
        assert fast == dist and fast, q


class TestEncodeForUri:
    def test_agreement_and_values(self, spark):
        quads = [
            (iri("a"), iri("p"), '"Les Mise\\u0301rables & more!"'),
            (iri("b"), iri("p"), '"plain-safe_.~123"'),
            (iri("c"), iri("p"), '"sp ace+plus*star(paren)"'),
        ]
        q = ("PREFIX t: <urn:t:> SELECT ?s (ENCODE_FOR_URI(?o) AS ?e) "
             "WHERE { ?s t:p ?o } ORDER BY ?s")
        local = sparql_eval_local(quads, q)
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string")
        got = sorted(tuple(r) for r in sparql_query(df, q).collect())
        loc = sorted((r["s"], r["e"]) for r in local)
        assert got == loc
        by_s = dict(got)
        assert by_s[iri("b")] == "plain-safe_.~123"
        assert by_s[iri("c")] == "sp%20ace%2Bplus%2Astar%28paren%29"
        assert "%26" in by_s[iri("a")] and " " not in by_s[iri("a")]


class TestSelectExpressions:
    QUADS = [
        (iri("a"), iri("n"),
         '"4"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        (iri("b"), iri("n"),
         '"7"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        out = sparql_query(df, q)
        got = sorted(tuple(r) for r in out.collect())
        loc = sorted(tuple(r[c] for c in out.columns) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_arith_and_string_expressions(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s (?v * 2 AS ?dbl) "
            "(UCASE(STR(?s)) AS ?up) WHERE { ?s t:n ?v } ORDER BY ?s")
        assert got[0][1] == 8.0 and "URN:T:A" in got[0][2]

    def test_mixed_with_plain_vars_and_filter_scope(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT (?v + 1 AS ?w) ?s "
            "WHERE { ?s t:n ?v FILTER(?v > 5) }")
        assert got == [(8.0, iri("b"))]

    def test_group_by_rejected_and_missing_as(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> SELECT (?v + 1 AS ?w) WHERE "
                "{ ?s t:n ?v } GROUP BY ?v")
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> SELECT (?v + 1) WHERE { ?s t:n ?v }")


class TestDateTimeFunctions:
    XSD_DT = "<http://www.w3.org/2001/XMLSchema#dateTime>"
    QUADS = [
        (iri("a"), iri("ts"), f'"2024-03-01T12:30:05.5Z"^^{XSD_DT}'),
        (iri("b"), iri("ts"), f'"2023-11-15T08:02:59+05:30"^^{XSD_DT}'),
        (iri("c"), iri("ts"),
         '"2022-07-04"^^<http://www.w3.org/2001/XMLSchema#date>'),
        (iri("d"), iri("ts"), '"not a date"'),
    ]

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        out = sparql_query(df, q)
        got = sorted(tuple(r) for r in out.collect())
        loc = sorted(tuple(r[c] for c in out.columns) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_accessors_agree(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s (YEAR(?v) AS ?y) "
            "(MONTH(?v) AS ?mo) (DAY(?v) AS ?d) (HOURS(?v) AS ?h) "
            "(MINUTES(?v) AS ?mi) (SECONDS(?v) AS ?sec) (TZ(?v) AS ?tz) "
            "WHERE { ?s t:ts ?v } ORDER BY ?s")
        by_s = {r[0]: r[1:] for r in got}
        assert by_s[iri("a")] == (2024.0, 3.0, 1.0, 12.0, 30.0, 5.5, "Z")
        assert by_s[iri("b")] == (2023.0, 11.0, 15.0, 8.0, 2.0, 59.0,
                                  "+05:30")
        # xsd:date: date parts bind, time parts + TZ("") behave per spec
        assert by_s[iri("c")][:3] == (2022.0, 7.0, 4.0)
        assert by_s[iri("c")][3:6] == (None, None, None)
        assert by_s[iri("c")][6] == ""
        # non-dateTime operand: every accessor is an error -> unbound
        assert by_s[iri("d")] == (None,) * 7

    def test_filter_on_year(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s WHERE "
            "{ ?s t:ts ?v FILTER(YEAR(?v) >= 2023) } ORDER BY ?s")
        assert got == [(iri("a"),), (iri("b"),)]


class TestResultsNt:
    def test_construct_to_ntriples(self, spark):
        from nabu_spark.sparql import sparql_results_nt
        quads = [(iri("a"), iri("p"), '"v"'), (iri("b"), iri("p"), iri("a"))]
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string")
        res = sparql_query(
            df, "PREFIX t: <urn:t:> CONSTRUCT WHERE { ?s t:p ?o }")
        nt = sparql_results_nt(res)
        assert nt == (f'{iri("a")} {iri("p")} "v" .\n'
                      f'{iri("b")} {iri("p")} {iri("a")} .\n')
        with pytest.raises(SparqlError):
            sparql_results_nt(sparql_query(
                df, "PREFIX t: <urn:t:> SELECT ?s WHERE { ?s t:p ?o }"))


class TestReviewRegressions:
    """Pins for the round-4 self-review fixes."""

    QUADS = [(iri("a"), iri("n"),
              '"4"^^<http://www.w3.org/2001/XMLSchema#integer>')]

    def test_datetime_and_encode_on_native_numeric_is_unbound(self, spark):
        # YEAR over an arithmetic BIND result must be NULL, not a crash,
        # in BOTH backends (the local one runs inside sh:sparql at scale)
        q = ("PREFIX t: <urn:t:> SELECT ?s (YEAR(?w) AS ?y) "
             "(ENCODE_FOR_URI(?w) AS ?e) WHERE "
             "{ ?s t:n ?v BIND(?v + 1 AS ?w) }")
        local = sparql_eval_local(self.QUADS, q)
        assert local[0]["y"] is None
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        row = sparql_query(df, q).collect()[0]
        assert row["y"] is None
        # ENCODE_FOR_URI stringifies the numeric in both backends
        assert row["e"] == "5.0" == local[0]["e"]

    def test_select_expression_with_aggregate_rejected(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> SELECT (COUNT(?s) AS ?c) (1 + 1 AS ?two)"
                " WHERE { ?s t:n ?v }")

    def test_closure_output_cap_falls_through(self, spark):
        # 9-node chain: base (8 pairs) fits an 8-pair cap, but the closure
        # (36 pairs) exceeds 4x the cap -> distributed fixpoint must run
        # and produce the same answer as the unbounded driver path
        quads = [(f"<urn:n{i}>", iri("p"), f"<urn:n{i+1}>")
                 for i in range(8)]
        df = spark.createDataFrame(
            quads, "subj string, pred string, obj string")
        q = "PREFIX t: <urn:t:> SELECT ?s ?o WHERE { ?s t:p+ ?o }"
        with driver_cap(8):
            capped = sorted(tuple(r) for r in sparql_query(df, q).collect())
        full = sorted(tuple(r) for r in sparql_query(df, q).collect())
        assert capped == full and len(full) == 36


class TestGroupByExpressions:
    QUADS = [
        (iri("a"), iri("n"),
         '"4"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        (iri("b"), iri("n"),
         '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        (iri("c"), iri("n"),
         '"14"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        df = spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")
        out = sparql_query(df, q)
        got = sorted(tuple(r) for r in out.collect())
        loc = sorted(tuple(r[c] for c in out.columns) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_group_by_expression(self, spark):
        # bucket by tens digit: {4,5} -> 0.0, {14} -> 1.0
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?bucket (COUNT(?s) AS ?n) WHERE "
            "{ ?s t:n ?v } GROUP BY (FLOOR(?v / 10) AS ?bucket) "
            "ORDER BY ?bucket")
        assert got == [(0.0, 2), (1.0, 1)]

    def test_mixed_var_and_expression(self, spark):
        got = self._both(
            spark,
            "PREFIX t: <urn:t:> SELECT ?s ?even (COUNT(?v) AS ?n) WHERE "
            "{ ?s t:n ?v } GROUP BY ?s (FLOOR(?v / 2) * 2 = ?v AS ?even) "
            "ORDER BY ?s")
        assert len(got) == 3

    def test_missing_as_rejected(self):
        with pytest.raises(SparqlError):
            parse_sparql(
                "PREFIX t: <urn:t:> SELECT (COUNT(?v) AS ?n) WHERE "
                "{ ?s t:n ?v } GROUP BY (FLOOR(?v / 10))")


class TestFunctionLibraryR5:
    """SPARQL 1.1 function-library completions (r5): SHA384/SHA512,
    TIMEZONE, BNODE, UUID/STRUUID, RAND, NOW — both backends."""

    XSD_DT = "<http://www.w3.org/2001/XMLSchema#dateTime>"
    DUR = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"
    QUADS = [
        (iri("a"), iri("ts"), f'"2011-01-10T14:45:13-05:00"^^{XSD_DT}'),
        (iri("b"), iri("ts"), f'"2011-01-10T14:45:13Z"^^{XSD_DT}'),
        (iri("c"), iri("ts"), f'"2011-01-10T14:45:13+05:30"^^{XSD_DT}'),
        (iri("d"), iri("ts"), f'"2011-01-10T14:45:13+00:00"^^{XSD_DT}'),
        (iri("e"), iri("ts"), f'"2011-01-10T14:45:13"^^{XSD_DT}'),
        (iri("x"), iri("name"), '"alpha"'),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.QUADS, "subj string, pred string, obj string")

    def _both(self, spark, q):
        local = sparql_eval_local(self.QUADS, q)
        out = sparql_query(self._df(spark), q)
        got = sorted(tuple(r) for r in out.collect())
        loc = sorted(tuple(r[c] for c in out.columns) for r in local)
        assert got == loc, f"{q}\n df={got}\n local={loc}"
        return got

    def test_timezone_spec_examples(self, spark):
        got = self._both(spark, """
            SELECT ?s (TIMEZONE(?v) AS ?d)
            WHERE { ?s <urn:t:ts> ?v } ORDER BY ?s
        """)
        vals = dict(got)
        assert vals[iri("a")] == f'"-PT5H"^^<{self.DUR}>'
        assert vals[iri("b")] == f'"PT0S"^^<{self.DUR}>'
        assert vals[iri("c")] == f'"PT5H30M"^^<{self.DUR}>'
        assert vals[iri("d")] == f'"PT0S"^^<{self.DUR}>'
        assert vals[iri("e")] is None  # zoneless -> error -> unbound

    def test_sha384_sha512_against_hashlib(self, spark):
        import hashlib

        got = self._both(spark, """
            SELECT (SHA384(?o) AS ?h3) (SHA512(?o) AS ?h5)
            WHERE { ?s <urn:t:name> ?o }
        """)
        ((h3, h5),) = got
        assert h3 == hashlib.sha384(b"alpha").hexdigest()
        assert h5 == hashlib.sha512(b"alpha").hexdigest()

    def test_bnode_stable_and_fresh(self, spark):
        out = sparql_query(self._df(spark), """
            SELECT ?s (BNODE(STR(?s)) AS ?stable) (BNODE() AS ?fresh)
            WHERE { ?s <urn:t:ts> ?v } ORDER BY ?s
        """).collect()
        stable = [r["stable"] for r in out]
        fresh = [r["fresh"] for r in out]
        assert all(b.startswith("_:bh") for b in stable)
        assert len(set(stable)) == len(stable)  # distinct args -> distinct
        # same arg -> same label (run twice)
        again = sparql_query(self._df(spark), """
            SELECT (BNODE(STR(?s)) AS ?stable)
            WHERE { ?s <urn:t:ts> ?v } ORDER BY ?s
        """).collect()
        assert [r["stable"] for r in again] == stable
        assert all(b.startswith("_:bn") for b in fresh)
        assert len(set(fresh)) == len(fresh)  # fresh per solution

    def test_uuid_struuid_rand_now_shapes(self, spark):
        import re as _re

        out = sparql_query(self._df(spark), """
            SELECT (UUID() AS ?u) (STRUUID() AS ?su) (RAND() AS ?r)
                   (NOW() AS ?n)
            WHERE { ?s <urn:t:name> ?o }
        """).collect()[0]
        assert _re.match(r"^<urn:uuid:[0-9a-f-]{36}>$", out["u"])
        assert _re.match(r"^[0-9a-f-]{36}$", out["su"])
        assert 0.0 <= out["r"] < 1.0
        assert _re.match(
            r'^"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"'
            r"\^\^<http://www\.w3\.org/2001/XMLSchema#dateTime>$", out["n"])
        # local twin shapes too
        loc = sparql_eval_local(self.QUADS, """
            SELECT (UUID() AS ?u) (STRUUID() AS ?su) (RAND() AS ?r)
                   (NOW() AS ?n) WHERE { ?s <urn:t:name> ?o }
        """)[0]
        assert _re.match(r"^<urn:uuid:[0-9a-f-]{36}>$", loc["u"])
        assert 0.0 <= loc["r"] < 1.0

    def test_now_fixed_within_query(self, spark):
        out = sparql_query(self._df(spark), """
            SELECT ?s (NOW() AS ?n) WHERE { ?s <urn:t:ts> ?v }
        """).collect()
        assert len({r["n"] for r in out}) == 1  # one value per execution

    def test_nullary_parse_errors(self, spark):
        with pytest.raises(SparqlError):
            sparql_query(self._df(spark),
                         'SELECT (UUID(?s) AS ?u) WHERE { ?s <urn:t:ts> ?v }')
        with pytest.raises(SparqlError):
            sparql_query(self._df(spark),
                         'SELECT (TIMEZONE() AS ?d) WHERE { ?s <urn:t:ts> ?v }')


class TestNullaryWantModes:
    """Review fixes: nullary term constructors must honor the caller's
    want-mode on the DataFrame backend (the local evaluator re-lexes via
    term_lex, so without these the backends diverged)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [("<urn:t:x>", "<urn:t:name>", '"alpha"')],
            "subj string, pred string, obj string")

    def test_year_of_now(self, spark):
        out = sparql_query(self._df(spark), """
            SELECT (YEAR(NOW()) AS ?y) WHERE { ?s <urn:t:name> ?o }
        """).collect()[0]
        assert out["y"] is not None and out["y"] >= 2026.0

    def test_str_of_uuid_and_timezone(self, spark):
        import re as _re

        out = sparql_query(self._df(spark), """
            SELECT (STR(UUID()) AS ?u) (STR(NOW()) AS ?n)
            WHERE { ?s <urn:t:name> ?o }
        """).collect()[0]
        assert _re.match(r"^urn:uuid:[0-9a-f-]{36}$", out["u"])
        assert _re.match(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$", out["n"])
        tzq = spark.createDataFrame(
            [("<urn:t:a>", "<urn:t:ts>",
              '"2011-01-10T14:45:13-05:00"'
              '^^<http://www.w3.org/2001/XMLSchema#dateTime>')],
            "subj string, pred string, obj string")
        out2 = sparql_query(tzq, """
            SELECT (STR(TIMEZONE(?v)) AS ?d) WHERE { ?s <urn:t:ts> ?v }
        """).collect()[0]
        assert out2["d"] == "-PT5H"

    def test_two_bnode_calls_distinct(self, spark):
        out = sparql_query(self._df(spark), """
            SELECT (BNODE() AS ?a) (BNODE() AS ?b)
            WHERE { ?s <urn:t:name> ?o }
        """).collect()[0]
        assert out["a"] != out["b"]


class TestMultiLineLiterals:
    """A literal with a real newline (Turtle's triple-quoted strings, or
    INSERT DATA) keeps its lexical form on the Spark backend too."""

    TRIPLES = [(iri("a"), iri("v"), '"a\nb"'),
               (iri("b"), iri("v"), '"a\nb\nc"@en'),
               (iri("c"), iri("v"), '"b"')]

    @pytest.mark.parametrize("q", [
        "SELECT ?s (STR(?o) AS ?l) WHERE { ?s <urn:t:v> ?o }",
        "SELECT ?s (STRLEN(?o) AS ?n) WHERE { ?s <urn:t:v> ?o }",
        'SELECT ?s WHERE { ?s <urn:t:v> ?o FILTER(STRSTARTS(STR(?o), "a")) }',
        "SELECT ?s (LANG(?o) AS ?lang) WHERE { ?s <urn:t:v> ?o }",
    ])
    def test_spark_agrees_with_local(self, spark, q):
        got, want = both(spark, self.TRIPLES, q)
        assert got == want and got, q


class TestParameterBinding:
    """Values from the query text are bound as SQL parameters, never
    spliced: quotes, backslashes, comment and statement marks, formatter
    braces and parameter markers match literally on both backends."""

    LITS = ['"it\'s"', '"say \\"hi\\""', '"back\\\\slash"', '"a -- b"',
            '"1; SELECT 2"', '"{q}"', '"{{"', '":t0"', '"why?"']
    IRIS = ["<urn:t:it's>", "<urn:t:a--b;c>", "<urn:t::t0?x>",
            "<urn:t:back\\slash>"]

    def _triples(self):
        t = [(iri(f"s{i}"), iri("v"), lit) for i, lit in enumerate(self.LITS)]
        return t + [(x, iri("v"), '"iri"') for x in self.IRIS]

    def _queries(self):
        for lit in self.LITS:
            yield f"SELECT ?s WHERE {{ ?s <urn:t:v> {lit} }}"
            yield f"SELECT ?s WHERE {{ ?s <urn:t:v> ?o FILTER(?o = {lit}) }}"
        for x in self.IRIS:
            yield f"SELECT ?o WHERE {{ {x} <urn:t:v> ?o }}"
        yield ("SELECT ?s ?o WHERE { VALUES ?o { " + " ".join(self.LITS)
               + " } ?s <urn:t:v> ?o }")
        yield ("SELECT ?s ?o WHERE { VALUES ?s { " + " ".join(self.IRIS)
               + " } ?s <urn:t:v> ?o }")
        yield ('SELECT ?o WHERE { ?s <urn:t:v> ?o '
               'FILTER(REGEX(STR(?o), "^[a-z]{2}")) }')
        yield ('SELECT ?o WHERE { ?s <urn:t:v> ?o '
               'FILTER(CONTAINS(STR(?o), "{{") || STRENDS(STR(?o), "?")) }')

    def test_values_match_literally(self, spark):
        for q in self._queries():
            got, want = both(spark, self._triples(), q)
            assert got == want and got, q
