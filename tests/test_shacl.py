"""SHACL-lite: turtle parsing, shape compilation, per-graph evaluation, the
reference classification corpus, and the distributed quads operator.

Mirrors /root/reference/shacl_validator/shacl_validator_go/shacl_test.go:29-96
(every valid testdata doc conforms, every invalid one does not) plus the
Place-or-Dataset pre-check of shacl.go:78-92.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from nabu_spark.functions.turtle import parse_turtle
from nabu_spark.operators.shacl import (
    PRECHECK_MESSAGE,
    geoconnex_shapes_ttl,
    parse_shapes,
    shacl_validate_quads,
    validate_graph,
)

from .conftest import needs_reference

TESTDATA = "/root/reference/shacl_validator/testdata"


class TestTurtleParser:
    def test_basic_forms(self):
        ttl = """
        @prefix ex: <http://e.org/> .
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @base <http://b.org/> .
        <#S> a sh:NodeShape ;
            sh:targetClass ex:A, ex:B ;
            sh:property [ sh:path ex:p ; sh:minCount 1 ;
                          sh:message "m \\"q\\"" ] ;
            sh:or ( [ sh:class ex:A ] [ sh:class ex:B ] ) .
        """
        t = parse_turtle(ttl)
        tc = sorted(o for s, p, o in t if p.endswith("#targetClass>"))
        assert tc == ["<http://e.org/A>", "<http://e.org/B>"]
        assert ("<http://b.org/#S>",
                "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
                "<http://www.w3.org/ns/shacl#NodeShape>") in t
        msgs = [o for s, p, o in t if p.endswith("#message>")]
        assert msgs == ['"m \\"q\\""']
        # collection rest-chain terminates in rdf:nil
        assert any(o.endswith("#nil>") for s, p, o in t)

    def test_integer_and_boolean_literals(self):
        ttl = """
        @prefix ex: <http://e.org/> .
        ex:s ex:n 3 ; ex:b true .
        """
        t = dict(((s, p), o) for s, p, o in parse_turtle(ttl))
        assert t[("<http://e.org/s>", "<http://e.org/n>")] == (
            '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'
        )
        assert t[("<http://e.org/s>", "<http://e.org/b>")] == (
            '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'
        )

    def test_pname_with_no_space_before_statement_dot(self):
        # PN_LOCAL cannot end in '.', so 'ex:Thing.' is a pname plus the
        # statement terminator — valid Turtle that omits the space
        # (ADVICE r02 #2)
        ttl = """
        @prefix ex: <http://e.org/> .
        ex:s a ex:Thing.
        ex:t a ex:Other. # comment directly after the dot
        """
        t = parse_turtle(ttl)
        objs = sorted(o for s, p, o in t)
        assert objs == ["<http://e.org/Other>", "<http://e.org/Thing>"]


@needs_reference
class TestGeoconnexCorpus:
    def test_shape_compilation(self):
        sg = parse_shapes(geoconnex_shapes_ttl())
        ids = {s.split("#")[-1].rstrip(">") for s in sg.shapes}
        assert {"DatasetShape", "ProviderShape", "LocationOrientedShape"} <= ids
        ds = sg.shapes["<http://geoconnex.us/shapes#DatasetShape>"]
        paths = {p.path for p in ds.properties}
        assert "<https://schema.org/provider>" in paths
        provider = next(
            p for p in ds.properties if p.path == "<https://schema.org/provider>"
        )
        assert provider.min_count == 1
        assert provider.node == "<http://geoconnex.us/shapes#ProviderShape>"

    @pytest.mark.parametrize("sub,expected", [("valid", True), ("invalid", False)])
    def test_corpus_classification(self, sub, expected):
        from nabu_spark.functions.jsonld import jsonld_to_triples

        sg = parse_shapes(geoconnex_shapes_ttl())
        files = sorted(glob.glob(f"{TESTDATA}/{sub}/*.jsonld"))
        assert files
        for f in files:
            doc = json.load(open(f))
            conforms, violations = validate_graph(sg, jsonld_to_triples(doc))
            assert conforms == expected, (
                f"{os.path.basename(f)}: conforms={conforms}, {violations[:3]}"
            )

    def test_precheck_message(self):
        sg = parse_shapes(geoconnex_shapes_ttl())
        conforms, violations = validate_graph(
            sg, [("<http://x>", "<http://p>", '"v"')]
        )
        assert not conforms
        assert violations == [("", "", "PreCheck", PRECHECK_MESSAGE, "Violation")]


MINI_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://t.org/shapes#> .

ex:DatasetShape a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ;
                  sh:datatype xsd:string ] ;
    sh:property [ sh:path schema:inLanguage ;
                  sh:pattern "^(en|es)$" ;
                  sh:message "gate languages only" ] .
"""


class TestDistributedValidation:
    def test_quads_operator(self, spark):
        rows = []
        for i, lang in enumerate(["en", "fr", "es"]):
            prov = f"<urn:iow:summoned:s:{i}>"
            subj = f"<https://d.org/{i}>"
            rows += [
                (subj, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
                 "<https://schema.org/Dataset>", prov),
                (subj, "<https://schema.org/name>", f'"doc {i}"', prov),
                (subj, "<https://schema.org/inLanguage>", f'"{lang}"', prov),
            ]
        quads = spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string"
        )
        out = {
            r["prov"]: r
            for r in shacl_validate_quads(quads, MINI_SHAPES).collect()
        }
        assert out["<urn:iow:summoned:s:0>"]["conforms"] is True
        assert out["<urn:iow:summoned:s:1>"]["conforms"] is False
        assert out["<urn:iow:summoned:s:1>"]["n_violations"] == 1
        assert "gate languages only" in out["<urn:iow:summoned:s:1>"]["violations"][0]
        assert out["<urn:iow:summoned:s:2>"]["conforms"] is True

    def test_operators_equal_per_graph_calls(self, spark, arrow_batches_of_two):
        """Each graph, the null-prov default graph included and whichever
        Arrow batches it spans, gives the rows of one driver-side call."""
        from nabu_spark.operators.shacl import _report_rows, shacl_report_quads

        rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        dataset = "<https://schema.org/Dataset>"
        name, lang = "<https://schema.org/name>", "<https://schema.org/inLanguage>"
        graphs = {
            "<urn:g:0>": [("<urn:d0>", rdf_type, dataset), ("<urn:d0>", name, '"a"'),
                          ("<urn:d0>", lang, '"en"')],
            "<urn:g:1>": [("<urn:d1>", rdf_type, dataset), ("<urn:d1>", name, '"b"'),
                          ("<urn:d1>", lang, '"fr"')],
            # the default graph: no schema:name, a language out of the gate
            None: [("<urn:d2>", rdf_type, dataset), ("<urn:d2>", lang, '"fr"'),
                   ("<urn:d2>", "<https://schema.org/url>", '"u"')],
            # untyped: fails the pre-check
            "<urn:g:3>": [("<urn:d3>", name, '"c"')],
        }
        quads = spark.createDataFrame(
            [(*t, g) for g, ts in graphs.items() for t in ts],
            "subj string, pred string, obj string, prov string").repartition(3)
        sg = parse_shapes(MINI_SHAPES)
        want = {}
        for prov, ts in graphs.items():
            conforms, results = validate_graph(sg, ts)
            n_viol = sum(r[4] == "Violation" for r in results)
            want[prov] = (conforms, n_viol, len(results) - n_viol,
                          sorted(f"{c}:{p}:{m}" for _, p, c, m, _ in results))
        got = {r.prov: (r.conforms, r.n_violations, r.n_warnings, r.violations)
               for r in shacl_validate_quads(quads, MINI_SHAPES).collect()}
        assert got == want
        assert want[None][1] == 2
        report = sorted(tuple(r) for r in shacl_report_quads(quads, MINI_SHAPES).collect())
        assert report == sorted(
            tuple(r.values()) for g, ts in graphs.items() for r in _report_rows(g, ts, sg, True))

    def test_precheck_in_operator(self, spark):
        quads = spark.createDataFrame(
            [("<https://d.org/0>", "<https://schema.org/name>", '"x"', "<urn:g>")],
            "subj string, pred string, obj string, prov string",
        )
        row = shacl_validate_quads(quads, MINI_SHAPES).first()
        assert row["conforms"] is False
        assert "PreCheck" in row["violations"][0]


class TestSeverityAndLogic:
    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:Main a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [ sh:path schema:keywords ; sh:minCount 1 ;
                  sh:severity sh:Warning ;
                  sh:message "keywords recommended" ] ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ] ;
    sh:not [ sh:property [ sh:path schema:deprecated ; sh:minCount 1 ] ] ;
    sh:and ( [ sh:property [ sh:path schema:license ; sh:minCount 1 ] ]
             [ sh:property [ sh:path schema:provider ; sh:minCount 1 ] ] ) .
"""

    def _graph(self, *preds):
        base = [("<https://d.org/1>", self.RDF_TYPE, "<https://schema.org/Dataset>")]
        base += [
            ("<https://d.org/1>", f"<https://schema.org/{p}>", f'"{p}-v"')
            for p in preds
        ]
        return base

    def _check(self, *preds):
        sg = parse_shapes(self.SHAPES)
        return validate_graph(sg, self._graph(*preds))

    def test_warning_severity_reported_not_violation(self):
        # name+license+provider present, keywords missing -> one Warning row
        conforms, results = self._check("name", "license", "provider")
        assert not conforms  # SHACL conformance: any result -> false
        assert [r[4] for r in results] == ["Warning"]
        assert results[0][2] == "MinCount"
        assert "keywords recommended" in results[0][3]

    def test_violation_severity_default(self):
        conforms, results = self._check("keywords", "license", "provider")
        sevs = {r[2]: r[4] for r in results}
        assert sevs.get("MinCount") == "Violation"  # missing name

    def test_sh_not(self):
        # deprecated present -> node conforms to the negated shape -> Not
        conforms, results = self._check(
            "name", "keywords", "license", "provider", "deprecated"
        )
        assert not conforms
        assert {r[2] for r in results} == {"Not"}
        assert all(r[4] == "Violation" for r in results)

    def test_sh_and(self):
        # license missing -> first sh:and member fails
        conforms, results = self._check("name", "keywords", "provider")
        assert not conforms
        assert {r[2] for r in results} == {"And"}

    def test_all_satisfied(self):
        conforms, results = self._check("name", "keywords", "license", "provider")
        assert conforms, results

    XONE_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:X a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:xone ( [ sh:property [ sh:path schema:doi ; sh:minCount 1 ] ]
              [ sh:property [ sh:path schema:isbn ; sh:minCount 1 ] ] ) .

ex:Inv a sh:NodeShape ;
    sh:targetClass schema:Organization ;
    sh:property [ sh:path [ sh:inversePath schema:provider ] ;
                  sh:minCount 1 ;
                  sh:message "org must provide something" ] .
"""

    def _xone_graph(self, *preds):
        base = [("<https://d.org/1>", self.RDF_TYPE, "<https://schema.org/Dataset>")]
        base += [
            ("<https://d.org/1>", f"<https://schema.org/{p}>", f'"{p}-v"')
            for p in preds
        ]
        return base

    def test_sh_xone(self):
        sg = parse_shapes(self.XONE_SHAPES)
        # exactly one of doi/isbn -> conforms
        assert validate_graph(sg, self._xone_graph("doi"), precheck=False)[0]
        assert validate_graph(sg, self._xone_graph("isbn"), precheck=False)[0]
        # zero or both -> Xone violation
        for preds in ((), ("doi", "isbn")):
            conforms, results = validate_graph(
                sg, self._xone_graph(*preds), precheck=False
            )
            assert not conforms
            assert {r[2] for r in results} == {"Xone"}

    def test_inverse_path(self):
        sg = parse_shapes(self.XONE_SHAPES)
        org = "<https://d.org/org>"
        linked = [
            (org, self.RDF_TYPE, "<https://schema.org/Organization>"),
            ("<https://d.org/1>", "<https://schema.org/provider>", org),
        ]
        assert validate_graph(sg, linked, precheck=False)[0]
        orphan = [(org, self.RDF_TYPE, "<https://schema.org/Organization>")]
        conforms, results = validate_graph(sg, orphan, precheck=False)
        assert not conforms
        assert results[0][2] == "MinCount"
        assert "org must provide" in results[0][3]

    def test_distributed_counts_split_by_severity(self, spark):
        rows = [
            ("<https://d.org/1>", self.RDF_TYPE,
             "<https://schema.org/Dataset>", "<urn:g:1>"),
            ("<https://d.org/1>", "<https://schema.org/name>", '"n"', "<urn:g:1>"),
            ("<https://d.org/1>", "<https://schema.org/license>", '"l"', "<urn:g:1>"),
            ("<https://d.org/1>", "<https://schema.org/provider>", '"p"', "<urn:g:1>"),
        ]
        quads = spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string"
        )
        row = shacl_validate_quads(quads, self.SHAPES, precheck=False).first()
        assert row["conforms"] is False
        assert row["n_violations"] == 0  # keywords missing is a Warning
        assert row["n_warnings"] == 1


class TestExtraConstraints:
    SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:S a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [ sh:path schema:license ;
                  sh:in ( "cc-by" "cc0" ) ] ;
    sh:property [ sh:path schema:provider ; sh:class schema:Organization ] ;
    sh:property [ sh:path schema:version ; sh:hasValue "2" ] ;
    sh:property [ sh:path schema:name ; sh:minLength 3 ; sh:maxLength 10 ] .
"""

    def _graph(self, **over):
        rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        d = {
            "license": '"cc-by"',
            "provider_typed": True,
            "version": '"2"',
            "name": '"hello"',
        }
        d.update(over)
        t = [
            ("<https://d.org/1>", rdf_type, "<https://schema.org/Dataset>"),
            ("<https://d.org/1>", "<https://schema.org/license>", d["license"]),
            ("<https://d.org/1>", "<https://schema.org/provider>", "_:p"),
            ("<https://d.org/1>", "<https://schema.org/version>", d["version"]),
            ("<https://d.org/1>", "<https://schema.org/name>", d["name"]),
        ]
        if d["provider_typed"]:
            t.append(("_:p", rdf_type, "<https://schema.org/Organization>"))
        return t

    def _check(self, **over):
        sg = parse_shapes(self.SHAPES)
        return validate_graph(sg, self._graph(**over))

    def test_all_pass(self):
        conforms, v = self._check()
        assert conforms, v

    def test_each_constraint_fires(self):
        for over, component in (
            ({"license": '"proprietary"'}, "In"),
            ({"provider_typed": False}, "Class"),
            ({"version": '"3"'}, "HasValue"),
            ({"name": '"ab"'}, "MinLength"),
            ({"name": '"waaaaaay too long"'}, "MaxLength"),
        ):
            conforms, violations = self._check(**over)
            assert not conforms
            assert component in {c for _, _, c, _, _ in violations}, (over, violations)


class TestSequencePaths:
    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:Seq a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [ sh:path ( schema:provider schema:name ) ;
                  sh:minCount 1 ;
                  sh:message "provider must be named" ] .

ex:SeqInv a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:property [ sh:path ( [ sh:inversePath schema:about ] schema:headline ) ;
                  sh:minCount 1 ] .
"""

    def test_sequence_path_composes(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        sg = parse_shapes(self.SHAPES)
        ds, org = "<https://d.org/ds>", "<https://d.org/org>"
        named = [
            (ds, self.RDF_TYPE, "<https://schema.org/Dataset>"),
            (ds, "<https://schema.org/provider>", org),
            (org, "<https://schema.org/name>", '"Acme"'),
        ]
        assert validate_graph(sg, named, precheck=False)[0]
        unnamed = named[:2]
        conforms, results = validate_graph(sg, unnamed, precheck=False)
        assert not conforms
        assert results[0][2] == "MinCount"
        assert "provider must be named" in results[0][3]
        # the report's path column carries the SPARQL-style sequence form
        assert "/" in results[0][1]

    def test_sequence_with_inverse_step(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        sg = parse_shapes(self.SHAPES)
        place, art = "<https://d.org/p>", "<https://d.org/article>"
        linked = [
            (place, self.RDF_TYPE, "<https://schema.org/Place>"),
            (art, "<https://schema.org/about>", place),
            (art, "<https://schema.org/headline>", '"story"'),
        ]
        assert validate_graph(sg, linked, precheck=False)[0]
        orphan = [(place, self.RDF_TYPE, "<https://schema.org/Place>")]
        assert not validate_graph(sg, orphan, precheck=False)[0]

    def test_sequence_path_display_form(self):
        from nabu_spark.operators.shacl import parse_shapes

        sg = parse_shapes(self.SHAPES)
        seq = next(s for s in sg.shapes.values() if s.shape_id.endswith("Seq>"))
        p = seq.properties[0]
        assert p.steps == [
            ("<https://schema.org/provider>", False),
            ("<https://schema.org/name>", False),
        ]
        assert p.path == "<https://schema.org/provider>/<https://schema.org/name>"


class TestPathAlgebra:
    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:Alt a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [ sh:path [ sh:alternativePath ( schema:doi schema:isbn ) ] ;
                  sh:minCount 1 ] .

ex:Star a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:property [ sh:path ( [ sh:zeroOrMorePath schema:containedInPlace ]
                            schema:name ) ;
                  sh:minCount 1 ;
                  sh:message "some enclosing place must be named" ] .

ex:Plus a sh:NodeShape ;
    sh:targetClass schema:Park ;
    sh:property [ sh:path [ sh:oneOrMorePath schema:containedInPlace ] ;
                  sh:minCount 1 ] .

ex:InvSeq a sh:NodeShape ;
    sh:targetClass schema:City ;
    sh:property [ sh:path [ sh:inversePath ( schema:a schema:b ) ] ;
                  sh:minCount 1 ] .
"""

    def _sg(self):
        from nabu_spark.operators.shacl import parse_shapes

        return parse_shapes(self.SHAPES)

    def test_alternative_path(self):
        from nabu_spark.operators.shacl import validate_graph

        sg = self._sg()
        base = [("<https://x/d>", self.RDF_TYPE, "<https://schema.org/Dataset>")]
        assert not validate_graph(sg, base, precheck=False)[0]
        for pred in ("doi", "isbn"):
            g = base + [("<https://x/d>", f"<https://schema.org/{pred}>", '"v"')]
            assert validate_graph(sg, g, precheck=False)[0], pred

    def test_zero_or_more_closure(self):
        from nabu_spark.operators.shacl import validate_graph

        sg = self._sg()
        cip = "<https://schema.org/containedInPlace>"
        name = "<https://schema.org/name>"
        p, q, r = "<https://x/p>", "<https://x/q>", "<https://x/r>"
        typed = [(p, self.RDF_TYPE, "<https://schema.org/Place>")]
        # zero steps: the place itself is named
        assert validate_graph(sg, typed + [(p, name, '"self"')], precheck=False)[0]
        # two hops up the containment chain
        chain = typed + [(p, cip, q), (q, cip, r), (r, name, '"root"')]
        assert validate_graph(sg, chain, precheck=False)[0]
        # cycle without any name anywhere -> must terminate and fail
        cyc = typed + [(p, cip, q), (q, cip, p)]
        conforms, results = validate_graph(sg, cyc, precheck=False)
        assert not conforms
        assert "enclosing place" in results[0][3]

    def test_one_or_more_requires_a_step(self):
        from nabu_spark.operators.shacl import validate_graph

        sg = self._sg()
        cip = "<https://schema.org/containedInPlace>"
        park = [("<https://x/k>", self.RDF_TYPE, "<https://schema.org/Park>")]
        assert not validate_graph(sg, park, precheck=False)[0]
        assert validate_graph(
            sg, park + [("<https://x/k>", cip, "<https://x/q>")], precheck=False
        )[0]

    def test_inverse_of_sequence_reverses(self):
        from nabu_spark.operators.shacl import validate_graph

        sg = self._sg()
        # ^(a/b) from city == entities reaching city via a then b
        city = "<https://x/c>"
        g = [
            (city, self.RDF_TYPE, "<https://schema.org/City>"),
            ("<https://x/s>", "<https://schema.org/a>", "<https://x/m>"),
            ("<https://x/m>", "<https://schema.org/b>", city),
        ]
        assert validate_graph(sg, g, precheck=False)[0]
        orphan = [(city, self.RDF_TYPE, "<https://schema.org/City>")]
        assert not validate_graph(sg, orphan, precheck=False)[0]

    def test_display_forms(self):
        sg = self._sg()
        by_id = {s.shape_id.rsplit("#", 1)[-1].rstrip(">"): s
                 for s in sg.shapes.values()}
        assert by_id["Alt"].properties[0].path == (
            "(<https://schema.org/doi>|<https://schema.org/isbn>)"
        )
        assert by_id["Star"].properties[0].path == (
            "<https://schema.org/containedInPlace>*/<https://schema.org/name>"
        )
        # inverse of a sequence normalizes to reversed inverse steps
        assert by_id["InvSeq"].properties[0].path == (
            "^<https://schema.org/b>/^<https://schema.org/a>"
        )
        assert by_id["InvSeq"].properties[0].steps == [
            ("<https://schema.org/b>", True),
            ("<https://schema.org/a>", True),
        ]


class TestClosedAndQualified:
    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    def test_closed_shape(self):
        sg = parse_shapes("""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://t.org/shapes#> .

ex:C a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ] .
""")
        ok = [
            ("<http://d.org/p>", self.RDF_TYPE, "<https://schema.org/Place>"),
            ("<http://d.org/p>", "<https://schema.org/name>", '"x"'),
        ]
        conforms, res = validate_graph(sg, ok)
        assert conforms, res
        extra = ok + [("<http://d.org/p>", "<https://schema.org/color>", '"red"')]
        conforms, res = validate_graph(sg, extra)
        assert not conforms
        assert any(r[2] == "Closed" and r[1] == "<https://schema.org/color>"
                   for r in res)

    def test_closed_requires_explicit_rdf_type_ignore(self):
        # per spec, rdf:type is NOT implicitly allowed on a closed shape
        sg = parse_shapes("""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:C a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:closed true ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ] .
""")
        g = [
            ("<http://d.org/p>", self.RDF_TYPE, "<https://schema.org/Place>"),
            ("<http://d.org/p>", "<https://schema.org/name>", '"x"'),
        ]
        conforms, res = validate_graph(sg, g)
        assert not conforms
        assert any(r[2] == "Closed" and r[1] == self.RDF_TYPE for r in res)

    def _qualified_sg(self):
        return parse_shapes("""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:Q a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:property [
        sh:path schema:provider ;
        sh:qualifiedValueShape [ sh:class schema:Organization ] ;
        sh:qualifiedMinCount 1 ;
        sh:qualifiedMaxCount 2 ;
    ] .
""")

    def _ds(self, providers):
        g = [("<http://d.org/d>", self.RDF_TYPE, "<https://schema.org/Dataset>")]
        for i, is_org in enumerate(providers):
            p = f"<http://d.org/prov{i}>"
            g.append(("<http://d.org/d>", "<https://schema.org/provider>", p))
            if is_org:
                g.append((p, self.RDF_TYPE, "<https://schema.org/Organization>"))
        return g

    def test_qualified_min_count(self):
        sg = self._qualified_sg()
        # one conforming provider among non-conforming ones: OK
        conforms, res = validate_graph(sg, self._ds([True, False]))
        assert conforms, res
        # zero conforming: QualifiedMinCount
        conforms, res = validate_graph(sg, self._ds([False, False]))
        assert not conforms
        assert any(r[2] == "QualifiedMinCount" for r in res)
        # plain sh:class would have failed the [True, False] case — the
        # qualified form only requires SOME values to conform

    def test_qualified_max_count(self):
        sg = self._qualified_sg()
        conforms, res = validate_graph(sg, self._ds([True, True, True]))
        assert not conforms
        assert any(r[2] == "QualifiedMaxCount" for r in res)


class TestSparqlConstraints:
    """sh:sparql SELECT-based constraints (SHACL-SPARQL §5), evaluated with
    the in-process nabu_spark.sparql evaluator — the last SHACL construct
    family the engine lacked."""

    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    SHAPES = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:LabelMatchesName a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:sparql [
        sh:message "alternateName must differ from name" ;
        sh:prefixes ex:onto ;
        sh:select """SELECT $this ?value WHERE {
            $this schema:name ?value .
            $this schema:alternateName ?value .
        }""" ;
    ] .

ex:onto sh:declare [ sh:prefix "schema" ;
                     sh:namespace "https://schema.org/" ] .
'''

    def _place(self, name, alt):
        return [
            ("<http://d.org/p>", self.RDF_TYPE, "<https://schema.org/Place>"),
            ("<http://d.org/p>", "<https://schema.org/name>", f'"{name}"'),
            ("<http://d.org/p>", "<https://schema.org/alternateName>", f'"{alt}"'),
        ]

    def test_violation_when_names_equal(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        sg = parse_shapes(self.SHAPES)
        conforms, res = validate_graph(sg, self._place("Springfield", "Springfield"),
                                       precheck=False)
        assert not conforms
        (row,) = res
        assert row[2] == "SPARQLConstraint"
        assert row[3] == "alternateName must differ from name"
        assert row[0] == "<http://d.org/p>"

    def test_conforms_when_names_differ(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        sg = parse_shapes(self.SHAPES)
        conforms, res = validate_graph(sg, self._place("Springfield", "Greendale"),
                                       precheck=False)
        assert conforms, res

    def test_inline_prefixes_and_filter(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        shapes = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:ShortName a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:severity sh:Warning ;
    sh:sparql [
        sh:select """PREFIX schema: <https://schema.org/>
          SELECT $this ?value WHERE {
            $this schema:name ?value .
            FILTER(strlen(?value) > 10)
          }""" ;
    ] .
'''
        sg = parse_shapes(shapes)
        conforms, res = validate_graph(
            sg, self._place("A very long place name", "x"), precheck=False
        )
        assert not conforms
        assert res[0][2] == "SPARQLConstraint"
        assert res[0][4] == "Warning"
        assert 'A very long place name' in res[0][3]
        conforms, _ = validate_graph(sg, self._place("Short", "x"), precheck=False)
        assert conforms


class TestTurtleLongStrings:
    def test_long_string_literal_with_newlines_and_quotes(self):
        from nabu_spark.functions.turtle import parse_turtle

        triples = parse_turtle(
            '@prefix ex: <http://t.org/> .\n'
            'ex:s ex:p """line1\nline2 "quoted" end""" .'
        )
        ((s, p, o),) = triples
        # newlines stay raw inside the stored term; quotes are escaped
        assert o == '"line1\nline2 \\"quoted\\" end"'


class TestSparqlConstraintDistributed:
    def test_sh_sparql_through_quads_operator(self, spark):
        """sh:sparql constraints (compiled Query dataclasses) must survive
        closure pickling into the distributed per-graph evaluator."""
        from nabu_spark.operators.shacl import shacl_validate_quads

        shapes = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:NoSelfAlias a sh:NodeShape ;
    sh:targetClass schema:Dataset ;
    sh:sparql [
        sh:message "name equals alternateName" ;
        sh:select """PREFIX schema: <https://schema.org/>
            SELECT $this ?value WHERE {
              $this schema:name ?value .
              $this schema:alternateName ?value .
            }""" ;
    ] .
'''
        rows = []
        rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        for i, (name, alt) in enumerate([("a", "a"), ("b", "c")]):
            prov = f"<urn:iow:summoned:d:{i}>"
            subj = f"<https://d.org/{i}>"
            rows += [
                (subj, rdf_type, "<https://schema.org/Dataset>", prov),
                (subj, "<https://schema.org/name>", f'"{name}"', prov),
                (subj, "<https://schema.org/alternateName>", f'"{alt}"', prov),
            ]
        quads = spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string"
        )
        out = {
            r["prov"]: r
            for r in shacl_validate_quads(quads, shapes, precheck=False).collect()
        }
        assert out["<urn:iow:summoned:d:0>"]["conforms"] is False
        assert "name equals alternateName" in \
            out["<urn:iow:summoned:d:0>"]["violations"][0]
        assert out["<urn:iow:summoned:d:1>"]["conforms"] is True


class TestValidationReportQuads:
    """Standard sh:ValidationReport rendering (shacl_report_quads)."""

    SHAPES = """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix schema: <https://schema.org/> .
        @prefix ex: <urn:ex:> .
        ex:S a sh:NodeShape ;
          sh:targetClass schema:Place ;
          sh:property [ sh:path schema:name ; sh:minCount 1 ] .
    """

    def _quads(self, spark):
        rows = [
            # g1 conforms, g2 misses schema:name
            ("<urn:a>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
             "<https://schema.org/Place>", "<urn:g1>"),
            ("<urn:a>", "<https://schema.org/name>", '"A"', "<urn:g1>"),
            ("<urn:b>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
             "<https://schema.org/Place>", "<urn:g2>"),
        ]
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string, prov string")

    def test_report_agrees_with_validation(self, spark):
        from nabu_spark.operators.shacl import (
            shacl_report_quads, shacl_validate_quads,
        )

        quads = self._quads(spark)
        rep = shacl_report_quads(quads, self.SHAPES, precheck=False)
        rows = [tuple(r) for r in rep.collect()]
        SH = "http://www.w3.org/ns/shacl#"
        conf = {
            prov: obj for s, p, obj, prov in rows
            if p == f"<{SH}conforms>"
        }
        val = {r.prov: r.conforms
               for r in shacl_validate_quads(
                   quads, self.SHAPES, precheck=False).collect()}
        want = {p: f'"{"true" if c else "false"}"'
                   '^^<http://www.w3.org/2001/XMLSchema#boolean>'
                for p, c in val.items()}
        assert conf == want
        # the failing graph carries a full ValidationResult node
        g2 = [(s, p, o) for s, p, o, prov in rows if prov == "<urn:g2>"]
        preds = {p for _, p, _ in g2}
        for local in ("result>", "focusNode>", "resultMessage>",
                      "resultSeverity>", "sourceConstraintComponent>",
                      "resultPath>"):
            assert any(p.endswith(local) for p in preds), local
        assert ("<urn:b>" in {o for _, p, o in g2
                              if p == f"<{SH}focusNode>"})
        assert f"<{SH}MinCountConstraintComponent>" in {
            o for _, p, o in g2 if p == f"<{SH}sourceConstraintComponent>"}

    def test_report_deterministic_and_turtle_serializable(self, spark):
        from nabu_spark.functions.turtle import parse_turtle, serialize_turtle
        from nabu_spark.operators.shacl import shacl_report_quads

        quads = self._quads(spark)
        a = sorted(tuple(r) for r in
                   shacl_report_quads(quads, self.SHAPES,
                                      precheck=False).collect())
        b = sorted(tuple(r) for r in
                   shacl_report_quads(
                       quads.repartition(7), self.SHAPES,
                       precheck=False).collect())
        assert a == b  # content-derived node IRIs: partitioning-invariant
        g2 = [(s, p, o) for s, p, o, prov in a if prov == "<urn:g2>"]
        ttl = serialize_turtle(g2, {"sh": "http://www.w3.org/ns/shacl#"})
        assert {tuple(t) for t in parse_turtle(ttl)} == set(g2)


class TestDeactivated:
    """sh:deactivated true (SHACL §2.1.3.3): the shape produces no
    results, whether targeted directly, referenced via sh:node/sh:not,
    or a property shape inside an active node shape."""

    RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    SHAPES = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:Off a sh:NodeShape ;
    sh:deactivated true ;
    sh:targetClass schema:Place ;
    sh:property [ sh:path schema:name ; sh:minCount 1 ] .

ex:On a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:property [ sh:path schema:url ; sh:minCount 1 ;
                  sh:deactivated true ] ;
    sh:property [ sh:path schema:description ; sh:minCount 1 ] .
'''

    def _place(self):
        return [("<http://d.org/p>", self.RDF_TYPE,
                 "<https://schema.org/Place>")]

    def test_deactivated_shapes_produce_no_results(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        sg = parse_shapes(self.SHAPES)
        conforms, res = validate_graph(sg, self._place(), precheck=False)
        # only the ACTIVE description property shape fires: the
        # deactivated node shape (missing name) and the deactivated url
        # property shape stay silent
        assert not conforms
        assert len(res) == 1
        assert "description" in res[0][1]

    def test_deactivated_false_is_active(self):
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        shapes = self.SHAPES.replace("sh:deactivated true",
                                     "sh:deactivated false")
        sg = parse_shapes(shapes)
        conforms, res = validate_graph(sg, self._place(), precheck=False)
        assert len(res) == 3

    def test_deactivated_property_path_still_counts_for_closed(self):
        """SHACL 4.8: sh:closed's allowed set is the paths of ALL property
        shapes — deactivation suppresses results, not the path."""
        from nabu_spark.operators.shacl import parse_shapes, validate_graph

        shapes = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix schema: <https://schema.org/> .
@prefix ex: <http://t.org/shapes#> .

ex:C a sh:NodeShape ;
    sh:targetClass schema:Place ;
    sh:closed true ;
    sh:property [ sh:path schema:name ; sh:minCount 5 ;
                  sh:deactivated true ] .
'''
        sg = parse_shapes(shapes)
        data = self._place() + [
            ("<http://d.org/p>", "<https://schema.org/name>", '"x"')]
        conforms, res = validate_graph(sg, data, precheck=False)
        # name is allowed (its deactivated shape still declares the path)
        # and the deactivated minCount 5 produces nothing; only the
        # rdf:type predicate trips sh:closed (not in ignoredProperties)
        assert [r[2] for r in res] == ["Closed"]
        assert res[0][1] == self.RDF_TYPE
