"""The driver fast paths behind ``session.bounded_collect``: the input plan
runs once on either side of the cap, every call leaves one decision span,
and the distributed ``GraphStore.entail`` path commits the same inference
graph as the driver path."""

from __future__ import annotations

from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from nabu_spark.graphstore import GraphStore
from nabu_spark.operators.dedup import dedup_clusters
from nabu_spark.operators.linkgraph import pagerank
from nabu_spark.operators.reasoner import (
    DOMAIN,
    INVERSE_OF,
    RANGE,
    RDF_TYPE,
    SUBCLASS,
    SUBPROP,
    SYMMETRIC,
    TRANSITIVE,
    owl_rl_materialize,
    rdfs_materialize,
    transitive_closure,
)
from nabu_spark.session import bounded_collect, driver_cap
from nabu_spark.sparql import sparql_query
from nabu_spark.telemetry import Tracer, set_active

TRIPLES = [
    ("<urn:C1>", SUBCLASS, "<urn:C2>"),
    ("<urn:p>", SUBPROP, "<urn:q>"),
    ("<urn:p>", DOMAIN, "<urn:C1>"),
    ("<urn:a>", "<urn:p>", "<urn:b>"),
    ("<urn:b>", "<urn:p>", "<urn:c>"),
]


def _counted(df, col, log):
    """``df`` with ``col`` passed through a UDF that appends one line to
    ``log`` per evaluation (a file, so no evaluation goes uncounted)."""
    path = str(log)

    def tick(v):
        with open(path, "a") as fh:
            fh.write("x\n")
        return v

    udf = F.udf(tick, df.schema[col].dataType).asNondeterministic()
    return df.withColumn(col, udf(col))


def _evaluations(log) -> int:
    n = len(log.read_text().splitlines()) if log.exists() else 0
    log.unlink(missing_ok=True)
    return n


def _closure(spark, log):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "child string, parent string")
    return transitive_closure(_counted(edges, "child", log))


def _triples(spark, log):
    return _counted(spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string"), "subj", log)


def _dedup(spark, log):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string")
    return dedup_clusters(_counted(pairs, "id_a", log))


def _pagerank(spark, log):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string")
    return pagerank(_counted(edges, "src", log), iterations=2)


def _sparql_path(spark, log):
    quads = spark.createDataFrame(
        [(f"<urn:n{i}>", "<urn:t:p>", f"<urn:n{i + 1}>") for i in range(4)],
        "subj string, pred string, obj string")
    return sparql_query(_counted(quads, "subj", log),
                        "SELECT ?s ?o WHERE { ?s <urn:t:p>+ ?o }")


SITES = {
    "transitive_closure": _closure,
    "rdfs_materialize": lambda s, log: rdfs_materialize(_triples(s, log)),
    "owl_rl_materialize": lambda s, log: owl_rl_materialize(_triples(s, log)),
    "dedup_clusters": _dedup,
    "pagerank": _pagerank,
    "sparql_path": _sparql_path,
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_input_built_once_above_the_cap(spark, tmp_path, site):
    """Over the cap the fallback reuses the probed relation: the input
    runs as many times as under the cap, where its plan runs once."""
    log = tmp_path / "evals"
    under = sorted(tuple(r) for r in SITES[site](spark, log).collect())
    once = _evaluations(log)
    with driver_cap(1):
        over = sorted(tuple(r) for r in SITES[site](spark, log).collect())
    assert once > 0
    assert _evaluations(log) == once
    if site != "pagerank":  # float ranks: agreement is pinned elsewhere
        assert over == under


def test_entail_window_built_once_above_the_cap(spark, tmp_path):
    log = tmp_path / "evals"

    def run(name):
        st = GraphStore(spark, str(tmp_path / name))
        st.init(spark.createDataFrame(
            [(s, p, o, None) for s, p, o in TRIPLES],
            "subj string, pred string, obj string, prov string"))
        st.entail()
        st.update("INSERT DATA { <urn:x> <urn:p> <urn:y> . "
                  "<urn:y> <urn:p> <urn:z> }")
        window = st.raw_window
        st.raw_window = lambda v0, v1: _counted(window(v0, v1), "subj", log)
        v = st.entail(incremental=True)
        assert st.tbl.manifest(v)["metrics"]["entail_mode"] == "incremental"

    run("under")
    once = _evaluations(log)
    with driver_cap(1):
        run("over")
    assert once == 2
    assert _evaluations(log) == once


def test_one_decision_span_per_call(spark):
    edges = spark.createDataFrame([("a", "b")], "child string, parent string")
    tr = Tracer()
    set_active(tr)
    try:
        transitive_closure(edges)
        with driver_cap(0):
            transitive_closure(edges)
        bounded_collect(edges, 5, site="probe")
    finally:
        set_active(None)
    assert [(s.name, s.attributes) for s in tr.spans
            if s.name == "bounded_collect"] == [
        ("bounded_collect", {"site": "transitive_closure", "cap": 100_000,
                             "rows": 1, "path": "driver"}),
        ("bounded_collect", {"site": "transitive_closure", "cap": 0,
                             "rows": 0, "path": "distributed"}),
        ("bounded_collect", {"site": "probe", "cap": 5, "rows": 1,
                             "path": "driver"}),
    ]


STORE = [
    ("<urn:C1>", SUBCLASS, "<urn:C2>", None),
    ("<urn:C2>", SUBCLASS, "<urn:C3>", None),
    ("<urn:p>", SUBPROP, "<urn:q>", None),
    ("<urn:p>", DOMAIN, "<urn:C1>", None),
    ("<urn:q>", RANGE, "<urn:C3>", None),
    ("<urn:anc>", RDF_TYPE, TRANSITIVE, None),
    ("<urn:near>", RDF_TYPE, SYMMETRIC, None),
    ("<urn:anc>", INVERSE_OF, "<urn:desc>", None),
    ("<urn:a>", "<urn:p>", "<urn:b>", "<urn:g1>"),
    ("<urn:b>", "<urn:p>", '"lit"', "<urn:g1>"),
    ("<urn:a>", "<urn:anc>", "<urn:b>", "<urn:g1>"),
    ("<urn:b>", "<urn:anc>", "<urn:c>", "<urn:g1>"),
    ("<urn:c>", "<urn:anc>", "<urn:d>", "<urn:g2>"),
    ("<urn:a>", "<urn:near>", "<urn:e>", "<urn:g2>"),
    ("<urn:x>", RDF_TYPE, "<urn:C1>", "<urn:g2>"),
    ("<urn:a>", RDF_TYPE, "<urn:C1>", "<urn:g2>"),
    ("<urn:e>", "<urn:q>", "<urn:f>", None),
]


@pytest.mark.parametrize("profile", ["rdfs", "owl-rl"])
@pytest.mark.parametrize("incremental", [False, True])
def test_distributed_entail_matches_driver(spark, tmp_path, profile,
                                           incremental):
    def inference(name, cap):
        st = GraphStore(spark, str(tmp_path / name))
        st.init(spark.createDataFrame(
            STORE, "subj string, pred string, obj string, prov string"))
        if incremental:
            st.entail(profile=profile)
            st.update("INSERT DATA { GRAPH <urn:g3> { "
                      "<urn:d> <urn:anc> <urn:h> . <urn:h> <urn:p> <urn:i> } }")
        with driver_cap(cap) if cap is not None else nullcontext():
            v = st.entail(profile=profile, incremental=incremental)
        return st.tbl.manifest(v)["metrics"].get("entail_mode"), {
            (r.subj, r.pred, r.obj) for r in st.read().filter(
                F.col("prov") == "<urn:nabu:inference>").collect()}

    driver = inference("driver", None)
    # only rdfs has a semi-naive path; owl-rl falls back to the full one
    assert driver[0] == ("incremental" if incremental and profile == "rdfs"
                         else None)
    assert ("<urn:a>", RDF_TYPE, "<urn:C3>") in driver[1]
    assert inference("distributed", 0) == driver

