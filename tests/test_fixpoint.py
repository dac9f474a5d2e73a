"""``session.fixpoint`` and ``session.materialize``: every distributed
iteration leaves one ``fixpoint`` span with its rounds, and rounds of
self-joins do not compound the planner's size estimate."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nabu_spark.operators.graphops import sameas_closure
from nabu_spark.operators.reasoner import (
    DOMAIN,
    SUBCLASS,
    SUBPROP,
    owl_rl_materialize,
    transitive_closure,
)
from nabu_spark.session import driver_cap, fixpoint, materialize
from nabu_spark.telemetry import Tracer, set_active

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "PiB": 2**50, "EiB": 2**60}


def _estimate_bytes(df) -> float:
    """The optimized plan's size estimate. Read from its string form: py4j
    cannot convert an integer of more than 4,300 digits."""
    s = df._jdf.queryExecution().optimizedPlan().stats().simpleString()
    num, unit = re.search(r"sizeInBytes=(\S+) (\w+)", s).groups()
    return float(num) * _UNITS[unit]


def _traced(fn):
    tr = Tracer()
    set_active(tr)
    try:
        out = fn()
    finally:
        set_active(None)
    return out, [s for s in tr.spans if s.name == "fixpoint"]


def test_self_join_rounds_keep_the_estimate_bounded(spark):
    """The sameAs closure's label rounds join the labels with themselves; a
    512-edge path takes 10 of them. A checkpoint that kept its plan's
    estimate reached tens of thousands of digits here."""
    edges = spark.createDataFrame(
        [(f"<urn:n{i:04d}>", f"<urn:n{i + 1:04d}>") for i in range(512)],
        "id_a string, id_b string")
    with driver_cap(0):
        out, spans = _traced(lambda: sameas_closure(edges))
    assert [s.attributes["rounds"] for s in spans] == [10]
    assert _estimate_bytes(out) < 1e40
    assert _estimate_bytes(out.join(out, "iri")) < 1e40
    assert out.select("canonical_iri").distinct().collect() == [
        ("<urn:n0000>",)]


TRIPLES = [
    ("<urn:C1>", SUBCLASS, "<urn:C2>"),
    ("<urn:p>", SUBPROP, "<urn:q>"),
    ("<urn:p>", DOMAIN, "<urn:C1>"),
    ("<urn:a>", "<urn:p>", "<urn:b>"),
    ("<urn:b>", "<urn:p>", "<urn:c>"),
]


@pytest.mark.parametrize("site,run,rounds", [
    ("transitive_closure", lambda s: transitive_closure(s.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "child string, parent string")),
     3),
    ("owl_rl_materialize", lambda s: owl_rl_materialize(s.createDataFrame(
        TRIPLES, "subj string, pred string, obj string")), 2),
    ("dedup_clusters", lambda s: sameas_closure(s.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string")),
     2),
])
def test_one_fixpoint_span_per_distributed_call(spark, site, run, rounds):
    with driver_cap(0):
        _, spans = _traced(lambda: run(spark).collect())
    own = [s for s in spans if s.attributes["site"] == site]
    assert [s.attributes for s in own] == [{"site": site, "rounds": rounds}]
    # the closures inside each OWL round nest under the OWL span
    assert {s.parent_span_id for s in spans if s not in own} <= {
        s.span_id for s in own}
    _, spans = _traced(lambda: run(spark).collect())
    assert spans == []  # the driver fast path runs no fixpoint


def test_cap_raises_naming_the_site(spark):
    df = materialize(spark.range(3))
    with pytest.raises(RuntimeError, match="probe did not converge in 2"):
        fixpoint(df, lambda d: d.withColumn("id", F.col("id") + 1),
                 lambda prev, cur: False, cap=2, site="probe")


def _closed(df):
    return sorted(tuple(r) for r in df.select(
        "child", "parent", "__g").collect())


def test_keyed_closure_over_aliased_key_columns(spark):
    """The distributed closure of edges whose key column passes through a
    projection that aliased it below equals the driver closure. Each round
    checkpoints a plan over the previous checkpoint; while checkpoints kept
    their constraints (here the filter's ``isnotnull(__g)``), the
    pass-through edges failed with "key not found: __g#…"."""
    quads = spark.createDataFrame(
        [(f"<urn:n{i}>", f"<urn:n{i + 1}>", f"<urn:g{i // 10}>")
         for i in range(20)], "subj string, obj string, prov string")
    inner = ("SELECT subj AS __src, obj AS __dst, prov AS __g FROM {q} "
             "WHERE prov IS NOT NULL")
    edge_sets = {
        "pass-through": spark.sql(
            f"SELECT __src AS child, __dst AS parent, __g FROM ({inner})",
            q=quads),
        "re-aliased": spark.sql(
            "SELECT __src AS child, __dst AS parent, __g AS __g "
            f"FROM ({inner})", q=quads),
        "dataframe": quads.filter(F.col("prov").isNotNull()).select(
            F.col("subj").alias("child"), F.col("obj").alias("parent"),
            F.col("prov").alias("__g")),
    }
    for name, edges in edge_sets.items():
        want = _closed(transitive_closure(edges, keys=["__g"]))
        assert len(want) == 2 * 55, name  # two 10-edge chains
        with driver_cap(0):
            assert _closed(transitive_closure(edges, keys=["__g"])) == want, \
                name
