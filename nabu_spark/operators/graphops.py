"""Graph-level operators over materialized (subj, pred, obj, prov) tables:
owl:sameAs canonicalization, release diffing, and referential-integrity QA.

These are the post-materialization operations a production KG pipeline runs
on the triple tables the extract stage commits (BASELINE north_star: "link
and canonicalize entity mentions ... materialize the graph as partitioned
(subj, pred, obj, prov) tables"):

  * ``sameas_closure`` — connected components over owl:sameAs assertions,
    canonical = lexicographically smallest IRI per component. Reuses the
    pointer-jumping min-label CC from the dedup family (``dedup_clusters``
    is type-generic: least/min work on strings), so convergence is
    O(log diameter) rounds of equi-joins.
  * ``release_diff`` — added/removed quads between two release versions
    (exceptAll both ways: one all-column shuffle per direction) — the
    incremental triplestore-sync feed.
  * ``integrity_report`` — IRI objects never defined as subjects (dangling
    references), with reference counts: the standard KG QA gate before
    bulk-load.

Scale notes (100 TB of pages → ~1e11 triples): every operator here is a
constant number of shuffles on triple-sized relations; sameAs subgraphs are
tiny relative to the corpus (assertions only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .dedup import dedup_clusters
from .graphpass import map_graphs

OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"

_QUAD_COLS = ["subj", "pred", "obj", "prov"]


def sameas_edges(quads: DataFrame) -> DataFrame:
    """(id_a, id_b) IRI pairs asserted owl:sameAs (literals excluded)."""
    return (
        quads.filter(F.col("pred") == OWL_SAMEAS)
        .filter(F.col("obj").startswith("<"))
        .select(F.col("subj").alias("id_a"), F.col("obj").alias("id_b"))
    )


def sameas_closure(edges: DataFrame) -> DataFrame:
    """(iri, canonical_iri) for every IRI in a sameAs component — the
    transitive, symmetric closure with the smallest member as canonical."""
    return dedup_clusters(edges.select("id_a", "id_b")).select(
        F.col("id").alias("iri"), F.col("cluster_id").alias("canonical_iri"))


def release_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(change, subj, pred, obj, prov) with change ∈ {added, removed}:
    the exact delta between two release versions."""
    o, n = old.select(_QUAD_COLS), new.select(_QUAD_COLS)
    added = n.exceptAll(o).withColumn("change", F.lit("added"))
    removed = o.exceptAll(n).withColumn("change", F.lit("removed"))
    return added.unionByName(removed).select("change", *_QUAD_COLS)


def integrity_report(quads: DataFrame) -> DataFrame:
    """(obj, n_refs): IRI objects referenced but never defined as a subject
    anywhere in the graph — dangling references. Schema/ontology IRIs show
    up here by design (they are defined elsewhere); domain IRIs appearing
    are the actual QA signal."""
    objs = (
        quads.filter(F.col("obj").startswith("<"))
        .groupBy("obj")
        .agg(F.count("*").alias("n_refs"))
    )
    subjects = quads.select(F.col("subj").alias("obj")).distinct()
    return objs.join(subjects, "obj", "left_anti")


CANONICAL_SCHEMA = T.StructType([
    T.StructField(name, T.StringType())
    for name in ("subj", "pred", "obj", "prov", "graph_sha256", "error_code")
])


def canonical_quads(quads: DataFrame, *, max_degree: int = 8) -> DataFrame:
    """RDFC-1.0 canonicalization per document graph: blank nodes relabeled
    ``_:c14nN`` (W3C rdf-canon), rows emitted in canonical sorted order, and
    every row carrying its graph's canonical sha256 — a content-addressed
    graph ID that is a pure function of the graph's isomorphism class
    (stable under extraction order and original bnode naming across runs /
    cluster sizes).

    Labels are canonical PER GRAPH (prov): `_:c14n0` rows from different
    provs are distinct nodes only while the prov column is kept. To
    concatenate graphs into one blank-node scope (a release file, a
    cross-graph SPARQL join on bnodes) use the extraction path's
    ``bnode_mode='rdfc'`` doc-scoped labels instead.

    Blank nodes never cross document boundaries, so each graph, the
    null-prov default graph included, is canonicalized in one per-graph
    ``mapInArrow`` pass (:func:`~nabu_spark.operators.graphpass.map_graphs`).
    A graph whose bnode mesh exceeds ``max_degree`` (pathological
    automorphisms) becomes a single error row with
    error_code='canon_blowup' instead of a stuck permutation search —
    lineage, not task failure."""
    from ..functions.rdfc import CanonicalizationError, canonicalize_triples

    def canon_rows(prov: str, triples: list[tuple[str, str, str]]) -> list[dict]:
        try:
            canon = canonicalize_triples(triples, max_degree)
        except CanonicalizationError:
            return [{
                "subj": None, "pred": None, "obj": None, "prov": prov,
                "graph_sha256": None, "error_code": "canon_blowup",
            }]
        text = "".join(f"{s} {p} {o} .\n" for s, p, o in canon)
        import hashlib

        h = hashlib.sha256(text.encode("utf-8")).hexdigest()
        return [
            {"subj": s, "pred": p, "obj": o, "prov": prov,
             "graph_sha256": h, "error_code": None}
            for s, p, o in canon
        ]

    return map_graphs(quads, canon_rows, CANONICAL_SCHEMA)
