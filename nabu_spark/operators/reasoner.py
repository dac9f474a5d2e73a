"""RDFS-lite inference materialization over triple DataFrames.

The reference ships asserted graphs to a triplestore and leaves
entailment to the endpoint (/root/reference/internal/synchronizer —
studied, not copied); this operator materializes the practical RDFS
closure natively so downstream consumers (SPARQL engine, releases,
views) can query entailed triples without a reasoning endpoint.

Rules covered (the classic ρdf / RDFS-Plus core):

    rdfs5   subPropertyOf transitivity
    rdfs7   (p subPropertyOf q) ∧ (s p o)      → (s q o)
    rdfs2   (p domain c)        ∧ (s p o)      → (s rdf:type c)
    rdfs3   (p range  c)        ∧ (s p o)      → (o rdf:type c)   [o IRI/bnode]
    rdfs9   (c subClassOf d)    ∧ (x rdf:type c) → (x rdf:type d)
    rdfs11  subClassOf transitivity

Documented boundaries (each the standard production choice):
- Schema triples are those literally asserted (no meta-level inference
  such as a subPropertyOf of rdfs:subClassOf itself).
- rdfs3 is not applied to literal objects (no literal class instances).
- Axiomatic container/annotation rules (rdfs1/4/6/8/10/12/13) are out of
  scope — they only add schema-vocabulary tautologies.

With that stratification the closure needs NO fixpoint over the data:
property hierarchy first (its transitive closure is computed once by
pointer doubling over the tiny schema edge set), then domain/range over
the property-closed data, then the class hierarchy over all type
triples. Each application is one broadcast join of the data against a
closed schema relation — the data is scanned a bounded number of times
and never shuffled on its own keys, the shape that survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import bounded_collect, capped, fixpoint, materialize

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SUBCLASS = f"<{RDFS}subClassOf>"
SUBPROP = f"<{RDFS}subPropertyOf>"
DOMAIN = f"<{RDFS}domain>"
RANGE = f"<{RDFS}range>"

_MAX_ROUNDS = 32

# driver fast-path caps (nabu_spark.session.driver_cap overrides them all)
_CLOSURE_DRIVER_CAP = 100_000  # input pairs; the output guard is 4x this
_RDFS_DRIVER_CAP = 100_000
_OWL_DRIVER_CAP = 100_000


def transitive_closure(edges: DataFrame,
                       keys: Sequence[str] = ()) -> DataFrame:
    """Strict transitive closure of a (child, parent) edge relation, closed
    separately per value of the ``keys`` columns (which the result keeps):
    the SPARQL path engine keys on the named graph, the OWL profile on the
    transitive property.

    Relations up to ``_CLOSURE_DRIVER_CAP`` pairs close in-memory
    (``_closure_local`` per key) and ship back as one broadcastable
    relation, unless the closure passes 4x the cap (a long chain's closure
    is quadratic in its length). Anything larger runs pointer doubling
    through ``fixpoint``: ceil(log2 diameter) self-join rounds, each
    materialized so lineage and plan statistics stay bounded.
    ``driver_cap(0)`` forces the distributed path."""
    keys = list(keys)
    rows, result = bounded_collect(
        edges.select("child", "parent", *keys).distinct(),
        _CLOSURE_DRIVER_CAP, site="transitive_closure")
    if rows is not None:
        by_key: dict[tuple, set] = {}
        for r in rows:
            by_key.setdefault(tuple(r[2:]), set()).add((r[0], r[1]))
        budget = 4 * capped(_CLOSURE_DRIVER_CAP)
        closed: list[tuple] = []
        for key, pairs in by_key.items():
            part = _closure_local(pairs, limit=budget - len(closed))
            if part is None:
                break
            closed.extend((c, p, *key) for c, p in part)
        else:
            return edges.sparkSession.createDataFrame(
                sorted(closed), result.schema)

    def double(r: DataFrame) -> DataFrame:
        return (r.select("child", F.col("parent").alias("__m"), *keys)
                .join(r.select(F.col("child").alias("__m"), "parent", *keys),
                      on=["__m", *keys])
                .select("child", "parent", *keys).unionByName(r).distinct())

    return fixpoint(result, double, _same_count(result), cap=_MAX_ROUNDS,
                    site="transitive_closure")


def _same_count(first: DataFrame):
    """``fixpoint`` predicate: a round kept its predecessor's row count."""
    last = first.count()

    def same(_prev: DataFrame, cur: DataFrame) -> bool:
        nonlocal last
        before, last = last, cur.count()
        return last == before
    return same


def _edges(triples: DataFrame, pred: str) -> DataFrame:
    return triples.filter(F.col("pred") == pred).select(
        F.col("subj").alias("child"), F.col("obj").alias("parent"))


def rdfs_materialize(triples: DataFrame) -> DataFrame:
    """The entailed graph: asserted (subj, pred, obj) triples plus every
    triple the rules above derive, as one distinct relation.

    Ontology-scale graphs (≤ ``_RDFS_DRIVER_CAP`` distinct triples) close
    through the exact in-memory mirror (``rdfs_closure_local``) and ship
    back as one local relation — the stratified plan still costs ~10
    Spark jobs of fixed overhead, which dwarfs compute at that size (the
    same economics as the OWL profile's fast path); agreement between
    the two paths is pinned by tests. ``driver_cap(0)`` forces the
    distributed plan."""
    rows, t = bounded_collect(
        triples.select("subj", "pred", "obj").distinct(), _RDFS_DRIVER_CAP,
        site="rdfs_materialize")
    if rows is not None:
        closed = rdfs_closure_local([(r.subj, r.pred, r.obj) for r in rows])
        return t.sparkSession.createDataFrame(
            sorted(closed), "subj string, pred string, obj string")

    spo = transitive_closure(_edges(t, SUBPROP))
    sco = transitive_closure(_edges(t, SUBCLASS))

    # rdfs7 over the CLOSED property hierarchy (covers rule chains)
    derived_prop = (
        t.join(F.broadcast(spo), t["pred"] == spo["child"])
        .select("subj", F.col("parent").alias("pred"), "obj")
    )
    data_p = t.unionByName(derived_prop)

    # rdfs2 / rdfs3 over the property-closed data
    dom = _edges(t, DOMAIN)
    rng = _edges(t, RANGE)
    types_dom = (
        data_p.join(F.broadcast(dom), data_p["pred"] == dom["child"])
        .select("subj", F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )
    types_rng = (
        data_p.filter(~F.col("obj").startswith('"'))
        .join(F.broadcast(rng), data_p["pred"] == rng["child"])
        .select(F.col("obj").alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )

    # rdfs9 over ALL type triples (asserted + property/domain/range derived)
    all_types = (
        data_p.filter(F.col("pred") == RDF_TYPE)
        .unionByName(types_dom).unionByName(types_rng)
    )
    types_up = (
        all_types.join(F.broadcast(sco), all_types["obj"] == sco["child"])
        .select("subj", F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )

    # rdfs5/11: the closed hierarchies themselves are entailed triples
    schema_closed = (
        spo.select("child", F.lit(SUBPROP).alias("pred"), "parent")
        .unionByName(sco.select("child", F.lit(SUBCLASS).alias("pred"),
                                "parent"))
        .select(F.col("child").alias("subj"), "pred",
                F.col("parent").alias("obj"))
    )

    return (
        data_p.unionByName(types_dom).unionByName(types_rng)
        .unionByName(types_up).unionByName(schema_closed)
        .distinct()
    )


# --------------------------------------------------------------------------
# OWL-RL-lite profile
# --------------------------------------------------------------------------
#
# Extends the ρdf core with the property-centric OWL 2 RL rules that
# production KG pipelines actually materialize (the reference leaves all
# entailment to its triplestore endpoint — /root/reference/internal/
# synchronizer, studied not copied — so this whole profile is north-star
# surface, built Spark-first):
#
#     prp-inv1/2   p owl:inverseOf q        ∧ (s p o) → (o q s)
#     prp-symp     p a owl:SymmetricProperty ∧ (s p o) → (o p s)
#     prp-trp      p a owl:TransitiveProperty → closure keyed on p
#     prp-fp       p a owl:FunctionalProperty ∧ (s p o1)(s p o2) → o1 = o2
#     prp-ifp      p a owl:InverseFunctionalProperty ∧ (s1 p o)(s2 p o)
#                                                            → s1 = s2
#     scm-eqp/eqc  owl:equivalentProperty/Class ≡ mutual subsumption
#     eq-*         owl:sameAs is an equivalence; equal nodes interchangeable
#
# Documented boundaries (each the standard production choice):
# - sameAs is handled by CANONICALIZATION, not by eq-rep materialization:
#   every triple is rewritten onto each component's minimum-IRI
#   representative and one (member owl:sameAs canonical) triple per
#   non-canonical member records the mapping. Full eq-rep (duplicating
#   every triple across every member) is O(|component|²) and no at-scale
#   system does it.
# - Predicates are not rewritten through sameAs (eq-rep-p): sameAs between
#   properties is vanishingly rare on web data and rewriting preds would
#   add a third shuffle per round.
# - Functional/InverseFunctional equality is derived for IRI/bnode nodes
#   only (no literal identity — OWL RL's eq-diff on literals is
#   value-space comparison, out of scope).
# - Class-centric RL rules beyond the ρdf core (hasValue, someValuesFrom,
#   intersections) are out of scope; SHACL covers shape validation.
#
# Execution shape: each round is a bounded set of broadcast joins of the
# data against vocabulary-sized schema relations, ONE pointer-doubling
# closure keyed on the transitive property, and ONE connected-components
# run over the (data-sized but sparse) sameAs edge set — never an
# all-pairs product.
# Rule interaction (e.g. a functional-property merge enabling a new
# transitive hop) is handled by an outer fixpoint over rounds; real
# vocabularies converge in 1–2 rounds.

OWL = "http://www.w3.org/2002/07/owl#"
SAMEAS = f"<{OWL}sameAs>"
INVERSE_OF = f"<{OWL}inverseOf>"
EQ_PROP = f"<{OWL}equivalentProperty>"
EQ_CLASS = f"<{OWL}equivalentClass>"
SYMMETRIC = f"<{OWL}SymmetricProperty>"
TRANSITIVE = f"<{OWL}TransitiveProperty>"
FUNCTIONAL = f"<{OWL}FunctionalProperty>"
INV_FUNCTIONAL = f"<{OWL}InverseFunctionalProperty>"

_MAX_OWL_ROUNDS = 8
_MAX_TRANSITIVE_PREDS = 10_000


def _non_literal(col: str):
    return ~F.col(col).startswith('"')


def _rdfs7(data: DataFrame, spo: DataFrame) -> DataFrame:
    """Lift data triples up the CLOSED property hierarchy."""
    return (
        data.join(F.broadcast(spo), data["pred"] == spo["child"])
        .select("subj", F.col("parent").alias("pred"), "obj")
    )


def _typed_props(t: DataFrame, cls: str) -> list[str]:
    rows = (
        t.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == cls))
        .select("subj").distinct().limit(_MAX_TRANSITIVE_PREDS + 1).collect()
    )
    if len(rows) > _MAX_TRANSITIVE_PREDS:
        raise RuntimeError(
            f"more than {_MAX_TRANSITIVE_PREDS} properties typed {cls}: "
            "not a vocabulary-sized schema")
    return sorted(r.subj for r in rows)


def _owl_round(t: DataFrame) -> DataFrame:
    """One stratified application of every rule; returns t ∪ derived."""
    spark = t.sparkSession

    # --- schema relations (vocabulary-sized) -----------------------------
    eqp = _edges(t, EQ_PROP)
    subp = (
        _edges(t, SUBPROP)
        .unionByName(eqp)
        .unionByName(eqp.select(F.col("parent").alias("child"),
                                F.col("child").alias("parent")))
    )
    spo = transitive_closure(subp)
    eqc = _edges(t, EQ_CLASS)
    subc = (
        _edges(t, SUBCLASS)
        .unionByName(eqc)
        .unionByName(eqc.select(F.col("parent").alias("child"),
                                F.col("child").alias("parent")))
    )
    sco = transitive_closure(subc)

    inv = t.filter(F.col("pred") == INVERSE_OF).select(
        F.col("subj").alias("p"), F.col("obj").alias("q"))
    sym_as_inv = spark.createDataFrame(
        [(p, p) for p in _typed_props(t, SYMMETRIC)] or [],
        "p string, q string")
    inv_pairs = (
        inv.unionByName(inv.select(F.col("q").alias("p"),
                                   F.col("p").alias("q")))
        .unionByName(sym_as_inv).distinct()
    )

    # --- property rules ---------------------------------------------------
    data_p = t.unionByName(_rdfs7(t, spo))
    inv_derived = (
        data_p.filter(_non_literal("obj"))
        .join(F.broadcast(inv_pairs), data_p["pred"] == inv_pairs["p"])
        .select(F.col("obj").alias("subj"), F.col("q").alias("pred"),
                F.col("subj").alias("obj"))
    )
    # lift inverse-derived triples too, so a p'⊑p / p inv q / q⊑r chain
    # closes within one round instead of three. Materialized: the closure
    # and every rule stage below read it, and each would otherwise re-run
    # the broadcast-join chain (most of the owl_dist leg's 74 s once).
    data_pi = materialize(
        data_p.unionByName(inv_derived)
        .unionByName(_rdfs7(inv_derived, spo))
    )

    data_pit = data_pi
    trans = _typed_props(t, TRANSITIVE)
    if trans:
        # one closure for every transitive property, keyed on the property
        edges = (
            data_pi.filter(F.col("pred").isin(*trans) & _non_literal("obj"))
            .select(F.col("subj").alias("child"),
                    F.col("obj").alias("parent"), "pred")
        )
        part = transitive_closure(edges, keys=("pred",)).select(
            F.col("child").alias("subj"), "pred",
            F.col("parent").alias("obj"))
        # invert the freshly closed edges too (inverse of a closure is the
        # closure of the inverse) so p-transitive + p-inv-q converges in
        # one round instead of two
        part_inv = (
            part.join(F.broadcast(inv_pairs), part["pred"] == inv_pairs["p"])
            .select(F.col("obj").alias("subj"), F.col("q").alias("pred"),
                    F.col("subj").alias("obj"))
        )
        # same economics: the transitive/inverse closure union feeds four
        # downstream rule stages — materialize it once
        data_pit = materialize(
            data_pi.unionByName(part).unionByName(part_inv)
            .unionByName(_rdfs7(part_inv, spo))
        )

    # --- domain / range / class rules (same shape as rdfs_materialize) ---
    dom, rng = _edges(t, DOMAIN), _edges(t, RANGE)
    types_dom = (
        data_pit.join(F.broadcast(dom), data_pit["pred"] == dom["child"])
        .select("subj", F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )
    types_rng = (
        data_pit.filter(_non_literal("obj"))
        .join(F.broadcast(rng), data_pit["pred"] == rng["child"])
        .select(F.col("obj").alias("subj"), F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )
    all_types = (
        data_pit.filter(F.col("pred") == RDF_TYPE)
        .unionByName(types_dom).unionByName(types_rng)
    )
    types_up = (
        all_types.join(F.broadcast(sco), all_types["obj"] == sco["child"])
        .select("subj", F.lit(RDF_TYPE).alias("pred"),
                F.col("parent").alias("obj"))
    )
    schema_closed = (
        spo.select(F.col("child").alias("subj"),
                   F.lit(SUBPROP).alias("pred"),
                   F.col("parent").alias("obj"))
        .unionByName(sco.select(F.col("child").alias("subj"),
                                F.lit(SUBCLASS).alias("pred"),
                                F.col("parent").alias("obj")))
    )
    # five consumers (the two groupings, the sameAs scan, the emptiness
    # probe and the canonical rewrite), one materialization
    full = materialize(
        data_pit.unionByName(types_dom).unionByName(types_rng)
        .unionByName(types_up).unionByName(schema_closed).distinct()
    )

    # --- equality rules ---------------------------------------------------
    func = spark.createDataFrame(
        [(p,) for p in _typed_props(t, FUNCTIONAL)] or [], "fp string")
    ifp = spark.createDataFrame(
        [(p,) for p in _typed_props(t, INV_FUNCTIONAL)] or [], "fp string")

    fgrp = (
        full.join(F.broadcast(func), full["pred"] == func["fp"])
        .filter(_non_literal("obj"))
        .select("subj", "pred", "obj")
    )
    freps = fgrp.groupBy("subj", "pred").agg(F.min("obj").alias("rep"))
    f_edges = (
        fgrp.join(freps, ["subj", "pred"])
        .filter(F.col("obj") != F.col("rep"))
        .select(F.col("obj").alias("id_a"), F.col("rep").alias("id_b"))
    )
    igrp = (
        full.join(F.broadcast(ifp), full["pred"] == ifp["fp"])
        .select("subj", "pred", "obj")
    )
    ireps = igrp.groupBy("pred", "obj").agg(F.min("subj").alias("rep"))
    i_edges = (
        igrp.join(ireps, ["pred", "obj"])
        .filter(F.col("subj") != F.col("rep"))
        .select(F.col("subj").alias("id_a"), F.col("rep").alias("id_b"))
    )
    asserted_sameas = (
        full.filter((F.col("pred") == SAMEAS) & _non_literal("obj"))
        .select(F.col("subj").alias("id_a"), F.col("obj").alias("id_b"))
    )
    sameas_edges = (
        asserted_sameas.unionByName(f_edges).unionByName(i_edges)
        .filter(F.col("id_a") != F.col("id_b"))
    )
    if sameas_edges.isEmpty():
        return full

    from .graphops import sameas_closure

    mapping = sameas_closure(sameas_edges)
    m_subj = mapping.select(F.col("iri").alias("subj"),
                            F.col("canonical_iri").alias("_cs"))
    m_obj = mapping.select(F.col("iri").alias("obj"),
                           F.col("canonical_iri").alias("_co"))
    # IRI-object sameAs assertions fold into the mapping; literal-object
    # ones (ill-typed but possible on web data) are kept as data
    rewritten = (
        full.filter((F.col("pred") != SAMEAS) | F.col("obj").startswith('"'))
        .join(m_subj, "subj", "left")
        .join(m_obj, "obj", "left")
        .select(F.coalesce("_cs", "subj").alias("subj"), "pred",
                F.coalesce("_co", "obj").alias("obj"))
    )
    mapping_triples = (
        mapping.filter(F.col("iri") != F.col("canonical_iri"))
        .select(F.col("iri").alias("subj"), F.lit(SAMEAS).alias("pred"),
                F.col("canonical_iri").alias("obj"))
    )
    return rewritten.unionByName(mapping_triples).distinct()


def owl_rl_materialize(triples: DataFrame) -> DataFrame:
    """The OWL-RL-lite closure of (subj, pred, obj): ρdf plus the property
    and equality rules above, with sameAs components canonicalized onto
    their minimum-IRI member. Fixpoint over stratified rounds. The
    canonical rewrite makes rounds non-monotone (a merge can rewrite as
    many triples as it derives), so a stable count alone does NOT imply a
    stable set — convergence requires count equality AND an empty
    anti-join of the new set against the old.

    Graphs of up to ``_OWL_DRIVER_CAP`` distinct triples close in-memory
    via the exact twin (``owl_closure_local``): the distributed rounds cost
    hundreds of Spark jobs of fixed overhead, which dwarfs compute at
    ontology scale. Randomized tests pin twin/distributed agreement;
    ``driver_cap(0)`` forces the distributed ``fixpoint``."""
    rows, t = bounded_collect(
        triples.select("subj", "pred", "obj").distinct(), _OWL_DRIVER_CAP,
        site="owl_rl_materialize")
    if rows is not None:
        closed = owl_closure_local([(r.subj, r.pred, r.obj) for r in rows])
        return t.sparkSession.createDataFrame(
            sorted(closed), "subj string, pred string, obj string")
    same = _same_count(t)

    def done(prev: DataFrame, cur: DataFrame) -> bool:
        return same(prev, cur) and cur.join(
            prev, ["subj", "pred", "obj"], "left_anti").isEmpty()

    return fixpoint(t, _owl_round, done, cap=_MAX_OWL_ROUNDS,
                    site="owl_rl_materialize")


def rdfs_closure_local(triples) -> set:
    """rdfs_materialize's semantics over an in-memory triple iterable —
    the same stratified rule order, mirror for mirror."""
    t = set(triples)

    def edges(pred):
        return {(s, o) for s, p, o in t if p == pred}

    spo = _closure_local(edges(SUBPROP))
    sco = _closure_local(edges(SUBCLASS))
    # index the vocabulary relations once: the comprehensions below are
    # |data| x |schema| nested scans otherwise (guide §1.2 per-task work)
    spo_m, sco_m, dom_m, rng_m = (_index(spo), _index(sco),
                                  _index(edges(DOMAIN)), _index(edges(RANGE)))
    data_p = t | {(s, q, o) for s, p, o in t
                  if p in spo_m for q in spo_m[p]}
    types_dom = {(s, RDF_TYPE, cc) for s, p, o in data_p
                 if p in dom_m for cc in dom_m[p]}
    types_rng = {(o, RDF_TYPE, cc) for s, p, o in data_p
                 if not o.startswith('"') and p in rng_m for cc in rng_m[p]}
    all_types = {x for x in data_p if x[1] == RDF_TYPE} \
        | types_dom | types_rng
    types_up = {(s, RDF_TYPE, d) for s, _, o in all_types
                if o in sco_m for d in sco_m[o]}
    schema_closed = {(c, SUBPROP, p) for c, p in spo} \
        | {(c, SUBCLASS, d) for c, d in sco}
    return data_p | types_dom | types_rng | types_up | schema_closed


def _index(pairs: set) -> dict:
    """(a, b) edge set -> {a: [b, ...]} adjacency for O(1) rule joins."""
    m: dict = {}
    for a, b in pairs:
        m.setdefault(a, []).append(b)
    return m


# --- exact in-memory twin (fast path + agreement oracle) -------------------

def _closure_local(edges: set[tuple[str, str]],
                   limit: int | None = None) -> set[tuple[str, str]] | None:
    """Strict transitive closure by BFS from every node (cycles yield
    reflexive pairs); None once it passes ``limit`` pairs."""
    adj: dict[str, set] = {}
    for c, p in edges:
        adj.setdefault(c, set()).add(p)
    closed: set[tuple[str, str]] = set()
    for start in adj:
        stack, seen = list(adj[start]), set()
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            closed.add((start, n))
            stack.extend(adj.get(n, ()))
        if limit is not None and len(closed) > limit:
            return None
    return closed


def _owl_round_local(t: set) -> set:
    """Pure-Python mirror of _owl_round — rule for rule, filter for
    filter, so the two paths agree exactly (pinned by tests)."""
    def edges(pred):
        return {(s, o) for s, p, o in t if p == pred}

    def lit(x):
        return x.startswith('"')

    eqp = edges(EQ_PROP)
    spo = _closure_local(
        edges(SUBPROP) | eqp | {(b, a) for a, b in eqp})
    eqc = edges(EQ_CLASS)
    sco = _closure_local(
        edges(SUBCLASS) | eqc | {(b, a) for a, b in eqc})
    typed = {}
    for cls in (SYMMETRIC, TRANSITIVE, FUNCTIONAL, INV_FUNCTIONAL):
        typed[cls] = {s for s, p, o in t if p == RDF_TYPE and o == cls}
    inv = edges(INVERSE_OF)
    inv_pairs = inv | {(b, a) for a, b in inv} | {
        (p, p) for p in typed[SYMMETRIC]}

    spo_m, inv_m = _index(spo), _index(inv_pairs)

    def rdfs7(data):
        return {(s, q, o) for s, p, o in data
                if p in spo_m for q in spo_m[p]}

    def invert(data):
        return {(o, q, s) for s, p, o in data
                if not lit(o) and p in inv_m for q in inv_m[p]}

    data_p = t | rdfs7(t)
    inv_d = invert(data_p)
    data_pi = data_p | inv_d | rdfs7(inv_d)

    data_pit = set(data_pi)
    for p in sorted(typed[TRANSITIVE]):
        closed = _closure_local(
            {(s, o) for s, pp, o in data_pi if pp == p and not lit(o)})
        part = {(s, p, o) for s, o in closed}
        part_inv = invert(part)
        data_pit |= part | part_inv | rdfs7(part_inv)

    dom_m, rng_m, sco_m = (_index(edges(DOMAIN)), _index(edges(RANGE)),
                           _index(sco))
    types_dom = {(s, RDF_TYPE, cc) for s, p, o in data_pit
                 if p in dom_m for cc in dom_m[p]}
    types_rng = {(o, RDF_TYPE, cc) for s, p, o in data_pit
                 if not lit(o) and p in rng_m for cc in rng_m[p]}
    all_types = {x for x in data_pit if x[1] == RDF_TYPE} \
        | types_dom | types_rng
    types_up = {(s, RDF_TYPE, d) for s, _, o in all_types
                if o in sco_m for d in sco_m[o]}
    schema_closed = {(c, SUBPROP, p) for c, p in spo} \
        | {(c, SUBCLASS, d) for c, d in sco}
    full = data_pit | types_dom | types_rng | types_up | schema_closed

    groups: dict[tuple[str, str], list[str]] = {}
    for s, p, o in full:
        if p in typed[FUNCTIONAL] and not lit(o):
            groups.setdefault((s, p), []).append(o)
    same = {(o, min(objs)) for objs in groups.values()
            for o in objs if o != min(objs)}
    igroups: dict[tuple[str, str], list[str]] = {}
    for s, p, o in full:
        if p in typed[INV_FUNCTIONAL]:
            igroups.setdefault((p, o), []).append(s)
    same |= {(s, min(subjs)) for subjs in igroups.values()
             for s in subjs if s != min(subjs)}
    same |= {(s, o) for s, p, o in full
             if p == SAMEAS and not lit(o) and s != o}
    if not same:
        return full

    # connected components, canonical = component minimum
    adj: dict[str, set] = {}
    for a, b in same:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    canon: dict[str, str] = {}
    for node in adj:
        if node in canon:
            continue
        comp, stack = [], [node]
        seen = set()
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            comp.append(n)
            stack.extend(adj[n])
        rep = min(comp)
        for n in comp:
            canon[n] = rep
    rewritten = {(canon.get(s, s), p, canon.get(o, o))
                 for s, p, o in full if p != SAMEAS or lit(o)}
    mapping = {(n, SAMEAS, r) for n, r in canon.items() if n != r}
    return rewritten | mapping


def owl_closure_local(triples) -> set:
    """owl_rl_materialize's semantics over an in-memory triple iterable."""
    t = set(triples)
    for _ in range(_MAX_OWL_ROUNDS):
        nxt = _owl_round_local(t)
        if nxt == t:
            return nxt
        t = nxt
    raise RuntimeError(
        f"OWL-RL closure did not converge in {_MAX_OWL_ROUNDS} rounds")
