"""Incrementally-maintained CONSTRUCT views over the snapshot graph store.

The reference's end state is a triplestore that downstream consumers query
(/root/reference/internal/synchronizer — studied, not copied); derived
graphs there are recomputed by re-running the pipeline. This module keeps
derived graphs FRESH without recompute: a :class:`MaterializedView`
registers a SPARQL CONSTRUCT query against a :class:`~.graphstore.GraphStore`
and, on ``refresh()``, advances the view using only the store's physical
delta rows whenever that is sound, falling back to a full recompute when
it is not.

Incremental rule (semi-naive delta join, the classic monotone case):
for a BGP ``P1 ⋈ ... ⋈ Pn`` with per-pattern relations ``Ri`` and a
pure-insert store delta ``Δ``,

    Δsolutions = Σ_i  R'1 ⋈ ... ⋈ R'(i-1) ⋈ ΔRi ⋈ R(i+1) ⋈ ... ⋈ Rn

where ``R'j`` reads the NEW store and ``Rj`` the OLD store — every new
solution uses at least one delta quad exactly once, so nothing is double
counted and nothing is missed. New view triples are the instantiated
Δsolutions anti-joined against the existing view (set semantics). This is
sound only when the algebra is monotone and the delta is insert-only, so
``refresh()`` downgrades to a full recompute when any of these hold
(each pinned by a test):

- the window contains delete markers (SPARQL DELETE, CLEAR, MOVE...),
- the window crosses a non-append snapshot (compact, rollback, re-init),
- the WHERE uses non-monotone or non-BGP algebra — anything beyond plain
  triple patterns, FILTER and BIND (OPTIONAL, MINUS, EXISTS, UNION,
  GRAPH, paths, VALUES, subqueries).

Scale shape: the Σ_i expansion is n delta-joins whose ΔRi side is the
(small) window — AQE broadcasts it — against filtered scans of the store;
the final anti-join is delta-sized against the view on its three columns.
A no-op refresh costs one manifest walk and zero jobs. Nothing ever
rescans the whole store on the incremental path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graphstore import QUAD_COLS, GraphStore
from .session import materialize
from .snapshots import SnapshotTable
from .sparql import Query, SparqlError, _SqlCompiler, parse_sparql

VIEW_COLS = ("subj", "pred", "obj")


def _monotone_bgp(q: Query) -> bool:
    """True when the WHERE is a flat conjunctive BGP (+FILTER/BIND) the
    incremental rule covers; property paths, solution modifiers (LIMIT
    breaks monotonicity) and every other algebra node are excluded."""
    if q.order_by or q.limit is not None or q.offset:
        return False
    if not all(
        it[0] in ("triple", "filter", "bind")
        and (it[0] != "triple" or it[2][0] != "path")
        for it in q.where.items
    ):
        return False
    # a BIND-defined variable joining a later pattern would need group()'s
    # sequential evaluation — the Σ_i expansion applies binds after joins
    bind_vars = {it[2] for it in q.where.items if it[0] == "bind"}
    for it in q.where.items:
        if it[0] == "triple":
            for atom in (it[1], it[2], it[3]):
                if atom[0] == "var" and atom[1] in bind_vars:
                    return False
    return True


def _delta_solutions(q: Query, comp: _SqlCompiler) -> DataFrame | None:
    """The Σ_i semi-naive expansion over the parsed WHERE, as one statement
    whose patterns read the ``old``, ``new`` and ``delta`` relations of
    ``comp``. Returns None when the BGP has no triple patterns (constant
    query — nothing to maintain incrementally)."""
    triples = [it for it in q.where.items if it[0] == "triple"]
    if not triples:
        return None
    terms = []
    for i in range(len(triples)):
        acc = None
        for j, (_, s, p, o) in enumerate(triples):
            rel = "new" if j < i else ("delta" if j == i else "old")
            acc = comp.join(acc, comp.pattern(s, p, o, None, rel))
        terms.append(acc)
    # BINDs extend rows, FILTERs restrict them — order-preserving over the
    # joined relation, exactly as _SqlCompiler.group applies them
    out = comp.union(terms)
    for it in q.where.items:
        if it[0] == "bind":
            out = comp.bind(out, it[1], it[2])
    out = comp.filter(out, [it[1] for it in q.where.items if it[0] == "filter"])
    return comp.run(out[0])


class MaterializedView:
    """A CONSTRUCT view over a :class:`GraphStore`, persisted as its own
    :class:`SnapshotTable` (so the view itself has atomic commits, time
    travel and a recorded synced store version)."""

    def __init__(self, store: GraphStore, root: str, text: str):
        self.store = store
        self.tbl = SnapshotTable(root)
        self.query = parse_sparql(text)
        if self.query.construct is None:
            raise SparqlError("materialized views take a CONSTRUCT query")
        self.text = text

    # -- state ---------------------------------------------------------------
    def synced_version(self) -> int | None:
        m = self.tbl.manifest() if self.tbl.exists() else None
        if m is None:
            return None
        v = m.get("metrics", {}).get("synced_store_version")
        return int(v) if v is not None else None

    def read(self) -> DataFrame:
        return self.tbl.read(self.store.spark).select(*VIEW_COLS)

    # -- refresh -------------------------------------------------------------
    def _full(self, head: int) -> dict:
        from .sparql import sparql_query

        rows = sparql_query(self.store.read(head), self.text,
                            graph_col="prov")
        version = self.tbl.commit(
            rows, operation="overwrite", stage="matview-full",
            metrics={"synced_store_version": head})
        return {"mode": "full", "store_version": head,
                "view_version": version}

    def refresh(self) -> dict:
        """Advance the view to the store's head. Returns
        {mode: noop|incremental|full, store_version, view_version, added?}."""
        head = self.store.tbl.latest_version()
        if head is None:
            raise FileNotFoundError("graph store has no committed snapshot")
        v0 = self.synced_version()
        if v0 is None or not _monotone_bgp(self.query):
            return self._full(head)
        if v0 == head:
            return {"mode": "noop", "store_version": head,
                    "view_version": self.tbl.latest_version()}
        window = self.store.raw_window(v0, head)
        if window is None:
            return self._full(head)  # non-append snapshot inside the window
        dels = window.filter(F.col("__op") == "d").limit(1).count()
        if dels:
            return self._full(head)  # deletes: DRed territory, recompute
        # the delta is the small side of every Σ_i join by construction —
        # pin the broadcast rather than hoping AQE notices (at 100 TB the
        # store-side relations must never shuffle for a small refresh)
        delta_quads = window.select(*QUAD_COLS).distinct().hint("broadcast")
        # a FROM/FROM NAMED dataset clause restricts all three relations
        # identically (the delta included), so the expansion stays sound
        ds = (self.query.from_graphs, self.query.from_named)
        views = {"old": self.store.read(v0), "new": self.store.read(head),
                 "delta": delta_quads}
        sol = _delta_solutions(
            self.query, _SqlCompiler(self.store.spark, views, "prov", *ds))
        if sol is None:
            return self._full(head)
        from .sparql import instantiate_construct

        fresh = instantiate_construct(sol, self.query.construct)
        cur = self.read()
        # materialized: the commit below re-reads `adds` for the write —
        # without it the whole Σ_i expansion would execute twice
        adds = materialize(fresh.join(cur, on=list(VIEW_COLS), how="left_anti")
                           .distinct())
        n = adds.count()
        version = self.tbl.commit(
            adds, operation="append", stage="matview-incremental",
            metrics={"synced_store_version": head, "added_rows": n})
        return {"mode": "incremental", "store_version": head,
                "view_version": version, "added": n}
