"""SPARQL 1.1 Update over quad DataFrames + a snapshot-versioned graph store.

The reference's end state is an external triplestore: the synchronizer
builds release graphs and the downstream endpoint applies them
(/root/reference/internal/synchronizer — studied, not copied). This module
keeps that last hop native too: the materialized quad table IS the
triplestore. Updates are expressed in SPARQL 1.1 Update, compiled to the
same Catalyst plans the SELECT engine uses, and committed as atomic
snapshots with time travel and rollback.

Supported Update grammar (SPARQL 1.1 Update subset):

    PREFIX pfx: <iri>
    INSERT DATA { quads }            DELETE DATA { quads }
    DELETE WHERE { quad pattern }
    [WITH <g>] DELETE { tmpl } INSERT { tmpl } WHERE { pattern }
    [WITH <g>] DELETE { tmpl } WHERE { pattern }
    [WITH <g>] INSERT { tmpl } WHERE { pattern }
    (DELETE/INSERT templates may be followed by USING [NAMED] <g>* —
     the WHERE then evaluates against that dataset exactly as a query's
     FROM/FROM NAMED would, and WITH is ignored for the WHERE)
    LOAD [SILENT] <path-or-file-iri> [INTO GRAPH <g>]
    CLEAR  [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)
    DROP   [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)
    CREATE [SILENT] GRAPH <g>
    (COPY | MOVE | ADD) [SILENT] (DEFAULT | [GRAPH] <g>) TO (DEFAULT | [GRAPH] <g>)
    op ; op ; ...                    (sequences apply left to right)

`quads` blocks contain triples and `GRAPH <g> { triples }` sections; WHERE
groups support the full SELECT-engine pattern algebra (OPTIONAL, UNION,
FILTER, paths, ...).

Documented semantics choices (each pinned by tests):

- The store is a SET of quads (subj, pred, obj, prov); prov NULL is the
  default graph. A bare triple pattern in WHERE matches quads in ALL
  graphs (the "union default graph" convention most triplestores ship);
  GRAPH <g>/?g scopes to named graphs.
- DROP == CLEAR and CREATE is a no-op: the store tracks no empty graphs
  (a graph exists iff it has quads), which the Update spec explicitly
  allows for such stores.
- Blank nodes in INSERT templates are fresh per solution, realized as a
  deterministic hash of (label, template-variable bindings) so the result
  is cluster-size independent and identical across both backends. Blank
  nodes are illegal in DELETE templates and DELETE DATA (per spec).
- Template quads whose variables are unbound in a solution, or that
  instantiate a literal into subject/predicate or graph position, are
  skipped (spec: "such quads are not included").

Scale shape: one update compiles to (a) the WHERE plan — N filtered scans
of the quad table joined on shared variables, same as the SELECT engine —
(b) a left-anti join of the store against the (usually small, AQE can
broadcast it) instantiated delete set, and (c) a union with the
deduplicated insert set. Nothing is collected; ``GraphStore`` commits only
the DELTA rows (Iceberg-v2-style equality-delete markers, merged at read
with one max_by aggregation, once per committed file set) so a 100-TB store
is never rewritten by a small update — ``compact()`` folds the log back to
a pure add set. A ground (INSERT DATA / DELETE DATA only) script never
reads the store: its rows are built on the driver and written by pyarrow,
with no Spark job.
Raw reads pass ``RAW_SCHEMA`` and so skip parquet schema inference.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .sparql import (
    Group,
    SparqlError,
    _answer,
    _answer_local,
    _LocalEval,
    _Parser,
    _SqlCompiler,
    parse_sparql,
)
from .session import bounded_collect, capped
from .snapshots import _parquet_rows
from .telemetry import maybe_span

QUAD_COLS = ("subj", "pred", "obj", "prov")
# the store's driver fast paths' cap, in raw log rows (and in window rows
# for incremental entail): the query twin and entail()'s closures
# (nabu_spark.session.driver_cap overrides it)
_DRIVER_CAP = 100_000
# the delta log's one physical row shape: every writer emits it (__seq is
# long, never int32) and every raw read passes it instead of inferring one
RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in (*QUAD_COLS, "__op")]
    + [T.StructField("__seq", T.LongType())])


# ---------------------------------------------------------------------------
# parsed operations
# ---------------------------------------------------------------------------


@dataclass
class Modify:
    """DELETE/INSERT [DATA] — templates are lists of (graph_atom|None,
    s, p, o); ``where`` is None for the ground DATA forms. ``using`` is
    the (from_graphs, from_named) dataset the WHERE evaluates against
    (USING/USING NAMED, §3.1.3 — when present, WITH is ignored for the
    WHERE but still names the templates' default destination)."""

    delete: list | None
    insert: list | None
    where: Group | None
    with_graph: str | None = None
    using: tuple | None = None


@dataclass
class GraphMgmt:
    op: str                  # clear | drop | create | copy | move | add
    src: object = None       # 'DEFAULT' | 'NAMED' | 'ALL' | '<iri>'
    dst: object = None
    silent: bool = False


@dataclass
class Load:
    path: str
    graph: str | None
    silent: bool


class _UpdateParser(_Parser):
    """Reuses the SELECT engine's tokenizer, prefix handling, term atoms,
    triples blocks and group-graph-pattern parser."""

    def _term_atom(self):
        kind, v = self._peek()
        if kind == "PNAME" and v.startswith("_:"):
            self.i += 1
            return ("term", v)  # blank node label
        return super()._term_atom()

    def _iri(self) -> str:
        atom = self._term_atom()
        if atom[0] != "term" or not atom[1].startswith("<"):
            raise SparqlError(f"expected an IRI, got {atom!r}")
        return atom[1]

    def _quad_triples(self, gatom, quads: list) -> None:
        """One '{ triples }' body appended to ``quads`` under ``gatom``."""
        self._expect("{")
        g = Group()
        while self._peek()[1] != "}":
            self._triples_block(g)
            while self._peek()[1] == ".":
                self.i += 1
        self.i += 1
        for it in g.items:
            if it[0] != "triple" or it[2][0] == "path":
                raise SparqlError("quad templates allow only plain triples "
                                  "(no property paths)")
            quads.append((gatom, it[1], it[2], it[3]))

    def _quad_block(self) -> list:
        """'{' (triples | GRAPH g '{' triples '}')* '}' ->
        [(graph_atom|None, s, p, o), ...]"""
        self._expect("{")
        quads: list = []
        while True:
            kind, v = self._peek()
            if v == "}":
                self.i += 1
                return quads
            if kind == "NAME" and v.upper() == "GRAPH":
                self.i += 1
                gatom = self._term_atom()
                if gatom[0] == "term" and gatom[1].startswith('"'):
                    raise SparqlError("graph label must be an IRI or variable")
                self._quad_triples(gatom, quads)
            else:
                g = Group()
                self._triples_block(g)
                for it in g.items:
                    if it[0] != "triple" or it[2][0] == "path":
                        raise SparqlError("quad templates allow only plain "
                                          "triples (no property paths)")
                    quads.append((None, it[1], it[2], it[3]))
            while self._peek()[1] == ".":
                self.i += 1

    def _graph_ref(self):
        if self._kw("DEFAULT"):
            return "DEFAULT"
        if self._kw("NAMED"):
            return "NAMED"
        if self._kw("ALL"):
            return "ALL"
        self._kw("GRAPH")
        return self._iri()

    def _graph_or_default(self):
        if self._kw("DEFAULT"):
            return "DEFAULT"
        self._kw("GRAPH")
        return self._iri()

    def parse_update(self) -> list:
        ops: list = []
        while True:
            while self._kw("PREFIX"):
                kind, pname = self._next()
                if kind != "PNAME" or not pname.endswith(":"):
                    raise SparqlError(f"bad PREFIX name {pname!r}")
                kind, iri = self._next()
                if kind != "IRI":
                    raise SparqlError(f"bad PREFIX iri {iri!r}")
                self.prefixes[pname[:-1]] = iri[1:-1]
            if self._peek()[0] == "EOF":
                return ops
            ops.append(self._operation())
            if self._peek()[1] == ";":
                self.i += 1
            elif self._peek()[0] != "EOF":
                raise SparqlError(
                    f"expected ';' between operations, got {self._peek()[1]!r}"
                )

    def _operation(self):
        if self._kw("LOAD"):
            silent = self._kw("SILENT")
            iri = self._iri()
            graph = None
            if self._kw("INTO"):
                self._expect("GRAPH")
                graph = self._iri()
            return Load(iri[1:-1], graph, silent)
        for word in ("CLEAR", "DROP"):
            if self._kw(word):
                silent = self._kw("SILENT")
                return GraphMgmt(word.lower(), self._graph_ref(),
                                 silent=silent)
        if self._kw("CREATE"):
            silent = self._kw("SILENT")
            self._expect("GRAPH")
            return GraphMgmt("create", self._iri(), silent=silent)
        for word in ("COPY", "MOVE", "ADD"):
            if self._kw(word):
                silent = self._kw("SILENT")
                src = self._graph_or_default()
                self._expect("TO")
                return GraphMgmt(word.lower(), src, self._graph_or_default(),
                                 silent)
        with_graph = None
        if self._kw("WITH"):
            with_graph = self._iri()
        if self._kw("INSERT"):
            if with_graph is None and self._kw("DATA"):
                quads = self._quad_block()
                self._no_vars(quads, "INSERT DATA")
                return Modify(None, quads, None)
            insert = self._quad_block()
            using = self._using_clause()
            self._expect("WHERE")
            return Modify(None, insert, self._group(), with_graph, using)
        if self._kw("DELETE"):
            if with_graph is None and self._kw("DATA"):
                quads = self._quad_block()
                self._no_vars(quads, "DELETE DATA")
                self._no_bnodes(quads, "DELETE DATA")
                return Modify(quads, None, None)
            if self._kw("WHERE"):
                quads = self._quad_block()
                self._no_bnodes(quads, "DELETE WHERE")
                return Modify(quads, None, _pattern_group(quads), with_graph)
            delete = self._quad_block()
            self._no_bnodes(delete, "DELETE templates")
            insert = None
            if self._kw("INSERT"):
                insert = self._quad_block()
            using = self._using_clause()
            self._expect("WHERE")
            return Modify(delete, insert, self._group(), with_graph, using)
        raise SparqlError(f"unknown update operation at {self._peek()[1]!r}")

    def _using_clause(self):
        """USING [NAMED] <iri>* → (from_graphs, from_named) | None. Same
        shape as the SELECT engine's FROM clause (§3.1.3: USING is to
        updates what FROM is to queries)."""
        ug = un = None
        while self._kw("USING"):
            if self._kw("NAMED"):
                un = (un or []) + [self._iri()]
            else:
                ug = (ug or []) + [self._iri()]
        return (ug, un) if (ug is not None or un is not None) else None

    @staticmethod
    def _no_vars(quads, where):
        for q in quads:
            for atom in q:
                if atom is not None and atom[0] == "var":
                    raise SparqlError(f"variables are not allowed in {where}")

    @staticmethod
    def _no_bnodes(quads, where):
        for q in quads:
            for atom in q:
                if (atom is not None and atom[0] == "term"
                        and atom[1].startswith("_:")):
                    raise SparqlError(
                        f"blank nodes are not allowed in {where}")


def _pattern_group(quads: list) -> Group:
    """DELETE WHERE's quad pattern doubles as its WHERE group."""
    g = Group()
    for ga, s, p, o in quads:
        if ga is None:
            g.items.append(("triple", s, p, o))
        else:
            g.items.append(("graph", ga, Group([("triple", s, p, o)])))
    return g


def parse_update(text: str) -> list:
    p = _UpdateParser(text)
    ops = p.parse_update()
    if not ops:
        raise SparqlError("empty update")
    return ops


# ---------------------------------------------------------------------------
# template instantiation + set algebra (DataFrame backend)
# ---------------------------------------------------------------------------


def _template_vars(quads: list) -> list[str]:
    """Variables a template mentions, sorted — the blank-node freshness
    hash domain (identical on both backends)."""
    vs: set[str] = set()
    for q in quads:
        for atom in q:
            if atom is not None and atom[0] == "var":
                vs.add(atom[1])
    return sorted(vs)


def _bnode_hash_col(label: str, hash_vars: list[str], cols: set[str]):
    parts = [F.lit(label)]
    for v in hash_vars:
        c = F.col(v) if v in cols else F.lit(None).cast("string")
        parts.append(F.coalesce(c, F.lit("\x00")))
    return F.concat(
        F.lit("_:u"),
        F.substring(F.sha2(F.concat_ws("\x1f", *parts), 256), 1, 16),
    )


def _instantiate(sol: DataFrame, quads: list, with_graph: str | None,
                 *, fresh_bnodes: bool) -> DataFrame | None:
    """Instantiate template quads against a solution relation. Returns a
    distinct (subj, pred, obj, prov) DataFrame or None if nothing can
    instantiate. Unbound variables and ill-typed positions skip the quad,
    not the operation."""
    hash_vars = _template_vars(quads)
    cols = set(sol.columns)
    parts: list[DataFrame] = []
    for ga, s, p, o in quads:
        gatom = ga if ga is not None else (
            ("term", with_graph) if with_graph else None)
        exprs, needed, skip = [], [], False
        for atom, name in ((s, "subj"), (p, "pred"), (o, "obj"),
                           (gatom, "prov")):
            if atom is None:
                exprs.append(F.lit(None).cast("string").alias(name))
                continue
            if atom[0] == "term":
                t = atom[1]
                if t.startswith("_:"):
                    if not fresh_bnodes:
                        raise SparqlError(
                            "blank nodes are not allowed in DELETE templates")
                    exprs.append(
                        _bnode_hash_col(t, hash_vars, cols).alias(name))
                else:
                    exprs.append(F.lit(t).alias(name))
            else:
                if atom[1] not in cols:
                    skip = True  # statically unbound: template quad is dead
                    break
                exprs.append(F.col(atom[1]).alias(name))
                needed.append(atom[1])
        if skip:
            continue
        part = sol
        for v in needed:
            part = part.filter(F.col(v).isNotNull())
        parts.append(part.select(*exprs))
    if not parts:
        return None
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    # spec: quads instantiating a literal/blank into an illegal position
    # are skipped
    out = out.filter(
        F.col("subj").rlike("^[<_]")
        & F.col("pred").startswith("<")
        & (F.col("prov").isNull() | F.col("prov").rlike("^[<_]"))
    )
    return out.distinct()


def _quad_minus(a: DataFrame, b: DataFrame | None) -> DataFrame:
    """a \\ b on the four quad columns; prov compares null-safe so the
    default graph participates."""
    if b is None:
        return a
    bb = b.select(*[F.col(c).alias("__r_" + c) for c in QUAD_COLS])
    cond = reduce(
        lambda x, y: x & y,
        [a[c].eqNullSafe(bb["__r_" + c]) for c in QUAD_COLS],
    )
    return a.join(bb, cond, "left_anti")


def _ground_rows(quads: list, op_index: int, *,
                 fresh_bnodes: bool) -> list[tuple]:
    """A ground DATA block as distinct (subj, pred, obj, prov) tuples, in
    template order. Blank nodes are fresh per operation and deterministic
    across runs."""
    def term(atom):
        if atom is None:
            return None
        t = atom[1]
        if t.startswith("_:"):
            if not fresh_bnodes:
                raise SparqlError("blank nodes are not allowed here")
            h = hashlib.sha256(
                f"data\x1f{op_index}\x1f{t}".encode()).hexdigest()[:16]
            return "_:u" + h
        return t
    return list(dict.fromkeys(
        (term(s), term(p), term(o), term(ga)) for ga, s, p, o in quads))


def _ground_df(spark: SparkSession, quads: list, op_index: int,
               *, fresh_bnodes: bool) -> DataFrame:
    return spark.createDataFrame(
        _ground_rows(quads, op_index, fresh_bnodes=fresh_bnodes),
        "subj string, pred string, obj string, prov string")


def _in_ref(ref):
    """Membership predicate for a graph ref ('DEFAULT'|'NAMED'|'ALL'|<iri>)."""
    if ref == "DEFAULT":
        return F.col("prov").isNull()
    if ref == "NAMED":
        return F.col("prov").isNotNull()
    if ref == "ALL":
        return F.lit(True)
    return F.col("prov").eqNullSafe(F.lit(ref))


def _ref_lit(ref):
    return F.lit(None).cast("string") if ref == "DEFAULT" else F.lit(ref)


def _apply_one(cur: DataFrame, op, op_index: int,
               graph_col: str = "prov"):
    """Apply one parsed operation to the current view. Returns
    (new_view, delete_df|None, insert_df|None) — the deltas are what a
    merge-on-read store commits."""
    spark = cur.sparkSession
    if isinstance(op, Load):
        adds = _load_quads(spark, op)
        if adds is None:
            return cur, None, None
        adds = _quad_minus(adds.distinct(), cur)
        return cur.unionByName(adds), None, adds
    if isinstance(op, GraphMgmt):
        if op.op == "create":
            return cur, None, None  # no empty-graph tracking (documented)
        if op.op in ("clear", "drop"):
            dels = cur.filter(_in_ref(op.src))
            return cur.filter(~_in_ref(op.src)), dels, None
        if op.src == op.dst:
            return cur, None, None  # COPY/MOVE/ADD g TO g is a no-op (spec)
        moved = (cur.filter(_in_ref(op.src))
                 .withColumn("prov", _ref_lit(op.dst)))
        if op.op == "add":
            adds = _quad_minus(moved, cur)
            return cur.unionByName(adds), None, adds
        drop_ref = (_in_ref(op.dst) | _in_ref(op.src)) if op.op == "move" \
            else _in_ref(op.dst)
        dels = cur.filter(drop_ref)
        base = cur.filter(~drop_ref)
        return base.unionByName(moved), dels, moved
    # Modify
    if op.where is None:
        dels = (_ground_df(spark, op.delete, op_index, fresh_bnodes=False)
                if op.delete else None)
        adds = (_ground_df(spark, op.insert, op_index, fresh_bnodes=True)
                if op.insert else None)
    else:
        ug, un = op.using or (None, None)
        comp = _SqlCompiler(spark, {"q": cur}, graph_col, ug, un)
        # USING replaces WITH for WHERE evaluation (§3.1.3); WITH still
        # names the templates' default destination below
        g = (("term", op.with_graph)
             if op.with_graph and op.using is None else None)
        sol = comp.run(comp.group(op.where, g)[0])
        dels = (_instantiate(sol, op.delete, op.with_graph,
                             fresh_bnodes=False) if op.delete else None)
        adds = (_instantiate(sol, op.insert, op.with_graph,
                             fresh_bnodes=True) if op.insert else None)
    base = _quad_minus(cur, dels)
    if adds is not None:
        adds = _quad_minus(adds, base)
        base = base.unionByName(adds)
    return base, dels, adds


def _load_quads(spark: SparkSession, op: Load) -> DataFrame | None:
    from .sources.nquads import read_nquads

    path = op.path
    if path.startswith("file://"):
        path = path[len("file://"):]
    try:
        # Turtle / TriG are the small-artifact formats (shapes, VoID,
        # reports): parsed driver-side and shipped as one local relation.
        # N-Quads/N-Triples stay the bulk path (distributed line parse).
        if path.endswith(".ttl"):
            from .functions.turtle import parse_turtle

            with open(path) as fh:
                triples = parse_turtle(fh.read())
            return spark.createDataFrame(
                [(s, p, o, op.graph) for s, p, o in triples],
                "subj string, pred string, obj string, prov string")
        if path.endswith(".trig"):
            from .functions.trig import parse_trig

            with open(path) as fh:
                quads = parse_trig(fh.read())
            return spark.createDataFrame(
                [(s, p, o, op.graph if op.graph is not None else g)
                 for s, p, o, g in quads],
                "subj string, pred string, obj string, prov string")
        df = read_nquads(spark, path)
    except Exception:
        if op.silent:
            return None
        raise
    good = df.filter(F.col("error_code").isNull()).select(*QUAD_COLS)
    if op.graph is not None:
        good = good.withColumn("prov", F.lit(op.graph))
    return good


def apply_update(store: DataFrame, text: str) -> DataFrame:
    """Apply a SPARQL Update script to a quad DataFrame (subj, pred, obj,
    prov) and return the new store view. Set semantics; operations apply
    left to right, each seeing the previous one's result."""
    cur = store.select(*QUAD_COLS)
    for i, op in enumerate(parse_update(text)):
        cur, _, _ = _apply_one(cur, op, i)
    return cur


def sync_graphs(store: DataFrame, release: DataFrame,
                prefix: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Make the store's named graphs under ``prefix`` exactly mirror
    ``release`` — the reference's object-store → triplestore sync (graph
    URNs are serialized storage prefixes: /root/reference/internal/common/
    urn.go:16-22 — studied, not copied): orphan graphs are pruned, changed
    graphs replaced, identical graphs untouched, graphs outside the prefix
    never considered.

    Returns (new_view, deletes, inserts). Both deltas are ONE null-safe
    anti-join each — a no-op sync yields empty deltas, so incremental
    re-syncs of a 100-TB store cost two joins scoped to the prefix
    partition, not a rewrite."""
    p = prefix if prefix.startswith("<") else "<" + prefix
    in_scope = F.col("prov").isNotNull() & F.col("prov").startswith(p)
    scoped = store.filter(in_scope).select(*QUAD_COLS)
    rel = release.select(*QUAD_COLS).filter(in_scope).distinct()
    dels = _quad_minus(scoped, rel)
    adds = _quad_minus(rel, scoped)
    # the fixpoint is definitional: outside-prefix rows + the release
    new = store.select(*QUAD_COLS).filter(~in_scope).unionByName(rel)
    return new, dels, adds


# ---------------------------------------------------------------------------
# local twin (agreement testing; mirrors sparql_eval_local)
# ---------------------------------------------------------------------------


def _bnode_hash_local(label: str, hash_vars: list[str], row: dict) -> str:
    parts = [label] + [
        row.get(v) if row.get(v) is not None else "\x00" for v in hash_vars
    ]
    return "_:u" + hashlib.sha256(
        "\x1f".join(parts).encode()).hexdigest()[:16]


def _inst_local(rows: list[dict], quads: list, with_graph: str | None,
                *, fresh_bnodes: bool) -> set:
    hash_vars = _template_vars(quads)
    out: set = set()
    for ga, s, p, o in quads:
        gatom = ga if ga is not None else (
            ("term", with_graph) if with_graph else None)
        for row in rows:
            vals = []
            ok = True
            for atom in (s, p, o, gatom):
                if atom is None:
                    vals.append(None)
                    continue
                if atom[0] == "term":
                    t = atom[1]
                    if t.startswith("_:"):
                        if not fresh_bnodes:
                            raise SparqlError(
                                "blank nodes are not allowed in DELETE "
                                "templates")
                        t = _bnode_hash_local(t, hash_vars, row)
                    vals.append(t)
                else:
                    v = row.get(atom[1])
                    if v is None:
                        ok = False
                        break
                    vals.append(v)
            if not ok:
                continue
            sv, pv, ov, gv = vals
            if sv[0] not in "<_" or not pv.startswith("<"):
                continue
            if gv is not None and gv[0] not in "<_":
                continue
            out.add((sv, pv, ov, gv))
    return out


def apply_update_local(quads, text: str) -> set:
    """In-memory twin of :func:`apply_update` over an iterable of
    (subj, pred, obj, prov) tuples (prov None = default graph). Returns
    the new store as a set of 4-tuples."""
    cur = {tuple(q) for q in quads}
    for i, op in enumerate(parse_update(text)):
        cur = _apply_one_local(cur, op, i)
    return cur


def _eval_where_local(cur: set, where: Group, with_graph,
                      using: tuple | None = None) -> list[dict]:
    triples = [
        (s, p, o) if g is None else (s, p, o, g) for s, p, o, g in cur
    ]
    ug, un = using or (None, None)
    g = ("term", with_graph) if with_graph and using is None else None
    return _LocalEval(triples, ug, un).group(where, [{}], g)


def _apply_one_local(cur: set, op, op_index: int) -> set:
    if isinstance(op, Load):
        raise SparqlError("LOAD is not supported by the local twin")
    if isinstance(op, GraphMgmt):
        if op.op == "create":
            return cur

        def in_ref(q, ref):
            if ref == "DEFAULT":
                return q[3] is None
            if ref == "NAMED":
                return q[3] is not None
            if ref == "ALL":
                return True
            return q[3] == ref

        if op.op in ("clear", "drop"):
            return {q for q in cur if not in_ref(q, op.src)}
        if op.src == op.dst:
            return cur
        dst = None if op.dst == "DEFAULT" else op.dst
        moved = {(s, p, o, dst) for s, p, o, g in cur
                 if in_ref((s, p, o, g), op.src)}
        if op.op == "add":
            return cur | moved
        keep = {q for q in cur if not in_ref(q, op.dst)
                and (op.op != "move" or not in_ref(q, op.src))}
        return keep | moved
    if op.where is None:
        rows = [{}]
    else:
        rows = _eval_where_local(cur, op.where, op.with_graph, op.using)
    if op.where is None:
        # ground DATA forms share the DataFrame backend's per-op bnode hash
        def ground(quads, fresh):
            out = set()
            for ga, s, p, o in quads:
                def term(atom):
                    if atom is None:
                        return None
                    t = atom[1]
                    if t.startswith("_:"):
                        h = hashlib.sha256(
                            f"data\x1f{op_index}\x1f{t}".encode()
                        ).hexdigest()[:16]
                        return "_:u" + h
                    return t
                out.add((term(s), term(p), term(o), term(ga)))
            return out
        dels = ground(op.delete, False) if op.delete else set()
        adds = ground(op.insert, True) if op.insert else set()
    else:
        dels = (_inst_local(rows, op.delete, op.with_graph,
                            fresh_bnodes=False) if op.delete else set())
        adds = (_inst_local(rows, op.insert, op.with_graph,
                            fresh_bnodes=True) if op.insert else set())
    return (cur - dels) | adds


# ---------------------------------------------------------------------------
# snapshot-versioned store (merge-on-read deltas over SnapshotTable)
# ---------------------------------------------------------------------------


def _merge_files(files: list[str]) -> list:
    """The merged quad set of delta-log ``files``, read by pyarrow on the
    driver with no Spark job, as [(subj, pred, obj, prov), ...]. It is
    read()'s max_by(__op, __seq) per quad: rows sorted by __seq fill a
    dict, so each quad keeps its last op (each commit batch is a quad set
    and its d/a rows carry distinct seqs). Callers bound the raw row count
    (``_parquet_rows``) before calling — a stricter bound than the merged
    size, so a long delete history only falls back earlier."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(RAW_SCHEMA)
    log = pa.concat_tables(
        pq.read_table(f, columns=schema.names).cast(schema) for f in files
    ).sort_by("__seq")
    s, p, o, g, op = (log.column(c).to_pylist() for c in schema.names[:5])
    last = dict(zip(zip(s, p, o, g), op))
    return [q for q, op in last.items() if op == "a"]


def _tag(quads: DataFrame, op: str, seq: int) -> DataFrame:
    """Quad rows as delta-log rows of one ``__op`` and ``__seq``."""
    return quads.select(*QUAD_COLS, F.lit(op).alias("__op"),
                        F.lit(seq).cast("long").alias("__seq"))


class GraphStore:
    """A SPARQL-updatable quad store on top of :class:`SnapshotTable`.

    Physical rows are (subj, pred, obj, prov, __op, __seq): 'a' rows assert
    a quad, 'd' rows are equality-delete markers (Iceberg v2 shape), __seq
    is a store-global operation sequence so a quad deleted then re-inserted
    resolves correctly. ``read()`` merges with ONE hash aggregation
    (max_by(__op, __seq) per quad), once per committed file set: the store
    holds one persisted merged view keyed on (applicationId, manifest file
    list), filled lazily by the first query that runs at that key, and
    only when the files fit ``spark.sql.autoBroadcastJoinThreshold``. So
    reads between commits scan the cache, and the first read after a
    commit pays the merge plus the cache fill. ``compact()`` folds the log
    into a pure add set so steady-state reads pay no delete history. Every
    ``update`` call commits only its delta rows — the base data is never
    rewritten.

    A log of at most ``_DRIVER_CAP`` raw rows is also held on the driver,
    keyed on its manifest file list alone: the merged quads, hash-indexed,
    as the twin that ``query`` answers from with no Spark job. A ground update
    applies its delta rows to the twin it was committed over; every other
    key change rebuilds the twin on the next query."""

    def __init__(self, spark: SparkSession, root: str):
        from .snapshots import SnapshotTable

        self.spark = spark
        self.tbl = SnapshotTable(root)
        # [key, persisted merged view, registered as self._view yet]: the
        # one read() memo entry
        self._memo: list | None = None
        self._view = f"nabu_store_{uuid.uuid4().hex}"
        # [file list, indexed _LocalEval over the merged quads (None until
        # a read within the cap builds it), raw log rows]: the one query twin
        self._twin: list | None = None

    # -- write paths --------------------------------------------------------
    def _next_seq(self) -> int:
        m = self.tbl.manifest() if self.tbl.exists() else None
        return int((m or {}).get("metrics", {}).get("max_seq", -1)) + 1

    def _commit_delta(self, delta, seq_hi: int, stage: str,
                      operation: str = "append",
                      extra: dict | None = None) -> int:
        metrics = {"max_seq": seq_hi, **(extra or {})}
        return self.tbl.commit(delta, operation=operation, stage=stage,
                               metrics=metrics)

    def _commit_rows(self, rows: list, seq_hi: int, stage: str,
                     extra: dict | None = None) -> int:
        """Commit driver-held (subj, pred, obj, prov, __op, __seq) tuples
        as one parquet file written by pyarrow: no Spark job."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(RAW_SCHEMA)
        cols = zip(*rows) if rows else [()] * len(schema)
        table = pa.table(dict(zip(schema.names, cols)), schema=schema)
        return self._commit_delta(table, seq_hi, stage, extra=extra)

    def init(self, quads: DataFrame, stage: str = "graphstore-init") -> int:
        """Seed (or reset) the store from a quad DataFrame."""
        seq = self._next_seq()
        rows = _tag(quads.select(*QUAD_COLS).distinct(), "a", seq)
        return self._commit_delta(rows, seq, stage, operation="overwrite")

    def update(self, text: str) -> int:
        """Apply a SPARQL Update script as ONE atomic snapshot commit of
        its delta rows. Returns the new version.

        Op ``i`` deletes at ``seq0 + 2i`` and inserts at ``seq0 + 2i + 1``
        (deletes before inserts, spec §3.1.3). A ground script (INSERT DATA
        / DELETE DATA only) never reads the store: its de-duplicated rows
        are committed from the driver with no Spark job, and a quad it
        re-inserts is a redundant 'a' row that ``read()``'s max_by merge
        ignores (as in ``append_quads``). Its rows also advance the query
        twin (``_advance_twin``)."""
        ops = parse_update(text)
        seq0 = self._next_seq()
        seq_hi = seq0 + 2 * len(ops) - 1
        if all(isinstance(op, Modify) and op.where is None for op in ops):
            rows = []
            for i, op in enumerate(ops):
                if op.delete:
                    rows += [(*q, "d", seq0 + 2 * i) for q in _ground_rows(
                        op.delete, i, fresh_bnodes=False)]
                if op.insert:
                    rows += [(*q, "a", seq0 + 2 * i + 1) for q in _ground_rows(
                        op.insert, i, fresh_bnodes=True)]
            v = self._commit_rows(rows, seq_hi, "sparql-update")
            self._advance_twin(v, rows)
            return v
        cur = self.read()
        parts: list[DataFrame] = []
        for i, op in enumerate(ops):
            cur, dels, adds = _apply_one(cur, op, i)
            if dels is not None:
                parts.append(_tag(dels, "d", seq0 + 2 * i))
            if adds is not None:
                parts.append(_tag(adds, "a", seq0 + 2 * i + 1))
        if not parts:
            return self._commit_rows([], seq_hi, "sparql-update")
        return self._commit_delta(reduce(DataFrame.unionByName, parts),
                                  seq_hi, "sparql-update")

    def _advance_twin(self, v: int, rows: list) -> None:
        """Apply a ground update's delta ``rows`` (in seq order, as
        ``update`` builds them) to the twin and rekey it to version ``v``.
        Only when ``v`` holds exactly the twin's files plus the ones just
        committed, and the log stays within the cap; otherwise (another
        instance committed in between, or the twin is of another version)
        the twin is dropped. A twin that the log outgrows is released, and
        its row count is kept."""
        twin, self._twin = self._twin, None
        m = self.tbl.manifest(v)
        if (twin is None or m["operation"] != "append"
                or tuple(m["files"]) != twin[0] + tuple(m["new_files"])):
            return
        ev, raw = twin[1], twin[2] + len(rows)
        if raw > capped(_DRIVER_CAP):
            ev = None
        elif ev is not None:
            for *q, op, _ in rows:
                (ev.add if op == "a" else ev.discard)(tuple(q))
        self._twin = [tuple(m["files"]), ev, raw]

    def append_quads(self, quads: DataFrame, stage: str = "append") -> int:
        """Append a batch of quads as one snapshot of 'a' rows — O(batch),
        no read of the store. Duplicate assertions are harmless: read()'s
        max_by merge is a set union, so a replayed batch (a retried
        task) changes nothing logically and compact() folds
        the physical duplicates away. The incremental-view path re-derives
        from the replayed rows and its anti-join adds nothing."""
        seq = self._next_seq()
        rows = _tag(quads.select(*QUAD_COLS).distinct(), "a", seq)
        return self._commit_delta(rows, seq, stage)

    def sync(self, release: DataFrame, prefix: str) -> int:
        """Mirror the release's graphs under ``prefix`` into the store (see
        :func:`sync_graphs`), committing only the delta rows. Idempotent:
        a second sync of the same release commits an empty delta."""
        cur = self.read()
        _, dels, adds = sync_graphs(cur, release, prefix)
        seq = self._next_seq()
        delta = _tag(dels, "d", seq).unionByName(_tag(adds, "a", seq + 1))
        return self._commit_delta(delta, seq + 1, "graph-sync")

    def load(self, path: str, graph: str | None = None) -> int:
        into = f" INTO GRAPH {graph}" if graph else ""
        return self.update(f"LOAD <file://{path}>{into}")

    def entail(self, graph: str = "<urn:nabu:inference>",
               profile: str = "rdfs", incremental: bool = False) -> int:
        """Materialize the entailment closure (operators/reasoner.py) of
        the merged store into ``graph``: the inference graph is REPLACED
        with exactly the derived-but-not-asserted triples, committed as
        delta rows (delete markers for stale inferences + adds for new
        ones), so re-entailing after an update is idempotent and never
        rewrites the base. Asserted quads keep their graphs; queries see
        inferred answers through the union default graph, and ``GRAPH
        <urn:nabu:inference>`` isolates them. ``profile`` selects the rule
        set: ``rdfs`` (ρdf core) or ``owl-rl`` (adds inverse/symmetric/
        transitive/functional property rules with sameAs
        canonicalization).

        ``incremental=True`` maintains the inference graph from the delta
        window since the last entail instead of re-closing the store:
        every ρdf rule joins ONE data triple against vocabulary-sized
        schema relations, so for an append-only window that asserts no
        schema triples, closure(T ∪ Δ) = closure(T) ∪ closure(Δ ∪
        schema) — the job reads only the window files plus a
        predicate-pushed schema scan, O(Δ), never a full re-closure. The
        same honesty discipline as matview: any condition that makes the
        shortcut unsound (no prior entail, a non-append window, delete
        markers, schema-touching delta, or the owl-rl profile — whose
        canonical rewrite is non-monotone) falls back to the full
        recompute, and each fallback reason is pinned by a test."""
        from .operators.reasoner import owl_rl_materialize, rdfs_materialize

        if profile not in ("rdfs", "owl-rl"):
            raise ValueError(f"unknown entailment profile {profile!r}")
        if incremental and profile == "rdfs":
            v = self._entail_incremental(graph)
            if v is not None:
                return v
        # bounded driver fast path (same economics as the reasoner's own
        # fast paths): a store within ``_DRIVER_CAP`` raw log rows
        # closes through the exact in-memory twin and the whole delta
        # (closure, anti-join, old-inference diff) is ONE pyarrow read of
        # the log + ONE commit instead of ~6 shuffle-heavy jobs. Semantics
        # are set-for-set
        # the distributed plan below (agreement pinned in tests);
        # ``driver_cap(0)`` forces the distributed plan.
        quads = self._collect_merged()
        if quads is not None:
            return self._entail_local(quads, graph, profile)
        materialize = (rdfs_materialize if profile == "rdfs"
                       else owl_rl_materialize)
        cur = self.read()
        asserted = cur.filter(
            F.col("prov").isNull() | (F.col("prov") != graph))
        base_triples = asserted.select("subj", "pred", "obj").distinct()
        derived = (
            materialize(base_triples)
            .join(base_triples, on=["subj", "pred", "obj"], how="left_anti")
            .withColumn("prov", F.lit(graph))
        )
        old_inf = cur.filter(F.col("prov") == graph)
        dels = _quad_minus(old_inf, derived)
        adds = _quad_minus(derived, old_inf)
        seq = self._next_seq()
        delta = _tag(dels, "d", seq).unionByName(_tag(adds, "a", seq + 1))
        return self._commit_delta(delta, seq + 1, f"{profile}-entail",
                                  extra={"entail_graph": graph})

    def _entail_incremental_local(self, graph: str, wrows: list,
                                  squads: list) -> int:
        """Exact in-memory mirror of the distributed semi-naive tail:
        closure(window ∪ schema) minus asserted = the new inferences; window
        triples retract their inference-graph shadow. Same commit shape and
        metrics as the distributed path (agreement pinned in tests)."""
        from .operators.reasoner import rdfs_closure_local

        window_t = {(r.subj, r.pred, r.obj) for r in wrows}
        asserted = {(s, p, o) for s, p, o, prov in squads
                    if prov is None or prov != graph}
        old_inf = {(s, p, o) for s, p, o, prov in squads if prov == graph}
        schema = {(s, p, o) for s, p, o in asserted
                  if p in self._SCHEMA_PREDS}
        derived = rdfs_closure_local(window_t | schema) - asserted
        adds = sorted(derived - old_inf)
        dels = sorted(old_inf & window_t)
        seq = self._next_seq()
        delta_rows = (
            [(s, p, o, graph, "d", seq) for s, p, o in dels]
            + [(s, p, o, graph, "a", seq + 1) for s, p, o in adds]
        )
        return self._commit_rows(
            delta_rows, seq + 1, "rdfs-entail",
            extra={"entail_mode": "incremental", "entail_graph": graph})

    def _collect_merged(self) -> list | None:
        """The latest merged quad set on the driver (see
        :func:`_merge_files`), or None over the cap."""
        files, cap = self.tbl.files(), capped(_DRIVER_CAP)
        if cap <= 0 or _parquet_rows(files) > cap:
            return None
        return _merge_files(files)

    def _entail_local(self, quads: list, graph: str, profile: str) -> int:
        """Exact in-memory mirror of the distributed entail() tail over the
        collected merged view: asserted = every non-inference quad, closure
        via the reasoner's local twin, delta = (stale inferences as 'd'
        rows, new inferences as 'a' rows)."""
        from .operators.reasoner import owl_closure_local, rdfs_closure_local

        asserted = {(s, p, o) for s, p, o, prov in quads
                    if prov is None or prov != graph}
        old_inf = {(s, p, o) for s, p, o, prov in quads if prov == graph}
        close = rdfs_closure_local if profile == "rdfs" else owl_closure_local
        derived = close(asserted) - asserted
        dels = sorted(old_inf - derived)
        adds = sorted(derived - old_inf)
        seq = self._next_seq()
        delta_rows = (
            [(s, p, o, graph, "d", seq) for s, p, o in dels]
            + [(s, p, o, graph, "a", seq + 1) for s, p, o in adds]
        )
        return self._commit_rows(delta_rows, seq + 1, f"{profile}-entail",
                                 extra={"entail_graph": graph})

    _SCHEMA_PREDS = (
        "<http://www.w3.org/2000/01/rdf-schema#subClassOf>",
        "<http://www.w3.org/2000/01/rdf-schema#subPropertyOf>",
        "<http://www.w3.org/2000/01/rdf-schema#domain>",
        "<http://www.w3.org/2000/01/rdf-schema#range>",
    )

    def _entail_incremental(self, graph: str) -> int | None:
        """The semi-naive append path of entail(); None -> caller must
        run the full recompute."""
        from .operators.reasoner import rdfs_materialize

        last = next(
            (h["version"] for h in self.history()
             if h.get("stage") == "rdfs-entail"
             and h.get("metrics", {}).get("entail_graph") == graph),
            None)
        if last is None:
            return None
        head = self.tbl.latest_version()
        if head == last:  # nothing committed since -> no-op delta
            return self._commit_rows(
                [], self._next_seq(), "rdfs-entail",
                extra={"entail_mode": "incremental", "entail_graph": graph})
        window = self.raw_window(last, head)
        if window is None:
            return None
        # bounded driver fast path: a window AND store within
        # ``_DRIVER_CAP`` run the identical semi-naive algorithm
        # in-memory — window collect, soundness scan, closure(window ∪
        # schema), store anti-join — as ONE collect, ONE pyarrow read of
        # the log and ONE commit instead of
        # checkpoint + probe + materialize + shuffle-join jobs. Falls
        # through to the distributed plan (over the materialized window)
        # when either side is over-cap; unsound windows return None (full
        # recompute) exactly as below.
        wrows, window = bounded_collect(window, _DRIVER_CAP,
                                        site="graphstore.entail_window")
        if wrows is not None:
            if any(r["__op"] != "a" or r["prov"] == graph
                   or r["pred"] in self._SCHEMA_PREDS for r in wrows):
                return None
            squads = self._collect_merged()
            if squads is not None:
                return self._entail_incremental_local(graph, wrows, squads)
            # store over cap: fall through to the distributed plan
        unsound = window.filter(
            (F.col("__op") != "a")
            | (F.col("prov") == graph)
            | F.col("pred").isin(*self._SCHEMA_PREDS)
        ).limit(1).count()
        if unsound:
            return None
        cur = self.read()
        asserted = cur.filter(
            F.col("prov").isNull() | (F.col("prov") != graph))
        # vocabulary-sized by nature; the filter pushes to the scan
        schema = asserted.filter(
            F.col("pred").isin(*self._SCHEMA_PREDS)
        ).select("subj", "pred", "obj").distinct()
        seed = (window.select("subj", "pred", "obj").distinct()
                .unionByName(schema))
        derived = (
            rdfs_materialize(seed)
            .join(asserted.select("subj", "pred", "obj").distinct(),
                  on=["subj", "pred", "obj"], how="left_anti")
            .withColumn("prov", F.lit(graph))
        )
        old_inf = cur.filter(F.col("prov") == graph)
        adds = _quad_minus(derived, old_inf)
        # a triple the window newly ASSERTS may currently live in the
        # inference graph — retract it there so the "exactly
        # derived-but-not-asserted" invariant survives increments
        dels = old_inf.join(
            window.select("subj", "pred", "obj").distinct(),
            on=["subj", "pred", "obj"], how="left_semi")
        seq = self._next_seq()
        delta = _tag(dels, "d", seq).unionByName(_tag(adds, "a", seq + 1))
        return self._commit_delta(
            delta, seq + 1, "rdfs-entail",
            extra={"entail_mode": "incremental", "entail_graph": graph})

    def to_trig(self, prefixes: dict[str, str] | None = None, *,
                max_quads: int = 100_000,
                version: int | None = None) -> str:
        """The merged store (or a past ``version``) as a deterministic
        TriG document: default graph first, one GRAPH block per named
        graph. Driver-side by design — refuses stores above ``max_quads``
        (bulk data belongs in the N-Quads/parquet release paths, TriG is
        for the small artifacts: shapes, VoID, reports, inference)."""
        from .functions.trig import serialize_trig

        rows = (self.read(version).select("subj", "pred", "obj", "prov")
                .limit(max_quads + 1).collect())
        if len(rows) > max_quads:
            raise ValueError(
                f"store exceeds max_quads={max_quads}; export N-Quads/"
                "parquet instead or raise the cap explicitly")
        return serialize_trig(
            ((r.subj, r.pred, r.obj, r.prov) for r in rows), prefixes)

    def compact(self) -> int:
        """Fold the delete log: rewrite the merged view as pure add rows."""
        seq = self._next_seq()
        return self._commit_delta(_tag(self.read(), "a", seq), seq,
                                  "graphstore-compact",
                                  operation="overwrite")

    # -- read paths ---------------------------------------------------------
    def raw_window(self, v0: int, v1: int) -> DataFrame | None:
        """The physical delta rows committed in versions (v0, v1] —
        (subj, pred, obj, prov, __op, __seq) — or None when the window is
        not purely append-derived (an overwrite — compact, rollback,
        init — replaced the file list, so file-set difference no longer
        equals the logical delta). The incremental-view path feeds on
        this: reading ONLY the window files costs O(delta), never
        O(store)."""
        m0, m1 = self.tbl.manifest(v0), self.tbl.manifest(v1)
        if m0 is None or m1 is None:
            return None
        for v in range(v0 + 1, v1 + 1):
            m = self.tbl.manifest(v)
            if m is None or m["operation"] != "append":
                return None
        base = set(m0["files"])
        new_files = [f for f in m1["files"] if f not in base]
        if not new_files:
            return self.spark.createDataFrame([], RAW_SCHEMA)
        return self.spark.read.schema(RAW_SCHEMA).parquet(*new_files)

    def read(self, version: int | None = None) -> DataFrame:
        """The merged quad-set view at ``version`` (default latest).

        Memoized per committed file set: data files are immutable, so
        ``(applicationId, manifest file list)`` names one merged set, and a
        read at the key of the store's one entry returns that same
        DataFrame (``memo="hit"``). A miss builds the merge plan and
        ``persist()``s it — lazily, so constructing a query launches no job
        and the first query that runs fills the cache — then unpersists the
        previous entry. Update, rollback, compact, time travel and another
        process's commit all change the key; no invalidation is needed.
        Only a log whose files total at most
        ``spark.sql.autoBroadcastJoinThreshold`` on-disk bytes is
        memoized; a larger one gets the plain merge plan every time
        (``memo="over_cap"``). The persisted entry spills to disk under
        Spark's storage memory. The cost moves to the first read after each
        commit: it pays the whole-log merge plus the cache fill, where an
        unmemoized selective query would merge only a filter-pushed slice.
        Each decision opens a ``graphstore.read`` span (a no-op without an
        ambient tracer).
        """
        files = self.tbl.files(version)
        nbytes = sum(map(os.path.getsize, files))
        cap = self.spark._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        key = (self.spark.sparkContext.applicationId, tuple(files))
        memo = ("over_cap" if nbytes > cap else
                "hit" if self._memo and self._memo[0] == key else "miss")
        with maybe_span("graphstore.read", memo=memo, files=len(files),
                        bytes=nbytes):
            if memo == "hit":
                return self._memo[1]
            raw = self.spark.read.schema(RAW_SCHEMA).parquet(*files)
            merged = (
                raw.groupBy(*QUAD_COLS)
                .agg(F.max_by("__op", "__seq").alias("__op"))
                .filter(F.col("__op") == "a").select(*QUAD_COLS)
            )
            if memo == "over_cap":
                return merged
            if self._memo:
                self._memo[1].unpersist()
            self._memo = [key, merged.persist(), False]
            return self._memo[1]

    def query(self, text: str, version: int | None = None) -> DataFrame:
        """SPARQL over the merged view at ``version`` (default latest).

        A log within ``_DRIVER_CAP`` raw rows is answered by the driver
        twin of its files: a DataFrame over a ``pyarrow.Table`` with the
        SQL path's columns and types, whose ``collect`` and ``count`` run
        on the driver with no Py4J call; any other method plans it as a
        LocalTableScan on first use, which runs no Spark job either. Over
        the cap, under ``driver_cap(0)``, or for a query the twin's
        evaluator rejects, the query compiles to one Spark SQL statement
        over ``read()``. The memo entry is registered as a temp
        view on its first query, so a query on a memo hit registers and
        drops no view of its own (the two commands took about 12 ms per
        query on a 4-CPU VM, more than compiling a lookup). One
        ``graphstore.query`` span records the path taken (``driver`` or
        ``sql``), the cap and, on the driver path, the rows out."""
        q = parse_sparql(text)
        files = self.tbl.files(version)
        cap = capped(_DRIVER_CAP)
        with maybe_span("graphstore.query", cap=cap) as span:
            ev = self._twin_at(files, cap)
            if ev is not None:
                try:
                    df, rows = _answer_local(self.spark, ev, q, "prov")
                except SparqlError:
                    pass
                else:
                    if span is not None:
                        span.attributes.update(path="driver", rows=rows)
                    return df
            if span is not None:
                span.attributes["path"] = "sql"
            quads = self.read(version)
            if self._memo and self._memo[1] is quads:
                if not self._memo[2]:
                    quads.createOrReplaceTempView(self._view)
                    self._memo[2] = True
                quads = self._view
            return _answer(self.spark, quads, q, "prov")

    def _twin_at(self, files: list[str], cap: int) -> _LocalEval | None:
        """The twin of ``files``; None over ``cap`` raw rows. A key change
        reads the footers' row count once, and the twin is built on the
        first read within the cap, so a store over the cap pays no footer
        read per query."""
        if cap <= 0:
            return None
        # driver data: the files alone name it, whichever app reads them
        key = tuple(files)
        if not self._twin or self._twin[0] != key:
            self._twin = [key, None, _parquet_rows(files)]
        if self._twin[2] > cap:
            return None
        if self._twin[1] is None:
            self._twin[1] = _LocalEval(
                dict.fromkeys(_merge_files(files))).indexed()
        return self._twin[1]

    def history(self) -> list[dict]:
        return self.tbl.history()

    def rollback(self, version: int) -> int:
        return self.tbl.rollback(version)
