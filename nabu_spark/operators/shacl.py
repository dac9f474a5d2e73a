"""Native SHACL-lite validation over document graphs.

Re-expresses the reference's SHACL service (goRDFlib shacl behind gRPC,
/root/reference/shacl_validator/shacl_validator_go/shacl.go:69-94) as a
self-contained evaluator, covering the constraint vocabulary its shipped
shape file uses (shapes/geoconnex.ttl) and the common SHACL Core extras:
sh:targetClass / sh:targetObjectsOf, property shapes with sh:path,
sh:minCount / sh:maxCount, sh:datatype, sh:pattern, sh:nodeKind (sh:IRI),
sh:node (nested shapes), sh:class, sh:in, sh:hasValue,
sh:minLength / sh:maxLength, node- and value-level sh:or over
sh:class / sh:datatype alternatives, sh:not / sh:and / sh:xone (logical
constraints via nested conformance checks), the full SHACL path algebra
(predicates, ``sh:inversePath``, sequences ``( p1 p2 )``,
``sh:alternativePath``, ``sh:zeroOrMorePath`` / ``sh:oneOrMorePath`` /
``sh:zeroOrOnePath``, arbitrarily nested — compiled to an AST with inverses
pushed to predicate leaves), sh:severity (Violation/Warning/Info reporting,
pyshacl-style: only Violation-severity results fail a graph), sh:message.

Validation semantics mirror shacl.go Validate(): first the structural
pre-check (a node typed schema:Place or schema:Dataset must exist,
shacl.go:78-92), then shape conformance; any violation -> conforms=false.

Spark shape: document graphs are independent, so the distributed form
co-locates each prov (repartition + sortWithinPartitions) and evaluates
each contiguous graph, the null-prov default graph included, in one
per-graph ``mapInArrow`` pass (operators/graphpass.py) — graph-local
evaluation, no cross-graph state, the same pure function the driver uses
for single documents. The gate corpus classification
(shacl_validator/testdata/{valid,invalid}) is asserted in
tests/test_shacl.py, mirroring shacl_test.go:29-96.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, types as T

from ..functions.ntriples import unescape_literal
from ..sparql import parse_sparql, sparql_eval_local
from ..functions.turtle import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, parse_turtle
from .graphpass import map_graphs

SH = "http://www.w3.org/ns/shacl#"
XSD_STRING = "<http://www.w3.org/2001/XMLSchema#string>"
SCHEMA_PLACE = "<https://schema.org/Place>"
SCHEMA_DATASET = "<https://schema.org/Dataset>"

PRECHECK_MESSAGE = "Data must be of @type schema:Place or schema:Dataset"

SEVERITY_VIOLATION = "Violation"
SEVERITY_WARNING = "Warning"
SEVERITY_INFO = "Info"


def _sh(local: str) -> str:
    return f"<{SH}{local}>"


@dataclass
class PropertyShape:
    path: str
    min_count: int | None = None
    max_count: int | None = None
    datatype: str | None = None
    pattern: str | None = None
    node_kind: str | None = None
    node: str | None = None  # shape id (IRI or bnode) evaluated recursively
    or_alternatives: list[dict] = field(default_factory=list)
    message: str | None = None
    cls: str | None = None          # sh:class — values must be typed C
    in_values: list[str] | None = None  # sh:in — closed value set
    has_value: str | None = None    # sh:hasValue — some value == V
    min_length: int | None = None   # sh:minLength on the lexical form
    max_length: int | None = None   # sh:maxLength
    not_shapes: list[str] = field(default_factory=list)  # sh:not shape refs
    and_shapes: list[str] = field(default_factory=list)  # sh:and member refs
    xone_shapes: list[str] = field(default_factory=list)  # sh:xone members
    severity: str = SEVERITY_VIOLATION  # sh:severity, default sh:Violation
    qualified_shape: str | None = None  # sh:qualifiedValueShape ref
    q_min: int | None = None            # sh:qualifiedMinCount
    q_max: int | None = None            # sh:qualifiedMaxCount
    deactivated: bool = False  # sh:deactivated: no results, but the path
    #                            still counts toward sh:closed's allowed set
    inverse: bool = False  # sh:path [ sh:inversePath p ]
    # sh:path ( p1 p2 ... ): sequence of (predicate, inverse) steps; when set,
    # `path` holds the SPARQL-style display form (^-prefixed inverse steps)
    steps: list[tuple[str, bool]] | None = None
    # normalized path AST covering the full SHACL path algebra (predicate,
    # inverse, sequence, alternative, zeroOrMore/oneOrMore/zeroOrOne);
    # inverses are pushed down to predicate leaves at compile time
    pexpr: tuple | None = None


@dataclass
class NodeShape:
    shape_id: str
    target_classes: list[str] = field(default_factory=list)
    target_objects_of: list[str] = field(default_factory=list)
    or_alternatives: list[dict] = field(default_factory=list)
    properties: list[PropertyShape] = field(default_factory=list)
    not_shapes: list[str] = field(default_factory=list)
    and_shapes: list[str] = field(default_factory=list)
    xone_shapes: list[str] = field(default_factory=list)
    severity: str = SEVERITY_VIOLATION
    deactivated: bool = False               # sh:deactivated true (§2.1.3.3)
    closed: bool = False                    # sh:closed true
    ignored_props: list[str] = field(default_factory=list)  # sh:ignoredProperties
    cls: str | None = None        # node-level sh:class (focus must be typed C)
    datatype: str | None = None   # node-level sh:datatype
    node_kind: str | None = None  # node-level sh:nodeKind
    # sh:sparql SELECT-based constraints: (parsed query, message | None);
    # each solution with $this pre-bound to the focus node is a violation
    sparql_constraints: list = field(default_factory=list)


class ShapesGraph:
    """Compiled shapes: evaluate against any graph of N-Triples term
    triples. Shape graphs are tiny; compilation happens once driver-side."""

    def __init__(self, triples: list[tuple[str, str, str]]):
        self._spo: dict[str, dict[str, list[str]]] = {}
        for s, p, o in triples:
            self._spo.setdefault(s, {}).setdefault(p, []).append(o)
        self.shapes: dict[str, NodeShape] = {}
        for s, po in self._spo.items():
            if _sh("NodeShape") in po.get(RDF_TYPE, []):
                self.shapes[s] = self._compile_node_shape(s)

    # -- compilation --------------------------------------------------------

    def _objs(self, s: str, p: str) -> list[str]:
        return self._spo.get(s, {}).get(p, [])

    def _list_items(self, head: str) -> list[str]:
        items = []
        while head != RDF_NIL:
            first = self._objs(head, RDF_FIRST)
            if not first:
                break
            items.append(first[0])
            rest = self._objs(head, RDF_REST)
            head = rest[0] if rest else RDF_NIL
        return items

    def _compile_path(self, obj: str) -> tuple:
        """SHACL path object -> AST: ("p", iri) | ("inv", sub) |
        ("seq", [subs]) | ("alt", [subs]) | ("star"|"plus"|"opt", sub)."""
        inv = self._objs(obj, _sh("inversePath"))
        if inv:
            return ("inv", self._compile_path(inv[0]))
        alt = self._objs(obj, _sh("alternativePath"))
        if alt:
            return ("alt", [self._compile_path(x) for x in self._list_items(alt[0])])
        star = self._objs(obj, _sh("zeroOrMorePath"))
        if star:
            return ("star", self._compile_path(star[0]))
        plus = self._objs(obj, _sh("oneOrMorePath"))
        if plus:
            return ("plus", self._compile_path(plus[0]))
        opt = self._objs(obj, _sh("zeroOrOnePath"))
        if opt:
            return ("opt", self._compile_path(opt[0]))
        if self._objs(obj, RDF_FIRST):
            return ("seq", [self._compile_path(x) for x in self._list_items(obj)])
        return ("p", obj)

    def _or_alts(self, shape_id: str) -> list[dict]:
        alts = []
        for head in self._objs(shape_id, _sh("or")):
            for alt in self._list_items(head):
                d = {}
                cls = self._objs(alt, _sh("class"))
                if cls:
                    d["class"] = cls[0]
                dt = self._objs(alt, _sh("datatype"))
                if dt:
                    d["datatype"] = dt[0]
                if d:
                    alts.append(d)
        return alts

    def _int(self, shape_id: str, pred: str) -> int | None:
        vals = self._objs(shape_id, _sh(pred))
        if not vals:
            return None
        return int(unescape_literal(re.sub(r'^"|"(\^\^<[^>]*>)?$', "", vals[0])))

    def _severity(self, shape_id: str) -> str:
        vals = self._objs(shape_id, _sh("severity"))
        if not vals:
            return SEVERITY_VIOLATION
        local = vals[0].rsplit("#", 1)[-1].rstrip(">")
        return local if local in (
            SEVERITY_VIOLATION, SEVERITY_WARNING, SEVERITY_INFO
        ) else SEVERITY_VIOLATION

    def _compile_node_shape(self, s: str) -> NodeShape:
        shape = NodeShape(shape_id=s)
        shape.target_classes = self._objs(s, _sh("targetClass"))
        shape.target_objects_of = self._objs(s, _sh("targetObjectsOf"))
        shape.or_alternatives = self._or_alts(s)
        shape.not_shapes = self._objs(s, _sh("not"))
        for head in self._objs(s, _sh("and")):
            shape.and_shapes.extend(self._list_items(head))
        for head in self._objs(s, _sh("xone")):
            shape.xone_shapes.extend(self._list_items(head))
        shape.severity = self._severity(s)
        deact = self._objs(s, _sh("deactivated"))
        shape.deactivated = bool(deact) and deact[0].startswith('"true"')
        cls = self._objs(s, _sh("class"))
        shape.cls = cls[0] if cls else None
        dt = self._objs(s, _sh("datatype"))
        shape.datatype = dt[0] if dt else None
        nk = self._objs(s, _sh("nodeKind"))
        shape.node_kind = nk[0] if nk else None
        closed = self._objs(s, _sh("closed"))
        shape.closed = bool(closed) and closed[0].startswith('"true"')
        for c in self._objs(s, _sh("sparql")):
            sel = self._objs(c, _sh("select"))
            if not sel:
                continue
            # _literal_parts already unescapes the stored literal
            text = self._sparql_prefix_header(c) + _literal_parts(sel[0])[0]
            msg = self._objs(c, _sh("message"))
            shape.sparql_constraints.append(
                (parse_sparql(text), _literal_parts(msg[0])[0] if msg else None)
            )
        for head in self._objs(s, _sh("ignoredProperties")):
            shape.ignored_props.extend(self._list_items(head))
        for ps in self._objs(s, _sh("property")):
            paths = self._objs(ps, _sh("path"))
            if not paths:
                continue
            deact_ps = self._objs(ps, _sh("deactivated"))
            is_deactivated = bool(deact_ps) and deact_ps[0].startswith(
                '"true"')
            pexpr = _normalize_path(self._compile_path(paths[0]))
            path = _path_display(pexpr)
            inverse = pexpr[0] == "ip"
            # steps: the simple-sequence view (back-compat for callers that
            # only understand predicate/inverse chains); None for paths using
            # alternatives or closures
            steps = None
            if pexpr[0] == "seq" and all(s[0] in ("p", "ip") for s in pexpr[1]):
                steps = [(s[1], s[0] == "ip") for s in pexpr[1]]
            prop = PropertyShape(path=path, inverse=inverse, steps=steps,
                                 pexpr=pexpr, deactivated=is_deactivated)
            prop.min_count = self._int(ps, "minCount")
            prop.max_count = self._int(ps, "maxCount")
            dt = self._objs(ps, _sh("datatype"))
            prop.datatype = dt[0] if dt else None
            pat = self._objs(ps, _sh("pattern"))
            if pat:
                prop.pattern = unescape_literal(pat[0][1:-1])
            nk = self._objs(ps, _sh("nodeKind"))
            prop.node_kind = nk[0] if nk else None
            node = self._objs(ps, _sh("node"))
            prop.node = node[0] if node else None
            prop.or_alternatives = self._or_alts(ps)
            cls = self._objs(ps, _sh("class"))
            prop.cls = cls[0] if cls else None
            in_heads = self._objs(ps, _sh("in"))
            prop.in_values = self._list_items(in_heads[0]) if in_heads else None
            hv = self._objs(ps, _sh("hasValue"))
            prop.has_value = hv[0] if hv else None
            prop.min_length = self._int(ps, "minLength")
            prop.max_length = self._int(ps, "maxLength")
            prop.not_shapes = self._objs(ps, _sh("not"))
            for head in self._objs(ps, _sh("and")):
                prop.and_shapes.extend(self._list_items(head))
            for head in self._objs(ps, _sh("xone")):
                prop.xone_shapes.extend(self._list_items(head))
            prop.severity = self._severity(ps)
            qvs = self._objs(ps, _sh("qualifiedValueShape"))
            prop.qualified_shape = qvs[0] if qvs else None
            prop.q_min = self._int(ps, "qualifiedMinCount")
            prop.q_max = self._int(ps, "qualifiedMaxCount")
            msg = self._objs(ps, _sh("message"))
            prop.message = unescape_literal(msg[0][1:-1]) if msg else None
            shape.properties.append(prop)
        return shape

    def _sparql_prefix_header(self, constraint_node: str) -> str:
        """sh:prefixes -> sh:declare [sh:prefix, sh:namespace] entries,
        rendered as PREFIX lines prepended to the sh:select text (SHACL-SPARQL
        §5.2.1). The select string may also carry its own PREFIX lines."""
        lines = []
        for onto in self._objs(constraint_node, _sh("prefixes")):
            for decl in self._objs(onto, _sh("declare")):
                pfx = self._objs(decl, _sh("prefix"))
                ns = self._objs(decl, _sh("namespace"))
                if pfx and ns:
                    lines.append(
                        f"PREFIX {_literal_parts(pfx[0])[0]}: "
                        f"<{_literal_parts(ns[0])[0]}>\n"
                    )
        return "".join(lines)

    def node_shape(self, shape_id: str) -> NodeShape:
        """A shape referenced by sh:node — may be an inline bnode shape that
        is not itself declared ``a sh:NodeShape``."""
        if shape_id not in self.shapes:
            self.shapes[shape_id] = self._compile_node_shape(shape_id)
        return self.shapes[shape_id]


def parse_shapes(ttl_text: str) -> ShapesGraph:
    return ShapesGraph(parse_turtle(ttl_text))


# -- path algebra -------------------------------------------------------------


def _invert_path(ast: tuple) -> tuple:
    k = ast[0]
    if k == "p":
        return ("ip", ast[1])
    if k == "ip":
        return ("p", ast[1])
    if k == "inv":
        return _normalize_path(ast[1])
    if k == "seq":
        return ("seq", [_invert_path(x) for x in reversed(ast[1])])
    if k == "alt":
        return ("alt", [_invert_path(x) for x in ast[1]])
    return (k, _invert_path(ast[1]))  # star/plus/opt commute with inverse


def _normalize_path(ast: tuple) -> tuple:
    """Push inverses down to predicate leaves: the evaluator then only needs
    forward ("p") and backward ("ip") edge steps."""
    k = ast[0]
    if k == "inv":
        return _invert_path(_normalize_path(ast[1]))
    if k in ("seq", "alt"):
        return (k, [_normalize_path(x) for x in ast[1]])
    if k in ("star", "plus", "opt"):
        return (k, _normalize_path(ast[1]))
    return ast


def _path_display(ast: tuple) -> str:
    k = ast[0]
    if k == "p":
        return ast[1]
    if k == "ip":
        return "^" + ast[1]
    if k == "seq":
        return "/".join(_path_display(x) for x in ast[1])
    if k == "alt":
        return "(" + "|".join(_path_display(x) for x in ast[1]) + ")"
    return _path_display(ast[1]) + {"star": "*", "plus": "+", "opt": "?"}[k]


def _path_step(g: "_GraphIndex", nodes: list[str], ast: tuple) -> list[str]:
    k = ast[0]
    if k == "p":
        return [o for v in nodes for o in g.po.get(v, {}).get(ast[1], [])]
    if k == "ip":
        out: list[str] = []
        for v in nodes:
            out.extend(s for s, o in g.by_pred.get(ast[1], []) if o == v)
        return out
    if k == "seq":
        cur = nodes
        for sub in ast[1]:
            cur = _path_step(g, cur, sub)
        return cur
    if k == "alt":
        out = []
        for sub in ast[1]:
            out.extend(_path_step(g, nodes, sub))
        return out
    if k == "opt":
        return list(nodes) + _path_step(g, nodes, ast[1])
    # star / plus: BFS closure over the sub-path (doc graphs are small)
    frontier = list(dict.fromkeys(nodes)) if k == "star" else _path_step(
        g, nodes, ast[1]
    )
    seen: dict[str, None] = dict.fromkeys(frontier)
    while frontier:
        frontier = [
            x for x in _path_step(g, frontier, ast[1]) if x not in seen
        ]
        for x in frontier:
            seen[x] = None
    return list(seen)


def _path_values(g: "_GraphIndex", node: str, ast: tuple) -> list[str]:
    """Value nodes of a (normalized) path from ``node`` — a set, first-seen
    order kept for deterministic reports."""
    return list(dict.fromkeys(_path_step(g, [node], ast)))


# -- evaluation ---------------------------------------------------------------


def _is_iri(term: str) -> bool:
    return term.startswith("<")


def _is_literal(term: str) -> bool:
    return term.startswith('"')


def _literal_parts(term: str) -> tuple[str, str]:
    """(lexical form unescaped, datatype IRI term). Plain literals are
    xsd:string per RDF 1.1; language-tagged -> rdf:langString."""
    m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:\^\^(<[^>]*>)|@([A-Za-z0-9\-]+))?$', term)
    if not m:
        return term, ""
    lex = unescape_literal(m.group(1))
    if m.group(2):
        return lex, m.group(2)
    if m.group(3):
        return lex, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>"
    return lex, XSD_STRING


class _GraphIndex:
    def __init__(self, triples):
        triples = list(triples)
        self.triples = triples  # raw view for sh:sparql evaluation
        self.po: dict[str, dict[str, list[str]]] = {}
        self.types: dict[str, list[str]] = {}
        self.by_pred: dict[str, list[tuple[str, str]]] = {}
        for s, p, o in triples:
            self.po.setdefault(s, {}).setdefault(p, []).append(o)
            self.by_pred.setdefault(p, []).append((s, o))
            if p == RDF_TYPE:
                self.types.setdefault(s, []).append(o)


def _check_alt(g: _GraphIndex, node: str, alt: dict) -> bool:
    if "class" in alt:
        return alt["class"] in g.types.get(node, [])
    if "datatype" in alt:
        return _is_literal(node) and _literal_parts(node)[1] == alt["datatype"]
    return False


def _conforms(sg: ShapesGraph, g: _GraphIndex, node: str, shape_id: str, depth: int) -> bool:
    """Nested conformance check for logical constraints (sh:not / sh:and /
    sh:node): severity is IGNORED — any result of any severity means the node
    does not conform to the referenced shape (SHACL §4.1 conformance)."""
    nested: list = []
    _validate_node(sg, g, node, sg.node_shape(shape_id), nested, depth + 1)
    return not nested


def _validate_node(
    sg: ShapesGraph, g: _GraphIndex, node: str, shape: NodeShape, out: list, depth: int = 0
) -> None:
    """Append (focus, path, component, message, severity) result rows."""
    if depth > 8:  # defensive bound against cyclic sh:node references
        return
    if shape.deactivated:  # sh:deactivated true: produces NO results,
        return             # whether targeted or referenced via sh:node
    sev = shape.severity
    if shape.or_alternatives:
        if not any(_check_alt(g, node, alt) for alt in shape.or_alternatives):
            out.append((node, "", "OrConstraint", f"node fails sh:or of {shape.shape_id}", sev))
    if shape.cls is not None and shape.cls not in g.types.get(node, []):
        out.append((node, "", "Class", f"node must be typed {shape.cls}", sev))
    if shape.datatype is not None and (
        not _is_literal(node) or _literal_parts(node)[1] != shape.datatype
    ):
        out.append((node, "", "Datatype", f"node datatype {shape.datatype}", sev))
    if shape.node_kind == _sh("IRI") and not _is_iri(node):
        out.append((node, "", "NodeKind", "node must be an IRI", sev))
    for ns in shape.not_shapes:
        if _conforms(sg, g, node, ns, depth):
            out.append((node, "", "Not", f"node must not conform to {ns}", sev))
    for member in shape.and_shapes:
        if not _conforms(sg, g, node, member, depth):
            out.append((node, "", "And", f"node fails sh:and member {member}", sev))
    if shape.xone_shapes:
        n_ok = sum(1 for m in shape.xone_shapes if _conforms(sg, g, node, m, depth))
        if n_ok != 1:
            out.append((node, "", "Xone",
                        f"node conforms to {n_ok} sh:xone members of {shape.shape_id}, not exactly 1",
                        sev))
    for pq, message in shape.sparql_constraints:
        # SHACL-SPARQL SELECT constraint: every solution with $this bound to
        # the focus node is one violation; ?path/?value enrich the result
        for row in sparql_eval_local(g.triples, pq, bindings={"this": node}):
            val = row.get("value")
            out.append((
                node,
                str(row.get("path") or ""),
                "SPARQLConstraint",
                message or ("sparql constraint" + (f" value {val}" if val else "")),
                sev,
            ))
    if shape.closed:
        # sh:closed: only predicates that are simple forward paths of this
        # shape's property shapes, plus sh:ignoredProperties, may appear on
        # the focus node (rdf:type must be ignored EXPLICITLY, per spec)
        allowed = {
            p.pexpr[1] for p in shape.properties
            if p.pexpr is not None and p.pexpr[0] == "p"
        } | set(shape.ignored_props)
        for pred in g.po.get(node, {}):
            if pred not in allowed:
                out.append((node, pred, "Closed",
                            f"predicate not allowed by closed shape {shape.shape_id}",
                            sev))
    for prop in shape.properties:
        if prop.deactivated:  # path still counted for sh:closed above
            continue
        psev = prop.severity
        pk = prop.pexpr[0] if prop.pexpr is not None else "p"
        if prop.pexpr is None or pk == "p":
            values = g.po.get(node, {}).get(prop.path, [])
        elif pk == "ip":
            # inverse path: values are the SUBJECTS pointing at this node
            values = [s for s, o in g.by_pred.get(prop.pexpr[1], []) if o == node]
        else:
            # full path algebra (sequences / alternatives / closures)
            values = _path_values(g, node, prop.pexpr)
        n = len(values)
        if prop.min_count is not None and n < prop.min_count:
            out.append((node, prop.path, "MinCount", prop.message or f"minCount {prop.min_count}", psev))
        if prop.max_count is not None and n > prop.max_count:
            out.append((node, prop.path, "MaxCount", prop.message or f"maxCount {prop.max_count}", psev))
        if prop.has_value is not None and prop.has_value not in values:
            out.append((node, prop.path, "HasValue", prop.message or f"hasValue {prop.has_value}", psev))
        for v in values:
            if prop.datatype is not None:
                if not _is_literal(v) or _literal_parts(v)[1] != prop.datatype:
                    out.append((node, prop.path, "Datatype", prop.message or f"datatype {prop.datatype}", psev))
            if prop.node_kind == _sh("IRI") and not _is_iri(v):
                out.append((node, prop.path, "NodeKind", prop.message or "must be an IRI", psev))
            if prop.cls is not None and prop.cls not in g.types.get(v, []):
                out.append((node, prop.path, "Class", prop.message or f"class {prop.cls}", psev))
            if prop.in_values is not None and v not in prop.in_values:
                out.append((node, prop.path, "In", prop.message or "not in sh:in set", psev))
            if prop.min_length is not None or prop.max_length is not None:
                lex = _literal_parts(v)[0] if _is_literal(v) else v.strip("<>")
                if prop.min_length is not None and len(lex) < prop.min_length:
                    out.append((node, prop.path, "MinLength", prop.message or f"minLength {prop.min_length}", psev))
                if prop.max_length is not None and len(lex) > prop.max_length:
                    out.append((node, prop.path, "MaxLength", prop.message or f"maxLength {prop.max_length}", psev))
            if prop.pattern is not None and _is_literal(v):
                lex = _literal_parts(v)[0]
                if re.search(prop.pattern, lex) is None:
                    out.append((node, prop.path, "Pattern", prop.message or "pattern", psev))
            if prop.or_alternatives and not any(
                _check_alt(g, v, alt) for alt in prop.or_alternatives
            ):
                out.append((node, prop.path, "OrConstraint", prop.message or "sh:or", psev))
            for ns in prop.not_shapes:
                if _conforms(sg, g, v, ns, depth):
                    out.append((node, prop.path, "Not", prop.message or f"value must not conform to {ns}", psev))
            for member in prop.and_shapes:
                if not _conforms(sg, g, v, member, depth):
                    out.append((node, prop.path, "And", prop.message or f"value fails sh:and member {member}", psev))
            if prop.xone_shapes:
                n_ok = sum(1 for m in prop.xone_shapes if _conforms(sg, g, v, m, depth))
                if n_ok != 1:
                    out.append((node, prop.path, "Xone",
                                prop.message or f"value conforms to {n_ok} sh:xone members, not exactly 1",
                                psev))
            if prop.node is not None:
                if not _conforms(sg, g, v, prop.node, depth):
                    out.append((node, prop.path, "Node", prop.message or f"value fails {prop.node}", psev))
        if prop.qualified_shape is not None:
            n_q = sum(
                1 for v in values if _conforms(sg, g, v, prop.qualified_shape, depth)
            )
            if prop.q_min is not None and n_q < prop.q_min:
                out.append((node, prop.path, "QualifiedMinCount",
                            prop.message or f"qualifiedMinCount {prop.q_min}", psev))
            if prop.q_max is not None and n_q > prop.q_max:
                out.append((node, prop.path, "QualifiedMaxCount",
                            prop.message or f"qualifiedMaxCount {prop.q_max}", psev))


def validate_graph(
    sg: ShapesGraph, triples: list[tuple[str, str, str]], *, precheck: bool = True
) -> tuple[bool, list[tuple[str, str, str, str, str]]]:
    """Validate one document graph. Returns (conforms, results); each result
    is (focus, path, component, message, severity) with severity one of
    Violation/Warning/Info. ``conforms`` is true iff the report is empty
    (SHACL §3.4.1 — severity does not affect conformance; callers that want
    pyshacl's allow-warnings behavior filter on severity). ``precheck``
    applies the reference's Place-or-Dataset gate before shape evaluation."""
    g = _GraphIndex(triples)
    if precheck:
        typed = {o for os_ in g.types.values() for o in os_}
        if SCHEMA_PLACE not in typed and SCHEMA_DATASET not in typed:
            return False, [("", "", "PreCheck", PRECHECK_MESSAGE, SEVERITY_VIOLATION)]
    out: list[tuple[str, str, str, str, str]] = []
    for shape in list(sg.shapes.values()):
        focus: list[str] = []
        for cls in shape.target_classes:
            focus.extend(s for s, ts in g.types.items() if cls in ts)
        for pred in shape.target_objects_of:
            focus.extend(o for _, o in g.by_pred.get(pred, []))
        for node in dict.fromkeys(focus):
            _validate_node(sg, g, node, shape, out)
    return (not out), out


VALIDATION_SCHEMA = T.StructType(
    [
        T.StructField("prov", T.StringType()),
        T.StructField("conforms", T.BooleanType()),
        T.StructField("n_violations", T.IntegerType()),
        T.StructField("n_warnings", T.IntegerType()),
        T.StructField("violations", T.ArrayType(T.StringType())),
    ]
)


def shacl_validate_quads(
    quads: DataFrame, shapes_ttl: str, *, precheck: bool = True, cap: int = 20
) -> DataFrame:
    """Distributed SHACL-lite over a quads table: one row per document graph
    (prov, the null-prov default graph included) with conformance + capped
    violation sample, evaluated in one per-graph Arrow pass
    (:func:`~nabu_spark.operators.graphpass.map_graphs`)."""
    sg = parse_shapes(shapes_ttl)

    def eval_graph_rows(prov, triples):
        conforms, results = validate_graph(sg, triples, precheck=precheck)
        n_viol = sum(1 for r in results if r[4] == SEVERITY_VIOLATION)
        msgs = sorted(f"{c}:{p}:{m}" for _, p, c, m, _sev in results)[:cap]
        return [{
            "prov": prov,
            "conforms": conforms,
            "n_violations": n_viol,
            "n_warnings": len(results) - n_viol,
            "violations": msgs,
        }]

    return map_graphs(quads, eval_graph_rows, VALIDATION_SCHEMA)


def geoconnex_shapes_ttl() -> str:
    """The reference's shipped shape file, read from the reference checkout
    when present (tests skip otherwise)."""
    path = "/root/reference/shacl_validator/shapes/geoconnex.ttl"
    with open(path) as fh:
        return fh.read()


# ---------------------------------------------------------------------------
# standard sh:ValidationReport rendering
# ---------------------------------------------------------------------------

REPORT_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("prov", T.StringType()),
    ]
)

_RDF_TYPE_IRI = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

# internal short component names -> standard SHACL constraint components
_COMPONENT_IRI = {
    "OrConstraint": "Or", "PreCheck": "Node",
    "QualifiedMinCount": "QualifiedMinCount",
    "QualifiedMaxCount": "QualifiedMaxCount",
}


def _component_iri(name: str) -> str:
    base = _COMPONENT_IRI.get(name, name)
    return _sh(f"{base}ConstraintComponent")


def _report_rows(prov, triples, sg, precheck: bool) -> list[dict]:
    """One graph's sh:ValidationReport as quad rows in that graph's prov.
    Node IRIs are content-derived (hash of prov / result tuple + index) so
    the report is deterministic across runs and cluster sizes."""
    import hashlib

    conforms, results = validate_graph(sg, triples, precheck=precheck)
    h = hashlib.sha256(("report\x1f" + (prov or "")).encode()).hexdigest()[:16]
    rep = f"<urn:shacl:report:{h}>"
    rows = [
        (rep, _RDF_TYPE_IRI, _sh("ValidationReport")),
        (rep, _sh("conforms"),
         f'"{"true" if conforms else "false"}"'
         '^^<http://www.w3.org/2001/XMLSchema#boolean>'),
    ]
    for i, (focus, path, component, message, severity) in enumerate(
            sorted(results)):
        rh = hashlib.sha256(
            "\x1f".join(["result", prov or "", str(i), focus, path,
                         component, message, severity]).encode()
        ).hexdigest()[:16]
        res = f"<urn:shacl:result:{rh}>"
        rows.append((rep, _sh("result"), res))
        rows.append((res, _RDF_TYPE_IRI, _sh("ValidationResult")))
        if focus:
            rows.append((res, _sh("focusNode"), focus))
        if path:
            # plain-IRI paths emit as IRIs; composite path display forms
            # (sequences/inverses) as literals — lossless either way
            p = path if path.startswith("<") else f'"{_escape_lit(path)}"'
            rows.append((res, _sh("resultPath"), p))
        rows.append((res, _sh("resultMessage"), f'"{_escape_lit(message)}"'))
        rows.append((res, _sh("resultSeverity"), _sh(severity)))
        rows.append((res, _sh("sourceConstraintComponent"),
                     _component_iri(component)))
    return [
        {"subj": s, "pred": p, "obj": o, "prov": prov} for s, p, o in rows
    ]


def _escape_lit(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))


def shacl_report_quads(
    quads: DataFrame, shapes_ttl: str, *, precheck: bool = True
) -> DataFrame:
    """Distributed standard-vocabulary validation reports: one
    sh:ValidationReport graph PER document graph, tagged with the same
    prov, ready to release beside the data or serialize with
    functions.turtle.serialize_turtle. Same per-graph pass as
    :func:`shacl_validate_quads`."""
    sg = parse_shapes(shapes_ttl)
    return map_graphs(
        quads, lambda prov, triples: _report_rows(prov, triples, sg, precheck),
        REPORT_SCHEMA)
