"""TriG parser + serializer over the Turtle subset in functions/turtle.py.

TriG (W3C Recommendation) is Turtle plus named-graph blocks:

    @prefix ex: <urn:ex:> .
    ex:s ex:p ex:o .                 # default graph
    { ex:s2 ex:p ex:o2 . }           # default graph, wrapped form
    ex:g1 { ex:s3 ex:p ex:o3 . }     # named graph, bare label
    GRAPH ex:g2 { ex:s4 ex:p ex:o4 . }

The reference releases per-graph N-Quads artifacts and has no TriG path
(/root/reference/internal/synchronizer — studied, not copied); this
gives the graph store a standard human-readable dataset serialization
for its small artifacts (shape graphs, VoID descriptions, validation
reports, inference graphs). Quads use the engine's term convention:
``<iri>`` / ``_:label`` / ``"lit"…`` with graph ``None`` for the default
graph. Driver-side by design — bulk data stays in N-Quads/parquet.
"""

from __future__ import annotations

from .turtle import TurtleError, _Parser, statement_lines


class _TrigParser(_Parser):
    def parse_quads(self) -> list[tuple[str, str, str, str | None]]:
        quads: list[tuple[str, str, str, str | None]] = []

        def flush(start: int, graph: str | None) -> None:
            quads.extend((s, p, o, graph) for s, p, o in self.triples[start:])
            del self.triples[start:]

        while True:
            tok = self._peek()
            if tok is None:
                return quads
            text = tok.group(0)
            if self._directive(text):
                continue
            if text == ".":
                self._next()
                continue
            if text == "{":  # anonymous block -> default graph
                self._next()
                start = len(self.triples)
                self._graph_block_body()
                flush(start, None)
                continue
            if text == "GRAPH":
                self._next()
                label = self._graph_label()
                self._expect_punct("{")
                start = len(self.triples)
                self._graph_block_body()
                flush(start, label)
                continue
            # either `label { ... }` or a plain default-graph statement:
            # parse the node, then disambiguate on the next token
            start = len(self.triples)
            node = self._node(self._next())
            nxt = self._peek()
            if nxt is not None and nxt.group(0) == "{":
                if node.startswith('"') or len(self.triples) != start:
                    raise TurtleError(
                        "graph label must be an IRI or simple blank node")
                self._next()
                self._graph_block_body()
                flush(start, node)
                continue
            self._predicate_object_list(node)
            self._expect_punct(".")
            flush(start, None)

    def _graph_label(self) -> str:
        before = len(self.triples)
        label = self._node(self._next())
        if label.startswith('"') or len(self.triples) != before:
            raise TurtleError(
                "graph label must be an IRI or simple blank node")
        return label

    def _graph_block_body(self) -> None:
        """Statements up to the closing '}' (consumed). The final '.' of
        the last statement is optional per the TriG grammar."""
        while True:
            tok = self._peek()
            if tok is None:
                raise TurtleError("unterminated graph block")
            text = tok.group(0)
            if text == "}":
                self._next()
                return
            if text == ".":
                self._next()
                continue
            subject = self._node(self._next())
            self._predicate_object_list(subject)
            nxt = self._peek()
            if nxt is not None and nxt.group(0) == ".":
                self._next()


def parse_trig(text: str) -> list[tuple[str, str, str, str | None]]:
    """Parse a TriG document into ``(subj, pred, obj, graph)`` quads;
    default-graph statements carry ``graph=None``."""
    return _TrigParser(text).parse_quads()


def serialize_trig(
    quads, prefixes: dict[str, str] | None = None
) -> str:
    """Deterministic TriG text for an iterable of (subj, pred, obj,
    graph-or-None) quads: prefix table, default-graph statements first,
    then one ``GRAPH <g> { ... }`` block per named graph in sorted order.
    Statement layout matches ``serialize_turtle`` exactly, so per-graph
    bodies roundtrip through the same machinery (pinned by tests)."""
    from .turtle import _compact

    prefixes = dict(prefixes or {})
    default: list[tuple[str, str, str]] = []
    named: dict[str, list[tuple[str, str, str]]] = {}
    for s, p, o, g in quads:
        if g is None:
            default.append((s, p, o))
        else:
            named.setdefault(g, []).append((s, p, o))
    lines = [
        f"@prefix {pfx}: <{ns}> ." for pfx, ns in sorted(prefixes.items())
    ]
    if lines:
        lines.append("")
    lines.extend(statement_lines(default, prefixes))
    for g in sorted(named):
        if lines and lines[-1] != "":
            lines.append("")
        label = g if g.startswith("_:") else _compact(g, prefixes)
        lines.append(f"GRAPH {label} {{")
        lines.extend(statement_lines(named[g], prefixes, indent=4))
        lines.append("}")
    return "\n".join(lines) + "\n"
