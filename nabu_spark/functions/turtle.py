"""Minimal Turtle parser for SHACL shape documents.

Covers the subset exercised by shapes files like the reference's
geoconnex.ttl (/root/reference/shacl_validator/shapes/geoconnex.ttl):
@prefix/@base, IRIs (absolute / relative / prefixed), the ``a`` keyword,
predicate (``;``) and object (``,``) lists, anonymous blank nodes ``[...]``,
RDF collections ``(...)``, string/integer/boolean literals with standard
escapes, and ``#`` comments. Shape graphs are tiny and parse driver-side;
this is NOT a general-purpose Turtle implementation.

Output triples use the same term serialization as the rest of the engine:
``<iri>``, ``_:bN``, ``"literal"`` / ``"lit"^^<dt>``.
"""

from __future__ import annotations

import re

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDF_FIRST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>"
RDF_REST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"
RDF_NIL = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"

_TOKEN_RE = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<longstring>"{3}(?:(?:"|"")?(?:[^"\\]|\\.))*"{3})
  | (?P<sqlongstring>'{3}(?:(?:'|'')?(?:[^'\\]|\\.))*'{3})
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<sqstring>'(?:[^'\\]|\\.)*')
  | (?P<dtsep>\^\^)
  | (?P<punct>\[|\]|\(|\)|\{|\}|;|,|\.(?=[\s#}]|$))
  | (?P<keyword>@prefix|@base|\ba\b(?=[\s\[<]))
  | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<number>[+-]?\d+(?:\.\d+)?)
  | (?P<pname>[A-Za-z_][\w.\-]*)?:(?P<local>(?:[\w\-:%#/]|\.(?=[\w.\-:%#/]))*)
  | (?P<bare>[A-Za-z_][\w.\-]*)
  | (?P<ws>\s+)
  | (?P<unknown>\S)
    """,
    re.VERBOSE,
)

_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt == "u" and i + 5 < len(s):
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 9 < len(s):
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


class TurtleError(ValueError):
    pass


class _Parser:
    def __init__(self, text: str):
        self.tokens = []
        for m in _TOKEN_RE.finditer(text):
            if m.lastgroup in ("comment", "ws"):
                continue
            if m.lastgroup == "unknown":
                # never silently drop input — a character outside the
                # supported grammar means the document needs a feature this
                # subset lacks, and mis-parsing shapes corrupts validation
                raise TurtleError(
                    f"unsupported Turtle syntax at offset {m.start()}: {m.group(0)!r}"
                )
            self.tokens.append(m)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[tuple[str, str, str]] = []
        self.bnode_n = 0

    def _peek(self):
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def _next(self):
        tok = self._peek()
        if tok is None:
            raise TurtleError("unexpected end of input")
        self.pos += 1
        return tok

    def _expect_punct(self, want: str):
        tok = self._next()
        if tok.group(0) != want:
            raise TurtleError(f"expected {want!r}, got {tok.group(0)!r}")

    def fresh_bnode(self) -> str:
        self.bnode_n += 1
        return f"_:sh{self.bnode_n}"

    def _resolve_iri(self, raw: str) -> str:
        inner = raw[1:-1]
        if "://" in inner or inner.startswith("urn:") or not self.base:
            return f"<{inner}>"
        from urllib.parse import urljoin

        return f"<{urljoin(self.base, inner)}>"

    def _term(self, tok) -> str:
        kind = tok.lastgroup
        text = tok.group(0)
        if kind == "iri":
            return self._resolve_iri(text)
        if kind in ("string", "sqstring", "longstring", "sqlongstring"):
            raw = text[3:-3] if kind.endswith("longstring") else text[1:-1]
            lex = _unescape(raw)
            term = '"' + lex.replace("\\", "\\\\").replace('"', '\\"') + '"'
            nxt = self._peek()
            if nxt is not None and nxt.lastgroup == "dtsep":
                self._next()
                dt = self._term(self._next())
                if not dt.startswith("<"):
                    raise TurtleError(f"datatype must be an IRI, got {dt!r}")
                return term + "^^" + dt
            if nxt is not None and nxt.lastgroup == "langtag":
                self._next()
                return term + nxt.group(0)
            return term
        if kind == "number":
            if "." in text:
                return f'"{text}"^^<http://www.w3.org/2001/XMLSchema#decimal>'
            return f'"{text}"^^<http://www.w3.org/2001/XMLSchema#integer>'
        if kind == "bare":
            if text in ("true", "false"):
                return f'"{text}"^^<http://www.w3.org/2001/XMLSchema#boolean>'
            raise TurtleError(f"unexpected bare token {text!r}")
        if kind in ("pname", "local") or ":" in text:
            prefix, _, local = text.partition(":")
            if prefix == "_":
                return f"_:{local}"
            if prefix not in self.prefixes:
                raise TurtleError(f"undefined prefix {prefix!r}")
            return f"<{self.prefixes[prefix]}{local}>"
        raise TurtleError(f"unexpected token {text!r}")

    def _node(self, tok) -> str:
        """Subject/object position: may open a blank node or collection."""
        text = tok.group(0)
        if text == "[":
            bnode = self.fresh_bnode()
            nxt = self._peek()
            if nxt is not None and nxt.group(0) == "]":
                self._next()
                return bnode
            self._predicate_object_list(bnode)
            self._expect_punct("]")
            return bnode
        if text == "(":
            items = []
            while True:
                nxt = self._peek()
                if nxt is None:
                    raise TurtleError("unterminated collection")
                if nxt.group(0) == ")":
                    self._next()
                    break
                items.append(self._node(self._next()))
            if not items:
                return RDF_NIL
            head = self.fresh_bnode()
            cur = head
            for i, item in enumerate(items):
                self.triples.append((cur, RDF_FIRST, item))
                if i + 1 < len(items):
                    nxt_b = self.fresh_bnode()
                    self.triples.append((cur, RDF_REST, nxt_b))
                    cur = nxt_b
                else:
                    self.triples.append((cur, RDF_REST, RDF_NIL))
            return head
        return self._term(tok)

    def _predicate_object_list(self, subject: str) -> None:
        # "}" terminates statements only inside TriG graph blocks; plain
        # Turtle never reaches one (the tokenizer would have had no source
        # for it outside a literal)
        while True:
            tok = self._peek()
            if tok is None or tok.group(0) in ("]", ".", "}"):
                return
            tok = self._next()
            if tok.group(0) == ";":
                continue  # stray ; (e.g. "];\n." sequences)
            pred = RDF_TYPE if tok.group(0) == "a" else self._term(tok)
            while True:
                obj = self._node(self._next())
                self.triples.append((subject, pred, obj))
                nxt = self._peek()
                if nxt is not None and nxt.group(0) == ",":
                    self._next()
                    continue
                break
            nxt = self._peek()
            if nxt is None or nxt.group(0) in ("]", ".", "}"):
                return
            self._expect_punct(";")

    def _directive(self, text: str) -> bool:
        """Consume an @prefix/@base directive; False if not one."""
        if text == "@prefix":
            self._next()
            name_tok = self._next()
            name = name_tok.group(0).rstrip(":").split(":")[0]
            iri_tok = self._next()
            if iri_tok.lastgroup != "iri":
                raise TurtleError("@prefix expects an IRI")
            self.prefixes[name] = iri_tok.group(0)[1:-1]
            self._expect_punct(".")
            return True
        if text == "@base":
            self._next()
            iri_tok = self._next()
            self.base = iri_tok.group(0)[1:-1]
            self._expect_punct(".")
            return True
        return False

    def parse(self) -> list[tuple[str, str, str]]:
        while True:
            tok = self._peek()
            if tok is None:
                return self.triples
            text = tok.group(0)
            if self._directive(text):
                continue
            if text == ".":
                self._next()
                continue
            subject = self._node(self._next())
            self._predicate_object_list(subject)
            self._expect_punct(".")


def parse_turtle(text: str) -> list[tuple[str, str, str]]:
    """Parse a Turtle document into ``(subj, pred, obj)`` term triples."""
    return _Parser(text).parse()


# ---------------------------------------------------------------------------
# serializer (deterministic, roundtrips through parse_turtle)
# ---------------------------------------------------------------------------

_SER_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}
_PN_LOCAL_RE = re.compile(r"[A-Za-z_][\w\-]*\Z")


def _escape_lex(s: str) -> str:
    return "".join(_SER_ESCAPES.get(ch, ch) for ch in s)


def _compact(term: str, prefixes: dict[str, str]) -> str:
    """IRI -> pname when a prefix matches and the local part is a safe
    PN_LOCAL (conservative subset — falls back to the full IRI form)."""
    if not (term.startswith("<") and term.endswith(">")):
        return term
    iri = term[1:-1]
    for pfx, ns in prefixes.items():
        if iri.startswith(ns):
            local = iri[len(ns):]
            if _PN_LOCAL_RE.match(local):
                return f"{pfx}:{local}"
    return term


_LIT_SER_RE = re.compile(
    r'\A"(.*)"(?:@([A-Za-z0-9-]+)|\^\^<([^<>]*)>)?\Z', re.S)


def _render_term(term: str, prefixes: dict[str, str]) -> str:
    if term.startswith('"'):
        from .ntriples import unescape_literal

        m = _LIT_SER_RE.match(term)
        if not m:
            return term  # already-serialized oddity: pass through
        lex, lang, dt = m.groups()
        # decode the engine's N-Triples escaping, then apply Turtle's —
        # the parser inverts exactly this, so roundtrips compare equal on
        # decoded lexical forms whatever convention the input used
        out = f'"{_escape_lex(unescape_literal(lex))}"'
        if lang:
            out += f"@{lang}"
        elif dt and dt != "http://www.w3.org/2001/XMLSchema#string":
            out += "^^" + _compact(f"<{dt}>", prefixes)
        return out
    if term == RDF_TYPE:
        return "a"
    return _compact(term, prefixes)


def serialize_turtle(
    triples, prefixes: dict[str, str] | None = None
) -> str:
    """Deterministic Turtle text for an iterable of (subj, pred, obj)
    N-Triples-term triples: ``serialize_trig`` with every statement in the
    default graph. Literal escapes and prefix compaction are the exact
    inverse of this module's parser; the parser's roundtrip tests draw
    their input from it."""
    from .trig import serialize_trig

    return serialize_trig(((s, p, o, None) for s, p, o in triples), prefixes)


def statement_lines(triples, prefixes: dict[str, str],
                    indent: int = 0) -> list[str]:
    """The sorted subject-block statements of ``serialize_turtle`` as a
    list of lines, indented ``indent`` spaces (for embedding in TriG
    graph blocks)."""
    pad = " " * indent
    by_subj: dict[str, dict[str, list[str]]] = {}
    for s, p, o in triples:
        by_subj.setdefault(s, {}).setdefault(p, []).append(o)
    lines = []
    for s in sorted(by_subj):
        preds = by_subj[s]
        # rdf:type first (Turtle convention), then sorted predicates
        order = sorted(preds, key=lambda p: (p != RDF_TYPE, p))
        pparts = []
        for p in order:
            objs = ", ".join(
                _render_term(o, prefixes) for o in sorted(set(preds[p]))
            )
            pparts.append(f"{_render_term(p, prefixes)} {objs}")
        subj = s if s.startswith("_:") else _compact(s, prefixes)
        sep = " ;\n" + pad + " " * 4
        lines.append(f"{pad}{subj} {sep.join(pparts)} .")
    return lines
