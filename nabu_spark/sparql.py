"""SPARQL SELECT subset over quad tables, compiled to Catalyst plans.

The reference ships its graph to an external triplestore and queries it with
SPARQL there (studied: /root/reference/internal/synchronizer — the release
path's downstream consumer is a SPARQL endpoint); this repo keeps the query
surface native: a from-scratch SPARQL parser whose algebra runs directly on
the (subj, pred, obj, prov) quad DataFrames the pipeline materializes.

Supported grammar (SPARQL 1.1 SELECT subset):

    PREFIX pfx: <iri>
    SELECT [DISTINCT] (?v ... | * | (AGG(expr) AS ?alias) ...)
    CONSTRUCT { template triples }   (emits the distinct instantiated graph)
    ASK [WHERE] { ... }              (one boolean row)
    FROM <g> / FROM NAMED <g>        (dataset clause, §13.2: any FROM
        replaces the store's dataset — bare patterns then range over the
        merge of the FROM graphs only, GRAPH over the FROM NAMED set only;
        without one, bare patterns range over ALL quads — the
        union-default-graph convention — and GRAPH over every named graph)
    WHERE { triple patterns with ';'/',' lists, FILTER(expr),
            OPTIONAL { ... }, { ... } UNION { ... },
            GRAPH ?g|<iri> { ... }, BIND(expr AS ?v),
            FILTER [NOT] EXISTS { ... } and MINUS { ... } (compiled to
            left-semi / left-anti joins on the shared variables; as with
            UNION, a shared variable left UNBOUND by an OPTIONAL joins as
            null — spec treats it as free — so keep EXISTS/MINUS shared
            variables bound),
            VALUES ?v { ... } / VALUES (?v ?w) { (...) ... } inline data
            (UNDEF wildcards fully honored in the local evaluator; in the
            Spark backend an UNDEF cell on a join-shared variable
            drops the row — keep UNDEF off shared variables),
            property paths in predicate position: ^p, p1/p2, p1|p2,
            p+, p*, p? and (...) grouping — SET semantics; closures
            compile to a pointer-doubling join fixpoint; inside
            GRAPH ?g every path join is keyed on the graph column, so
            each named graph's closure is independent and ?g binds }
    [GROUP BY ?v ...] [ORDER BY [ASC|DESC](?v) ...] [LIMIT n] [OFFSET n]

    Subqueries: { SELECT ... WHERE { ... } ... } nested in a group —
    evaluated bottom-up (never sees outer bindings, SPARQL §12) and joined
    on its projected shared variables; a native-numeric aggregate alias
    joining an outer term column compares on the term's numeric value.
    SELECT * is not allowed inside a subquery (projection must be explicit).

FILTER / BIND expressions: && || ! = != < <= > >= + - * /, ?x [NOT] IN (...)
(desugared to chained =, §17.4.1.9), regex(), str(), lang(), datatype(),
bound(), isIRI(), isLiteral(), isBlank(), isNumeric(), strlen(), contains(),
strstarts(), strends(), strbefore(), strafter(), substr(), replace() (Java
$n group refs; pattern/replacement constant), concat(), ucase(), lcase(),
coalesce(), if() (both term-valued: must be compared, not used as a bare
FILTER), abs(), round() (HALF_UP away from zero, matching Spark — diverges
from XPath on negative halves), ceil(), floor(), sameTerm(),
langMatches() (exact or prefix-dash match, '*' = any nonempty), md5(),
sha1(), sha256() (lowercase hex of the UTF-8 lexical form), iri()/uri(),
strlang(), strdt().
Aggregates: COUNT(*/?v/DISTINCT ?v), SUM, AVG, MIN, MAX over numeric terms;
GROUP_CONCAT(?v ; SEPARATOR="s") and SAMPLE(?v) with deterministic pinning
(sorted concatenation order / MIN sample — the spec leaves both
implementation-defined, and a pinned choice is what makes results
cluster-size independent and twin-evaluator comparable).

One parse, two evaluators:

- ``sparql_query(df, text)`` — Spark backend: the query compiles to ONE
  Spark SQL statement with the query's values bound as parameters. Each
  triple pattern is a filtered projection of the quad table (constant
  positions become column predicates that push down to the parquet scan);
  each shared variable becomes an equi-join that Catalyst/AQE is free to
  reorder, broadcast, or skew-split. OPTIONAL compiles to a left join,
  UNION to UNION ALL, aggregates to a hash aggregate. At 100 TB this is the
  right shape: the plan is N filtered scans of one columnar table joined on
  term strings — no driver-side iteration, no per-row Python.
- ``sparql_eval_local(triples, text)`` — in-memory evaluator over one small
  graph (a per-document subgraph). Used by the SHACL engine for sh:sparql
  constraints (per-focus-node, inside mapInArrow), by the test suite as
  an independent cross-check of the SQL compiler, and, hash-indexed, by
  ``GraphStore.query`` to answer a store within its driver cap with no
  Spark job. It evaluates OPTIONAL and MINUS bottom-up as hash joins on
  the shared variables, as the SQL compiler's LEFT (ANTI) JOIN USING does.
  Each query is compiled once (its expressions become closures kept with
  the parsed query) and each pattern is planned once per input row; a
  property path with a bound end is stepped from that end.

Terms are N-Triples strings ('<iri>', '"lit"', '"lit"@en', '"1"^^<dt>',
'_:b0') exactly as produced by operators/triples.py. Comparison semantics
(documented subset of SPARQL operator mapping): a comparison runs in numeric
mode when either operand is statically numeric (numeric constant, arithmetic,
strlen, aggregate), in string mode when either operand is a string-returning
function (str/lang/datatype/ucase/lcase), and otherwise compares full term
strings. Lexical forms are compared raw (no escape processing) — identical
in both evaluators. IRI constants in expressions compare by full term.
"""

from __future__ import annotations

import hashlib
import math
import operator
import random
import re
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field
from functools import partial
from itertools import repeat
from operator import itemgetter, methodcaller
from urllib.parse import quote

from pyspark.sql import Column, DataFrame, functions as F

from .operators.reasoner import transitive_closure

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

# numeric datatypes recognized by isNumeric() (XSD numeric tower)
_XSD_NUMERIC = {
    "http://www.w3.org/2001/XMLSchema#" + n
    for n in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger",
        "nonPositiveInteger", "negativeInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
}


class SparqlError(ValueError):
    pass


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRI><[A-Za-z][\w+.-]*:[^<>"{}|^`\s]*>)
    | (?P<STRING>"(?:[^"\\]|\\.)*"(?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*|\^\^<[^<>\s]+>)?)
    | (?P<VAR>[?$][A-Za-z_]\w*)
    | (?P<NUM>-?\d+(?:\.\d+)?)
    | (?P<PNAME>[A-Za-z_][\w-]*:[\w.-]*)
    | (?P<NAME>[A-Za-z_]\w*)
    | (?P<OP>&&|\|\||!=|<=|>=|[{}().;,*/+\-=<>!|^?])
    """,
    re.X,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlError(f"cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "WS":
            toks.append((kind, m.group()))
    return toks


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------
# term atoms: ('var', name) | ('term', nt_string)
# group items: ('triple', s, p, o) | ('filter', expr) | ('optional', Group)
#            | ('union', [Group, ...]) | ('graph', atom, Group)
#            | ('bind', expr, varname)
# exprs: ('var', v) | ('const', nt) | ('num', value) | ('and'|'or', a, b)
#      | ('not', a) | ('cmp', op, a, b) | ('arith', op, a, b)
#      | ('call', name, [args])


@dataclass
class Group:
    items: list = field(default_factory=list)


@dataclass
class Agg:
    func: str          # count/sum/avg/min/max/group_concat/sample
    arg: object        # expr or None for COUNT(*)
    distinct: bool
    alias: str
    sep: str = " "     # GROUP_CONCAT separator


@dataclass
class Query:
    select: list        # of ('var', name) | Agg;  [] means SELECT *
    distinct: bool
    where: Group
    group_by: list[str]
    order_by: list[tuple[str, bool]]   # (var, ascending)
    limit: int | None
    offset: int
    construct: list | None = None      # template triples for CONSTRUCT
    ask: bool = False                  # ASK query: result is one boolean
    describe: list | None = None       # atoms to describe (vars/terms)
    having: object | None = None       # filter over grouped output
    from_graphs: list | None = None    # FROM <g>* (dataset default graph)
    from_named: list | None = None     # FROM NAMED <g>*
    calls: frozenset = frozenset()     # functions the text calls anywhere
    # the local evaluator's compiled expressions (sparql._Plan)
    plan: object = field(default_factory=lambda: _Plan(), repr=False,
                         compare=False)


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.calls: set[str] = set()

    # -- token plumbing -----------------------------------------------------
    def _peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("EOF", "")

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, val: str):
        kind, v = self._next()
        if v != val and not (kind == "NAME" and v.upper() == val.upper()):
            raise SparqlError(f"expected {val!r}, got {v!r}")
        return v

    def _kw(self, word: str) -> bool:
        kind, v = self._peek()
        if kind == "NAME" and v.upper() == word:
            self.i += 1
            return True
        return False

    # -- terms --------------------------------------------------------------
    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlError(f"unknown prefix {pfx!r}")
        return f"<{self.prefixes[pfx]}{local}>"

    def _term_atom(self):
        kind, v = self._next()
        if kind == "VAR":
            return ("var", v[1:])
        if kind == "IRI":
            return ("term", v)
        if kind == "STRING":
            return ("term", v)
        if kind == "NUM":
            dt = "double" if "." in v else "integer"
            return ("term", f'"{v}"^^<http://www.w3.org/2001/XMLSchema#{dt}>')
        if kind == "PNAME":
            return ("term", self._expand_pname(v))
        if kind == "NAME" and v == "a":
            return ("term", RDF_TYPE)
        raise SparqlError(f"expected term, got {v!r}")

    # -- query --------------------------------------------------------------
    def _dataset_clause(self):
        """Zero or more FROM [NAMED] <iri> clauses (SPARQL §13.2). Returns
        (from_graphs, from_named) — each None when its form never appeared
        (None ≠ [], which means 'clause present, zero graphs' can't arise,
        but downstream treats any non-None pair member as 'dataset given')."""
        from_graphs = from_named = None
        while self._kw("FROM"):
            named = self._kw("NAMED")
            kind, v = self._next()
            if kind == "IRI":
                iri = v
            elif kind == "PNAME":
                iri = self._expand_pname(v)
            else:
                raise SparqlError(f"FROM needs an IRI, got {v!r}")
            if named:
                from_named = (from_named or []) + [iri]
            else:
                from_graphs = (from_graphs or []) + [iri]
        return from_graphs, from_named

    def parse(self) -> Query:
        while self._kw("PREFIX"):
            kind, pname = self._next()
            if kind != "PNAME" or not pname.endswith(":"):
                raise SparqlError(f"bad PREFIX name {pname!r}")
            kind, iri = self._next()
            if kind != "IRI":
                raise SparqlError(f"bad PREFIX iri {iri!r}")
            self.prefixes[pname[:-1]] = iri[1:-1]
        construct = None
        ask = False
        distinct = False
        select: list = []
        if self._kw("ASK"):
            fg, fn = self._dataset_clause()
            self._kw("WHERE")
            where = self._group()
            if self._peek()[0] != "EOF":
                raise SparqlError("ASK takes no solution modifiers")
            return Query([], False, where, [], [], None, 0, None, True,
                         from_graphs=fg, from_named=fn)
        if self._kw("DESCRIBE"):
            describe = []
            while self._peek()[0] in ("VAR", "IRI", "PNAME"):
                describe.append(self._term_atom())
            if not describe:
                raise SparqlError("DESCRIBE needs at least one var/IRI")
            fg, fn = self._dataset_clause()
            where = Group()
            if self._kw("WHERE"):
                where = self._group()
            elif any(a[0] == "var" for a in describe):
                raise SparqlError("DESCRIBE ?var needs a WHERE group")
            if self._peek()[0] != "EOF":
                raise SparqlError("DESCRIBE takes no solution modifiers")
            return Query([], False, where, [], [], None, 0, None, False,
                         describe, from_graphs=fg, from_named=fn)
        if self._kw("CONSTRUCT"):
            if self._peek()[1] != "{":
                # CONSTRUCT WHERE { bgp } shorthand (§10.2.3): the pattern
                # doubles as the template — dataset clause may precede WHERE
                fg, fn = self._dataset_clause()
                if not self._kw("WHERE"):
                    raise SparqlError("CONSTRUCT needs a template or WHERE")
                tmpl = self._group()
                construct = [it for it in tmpl.items if it[0] == "triple"]
                if len(construct) != len(tmpl.items) or any(
                        it[2][0] == "path" for it in construct):
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows only plain "
                        "triple patterns")
                (group_by, having, order_by, limit, offset,
                 group_binds) = self._solution_modifiers()
                for e, var in group_binds:
                    tmpl.items.append(("bind", e, var))
                q = Query([], False, tmpl, group_by, order_by, limit,
                          offset, construct, False, None, having)
                q.from_graphs, q.from_named = fg, fn
                if self._peek()[0] != "EOF":
                    raise SparqlError(
                        f"trailing tokens at {self._peek()[1]!r}")
                return q
            tmpl = self._group()
            construct = [it for it in tmpl.items if it[0] == "triple"]
            if len(construct) != len(tmpl.items):
                raise SparqlError("CONSTRUCT template must contain only triples")
        elif self._kw("SELECT"):
            distinct = self._kw("DISTINCT")
            select = self._select_list()
        else:
            raise SparqlError("only SELECT, CONSTRUCT and ASK are supported")
        fg, fn = self._dataset_clause()
        q = self._body(select, distinct, construct)
        q.from_graphs, q.from_named = fg, fn
        if self._peek()[0] != "EOF":
            raise SparqlError(f"trailing tokens at {self._peek()[1]!r}")
        return q

    def _select_list(self) -> list:
        select: list = []
        while True:
            kind, v = self._peek()
            if kind == "VAR":
                self.i += 1
                select.append(("var", v[1:]))
            elif v == "*":
                self.i += 1
                select = []
            elif v == "(":
                self.i += 1
                nkind, nv = self._peek()
                if nkind == "NAME" and nv.upper() in (
                        "COUNT", "SUM", "AVG", "MIN", "MAX",
                        "GROUP_CONCAT", "SAMPLE"):
                    select.append(self._agg_spec())
                else:
                    # SELECT expression (expr AS ?v): desugared in _body
                    # to a trailing BIND + plain var projection
                    e = self._expr()
                    if not self._kw("AS"):
                        raise SparqlError("SELECT expression needs AS ?var")
                    vkind, vv = self._next()
                    if vkind != "VAR":
                        raise SparqlError("AS must bind a variable")
                    select.append(("exprsel", e, vv[1:]))
                self._expect(")")
            else:
                break
        return select

    def _body(self, select, distinct, construct) -> Query:
        """WHERE group + solution modifiers — shared by the top-level
        SELECT/CONSTRUCT parse and nested subqueries (which stop cleanly at
        the enclosing '}')."""
        if not self._kw("WHERE"):
            raise SparqlError("expected WHERE")
        where = self._group()
        (group_by, having, order_by, limit, offset,
         group_binds) = self._solution_modifiers()
        for e, var in group_binds:
            where.items.append(("bind", e, var))
        exprsels = [it for it in select
                    if isinstance(it, tuple) and it[0] == "exprsel"]
        if exprsels:
            # implicit grouping (any aggregate in the projection) discards
            # per-row binds just like explicit GROUP BY — reject both
            if group_by or any(isinstance(it, Agg) for it in select):
                raise SparqlError(
                    "SELECT expressions over grouped/aggregated queries "
                    "are not supported — BIND the expression or "
                    "aggregate it")
            for _, e, var in exprsels:
                where.items.append(("bind", e, var))
            select = [("var", it[2])
                      if isinstance(it, tuple) and it[0] == "exprsel" else it
                      for it in select]
        return Query(select, distinct, where, group_by, order_by, limit, offset,
                     construct, False, None, having)

    def _solution_modifiers(self):
        group_by: list[str] = []
        group_binds: list[tuple] = []  # (expr, var) from GROUP BY (e AS ?v)
        having = None
        if self._kw("GROUP"):
            self._expect("BY")
            while True:
                if self._peek()[0] == "VAR":
                    group_by.append(self._next()[1][1:])
                elif self._peek()[1] == "(":
                    # GROUP BY (expr AS ?v): desugars to a pre-grouping
                    # BIND, same as SELECT expressions
                    self.i += 1
                    e = self._expr()
                    if not self._kw("AS"):
                        raise SparqlError(
                            "GROUP BY expression needs AS ?var")
                    vkind, vv = self._next()
                    if vkind != "VAR":
                        raise SparqlError("AS must bind a variable")
                    self._expect(")")
                    group_binds.append((e, vv[1:]))
                    group_by.append(vv[1:])
                else:
                    break
            if self._kw("HAVING"):
                self._expect("(")
                having = self._expr()
                self._expect(")")
        order_by: list[tuple[str, bool]] = []
        if self._kw("ORDER"):
            self._expect("BY")
            while True:
                kind, v = self._peek()
                if kind == "NAME" and v.upper() in ("ASC", "DESC"):
                    self.i += 1
                    asc = v.upper() == "ASC"
                    self._expect("(")
                    var = self._next()[1][1:]
                    self._expect(")")
                    order_by.append((var, asc))
                elif kind == "VAR":
                    self.i += 1
                    order_by.append((v[1:], True))
                else:
                    break
        limit = None
        offset = 0
        # LIMIT/OFFSET accepted in either order (SPARQL allows both)
        for _ in range(2):
            if self._kw("LIMIT"):
                limit = int(self._next()[1])
            elif self._kw("OFFSET"):
                offset = int(self._next()[1])
        return group_by, having, order_by, limit, offset, group_binds

    def _agg_spec(self) -> Agg:
        kind, fn = self._next()
        fn = fn.upper()
        if fn not in ("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT",
                      "SAMPLE"):
            raise SparqlError(f"unsupported aggregate {fn!r}")
        self._expect("(")
        distinct = self._kw("DISTINCT")
        if self._peek()[1] == "*":
            self.i += 1
            arg = None
            if distinct:
                raise SparqlError("COUNT(DISTINCT *) is not supported")
        else:
            arg = self._expr()
        sep = " "
        if fn == "GROUP_CONCAT" and self._peek()[1] == ";":
            self.i += 1
            kind, v = self._next()
            if kind != "NAME" or v.upper() != "SEPARATOR":
                raise SparqlError("expected SEPARATOR in GROUP_CONCAT")
            self._expect("=")
            kind, v = self._next()
            if kind != "STRING" or not v.endswith('"'):
                raise SparqlError("SEPARATOR needs a plain string literal")
            sep = term_lex(v)
        self._expect(")")
        self._expect("AS")
        kind, v = self._next()
        if kind != "VAR":
            raise SparqlError("aggregate needs AS ?alias")
        return Agg(fn.lower(), arg, distinct, v[1:], sep)

    # -- group patterns -----------------------------------------------------
    def _group(self) -> Group:
        self._expect("{")
        g = Group()
        while True:
            kind, v = self._peek()
            if v == "}":
                self.i += 1
                return g
            if kind == "NAME" and v.upper() == "FILTER":
                self.i += 1
                nk, nv = self._peek()
                if nk == "NAME" and nv.upper() == "EXISTS":
                    self.i += 1
                    g.items.append(("exists", self._group(), True))
                elif nk == "NAME" and nv.upper() == "NOT":
                    self.i += 1
                    self._expect("EXISTS")
                    g.items.append(("exists", self._group(), False))
                else:
                    self._expect("(")
                    g.items.append(("filter", self._expr()))
                    self._expect(")")
            elif kind == "NAME" and v.upper() == "OPTIONAL":
                self.i += 1
                g.items.append(("optional", self._group()))
            elif kind == "NAME" and v.upper() == "MINUS":
                self.i += 1
                g.items.append(("minus", self._group()))
            elif kind == "NAME" and v.upper() == "VALUES":
                self.i += 1
                g.items.append(self._values_block())
            elif kind == "NAME" and v.upper() == "BIND":
                self.i += 1
                self._expect("(")
                e = self._expr()
                self._expect("AS")
                var = self._next()[1][1:]
                self._expect(")")
                g.items.append(("bind", e, var))
            elif kind == "NAME" and v.upper() == "GRAPH":
                self.i += 1
                atom = self._term_atom()
                g.items.append(("graph", atom, self._group()))
            elif v == "{":
                nk, nv = self._peek(1)
                if nk == "NAME" and nv.upper() == "SELECT":
                    # subquery: evaluated bottom-up (independently of outer
                    # bindings, SPARQL §12), then joined on shared variables
                    self.i += 1
                    self._expect("SELECT")
                    distinct = self._kw("DISTINCT")
                    sel = self._select_list()
                    if not sel:
                        raise SparqlError("subquery needs an explicit "
                                          "projection (no SELECT *)")
                    sub = self._body(sel, distinct, None)
                    self._expect("}")
                    g.items.append(("subquery", sub))
                else:
                    # nested group, possibly a UNION chain; a single-branch
                    # "union" is just the nested group evaluated with its own
                    # filter scope, so one representation covers both
                    branches = [self._group()]
                    while self._kw("UNION"):
                        branches.append(self._group())
                    g.items.append(("union", branches))
            else:
                self._triples_block(g)
            # optional '.' separators
            while self._peek()[1] == ".":
                self.i += 1

    def _values_block(self):
        """VALUES ?v { t ... }  |  VALUES (?v ?w) { (t t) (UNDEF t) ... }"""
        kind, v = self._peek()
        if kind == "VAR":
            self.i += 1
            vars_ = [v[1:]]
            self._expect("{")
            rows = []
            while self._peek()[1] != "}":
                rows.append((self._values_term(),))
            self.i += 1
        elif v == "(":
            self.i += 1
            vars_ = []
            while self._peek()[0] == "VAR":
                vars_.append(self._next()[1][1:])
            self._expect(")")
            self._expect("{")
            rows = []
            while self._peek()[1] == "(":
                self.i += 1
                row = tuple(self._values_term() for _ in vars_)
                self._expect(")")
                rows.append(row)
            self._expect("}")
        else:
            raise SparqlError("bad VALUES block")
        return ("values", vars_, rows)

    def _values_term(self):
        kind, v = self._peek()
        if kind == "NAME" and v.upper() == "UNDEF":
            self.i += 1
            return None
        atom = self._term_atom()
        if atom[0] != "term":
            raise SparqlError("VALUES entries must be constants or UNDEF")
        return atom[1]

    # -- property paths ------------------------------------------------------
    # ast: ('p', '<iri>') | ('inv', ast) | ('seq', [ast...]) | ('alt', [ast...])
    #    | ('plus', ast) | ('star', ast) | ('opt', ast)

    def _path(self):
        alts = [self._path_seq()]
        while self._peek()[1] == "|":
            self.i += 1
            alts.append(self._path_seq())
        return alts[0] if len(alts) == 1 else ("alt", alts)

    def _path_seq(self):
        elts = [self._path_elt()]
        while self._peek()[1] == "/":
            self.i += 1
            elts.append(self._path_elt())
        return elts[0] if len(elts) == 1 else ("seq", elts)

    def _path_elt(self):
        p = self._path_primary()
        mod = self._peek()[1]
        if mod in ("+", "*", "?"):
            self.i += 1
            p = ({"+": "plus", "*": "star", "?": "opt"}[mod], p)
        return p

    def _path_primary(self):
        kind, v = self._peek()
        if v == "^":
            self.i += 1
            return ("inv", self._path_primary())
        if v == "!":
            self.i += 1
            return self._path_nps()
        if v == "(":
            self.i += 1
            p = self._path()
            self._expect(")")
            return p
        atom = self._term_atom()
        if atom[0] != "term" or not atom[1].startswith("<"):
            raise SparqlError(f"path element must be an IRI, got {atom!r}")
        return ("p", atom[1])

    def _path_nps(self):
        """Negated property set after '!': per the spec's translation,
        `!(F... | ^I...)` becomes alt(NPS(F), inv(NPS(I))) — so only ONE
        primitive ('nps', excluded-iris) = forward triples whose predicate
        is not in the set; `!()` matches every forward triple."""
        fwd: list[str] = []
        inv: list[str] = []

        def one():
            target = fwd
            if self._peek()[1] == "^":
                self.i += 1
                target = inv
            atom = self._term_atom()
            if atom[0] != "term" or not atom[1].startswith("<"):
                raise SparqlError(
                    f"negated property set needs IRIs, got {atom!r}")
            target.append(atom[1])

        if self._peek()[1] == "(":
            self.i += 1
            if self._peek()[1] != ")":
                one()
                while self._peek()[1] == "|":
                    self.i += 1
                    one()
            self._expect(")")
        else:
            one()
        fwd_ast = ("nps", tuple(sorted(set(fwd))))
        inv_ast = ("inv", ("nps", tuple(sorted(set(inv)))))
        if inv and not fwd:
            return inv_ast
        if inv:
            return ("alt", [fwd_ast, inv_ast])
        return fwd_ast

    def _pred_slot(self):
        """Predicate position: a plain variable, or a property path. A
        trivial one-IRI path collapses to an ordinary term atom."""
        if self._peek()[0] == "VAR":
            return self._term_atom()
        p = self._path()
        return ("term", p[1]) if p[0] == "p" else ("path", p)

    def _triples_block(self, g: Group) -> None:
        s = self._term_atom()
        while True:
            p = self._pred_slot()
            while True:
                o = self._term_atom()
                g.items.append(("triple", s, p, o))
                if self._peek()[1] == ",":
                    self.i += 1
                    continue
                break
            if self._peek()[1] != ";":
                break
            # consume ';' separators (empty items and a trailing ';' are
            # legal Turtle/SPARQL); stop at the statement terminator
            while self._peek()[1] == ";":
                self.i += 1
            if self._peek()[1] in (".", "}") or self._peek()[0] == "EOF":
                break

    # -- expressions --------------------------------------------------------
    def _expr(self):
        return self._or()

    def _or(self):
        e = self._and()
        while self._peek()[1] == "||":
            self.i += 1
            e = ("or", e, self._and())
        return e

    def _and(self):
        e = self._cmp()
        while self._peek()[1] == "&&":
            self.i += 1
            e = ("and", e, self._cmp())
        return e

    def _cmp(self):
        e = self._add()
        kind, v = self._peek()
        if v in ("=", "!=", "<", "<=", ">", ">="):
            op = self._next()[1]
            return ("cmp", op, e, self._add())
        if kind == "NAME" and v.upper() in ("IN", "NOT"):
            neg = v.upper() == "NOT"
            if neg:
                nk, nv = self._peek(1)
                if nk != "NAME" or nv.upper() != "IN":
                    return e
                self.i += 2
            else:
                self.i += 1
            self._expect("(")
            elems = []
            if self._peek()[1] != ")":
                elems.append(self._expr())
                while self._peek()[1] == ",":
                    self.i += 1
                    elems.append(self._expr())
            self._expect(")")
            # spec-exact desugaring: e IN (a, b) ≡ e = a || e = b (§17.4.1.9),
            # NOT IN via De Morgan (identical under SPARQL's 3-valued logic);
            # an empty list is constant false / true
            if not elems:
                out = ("cmp", "=", ("num", 1), ("num", 0))
            else:
                out = ("cmp", "=", e, elems[0])
                for x in elems[1:]:
                    out = ("or", out, ("cmp", "=", e, x))
            return ("not", out) if neg else out
        return e

    def _add(self):
        e = self._mul()
        while True:
            kind, v = self._peek()
            if v in ("+", "-"):
                op = self._next()[1]
                e = ("arith", op, e, self._mul())
            elif kind == "NUM" and v.startswith("-"):
                # '?a-1' lexes as VAR NUM(-1): SPARQL folds the negative
                # literal into the additive chain (grammar note 'ab-1')
                self.i += 1
                e = ("arith", "+", e, ("num", float(v) if "." in v else int(v)))
            else:
                break
        return e

    def _mul(self):
        e = self._unary()
        while self._peek()[1] in ("*", "/"):
            op = self._next()[1]
            e = ("arith", op, e, self._unary())
        return e

    _FUNCS = {
        "REGEX", "STR", "LANG", "DATATYPE", "BOUND", "ISIRI", "ISURI",
        "ISLITERAL", "ISBLANK", "STRLEN", "CONTAINS", "STRSTARTS",
        "STRENDS", "UCASE", "LCASE", "ENCODE_FOR_URI",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
        "COALESCE", "IF", "CONCAT", "SUBSTR", "REPLACE", "STRBEFORE",
        "STRAFTER", "ABS", "ROUND", "CEIL", "FLOOR", "SAMETERM",
        "ISNUMERIC", "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
        "IRI", "URI", "STRLANG",
        "STRDT", "LANGMATCHES", "TIMEZONE",
        "BNODE", "UUID", "STRUUID", "RAND", "NOW",
    }

    # fixed arities (min, max); None max = variadic
    _FUNC_ARITY = {
        "REGEX": (2, 3), "STR": (1, 1), "LANG": (1, 1), "DATATYPE": (1, 1),
        "BOUND": (1, 1), "ISIRI": (1, 1), "ISLITERAL": (1, 1),
        "ISBLANK": (1, 1), "STRLEN": (1, 1), "CONTAINS": (2, 2),
        "STRSTARTS": (2, 2), "STRENDS": (2, 2), "UCASE": (1, 1),
        "ENCODE_FOR_URI": (1, 1),
        "YEAR": (1, 1), "MONTH": (1, 1), "DAY": (1, 1), "HOURS": (1, 1),
        "MINUTES": (1, 1), "SECONDS": (1, 1), "TZ": (1, 1),
        "LCASE": (1, 1), "COALESCE": (1, None), "IF": (3, 3),
        "CONCAT": (1, None), "SUBSTR": (2, 3), "REPLACE": (3, 4),
        "STRBEFORE": (2, 2), "STRAFTER": (2, 2), "ABS": (1, 1),
        "ROUND": (1, 1), "CEIL": (1, 1), "FLOOR": (1, 1),
        "SAMETERM": (2, 2), "ISNUMERIC": (1, 1), "MD5": (1, 1),
        "SHA1": (1, 1), "SHA256": (1, 1), "SHA384": (1, 1),
        "SHA512": (1, 1), "IRI": (1, 1),
        "STRLANG": (2, 2), "STRDT": (2, 2), "LANGMATCHES": (2, 2),
        "TIMEZONE": (1, 1), "BNODE": (0, 1), "UUID": (0, 0),
        "STRUUID": (0, 0), "RAND": (0, 0), "NOW": (0, 0),
    }

    def _unary(self):
        kind, v = self._peek()
        if v == "!":
            self.i += 1
            return ("not", self._unary())
        if v == "(":
            self.i += 1
            e = self._expr()
            self._expect(")")
            return e
        if kind == "NAME" and v.upper() in self._FUNCS:
            self.i += 1
            self._expect("(")
            if self._peek()[1] == ")":  # nullary: RAND(), NOW(), UUID()...
                args = []
            else:
                args = [self._expr()]
                while self._peek()[1] == ",":
                    self.i += 1
                    args.append(self._expr())
            self._expect(")")
            fname = v.upper().replace("ISURI", "ISIRI")
            if fname == "URI":
                fname = "IRI"
            lo, hi = self._FUNC_ARITY[fname]
            if len(args) < lo or (hi is not None and len(args) > hi):
                raise SparqlError(f"{fname} takes {lo}..{hi or 'n'} args")
            if fname in ("REGEX", "REPLACE") and any(
                a[0] != "const" for a in args[1:]
            ):
                # both backends read the pattern/flags at compile time; a
                # variable here would silently match the variable's NAME
                raise SparqlError(
                    f"{fname.lower()} pattern/replacement/flags must be "
                    "constant strings"
                )
            self.calls.add(fname)
            return ("call", fname, args)
        if kind == "NUM":
            self.i += 1
            return ("num", float(v) if "." in v else int(v))
        atom = self._term_atom()
        return atom if atom[0] == "var" else ("const", atom[1])


def parse_sparql(text: str) -> Query:
    parser = _Parser(text)
    q = parser.parse()
    q.calls = frozenset(parser.calls)
    return q


# ---------------------------------------------------------------------------
# shared term helpers (python side)
# ---------------------------------------------------------------------------

_LIT_RE = re.compile(r'^"(.*)"(?:@([A-Za-z0-9-]+)|\^\^<([^<>]*)>)?$', re.S)


def term_lex(t):
    """Lexical form: IRI content, literal lexical form (raw), bnode label.
    Non-string values (numerics produced by BIND arithmetic / aggregates)
    pass through unchanged. IRIs, plain literals and anything that is not
    a literal are cut without the regex: ``_LIT_RE``'s greedy group takes
    everything between the first and the last quote of a plain literal."""
    if not isinstance(t, str):
        return t
    head = t[:1]
    if head == "<":
        return t[1:-1] if t[-1] == ">" else t
    if head != '"':
        return t
    if len(t) > 1 and t[-1] == '"':
        return t[1:-1]
    m = _LIT_RE.match(t)
    return m.group(1) if m else t


_STRING_ESCAPES = {"\\": "\\", '"': '"', "'": "'", "n": "\n", "r": "\r",
                   "t": "\t", "b": "\b", "f": "\f"}
_ESCAPE_RE = re.compile(r"\\(.)", re.S)


def string_value(t: str) -> str:
    r"""The string a constant literal denotes: its lexical form with the
    SPARQL string escapes ``\\ \" \' \n \r \t \b \f`` decoded. Any other
    backslash sequence stays, so a pattern written ``"\w"`` still reaches
    the regex engine as ``\w``."""
    return _ESCAPE_RE.sub(
        lambda m: _STRING_ESCAPES.get(m.group(1), m.group(0)), term_lex(t))


def term_num(t) -> float | None:
    if t is None:
        return None
    if isinstance(t, (int, float)):
        return float(t)
    try:
        return float(term_lex(t))
    except (ValueError, TypeError):
        return None


def term_lang(t: str) -> str:
    m = _LIT_RE.match(t)
    return (m.group(2) or "") if m else ""


def term_datatype(t: str) -> str | None:
    m = _LIT_RE.match(t)
    if not m:
        return None
    if m.group(3):
        return m.group(3)
    if m.group(2):
        return RDF_LANGSTRING
    return XSD_STRING


_NUM_FUNCS = {"STRLEN", "ABS", "ROUND", "CEIL", "FLOOR",
              "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
              "RAND"}

# ISO 8601 xsd:dateTime / xsd:date lexical shape; groups: 1 year, 2 month,
# 3 day, 4 hours, 5 minutes, 6 seconds, 7 timezone
_DT_RE = (r"^(-?\d\d\d\d+)-(\d\d)-(\d\d)"
          r"(?:T(\d\d):(\d\d):(\d\d(?:\.\d+)?))?"
          r"(Z|[+-]\d\d:\d\d)?$")
_STR_FUNCS = {"STR", "LANG", "DATATYPE", "UCASE", "LCASE", "CONCAT",
              "ENCODE_FOR_URI", "TZ",
              "SUBSTR", "REPLACE", "STRBEFORE", "STRAFTER", "MD5", "SHA1",
              "SHA256", "SHA384", "SHA512", "STRUUID"}


# static "kind" of an expression, used to pick the comparison mode
def _expr_kind(e) -> str:
    tag = e[0]
    if tag == "num" or (tag == "arith") or (
        tag == "call" and e[1] in _NUM_FUNCS
    ):
        return "num"
    if tag == "const":
        return "num" if term_num(e[1]) is not None and e[1].startswith('"') and (
            "XMLSchema#integer" in e[1] or "XMLSchema#double" in e[1]
            or "XMLSchema#decimal" in e[1]) else "term"
    if tag == "call" and e[1] in _STR_FUNCS:
        return "str"
    if tag == "call" and e[1] == "IF":
        ka, kb = _expr_kind(e[2][1]), _expr_kind(e[2][2])
        return ka if ka == kb else "term"
    if tag == "call" and e[1] == "COALESCE":
        kinds = {_expr_kind(a) for a in e[2]}
        return kinds.pop() if len(kinds) == 1 else "term"
    return "term"


def _cmp_mode(a, b) -> str:
    ka, kb = _expr_kind(a), _expr_kind(b)
    if "num" in (ka, kb):
        return "num"
    if "str" in (ka, kb):
        return "str"
    return "term"


# ---------------------------------------------------------------------------
# Spark SQL backend
# ---------------------------------------------------------------------------
# A query compiles to ONE Spark SQL text that one ``spark.sql`` call runs.
# Every value read from the query text is a named parameter (:t0, :t1, ...),
# never spliced. The text holds only backtick-quoted variable names, internal
# column names, the compiler's own constants and ``{name}`` placeholders of
# the relations: a registered view's name, or a DataFrame that Spark's
# SQLStringFormatter registers as a view for the call and drops after it. A
# relation is (sql, variables): the variables are tracked here, so building
# a plan asks the JVM nothing. A relation without variables carries one
# ``__unit`` column, since SQL cannot select zero columns.


def _k(s: str) -> str:
    """A compiler constant as a raw SQL literal. Never called on text from
    the query; no constant holds a quote or a formatter brace."""
    assert not set("'{}") & set(s), s
    return f"r'{s}'"


def _q(name: str) -> str:
    return f"`{name}`"


def _sel(cols: list) -> str:
    return ", ".join(map(_q, cols)) or "1 AS __unit"


_DQ, _AT, _HATS = _k('"'), _k('"@'), _k('"^^<')
_LEX = _k(r'(?s)^"(.*)"(?:@[A-Za-z0-9-]+|\^\^<[^<>]*>)?$')
_DT_SUFFIX = _k(r"\^\^<([^<>]*)>$")
_DT_SQL = _k(_DT_RE)
_TZ_HM = _k(r"^[+-](\d\d):(\d\d)$")


def _s_lex(c: str) -> str:
    # cast first: HAVING / post-aggregate references hand us native numeric
    # columns, for which the lexical form is just their string rendering
    c = f"CAST({c} AS STRING)"
    return (f"CASE WHEN startswith({c}, '<') THEN substr({c}, 2, length({c}) - 2)"
            f" WHEN startswith({c}, {_DQ}) THEN regexp_extract({c}, {_LEX}, 1)"
            f" ELSE {c} END")


def _s_num(c: str) -> str:
    # try_cast, not cast: ANSI mode (Spark 4 default) would THROW on
    # non-numeric lexical forms; the SPARQL semantics (and the local
    # evaluator) want null -> comparison false / aggregate skip
    return f"try_cast({_s_lex(c)} AS DOUBLE)"


def _s_lang(c: str) -> str:
    return f"regexp_extract({c}, {_k('@([A-Za-z0-9-]+)$')}, 1)"


def _s_datatype(c: str) -> str:
    return (f"CASE WHEN NOT startswith({c}, {_DQ}) THEN CAST(NULL AS STRING)"
            f" WHEN {c} RLIKE {_DT_SUFFIX} THEN regexp_extract({c}, {_DT_SUFFIX}, 1)"
            f" WHEN {c} RLIKE {_k('@[A-Za-z0-9-]+$')} THEN {_k(RDF_LANGSTRING)}"
            f" ELSE {_k(XSD_STRING)} END")


class _SqlCompiler:
    """Compiles parsed SPARQL to Spark SQL over the quad relations in
    ``views`` (placeholder -> DataFrame, or the name of a registered view,
    of subj, pred, obj[, graph column]); patterns read ``q`` unless told
    otherwise."""

    def __init__(self, spark, views: dict, graph_col: str | None,
                 from_graphs: list | None = None,
                 from_named: list | None = None):
        self.spark = spark
        self.views = dict(views)
        self.graph_col = graph_col
        self.args: dict[str, object] = {}
        self._params: dict[tuple, str] = {}
        self._now = None  # NOW() literal, fixed per query execution
        self._bnode_calls = -1
        # FROM/FROM NAMED (SPARQL §13.2): any dataset clause REPLACES the
        # store's dataset — default graph = merge of the FROM graphs (empty
        # when only FROM NAMED was given), named graphs = the FROM NAMED
        # set (empty when only FROM was given). Without a dataset clause
        # (named_set None) the union-default-graph convention stands: bare
        # patterns range over ALL quads.
        self.from_graphs = from_graphs or []
        self.named_set = None
        if from_graphs is not None or from_named is not None:
            if graph_col is None:
                raise SparqlError(
                    "FROM/FROM NAMED used but quads have no graph column")
            self.named_set = from_named or []

    def p(self, v) -> str:
        """Bind one value as a named parameter; equal values share one."""
        key = (type(v), v)
        if key not in self._params:
            self._params[key] = f"t{len(self._params)}"
            self.args[self._params[key]] = v
        return ":" + self._params[key]

    def _ps(self, values) -> str:
        return ", ".join(map(self.p, values))

    def run(self, sql: str) -> DataFrame:
        frames = {}
        for k, v in self.views.items():
            if isinstance(v, str):
                sql = sql.replace("{%s}" % k, _q(v))
            elif "{%s}" % k in sql:
                if isinstance(v, partial):  # a path closure, run on first use
                    v = self.views[k] = v()
                # the formatter drops the view after the call, and dropping
                # a view uncaches the plan it names: a no-op filter keeps
                # that plan apart from the caller's cached one
                frames[k] = v.where("true")
        return self.spark.sql(sql, args=self.args, **frames)

    def _default(self, rel: str) -> str:
        """The dataset's default graph over relation ``rel``: the RDF MERGE
        of the FROM graphs — a SET of triples, so one triple asserted in
        several FROM graphs matches once, not once per graph (§13.2)."""
        src = "{%s}" % rel
        if self.named_set is None:
            return src
        if not self.from_graphs:
            return f"(SELECT subj, pred, obj FROM {src} WHERE false)"
        return (f"(SELECT DISTINCT subj, pred, obj FROM {src} WHERE "
                f"{_q(self.graph_col)} IN ({self._ps(self.from_graphs)}))")

    def _scope(self, graph, rel: str = "q") -> str:
        """The quad relation a pattern ranges over: the dataset's default
        graph outside GRAPH, the named-graph restriction inside it."""
        if graph is None:
            return self._default(rel)
        if self.graph_col is None:
            raise SparqlError("GRAPH used but quads have no graph column")
        src = "{%s}" % rel
        if self.named_set is None:
            return src
        cond = (f"{_q(self.graph_col)} IN ({self._ps(self.named_set)})"
                if self.named_set else "false")
        return f"(SELECT * FROM {src} WHERE {cond})"

    # expression -> SQL in a given mode ('term'|'str'|'num'|'bool')
    def expr(self, e, want: str = "bool") -> str:
        tag = e[0]
        if tag == "var":
            c = _q(e[1])
            if want == "num":
                return _s_num(c)
            if want == "str":
                return _s_lex(c)
            return c
        if tag == "const":
            if want == "num":
                n = term_num(e[1])
                return "CAST(NULL AS DOUBLE)" if n is None else self.p(n)
            return self.p(term_lex(e[1]) if want == "str" else e[1])
        if tag == "num":
            return f"CAST({self.p(e[1])} AS DOUBLE)"
        if tag in ("and", "or"):
            return f"({self.expr(e[1])} {tag.upper()} {self.expr(e[2])})"
        if tag == "not":
            return f"(NOT {self.expr(e[1])})"
        if tag == "cmp":
            mode = _cmp_mode(e[2], e[3])
            op = "<>" if e[1] == "!=" else e[1]
            return f"({self.expr(e[2], mode)} {op} {self.expr(e[3], mode)})"
        if tag == "arith":
            a, b = self.expr(e[2], "num"), self.expr(e[3], "num")
            if e[1] == "/":
                # SPARQL: division by zero is an expression error (null),
                # not IEEE Infinity — matches the local evaluator
                return f"CASE WHEN {b} <> 0 THEN {a} / {b} END"
            return f"({a} {e[1]} {b})"
        if tag == "call":
            return self._call(e[1], e[2], want)
        raise SparqlError(f"bad expr {e!r}")

    def _call(self, fn: str, args: list, want: str) -> str:
        def arg(i: int, mode: str) -> str:
            return self.expr(args[i], mode)

        if fn == "BOUND":
            return f"({arg(0, 'term')} IS NOT NULL)"
        if fn in ("REGEX", "REPLACE"):
            # the parser keeps pattern, replacement and flags constant
            consts = [string_value(a[1]) for a in args[1:]]
            pat = consts[0]
            if len(args) == (3 if fn == "REGEX" else 4) and "i" in consts[-1]:
                pat = "(?i)" + pat
            if fn == "REGEX":
                return f"({arg(0, 'str')} RLIKE {self.p(pat)})"
            return (f"regexp_replace({arg(0, 'str')}, {self.p(pat)}, "
                    f"{self.p(consts[1])})")
        if fn == "RAND":
            return "rand()"
        if fn == "NOW":
            # spec §17.4.5.1: one fixed value for the whole query
            # execution; honor `want` so YEAR(NOW())/STR(NOW()) see the
            # LEXICAL form (the local evaluator re-lexes via term_lex)
            if self._now is None:
                import time as _time

                self._now = (
                    '"' + _time.strftime("%Y-%m-%dT%H:%M:%S", _time.gmtime())
                    + 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>')
            return self.p(term_lex(self._now) if want == "str" else self._now)
        if fn == "UUID":
            if want == "str":  # STR(UUID()) = the IRI text, no brackets
                return "concat('urn:uuid:', uuid())"
            return "concat('<urn:uuid:', uuid(), '>')"
        if fn == "STRUUID":
            return "uuid()"
        if fn == "BNODE":
            if not args:
                # fresh label per solution row AND per call site (two
                # BNODE() in one projection must not collide — spec
                # requires distinct bnodes per call): a compile-time
                # call counter salts the row id
                self._bnode_calls += 1
                return (f"concat('_:bn{self._bnode_calls}c', "
                        "CAST(monotonically_increasing_id() AS STRING))")
            # BNODE(str): stable label for the same lexical argument
            # (stable across ALL solutions here — a superset of the spec's
            # per-solution guarantee, shared with the local evaluator)
            return f"concat('_:bh', md5(encode({arg(0, 'str')}, 'UTF-8')))"
        if fn in ("ISIRI", "ISLITERAL", "ISBLANK"):
            prefix = {"ISIRI": "'<'", "ISLITERAL": _DQ, "ISBLANK": "'_:'"}[fn]
            return f"startswith({arg(0, 'term')}, {prefix})"
        if fn == "STR":
            return arg(0, "str")
        if fn == "LANG":
            return _s_lang(arg(0, "term"))
        if fn == "DATATYPE":
            return _s_datatype(arg(0, "term"))
        if fn == "STRLEN":
            return f"CAST(length({arg(0, 'str')}) AS DOUBLE)"
        if fn in ("UCASE", "LCASE"):
            return f"{'upper' if fn == 'UCASE' else 'lower'}({arg(0, 'str')})"
        if fn == "ENCODE_FOR_URI":
            # url_encode is form-encoding; fix the three divergences from
            # RFC 3986 unreserved-only: '+'->%20, %7E->'~', '*'->%2A
            c = f"regexp_replace(url_encode({arg(0, 'str')}), '[+]', '%20')"
            return f"regexp_replace(regexp_replace({c}, '%7E', '~'), '[*]', '%2A')"
        if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
                  "TZ"):
            lex = arg(0, "str")
            grp = ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
                   "TZ").index(fn) + 1
            part = f"regexp_extract({lex}, {_DT_SQL}, {grp})"
            if fn == "TZ":
                # "" is the spec's answer for a zoneless dateTime, but a
                # NON-dateTime operand is an error -> NULL (unbound)
                return f"CASE WHEN {lex} RLIKE {_DT_SQL} THEN {part} END"
            # a missing time part ("" on xsd:date for HOURS etc.) is a
            # type error -> try_cast yields NULL
            return f"try_cast({part} AS DOUBLE)"
        if fn in ("CONTAINS", "STRSTARTS", "STRENDS"):
            f = {"CONTAINS": "contains", "STRSTARTS": "startswith",
                 "STRENDS": "endswith"}[fn]
            return f"{f}({arg(0, 'str')}, {arg(1, 'str')})"
        if fn in ("COALESCE", "IF"):
            # term-valued: a bare FILTER(IF(...)) has no shared EBV across
            # backends, so require an explicit comparison around them
            if want == "bool":
                raise SparqlError(f"{fn} is term-valued; compare it explicitly")
            if fn == "COALESCE":
                return f"coalesce({', '.join(self.expr(a, want) for a in args)})"
            cond = arg(0, "bool")
            # two chained WHENs, NOT an ELSE: an errored (null) condition
            # must stay an error, matching the local evaluator
            return (f"CASE WHEN {cond} THEN {arg(1, want)} "
                    f"WHEN NOT ({cond}) THEN {arg(2, want)} END")
        if fn == "CONCAT":
            return f"concat({', '.join(self.expr(a, 'str') for a in args)})"
        if fn == "SUBSTR":
            c = arg(0, "str")
            ln = (f"greatest(CAST({arg(2, 'num')} AS INT), 0)"
                  if len(args) > 2 else f"length({c})")
            return f"substr({c}, greatest(CAST({arg(1, 'num')} AS INT), 1), {ln})"
        if fn in ("STRBEFORE", "STRAFTER"):
            a, b = arg(0, "str"), arg(1, "str")
            pos = f"instr({a}, {b})"
            empty_b, found = (
                ("''", f"substr({a}, 1, {pos} - 1)") if fn == "STRBEFORE"
                else (a, f"substr({a}, {pos} + length({b}), length({a}))"))
            return (f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN "
                    f"CAST(NULL AS STRING) WHEN {b} = '' THEN {empty_b} "
                    f"WHEN {pos} > 0 THEN {found} ELSE '' END")
        if fn in ("ABS", "ROUND", "CEIL", "FLOOR"):
            c = arg(0, "num")
            # Spark round = HALF_UP away from zero; the local evaluator
            # pins the same rule (documented divergence from XPath's
            # ceiling-on-negative-half)
            return {"ABS": f"abs({c})", "ROUND": f"round({c}, 0)",
                    "CEIL": f"CAST(ceil({c}) AS DOUBLE)",
                    "FLOOR": f"CAST(floor({c}) AS DOUBLE)"}[fn]
        if fn == "SAMETERM":
            return f"({arg(0, 'term')} = {arg(1, 'term')})"
        if fn == "ISNUMERIC":
            cs = f"CAST({arg(0, 'term')} AS STRING)"
            lex_ok = f"{_s_num(cs)} IS NOT NULL"
            dt_ok = (f"{_s_datatype(cs)} IN "
                     f"({', '.join(map(_k, sorted(_XSD_NUMERIC)))})")
            return (f"CASE WHEN startswith({cs}, {_DQ}) THEN {lex_ok} AND "
                    f"{dt_ok} ELSE {lex_ok} AND (NOT startswith({cs}, '<')) "
                    f"AND (NOT startswith({cs}, '_:')) END")
        if fn in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            c = f"encode({arg(0, 'str')}, 'UTF-8')"
            if fn in ("MD5", "SHA1"):
                return f"{fn.lower()}({c})"
            return f"sha2({c}, {fn[3:]})"
        if fn == "TIMEZONE":
            # xsd:dayTimeDuration from the dateTime's timezone lexical
            # (§17.4.5.7): Z/±00:00 -> PT0S, ±hh:mm -> [-]PThH[mM];
            # a zoneless or non-dateTime operand is an error -> NULL
            tz = f"regexp_extract({arg(0, 'str')}, {_DT_SQL}, 7)"
            hh, mm = (f"CAST(regexp_extract({tz}, {_TZ_HM}, {i}) AS INT)"
                      for i in (1, 2))
            sign = (f"CASE WHEN startswith({tz}, '-') AND ({hh} > 0 OR "
                    f"{mm} > 0) THEN '-' ELSE '' END")
            h, m = (f"CAST({x} AS STRING)" for x in (hh, mm))
            body = (f"CASE WHEN {hh} = 0 AND {mm} = 0 THEN 'PT0S' "
                    f"WHEN {mm} = 0 THEN concat('PT', {h}, 'H') "
                    f"WHEN {hh} = 0 THEN concat('PT', {m}, 'M') "
                    f"ELSE concat('PT', {h}, 'H', {m}, 'M') END")
            if want == "str":  # STR(TIMEZONE(x)) -> the lexical duration
                return (f"CASE WHEN {tz} = 'Z' THEN 'PT0S' "
                        f"WHEN {tz} <> '' THEN concat({sign}, {body}) END")
            dt = '"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
            zero, tail = _k('"PT0S' + dt), _k(dt)
            return (f"CASE WHEN {tz} = 'Z' THEN {zero} WHEN {tz} <> '' THEN "
                    f"concat({_DQ}, {sign}, {body}, {tail}) END")
        if fn == "IRI":
            return f"concat('<', {arg(0, 'str')}, '>')"
        if fn == "STRLANG":
            return f"concat({_DQ}, {arg(0, 'str')}, {_AT}, {arg(1, 'str')})"
        if fn == "STRDT":
            return (f"concat({_DQ}, {arg(0, 'str')}, {_HATS}, "
                    f"{arg(1, 'str')}, '>')")
        if fn == "LANGMATCHES":
            lang, rng = f"lower({arg(0, 'str')})", f"lower({arg(1, 'str')})"
            return (f"CASE WHEN {rng} = '*' THEN {lang} <> '' ELSE ({lang} = "
                    f"{rng} OR startswith({lang}, concat({rng}, '-'))) END")
        raise SparqlError(f"unsupported function {fn}")

    # -- patterns -----------------------------------------------------------
    def _bind_atoms(self, src: str, atoms: list, conds: list) -> tuple:
        """Project the variables of (column, atom) pairs over ``src``;
        constant atoms and repeated variables become conditions."""
        proj: dict[str, str] = {}
        for col, atom in atoms:
            if atom[0] == "term":
                conds.append(f"{_q(col)} = {self.p(atom[1])}")
            elif atom[1] in proj:   # repeated var inside one pattern
                conds.append(f"{_q(col)} = {_q(proj[atom[1]])}")
            else:
                proj[atom[1]] = col
        sel = ", ".join(f"{_q(c)} AS {_q(v)}" for v, c in proj.items())
        where = " WHERE " + " AND ".join(conds) if conds else ""
        return f"SELECT {sel or '1 AS __unit'} FROM {src}{where}", list(proj)

    def pattern(self, s, p, o, graph, rel: str = "q") -> tuple:
        """One triple pattern over relation ``rel`` -> its bindings."""
        src = self._scope(graph, rel)
        atoms, conds = [("subj", s), ("pred", p), ("obj", o)], []
        if graph is not None:
            if graph[0] == "var":
                # GRAPH ?g ranges over NAMED graphs only: a NULL graph
                # column (default-graph quad in a graph store) must not
                # match with ?g unbound (the local twin's 3-tuples agree)
                conds.append(f"{_q(self.graph_col)} IS NOT NULL")
            atoms.append((self.graph_col, graph))
        return self._bind_atoms(src, atoms, conds)

    # -- property paths -----------------------------------------------------
    def _graph_quads(self, graph) -> str:
        if graph is None:
            return self._default("q")
        # GRAPH ?var: every named graph (dataset-restricted via _scope);
        # path evaluation stays graph-local by keying pairs on __g
        src, g = self._scope(graph), _q(self.graph_col)
        cond = (f"{g} = {self.p(graph[1])}" if graph[0] == "term"
                else f"{g} IS NOT NULL")
        return f"(SELECT * FROM {src} WHERE {cond})"

    def _path_pairs(self, ast, graph) -> str:
        """A path expression -> SQL of its (__src, __dst) pair relation.
        Under GRAPH ?var the relation carries a third __g column and every
        join/identity is keyed on it, so each named graph's closure is
        computed independently in ONE shared set of jobs (no per-graph
        driver loop — the graph id is just another shuffle key).
        Closures (+/*) are ``reasoner.transitive_closure`` keyed on __g:
        in-memory for bounded relations, else pointer doubling, which
        converges in ceil(log2 D) rounds on a diameter-D graph. Its result
        joins the statement as one more view."""
        keyed = graph is not None and graph[0] == "var"
        g = ", __g" if keyed else ""
        tag = ast[0]
        if tag in ("p", "nps"):
            cond = (f"pred = {self.p(ast[1])}" if tag == "p" else
                    f"pred NOT IN ({self._ps(ast[1])})" if ast[1] else "true")
            gsel = f", {_q(self.graph_col)} AS __g" if keyed else ""
            return (f"SELECT subj AS __src, obj AS __dst{gsel} "
                    f"FROM {self._graph_quads(graph)} WHERE {cond}")
        if tag == "inv":
            return (f"SELECT __dst AS __src, __src AS __dst{g} "
                    f"FROM ({self._path_pairs(ast[1], graph)})")
        if tag == "seq":
            out = self._path_pairs(ast[1][0], graph)
            on = " AND l.__g = r.__g" if keyed else ""
            for elt in ast[1][1:]:
                out = (f"SELECT l.__src, r.__dst{g and ', l.__g'} FROM "
                       f"({out}) l JOIN ({self._path_pairs(elt, graph)}) r "
                       f"ON l.__dst = r.__src{on}")
            return out
        if tag == "alt":
            return " UNION ALL ".join(
                f"SELECT * FROM ({self._path_pairs(e, graph)})" for e in ast[1])
        if tag == "opt":
            return (f"SELECT DISTINCT * FROM ({self._path_pairs(ast[1], graph)}"
                    f" UNION ALL {self._identity_pairs(graph)})")
        if tag in ("plus", "star"):
            edges = (f"SELECT __src AS child, __dst AS parent{g} "
                     f"FROM ({self._path_pairs(ast[1], graph)})")
            name = f"c{len(self.views)}"
            # computed when a statement reading it runs: compiling a
            # query runs no Spark job
            self.views[name] = partial(self._closure, edges, keyed)
            out = f"SELECT child AS __src, parent AS __dst{g} FROM {{{name}}}"
            if tag == "plus":
                return out
            return (f"SELECT DISTINCT * FROM ({out} UNION ALL "
                    f"{self._identity_pairs(graph)})")
        raise SparqlError(f"bad path {ast!r}")

    def _closure(self, edges: str, keyed: bool) -> DataFrame:
        rel = self.run(edges)
        try:
            return transitive_closure(rel, keys=["__g"] if keyed else [])
        except RuntimeError as e:
            raise SparqlError(f"path {e}") from e

    def _identity_pairs(self, graph) -> str:
        # SPARQL zero-length path: every term occurring in the graph
        # (per named graph when keyed — zero-length stays graph-local)
        q = self._graph_quads(graph)
        keyed = graph is not None and graph[0] == "var"
        g = f", {_q(self.graph_col)} AS __g" if keyed else ""
        return (f"SELECT DISTINCT __n AS __src, __n AS __dst{g and ', __g'} "
                f"FROM (SELECT subj AS __n{g} FROM {q} "
                f"UNION ALL SELECT obj AS __n{g} FROM {q})")

    def path_pattern(self, s, ast, o, graph) -> tuple:
        # path patterns evaluate with SET semantics on both backends
        atoms = [("__src", s), ("__dst", o)]
        if graph is not None and graph[0] == "var":
            atoms.append(("__g", graph))
        src = f"(SELECT DISTINCT * FROM ({self._path_pairs(ast, graph)}))"
        return self._bind_atoms(src, atoms, [])

    # -- algebra --------------------------------------------------------------
    def group(self, g: Group, graph=None) -> tuple:
        acc = None
        filters = []
        for item in g.items:
            tag = item[0]
            if tag == "triple":
                acc = self.join(acc, (
                    self.path_pattern(item[1], item[2][1], item[3], graph)
                    if item[2][0] == "path"
                    else self.pattern(item[1], item[2], item[3], graph)))
            elif tag == "filter":
                filters.append(item[1])
            elif tag == "optional":
                acc = self.join(acc, self.group(item[1], graph), "LEFT")
            elif tag in ("exists", "minus"):
                # semi/anti join on the shared variables. With none shared,
                # MINUS removes nothing (SPARQL §8.3) and (NOT) EXISTS tests
                # the inner group's (non-)emptiness inside the statement
                if acc is None:
                    raise SparqlError(
                        ("FILTER EXISTS" if tag == "exists" else "MINUS")
                        + " before any pattern")
                sub = self.group(item[1], graph)
                keep = tag == "exists" and item[2]
                shared = [c for c in acc[1] if c in sub[1]]
                if shared:
                    acc = (f"SELECT {_sel(acc[1])} FROM ({acc[0]}) l LEFT "
                           f"{'SEMI' if keep else 'ANTI'} JOIN ({sub[0]}) r "
                           f"USING ({_sel(shared)})", acc[1])
                elif tag == "exists":
                    acc = (f"SELECT * FROM ({acc[0]}) WHERE "
                           f"{'' if keep else 'NOT '}EXISTS "
                           f"(SELECT 1 FROM ({sub[0]}))", acc[1])
            elif tag == "union":
                acc = self.join(acc, self.union(
                    [self.group(b, graph) for b in item[1]]))
            elif tag == "graph":
                acc = self.join(acc, self.group(item[2], item[1]))
            elif tag == "subquery":
                acc = self._subquery(acc, item[1], graph)
            elif tag == "bind":
                if acc is None:
                    raise SparqlError("BIND before any pattern")
                acc = self.bind(acc, item[1], item[2])
            elif tag == "values":
                acc = self.join(acc, self._values(item[1], item[2]))
            else:
                raise SparqlError(f"bad group item {tag}")
        if acc is None:
            raise SparqlError("empty group")
        return self.filter(acc, filters)

    def filter(self, rel: tuple, exprs: list) -> tuple:
        if not exprs:
            return rel
        cond = " AND ".join(self.expr(e, "bool") for e in exprs)
        return f"SELECT * FROM ({rel[0]}) WHERE {cond}", rel[1]

    def bind(self, rel: tuple, e, var: str) -> tuple:
        val = self.expr(e, "term")
        cols = rel[1] + [var] * (var not in rel[1])
        sel = ", ".join(f"{val} AS {_q(c)}" if c == var else _q(c)
                        for c in cols)
        return f"SELECT {sel} FROM ({rel[0]})", cols

    def join(self, acc: tuple | None, rel: tuple, how: str = "") -> tuple:
        """Natural join on the shared variables (``how`` "" or "LEFT")."""
        if acc is None:
            return rel
        shared = [c for c in acc[1] if c in rel[1]]
        cols = shared + [c for c in acc[1] + rel[1] if c not in shared]
        if shared:
            join = f"{how} JOIN ({rel[0]}) r USING ({_sel(shared)})"
        elif how:
            join = f"{how} JOIN ({rel[0]}) r ON true"
        else:
            join = f"CROSS JOIN ({rel[0]}) r"
        return f"SELECT {_sel(cols)} FROM ({acc[0]}) l {join}", cols

    def union(self, rels: list) -> tuple:
        """UNION ALL by variable name; a branch lacking one binds NULL."""
        cols = list(dict.fromkeys(c for _, rc in rels for c in rc))
        return " UNION ALL ".join(
            "SELECT " + (", ".join(_q(c) if c in rc else f"NULL AS {_q(c)}"
                                   for c in cols) or "1 AS __unit")
            + f" FROM ({sql})" for sql, rc in rels), cols

    def _values(self, vars_: list, rows: list) -> tuple:
        if not rows:
            nulls = [f"CAST(NULL AS STRING) AS {_q(v)}" for v in vars_]
            return f"SELECT {', '.join(nulls) or '1 AS __unit'} WHERE false", vars_
        cells = ", ".join(
            "(" + (", ".join("NULL" if t is None else self.p(t) for t in r)
                   or "1") + ")" for r in rows)
        sel = ", ".join(f"CAST({_q(v)} AS STRING) AS {_q(v)}" for v in vars_)
        names = ", ".join(map(_q, vars_)) or "__unit"
        return (f"SELECT {sel or '__unit'} FROM VALUES {cells} AS v({names})",
                vars_)

    def _subquery(self, acc: tuple | None, subq: Query, graph) -> tuple:
        sub = self.select(self.group(subq.where, graph), subq)
        shared = [c for c in (acc or ("", []))[1] if c in sub[1]]
        if not shared:
            return self.join(acc, sub)
        # numeric aggregate aliases come back as native numerics; a shared
        # variable against an outer TERM column must compare on the term's
        # numeric value (try_cast keeps ANSI mode from throwing on
        # non-numeric lexical forms)
        num = {s.alias for s in subq.select if isinstance(s, Agg)
               and s.func not in ("group_concat", "sample")}
        cond = " AND ".join(
            f"{_s_num('l.' + _q(c)) if c in num else 'l.' + _q(c)} = r.{_q(c)}"
            for c in shared)
        rest = [c for c in sub[1] if c not in shared]
        sel = ", ".join([f"l.{_q(c)}" for c in acc[1]]
                        + [f"r.{_q(c)}" for c in rest])
        return (f"SELECT {sel} FROM ({acc[0]}) l JOIN ({sub[0]}) r ON {cond}",
                acc[1] + rest)

    def _modifiers(self, q: Query) -> str:
        """ORDER BY / LIMIT / OFFSET as the tail of one SELECT (OFFSET
        applies before LIMIT, as in SPARQL)."""
        tail = ""
        if q.order_by:
            tail += " ORDER BY " + ", ".join(
                f"{_q(v)} {'ASC' if asc else 'DESC'}" for v, asc in q.order_by)
        if q.limit is not None:
            tail += f" LIMIT {self.p(q.limit)}"
        if q.offset:
            tail += f" OFFSET {self.p(q.offset)}"
        return tail

    def select(self, rel: tuple, q: Query) -> tuple:
        """Aggregates, projection, DISTINCT and solution modifiers over a
        solved WHERE relation — shared by the top-level SELECT and
        subqueries."""
        sql, cols = rel
        aggs = [s for s in q.select if isinstance(s, Agg)]
        if aggs or q.group_by:
            keys = [_q(v) for v in q.group_by]
            outs = []
            for s in aggs:
                if s.func == "count":
                    a = ("1" if s.arg is None else
                         "DISTINCT " * s.distinct + self.expr(s.arg, "term"))
                    out = f"count({a})"
                elif s.func == "group_concat":
                    # spec leaves concatenation order undefined; both
                    # backends pin SORTED order so results are comparable
                    coll = "collect_set" if s.distinct else "collect_list"
                    out = (f"array_join(array_sort({coll}(CAST("
                           f"{self.expr(s.arg, 'str')} AS STRING))), "
                           f"{self.p(s.sep)})")
                elif s.func == "sample":
                    # SAMPLE picks an arbitrary value; both backends pin MIN
                    # so the choice is deterministic and cluster-size
                    # independent
                    out = f"min({self.expr(s.arg, 'term')})"
                else:
                    out = f"{s.func}({self.expr(s.arg, 'num')})"
                outs.append(f"{out} AS {_q(s.alias)}")
            sql = f"SELECT {', '.join(keys + outs)} FROM ({sql})"
            if keys:
                sql += f" GROUP BY {', '.join(keys)}"
            cols = q.group_by + [s.alias for s in aggs]
            if q.having is not None:
                sql = self.filter((sql, cols), [q.having])[0]
            cols = [s.alias if isinstance(s, Agg) else s[1]
                    for s in q.select] or cols
        elif q.select:
            cols = [s[1] for s in q.select]
        distinct = "DISTINCT " if q.distinct else ""
        return (f"SELECT {distinct}{_sel(cols)} FROM ({sql}){self._modifiers(q)}",
                cols)

    def describe(self, q: Query) -> str:
        # node set = explicit IRIs + bindings of the described vars; result
        # = semi-join of the dataset's default graph on subject membership
        parts = []
        if any(a[0] == "var" for a in q.describe):
            sol = self.group(q.where)[0]
            parts += [f"SELECT {_q(a[1])} AS __n FROM ({sol})"
                      for a in q.describe if a[0] == "var"]
        consts = [f"({self.p(a[1])})" for a in q.describe if a[0] == "term"]
        if consts:
            parts.append(f"SELECT __n FROM VALUES {', '.join(consts)} AS v(__n)")
        return (f"SELECT /*+ BROADCAST(n) */ DISTINCT subj, pred, obj FROM "
                f"{self._default('q')} b LEFT SEMI JOIN (SELECT DISTINCT __n "
                f"FROM ({' UNION ALL '.join(parts)})) n ON b.subj = n.__n")


def instantiate_construct(sol: DataFrame, construct: list) -> DataFrame:
    """Instantiate CONSTRUCT template triples against a solution relation:
    the distinct graph of fully-bound instantiations (rows with an unbound
    template variable are dropped). ONE implementation shared by
    sparql_query and the incremental-view refresh path so the two can
    never diverge on template semantics."""
    def tcol(atom) -> Column:
        return F.lit(atom[1]) if atom[0] == "term" else F.col(atom[1])

    out = None
    for _, s, p, o in construct:
        part = sol.select(
            tcol(s).alias("subj"), tcol(p).alias("pred"), tcol(o).alias("obj")
        )
        out = part if out is None else out.unionByName(part)
    return out.na.drop().distinct()


def sparql_query(quads: DataFrame, text: str, graph_col: str | None = None) -> DataFrame:
    """Run a SPARQL SELECT over a quad DataFrame with columns
    (subj, pred, obj[, graph_col]). Returns one column per selected
    variable/aggregate alias; cells are N-Triples term strings (aggregates:
    native numerics). The query compiles to one parameter-bound Spark SQL
    statement; only a closure path (+/*) runs one more, for its edges.

    Known divergences from full SPARQL (documented, shared with tests):

    - a UNION branch that leaves a variable unbound which earlier patterns
      in the same group DID bind joins as NULL (row dropped) rather than
      as "compatible with anything" — keep shared variables bound in every
      branch. ``sparql_eval_local`` treats the unbound variable as
      compatible, so the two backends differ: over a graph where ``?s``
      has ``p`` and ``q`` but no ``zz``, ``?s p ?o . { ?s q ?w } UNION
      { ?s zz ?o }`` gives no row here and one row there. ``_scoped``
      finds such joins, and ``GraphStore.query`` sends them to SQL.
    - SELECT expressions ``(expr AS ?v)`` desugar to a trailing BIND, so
      ?v is visible to FILTERs in the same WHERE group; per spec the
      projection expression is evaluated after the WHERE and ?v would be
      unbound there. Don't reference a projection alias inside WHERE."""
    if graph_col is None and "prov" in quads.columns:
        graph_col = "prov"
    return _answer(quads.sparkSession, quads, text, graph_col)


def _answer(spark, quads, text: str | Query,
            graph_col: str | None) -> DataFrame:
    """``sparql_query`` over ``quads``, a DataFrame or a registered view."""
    q = text if isinstance(text, Query) else parse_sparql(text)
    comp = _SqlCompiler(spark, {"q": quads}, graph_col, q.from_graphs,
                        q.from_named)
    if q.describe is not None:
        return comp.run(comp.describe(q))
    sql, cols = comp.group(q.where)
    if q.ask:
        return comp.run(f"SELECT EXISTS (SELECT 1 FROM ({sql})) AS ask")
    if q.construct is not None:
        # solution modifiers apply to the bindings, then each template
        # triple is instantiated per solution; output is the distinct graph
        sol = comp.run(f"SELECT * FROM ({sql}){comp._modifiers(q)}")
        return instantiate_construct(sol, q.construct)
    sql, cols = comp.select((sql, cols), q)
    # a query without variables keeps its rows but no columns
    return comp.run(sql) if cols else comp.run(sql).select()


# ---------------------------------------------------------------------------
# local (in-memory) backend: SHACL's sh:sparql constraints, the agreement
# oracle of the SQL compiler, and GraphStore.query's driver twin of a
# bounded store (served as a LocalTableScan DataFrame by _answer_local).
# A query is planned and compiled once: its expressions become closures
# over a solution row (_Plan, kept with the parsed Query), and a triple
# pattern sorts its positions once per input row, so the loops over
# candidate triples and solutions interpret nothing.
# ---------------------------------------------------------------------------

_CMP_OPS = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
            "<=": operator.le, ">": operator.gt, ">=": operator.ge}
_ARITH_OPS = {"+": operator.add, "-": operator.sub, "*": operator.mul,
              "/": lambda a, b: a / b if b else None}
_DT_MATCH = re.compile(_DT_RE).match
_DAY_TIME = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"


def _dt_part(grp: int):
    def part(v):
        m = _DT_MATCH(str(term_lex(v)))
        return float(m.group(grp)) if m and m.group(grp) else None
    return part


def _tz(v):
    m = _DT_MATCH(str(term_lex(v)))
    return (m.group(7) or "") if m else None


def _timezone(v):
    tz = _tz(v)
    if not tz:
        return None
    hh, mm = (0, 0) if tz == "Z" else (int(tz[1:3]), int(tz[4:6]))
    if hh == 0 and mm == 0:
        return f'"PT0S"^^<{_DAY_TIME}>'
    sign = "-" if tz[0] == "-" else ""
    body = "PT" + (f"{hh}H" if hh else "") + (f"{mm}M" if mm else "")
    return f'"{sign}{body}"^^<{_DAY_TIME}>'


def _on_num(f):
    def op(v):
        n = term_num(v)
        return None if n is None else f(n)
    return op


def _is_numeric(v) -> bool:
    if isinstance(v, (int, float)):
        return True
    if not v.startswith('"'):
        return False
    return term_num(v) is not None and term_datatype(v) in _XSD_NUMERIC


def _hex(h):
    return lambda v: h(str(term_lex(v)).encode("utf-8")).hexdigest()


def _langmatches(lang, rng) -> bool:
    lang, rng = str(lang).lower(), str(rng).lower()
    if rng == "*":
        return lang != ""
    return lang == rng or lang.startswith(rng + "-")


def _strbefore(a, b) -> str:
    a, b = str(a), str(b)
    i = a.find(b)
    return a[:i] if i >= 0 else ""


def _strafter(a, b) -> str:
    a, b = str(a), str(b)
    i = a.find(b)
    return a[i + len(b):] if i >= 0 else ""


# functions of one bound term (the call is unbound when the term is)
_TERM_OPS = {
    "STR": term_lex, "LANG": term_lang, "DATATYPE": term_datatype,
    "ISIRI": lambda v: v.startswith("<"),
    "ISLITERAL": lambda v: v.startswith('"'),
    "ISBLANK": lambda v: v.startswith("_:"),
    "STRLEN": lambda v: float(len(term_lex(v))),
    "UCASE": lambda v: term_lex(v).upper(),
    "LCASE": lambda v: term_lex(v).lower(),
    # str(): native numerics from arithmetic/aggregates must coerce like
    # the SQL side's cast-to-string, not crash
    "ENCODE_FOR_URI": lambda v: quote(str(term_lex(v)), safe=""),
    "TZ": _tz, "TIMEZONE": _timezone, "ISNUMERIC": _is_numeric,
    "IRI": lambda v: f"<{term_lex(v)}>",
    "ABS": _on_num(abs),
    "CEIL": _on_num(lambda n: float(math.ceil(n))),
    "FLOOR": _on_num(lambda n: float(math.floor(n))),
    # HALF_UP away from zero, matching Spark's round()
    "ROUND": _on_num(lambda n: float(
        math.floor(n + 0.5) if n >= 0 else math.ceil(n - 0.5))),
    **{fn: _dt_part(i + 1) for i, fn in enumerate(
        ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"))},
    **{fn: _hex(getattr(hashlib, fn.lower())) for fn in (
        "MD5", "SHA1", "SHA256", "SHA384", "SHA512")},
}
# functions of a bound term's lexical form and a second, string argument
_PAIR_OPS = {
    "CONTAINS": operator.contains, "STRSTARTS": str.startswith,
    "STRENDS": str.endswith, "STRBEFORE": _strbefore, "STRAFTER": _strafter,
    "STRLANG": lambda a, b: f'"{a}"@{b}',
    "STRDT": lambda a, b: f'"{a}"^^<{b}>',
}


class _Plan:
    """A parsed query's expressions compiled to closures over a solution
    row. ``fn(e, want)`` compiles ``e`` the first time it is asked for:
    the function handler, the comparison mode and the constants' lexical
    forms are fixed then, so evaluating a FILTER, BIND or aggregate
    argument walks no expression tree. A query keeps its plan
    (``Query.plan``), so SHACL's per-focus-node calls over one parsed query
    reuse it; ``state`` holds what one evaluation fixes (NOW, BNODE()'s
    counter) and is cleared when an evaluation starts. A pickled plan
    comes back empty."""

    def __init__(self):
        self.fns: dict = {}
        self.state: dict = {}

    def __reduce__(self):
        return _Plan, ()

    def fn(self, e, want: str = "bool"):
        hit = self.fns.get((id(e), want))
        if hit is None:
            # the entry holds e, so no other expression can take its id
            hit = self.fns[id(e), want] = (e, self._compile(e, want))
        return hit[1]

    def _compile(self, e, want):
        tag = e[0]
        if tag == "var":
            name = e[1]
            if want == "num":
                return lambda r: term_num(r.get(name))
            if want == "str":
                return lambda r: term_lex(r.get(name))
            return methodcaller("get", name)
        if tag in ("const", "num"):
            v = (float(e[1]) if tag == "num" else term_num(e[1])
                 if want == "num" else term_lex(e[1]) if want == "str"
                 else e[1])
            return lambda r: v
        # three-valued logic (None = error/unknown), matching both SPARQL
        # error propagation and Spark SQL null semantics: a top-level FILTER
        # keeps a row only on True, so None is falsy there — but under '!'
        # an error stays an error instead of flipping to True
        if tag in ("and", "or"):
            fa, fb = self.fn(e[1]), self.fn(e[2])
            decides = tag == "or"  # True decides OR, False decides AND

            def junction(r):
                a, b = fa(r), fb(r)
                if a is decides or b is decides:
                    return decides
                return None if a is None or b is None else not decides
            return junction
        if tag == "not":
            fa = self.fn(e[1])

            def negation(r):
                a = fa(r)
                return None if a is None else not a
            return negation
        if tag in ("cmp", "arith"):
            if tag == "cmp":
                op, mode = _CMP_OPS[e[1]], _cmp_mode(e[2], e[3])
            else:
                op, mode = _ARITH_OPS[e[1]], "num"
            fa, fb = self.fn(e[2], mode), self.fn(e[3], mode)

            def binary(r):
                va, vb = fa(r), fb(r)
                return None if va is None or vb is None else op(va, vb)
            return binary
        if tag == "call":
            return self._call(e[1], e[2], want)
        raise SparqlError(f"bad expr {e!r}")

    def _call(self, fn, args, want):
        if fn in ("COALESCE", "IF"):
            if want == "bool":
                def term_valued(r):
                    raise SparqlError(
                        f"{fn} is term-valued; compare it explicitly")
                return term_valued
            if fn == "COALESCE":
                fs = [self.fn(a, want) for a in args]

                def coalesce(r):
                    for f in fs:
                        v = f(r)
                        if v is not None:
                            return v
                    return None
                return coalesce
            fc, ft, ff = (self.fn(args[0]), self.fn(args[1], want),
                          self.fn(args[2], want))

            def if_(r):
                c = fc(r)
                return None if c is None else ft(r) if c else ff(r)
            return if_
        if fn == "CONCAT":
            fs = [self.fn(a, "str") for a in args]

            def concat(r):
                parts = [f(r) for f in fs]
                return (None if any(p is None for p in parts)
                        else "".join(map(str, parts)))
            return concat
        if fn in ("SAMETERM", "LANGMATCHES"):
            want, op = (("term", operator.eq) if fn == "SAMETERM"
                        else ("str", _langmatches))
            fa, fb = self.fn(args[0], want), self.fn(args[1], want)

            def two(r):
                a, b = fa(r), fb(r)
                return None if a is None or b is None else op(a, b)
            return two
        if fn == "REGEX":
            fv = self.fn(args[0], "str")
            pat = string_value(args[1][1])
            flags = re.I if len(args) > 2 and "i" in string_value(
                args[2][1]) else 0

            def regex(r):
                v = fv(r)
                # error propagates (Spark: rlike(null) is null)
                return None if v is None else re.search(
                    pat, str(v), flags) is not None
            return regex
        state = self.state
        if fn == "RAND":
            return lambda r: random.random()
        if fn == "NOW":
            def now(r):
                if "now" not in state:
                    state["now"] = (
                        '"' + time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
                        + 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>')
                return state["now"]
            return now
        if fn == "UUID":
            return lambda r: f"<urn:uuid:{uuid.uuid4()}>"
        if fn == "STRUUID":
            return lambda r: str(uuid.uuid4())
        if fn == "BNODE" and not args:
            def fresh(r):
                state["bnode"] = state.get("bnode", -1) + 1
                return f"_:bn{state['bnode']}"
            return fresh
        fv = self.fn(args[0], "str" if fn == "BNODE" else "term")
        if fn == "BNODE":
            def bnode(r):
                s = fv(r)
                return None if s is None else "_:bh" + hashlib.md5(
                    str(s).encode("utf-8")).hexdigest()
            return bnode
        if fn == "BOUND":
            return lambda r: fv(r) is not None
        op = _TERM_OPS.get(fn)
        if op is term_lex:  # STR; term_lex(None) is None
            if args[0][0] in ("var", "const"):
                return self.fn(args[0], "str")  # the same lexical form
            return lambda r: term_lex(fv(r))
        if op is not None:
            def unary(r):
                v = fv(r)
                return None if v is None else op(v)
            return unary
        if fn in _PAIR_OPS:
            op, fb = _PAIR_OPS[fn], self.fn(args[1], "str")
            b = fb({}) if args[1][0] in ("const", "num") else None
            if b is not None:
                def with_constant(r):
                    v = fv(r)
                    return None if v is None else op(term_lex(v), b)
                return with_constant

            def pair(r):
                v = fv(r)
                if v is None:
                    return None
                b = fb(r)
                return None if b is None else op(term_lex(v), b)
            return pair
        if fn == "SUBSTR":
            fs = [self.fn(a, "num") for a in args[1:]]

            def substr(r):
                v = fv(r)
                if v is None:
                    return None
                s_ = str(term_lex(v))
                bounds = [f(r) for f in fs]
                if any(n is None for n in bounds):
                    return None
                start = max(int(bounds[0]), 1)
                if len(bounds) > 1:
                    return s_[start - 1:start - 1 + max(int(bounds[1]), 0)]
                return s_[start - 1:]
            return substr
        if fn == "REPLACE":
            pat = string_value(args[1][1])
            # Java-style $n group refs (what regexp_replace uses) -> Python
            rep = re.sub(r"\$(\d)", r"\\\1", string_value(args[2][1]))
            flags = (re.I if len(args) > 3 and "i" in string_value(
                args[3][1]) else 0)

            def replace(r):
                v = fv(r)
                return None if v is None else re.sub(
                    pat, rep, str(term_lex(v)), flags=flags)
            return replace

        def unsupported(r):
            if fv(r) is not None:
                raise SparqlError(f"unsupported function {fn}")
        return unsupported


def _solutions(row: dict, fresh: dict, cands) -> list[dict]:
    """One solution per candidate triple: ``row`` plus each variable of
    ``fresh`` (variable -> position) bound to the triple's term there,
    built as one dict."""
    items = list(fresh.items())
    if len(items) == 1:
        (a, i), = items
        if not row:
            return [{a: t[i]} for t in cands]
        return [{**row, a: t[i]} for t in cands]
    if len(items) == 2:
        (a, i), (b, j) = items
        if not row:
            return [{a: t[i], b: t[j]} for t in cands]
        return [{**row, a: t[i], b: t[j]} for t in cands]
    if not items:
        return [dict(row) for _ in cands]
    names, get = list(fresh), itemgetter(*fresh.values())
    return [{**row, **dict(zip(names, get(t)))} for t in cands]


class _LocalEval:
    """Evaluates parsed groups over in-memory triples: (s, p, o) or
    (s, p, o, g) tuples, g None for the default graph.

    A pattern with a bound subject, object or predicate looks its triples
    up in a hash index on that position (``index``: position -> {term:
    [triple, ...]}). A one-shot evaluator builds an index only when a
    pattern meets more than one input row, or a path steps through it; a
    single row filters the triples on that position in one pass, which
    costs less than building the index. A served twin builds all three up
    front (``indexed``) and keeps them current through ``add``/``discard``.

    Each pattern is planned once per input row: its positions are sorted
    into the one the index fixed, those that must equal a constant or a
    bound value, those that bind a fresh variable and those that repeat
    one, and each solution is built as one dict. Expressions run as the
    closures of the query's ``_Plan``. The evaluator keeps no per-query
    state, so a twin serves any number of queries unchanged."""

    def __init__(self, triples, from_graphs: list | None = None,
                 from_named: list | None = None, *,
                 index: dict | None = None):
        self.triples = triples
        self.index = {} if index is None else index
        # pre-bound variables (SHACL's $this): the start row of the query
        # and of every group evaluated bottom-up inside it
        self.seed: dict = {}
        # FROM/FROM NAMED twin of _SqlCompiler: dataset clause replaces the
        # store's dataset (see the SQL compiler for the semantics)
        if from_graphs is not None or from_named is not None:
            fg = set(from_graphs or ())
            # RDF merge = triple SET across the FROM graphs (mirrors the
            # SQL compiler's distinct default graph)
            self.default_triples = sorted({
                t[:3] for t in triples if len(t) > 3 and t[3] in fg
            })
            self.default_index: dict = {}
            self.named_set: set | None = set(from_named or ())
        else:
            self.default_triples = triples
            self.default_index = self.index
            self.named_set = None

    def indexed(self) -> "_LocalEval":
        for pos in range(3):
            self._lookup(self.index, self.triples, pos, True)
        return self

    def dataset(self, from_graphs, from_named) -> "_LocalEval":
        """This evaluator under a query's dataset clause, sharing the
        triples and their indexes."""
        if from_graphs is None and from_named is None:
            return self
        return _LocalEval(self.triples, from_graphs, from_named,
                          index=dict(self.index))

    def add(self, t: tuple) -> None:
        """Assert ``t`` into a twin whose ``triples`` is a dict."""
        if t not in self.triples:
            self.triples[t] = None
            for pos, idx in self.index.items():
                idx.setdefault(t[pos], []).append(t)

    def discard(self, t: tuple) -> None:
        if self.triples.pop(t, False) is None:
            for pos, idx in self.index.items():
                bucket = idx[t[pos]]
                bucket.remove(t)
                if not bucket:
                    del idx[t[pos]]

    @staticmethod
    def _lookup(index: dict, src, pos: int, build: bool) -> dict | None:
        """The hash index of ``src`` on ``pos``; None when it is not built
        and ``build`` is false."""
        idx = index.get(pos)
        if idx is None and build:
            idx = index[pos] = {}
            for t in src:
                idx.setdefault(t[pos], []).append(t)
        return idx

    def _scope(self, graph) -> tuple:
        """(triples, index) a pattern in ``graph`` ranges over."""
        if graph is None:
            return self.default_triples, self.default_index
        return self.triples, self.index

    def pattern(self, s, p, o, graph, rows: list[dict]) -> list[dict]:
        src, index = self._scope(graph)
        atoms = (s, p, o) if graph is None else (s, p, o, graph)
        named = self.named_set
        out: list[dict] = []
        for row in rows:
            fixed: dict = {}  # position -> the term it must hold
            fresh: dict = {}  # variable -> the position that binds it
            same = []  # (position, position) holding one variable
            for pos, (kind, name) in enumerate(atoms):
                v = name if kind == "term" else row.get(name)
                if v is not None:
                    fixed[pos] = v
                elif name in fresh:
                    same.append((fresh[name], pos))
                else:
                    fresh[name] = pos
            cands = src
            for pos in (0, 2, 1):
                if pos in fixed:
                    v = fixed.pop(pos)
                    idx = self._lookup(index, src, pos, len(rows) > 1)
                    cands = (idx.get(v, ()) if idx is not None
                             else [t for t in src if t[pos] == v])
                    break
            if graph is not None:
                cands = [t for t in cands if len(t) > 3 and t[3] is not None
                         and (named is None or t[3] in named)]
            if fixed:
                get, want = itemgetter(*fixed), tuple(fixed.values())
                if len(want) == 1:
                    want = want[0]
                cands = [t for t in cands if get(t) == want]
            for i, j in same:
                cands = [t for t in cands if t[i] == t[j]]
            out += _solutions(row, fresh, cands)
        return out

    # -- property paths (the pairs of _SqlCompiler._path_pairs) -------------
    def _named_graphs(self) -> list[str]:
        return sorted({
            t[3] for t in self.triples
            if len(t) > 3 and t[3] is not None
            and (self.named_set is None or t[3] in self.named_set)
        })

    def _graph_terms(self, graph) -> set:
        """The subjects and objects of ``graph`` (None or a term): the
        starts of a path that binds neither end."""
        src, index = self._scope(graph)
        if graph is None:
            return (self._lookup(index, src, 0, True).keys()
                    | self._lookup(index, src, 2, True).keys())
        g = graph[1]
        if self.named_set is not None and g not in self.named_set:
            return set()
        return {x for t in src if len(t) > 3 and t[3] == g
                for x in (t[0], t[2])}

    def _touch(self, pos: int, graph):
        """x -> the triples of ``graph`` (None or a term) with ``x`` at
        ``pos``, through the index on ``pos``."""
        src, index = self._scope(graph)
        get = self._lookup(index, src, pos, True).get
        if graph is None:
            return lambda x: get(x, ())
        g = graph[1]
        if self.named_set is not None and g not in self.named_set:
            return lambda x: ()
        return lambda x: [t for t in get(x, ()) if len(t) > 3 and t[3] == g]

    def _reach(self, ast, starts, graph, fwd: bool) -> dict:
        """{start: {end, ...}}: the pairs of path ``ast`` in ``graph``
        that leave each of ``starts`` (``fwd``) or arrive at it, as the
        other ends. It steps the path from the starts through the subject
        and object indexes, so its cost follows the paths taken, not the
        store."""
        tag = ast[0]
        if tag in ("p", "nps"):
            pos, end, p = (0, 2, ast[1]) if fwd else (2, 0, ast[1])
            touch = self._touch(pos, graph)
            if tag == "p":
                return {x: {t[end] for t in touch(x) if t[1] == p}
                        for x in starts}
            return {x: {t[end] for t in touch(x) if t[1] not in p}
                    for x in starts}
        if tag == "inv":
            return self._reach(ast[1], starts, graph, not fwd)
        if tag == "seq":
            elts = ast[1] if fwd else ast[1][::-1]
            cur = self._reach(elts[0], starts, graph, fwd)
            for elt in elts[1:]:
                step = self._reach(elt, set().union(*cur.values()), graph, fwd)
                cur = {x: set().union(*map(step.__getitem__, mids))
                       for x, mids in cur.items()}
            return cur
        if tag == "alt":
            out = {x: set() for x in starts}
            for elt in ast[1]:
                for x, ends in self._reach(elt, starts, graph, fwd).items():
                    out[x] |= ends
            return out
        if tag == "opt":
            out = self._reach(ast[1], starts, graph, fwd)
        elif tag in ("plus", "star"):
            # one step from every term the starts reach, taken a whole
            # frontier at a time; then each start's closure over it
            step: dict = {}
            frontier = set(starts)
            while frontier:
                step.update(self._reach(ast[1], frontier, graph, fwd))
                frontier = set().union(
                    *map(step.__getitem__, frontier)).difference(step)
            out = {}
            for x in starts:
                seen, frontier = set(), step[x]
                while frontier:
                    seen |= frontier
                    frontier = set().union(
                        *map(step.__getitem__, frontier)) - seen
                out[x] = seen
        else:
            raise SparqlError(f"bad path {ast!r}")
        if tag != "plus":
            # the zero-length path: a term of the graph reaches itself
            subj, obj = self._touch(0, graph), self._touch(2, graph)
            for x in starts:
                if subj(x) or obj(x):
                    out[x].add(x)
        return out

    def path_rows(self, s, ast, o, graph, rows: list[dict]) -> list[dict]:
        if graph is None or graph[0] == "term":
            return self._path_in(s, ast, o, graph, rows)
        # GRAPH ?var: each named graph's path relation is independent (the
        # SQL twin keys its joins on __g for the same effect); a row joins
        # a graph by binding ?var to it, or by having it bound to it
        gv = graph[1]
        out = []
        for gname in self._named_graphs():
            scoped = [r if r.get(gv) is not None else {**r, gv: gname}
                      for r in rows if r.get(gv) in (None, gname)]
            out += self._path_in(s, ast, o, ("term", gname), scoped)
        return out

    def _path_in(self, s, ast, o, graph, rows: list[dict]) -> list[dict]:
        """``path_rows`` in one graph scope. The path is stepped once from
        the values its bound end takes, a constant or the values the rows
        bind (``_reach``), and each row looks its value up; a constant end
        is preferred. A row that binds neither end takes the path stepped
        from every term of the graph."""
        reach: dict = {}

        def ends(fwd: bool, v) -> set:
            if fwd not in reach:
                kind, name = s if fwd else o
                starts = ({name} if kind == "term" else
                          {r.get(name) for r in rows} - {None})
                reach[fwd] = self._reach(ast, starts, graph, fwd)
            return reach[fwd][v]

        forward = s[0] == "term" or o[0] != "term"
        pairs = None
        out = []
        for row in rows:
            sv = s[1] if s[0] == "term" else row.get(s[1])
            ov = o[1] if o[0] == "term" else row.get(o[1])
            if sv is not None and (ov is None or forward):
                found = ends(True, sv)
                if ov is None:
                    out += [{**row, o[1]: y} for y in found]
                elif ov in found:
                    out.append(dict(row))
            elif ov is not None:
                found = ends(False, ov)
                if sv is None:
                    out += [{**row, s[1]: x} for x in found]
                elif sv in found:
                    out.append(dict(row))
            else:
                if pairs is None:
                    pairs = self._reach(ast, self._graph_terms(graph), graph,
                                        True)
                if s[1] == o[1]:
                    out += [{**row, s[1]: x} for x, ys in pairs.items()
                            if x in ys]
                else:
                    out += [{**row, s[1]: x, o[1]: y}
                            for x, ys in pairs.items() for y in ys]
        return out

    def group(self, g: Group, rows: list[dict], graph=None,
              plan: _Plan | None = None) -> list[dict]:
        if plan is None:
            plan = _Plan()
        filters = []
        for item in g.items:
            tag = item[0]
            if tag == "triple":
                if item[2][0] == "path":
                    rows = self.path_rows(item[1], item[2][1], item[3], graph, rows)
                else:
                    rows = self.pattern(item[1], item[2], item[3], graph, rows)
            elif tag == "filter":
                filters.append(item[1])
            elif tag == "optional":
                rows = _left_join(
                    rows, self.group(item[1], [self.seed], graph, plan))
            elif tag == "exists":
                rows = [
                    row for row in rows
                    if bool(self.group(item[1], [dict(row)], graph, plan))
                    == item[2]
                ]
            elif tag == "minus":
                rows = _left_join(
                    rows, self.group(item[1], [self.seed], graph, plan),
                    anti=True)
            elif tag == "union":
                nxt = []
                for b in item[1]:
                    nxt.extend(self.group(b, rows, graph, plan))
                rows = nxt
            elif tag == "graph":
                rows = self.group(item[2], rows, item[1], plan)
            elif tag == "subquery":
                # bottom-up: the subquery never sees outer bindings; its
                # projected solutions join on the shared variables. A native
                # numeric (aggregate output) against a term string compares
                # on the term's numeric value, mirroring the SQL join.
                sub = item[1]
                sols = _apply_select_local(
                    plan, sub, self.group(sub.where, [{}], graph, plan))

                def _veq(a, b):
                    if a == b:
                        return True
                    if isinstance(a, (int, float)) != isinstance(b, (int, float)):
                        na, nb = term_num(a), term_num(b)
                        return na is not None and na == nb
                    return False

                nxt = []
                for row in rows:
                    for s in sols:
                        shared = [k for k in row
                                  if k in s and row[k] is not None
                                  and s[k] is not None]
                        if all(_veq(row[k], s[k]) for k in shared):
                            # outer (term-form) value wins on shared keys,
                            # like the SQL join keeping the outer column
                            merged = {k: v for k, v in s.items()
                                      if v is not None}
                            for k, v in row.items():
                                if v is not None or k not in merged:
                                    merged[k] = v
                            nxt.append(merged)
                rows = nxt
            elif tag == "bind":
                # fresh dicts: row objects may be aliased across UNION
                # branches / OPTIONAL pass-throughs
                f, var = plan.fn(item[1], "term"), item[2]
                rows = [{**row, var: f(row)} for row in rows]
            elif tag == "values":
                vars_, vrows = item[1], item[2]
                nxt = []
                for row in rows:
                    for vr in vrows:
                        nb: dict = {}
                        ok = True
                        for var, val in zip(vars_, vr):
                            if val is None:  # UNDEF constrains nothing
                                continue
                            bound = nb.get(var, row.get(var))
                            if bound is not None:
                                if bound != val:
                                    ok = False
                                    break
                            else:
                                nb[var] = val
                        if ok:
                            nxt.append({**row, **nb})
                rows = nxt
        for f in filters:
            keep = plan.fn(f)
            rows = [r for r in rows if keep(r)]
        return rows


def _row_keys(rows: list[dict], names) -> list[tuple]:
    """Each row's values of ``names``, None where unbound, as one tuple
    per row: the hash keys of a join, a GROUP BY or DISTINCT. The tuples
    are zipped from one column per name, not built row by row."""
    if not names:
        return [()] * len(rows)
    return list(zip(*[map(dict.get, rows, repeat(n)) for n in names]))


def _left_join(rows: list[dict], sols: list[dict], *,
               anti: bool = False) -> list[dict]:
    """``rows`` LEFT JOIN, or with ``anti`` LEFT ANTI JOIN, ``sols``
    on the variables both sides bind, as ``_SqlCompiler.group`` joins
    OPTIONAL and MINUS with USING: the solutions are hashed once on those
    variables and an unbound one matches nothing. With no shared variable
    a left join is a cross product and MINUS removes nothing (§8.3). A row
    that OPTIONAL does not extend carries the inner variables unbound."""
    rvars = set().union(*sols)
    shared = sorted(rvars & set().union(*rows))
    if anti and not shared:
        return rows
    keys = _row_keys(rows, shared)
    wanted = {k for k in keys if None not in k}
    # only the solutions some row can meet are hashed
    table: dict = {}
    for s, k in zip(sols, _row_keys(sols, shared)):
        if k in wanted:
            table.setdefault(k, []).append(s)
    unbound = dict.fromkeys(rvars)
    out = []
    for r, k in zip(rows, keys):
        hits = table.get(k, ())
        if anti:
            if not hits:
                out.append(r)
        elif hits:
            out.extend({**r, **s} for s in hits)
        else:
            out.append({**unbound, **r})
    return out


def _agg_values(plan: _Plan, arg, want: str):
    """The function from a group's member rows to ``arg``'s values, None
    where it is unbound or an error."""
    if arg[0] == "var" and want == "term":
        return lambda members: list(map(dict.get, members, repeat(arg[1])))
    f = plan.fn(arg, want)
    return lambda members: list(map(f, members))


def _aggregate(plan: _Plan, s: Agg):
    """The function from a group's member rows to aggregate ``s``."""
    if s.func == "count" and s.arg is None:
        return len
    values = _agg_values(plan, s.arg, {"group_concat": "str", "count": "term",
                                       "sample": "term"}.get(s.func, "num"))
    if s.func == "count":
        def count(members):
            vals = [v for v in values(members) if v is not None]
            return len(set(vals)) if s.distinct else len(vals)
        return count
    if s.func == "group_concat":
        def group_concat(members):
            vals = [str(v) for v in values(members) if v is not None]
            return s.sep.join(sorted(set(vals) if s.distinct else vals))
        return group_concat
    if s.func == "sample":
        def sample(members):
            vals = [v for v in values(members) if v is not None]
            return min(vals) if vals else None
        return sample
    reduce = {"sum": sum, "avg": lambda ns: sum(ns) / len(ns), "min": min,
              "max": max}[s.func]

    def numeric(members):
        nums = [n for n in values(members) if n is not None]
        return reduce(nums) if nums else None
    return numeric


def _apply_select_local(plan: _Plan, q: Query, rows: list[dict]) -> list[dict]:
    """Aggregates, projection, DISTINCT and solution modifiers over solved
    bindings — shared by sparql_eval_local and local subquery evaluation
    (mirrors _SqlCompiler.select)."""
    aggs = [(s.alias, _aggregate(plan, s)) for s in q.select
            if isinstance(s, Agg)]
    if aggs or q.group_by:
        # without GROUP BY the solutions form one group, even none of them
        keys = q.group_by
        groups: dict = {(): rows} if not keys else defaultdict(list)
        if keys:
            for r, key in zip(rows, _row_keys(rows, keys)):
                groups[key].append(r)
        rows = []
        for key, members in groups.items():
            row = dict(zip(keys, key))
            for alias, agg in aggs:
                row[alias] = agg(members)
            rows.append(row)
        if q.having is not None:
            keep = plan.fn(q.having)
            rows = [r for r in rows if keep(r)]
        sel = [s[1] if not isinstance(s, Agg) else s.alias for s in q.select] \
            or (q.group_by + [alias for alias, _ in aggs])
    else:
        sel = [s[1] for s in q.select] if q.select else sorted(
            {k for r in rows for k in r}
        )
    rows = [{v: r.get(v) for v in sel} for r in rows]
    if q.distinct:
        seen = set()
        uniq = []
        for r, key in zip(rows, _row_keys(rows, sel)):
            if key not in seen:
                seen.add(key)
                uniq.append(r)
        rows = uniq
    return _slice_local(rows, q)


def _slice_local(rows: list[dict], q: Query) -> list[dict]:
    """ORDER BY, OFFSET and LIMIT over solved rows (OFFSET applies before
    LIMIT, as in SPARQL)."""
    for var, asc in reversed(q.order_by):
        # unbound sorts lowest (spec; Spark ASC = NULLS FIRST)
        try:
            rows.sort(key=lambda r: (r.get(var) is not None, r.get(var)),
                      reverse=not asc)
        except TypeError as e:
            raise SparqlError(f"ORDER BY ?{var} over numbers and terms") from e
    if q.offset:
        rows = rows[q.offset:]
    if q.limit is not None:
        rows = rows[: q.limit]
    return rows


def sparql_eval_local(
    triples: list[tuple],
    text: str | Query,
    bindings: dict[str, str] | None = None,
) -> list[dict]:
    """Evaluate a SPARQL SELECT over an in-memory triple list (3- or
    4-tuples). ``bindings`` pre-binds variables (SHACL's $this); ``text``
    may be a pre-parsed Query so per-focus-node callers parse and compile
    once. Returns a list of {var: term} dicts restricted to the SELECT
    list, in a deterministic order."""
    q = text if isinstance(text, Query) else parse_sparql(text)
    ev = _LocalEval(triples, q.from_graphs, q.from_named)
    ev.seed = dict(bindings or {})
    return _eval_local(ev, q)


def _eval_local(ev: _LocalEval, q: Query) -> list[dict]:
    """``q``'s rows from an evaluator already scoped to its dataset."""
    plan = q.plan
    plan.state.clear()
    if q.describe is not None:
        nodes = {a[1] for a in q.describe if a[0] == "term"}
        if any(a[0] == "var" for a in q.describe):
            sol = ev.group(q.where, [ev.seed], None, plan)
            for a in q.describe:
                if a[0] == "var":
                    nodes |= {r[a[1]] for r in sol if r.get(a[1]) is not None}
        out = sorted({(t[0], t[1], t[2]) for t in ev.default_triples
                      if t[0] in nodes})
        return [dict(zip(("subj", "pred", "obj"), t)) for t in out]
    rows = ev.group(q.where, [ev.seed], None, plan)
    if q.ask:
        return [{"ask": bool(rows)}]
    if q.construct is not None:
        rows = _slice_local(rows, q)
        seen = set()
        out = []
        for r in rows:
            for _, s, p, o in q.construct:
                vals = tuple(
                    a[1] if a[0] == "term" else r.get(a[1]) for a in (s, p, o)
                )
                if None in vals or vals in seen:
                    continue
                seen.add(vals)
                out.append(dict(zip(("subj", "pred", "obj"), vals)))
        return out
    return _apply_select_local(plan, q, rows)


def _computed_vars(g: Group) -> set:
    """Variables a BIND or a subquery aggregate may bind to a number or a
    boolean, where every other variable binds terms."""
    out: set = set()
    for item in g.items:
        tag = item[0]
        if tag == "bind":
            out.add(item[2])
        elif tag == "subquery":
            out |= {s.alias for s in item[1].select if isinstance(s, Agg)}
            out |= _computed_vars(item[1].where)
        elif tag in ("optional", "exists", "minus"):
            out |= _computed_vars(item[1])
        elif tag == "union":
            for b in item[1]:
                out |= _computed_vars(b)
        elif tag == "graph":
            out |= _computed_vars(item[2])
    return out


def _expr_vars(e) -> set:
    if e[0] == "var":
        return {e[1]}
    out: set = set()
    for a in e[1:]:
        for x in a if isinstance(a, list) else [a]:
            if isinstance(x, tuple):
                out |= _expr_vars(x)
    return out


def _scoped(g: Group, graph=None,
            outer: frozenset = frozenset()) -> tuple[set, set]:
    """``(scope, maybe)``: the variables ``g``'s solutions carry, as the
    SQL compiler's columns, and those a solution may leave unbound.

    Raises SparqlError where the local evaluator and the SQL statement
    part ways. One case is a join on a variable that may be unbound: SQL's
    USING and equality match no NULL, while the local evaluator treats an
    unbound variable as compatible with any value. Another is a join on a
    variable of ``outer``, which the local evaluator has bound when it
    evaluates a UNION, GRAPH or EXISTS group with the enclosing rows in
    view; its OPTIONAL, MINUS and subquery joins then also match on that
    variable, where SQL joins the group's own columns. The last is a
    FILTER or BIND naming a variable its group does not bind, which SQL
    cannot resolve."""
    scope: set = set()
    maybe: set = set()
    filters = []
    for item in g.items:
        tag = item[0]
        if tag == "filter":
            filters.append(item[1])
            continue
        if tag == "bind":
            if not _expr_vars(item[1]) <= scope:
                raise SparqlError("BIND names a variable out of scope")
            scope.add(item[2])
            maybe.add(item[2])  # an expression error leaves it unbound
            continue
        if tag == "triple":
            atoms = [item[1], item[3], *([graph] if graph else [])]
            if item[2][0] != "path":
                atoms.append(item[2])
            vs, mb = {a[1] for a in atoms if a[0] == "var"}, set()
        elif tag == "graph":
            vs, mb = _scoped(item[2], item[1], outer | scope)
        elif tag == "exists":
            vs, mb = _scoped(item[1], graph, outer | scope)
        elif tag == "union":
            parts = [_scoped(b, graph, outer | scope) for b in item[1]]
            vs = set().union(*(p[0] for p in parts))
            mb = set().union(*(p[1] | (vs - p[0]) for p in parts))
        elif tag == "values":
            vs = set(item[1])
            mb = {v for i, v in enumerate(item[1])
                  if any(r[i] is None for r in item[2])}
        else:  # optional, minus and subquery join bottom-up
            vs, mb = (_projected(item[1], graph) if tag == "subquery"
                      else _scoped(item[1], graph))
            if vs & (outer - scope):
                raise SparqlError("a join on an enclosing group's variable")
        if scope & vs & (maybe | mb):
            raise SparqlError("a join on a variable that may be unbound")
        if tag in ("exists", "minus"):
            continue
        maybe |= mb | (vs - scope if tag == "optional" else set())
        scope |= vs
    if not all(_expr_vars(f) <= scope for f in filters):
        raise SparqlError("FILTER names a variable out of scope")
    return scope, maybe


def _projected(q: Query, graph=None) -> tuple[set, set]:
    """``_scoped`` for the solutions ``q`` projects."""
    scope, maybe = _scoped(q.where, graph)
    aggs = {s.alias: s for s in q.select if isinstance(s, Agg)}
    if not all(_expr_vars(a.arg) <= scope for a in aggs.values()
               if a.arg is not None):
        raise SparqlError("an aggregate names a variable out of scope")
    cols = [s.alias if isinstance(s, Agg) else s[1]
            for s in q.select] or q.group_by
    if not cols:
        return scope, maybe
    return set(cols), {
        c for c in cols if c in aggs and aggs[c].func not in
        ("count", "group_concat") or c not in aggs and (
            c in maybe or c not in scope)}


def _answer_local(spark, ev: _LocalEval, q: Query,
                  graph_col: str | None) -> tuple[DataFrame, int]:
    """``(df, rows)``: ``q`` answered by ``ev`` as a DataFrame over a
    ``pyarrow.Table`` of ``rows`` rows. Spark plans it as a
    LocalTableScan, so neither building nor collecting it runs a job (a
    list of rows would plan a Scan ExistingRDD). Its columns
    are named and typed as the SQL path's:
    variables and SAMPLE by their values (string for terms), GROUP_CONCAT
    string, COUNT bigint, SUM, AVG, MIN and MAX double, ASK one boolean
    ``ask``, CONSTRUCT and DESCRIBE subj/pred/obj. Raises SparqlError for a query the SQL compiler
    rejects, for one whose answer the two evaluators may not agree on
    (``_projected``), for one that calls REGEX or REPLACE (Python's
    ``re`` and the Java regex behind RLIKE disagree on ``\\w``, case
    folding and syntax), and when the rows cannot say which type the SQL
    path would give a column."""
    import pyarrow as pa

    if q.calls & {"REGEX", "REPLACE"}:
        raise SparqlError("REGEX and REPLACE run as Java regex, in SQL")
    _projected(q)
    # compiling checks the query as the SQL path does and names its
    # columns; it runs nothing
    comp = _SqlCompiler(spark, {}, graph_col, q.from_graphs, q.from_named)
    if q.describe is not None:
        comp.describe(q)
    else:
        rel = comp.group(q.where)
    rows = _eval_local(ev.dataset(q.from_graphs, q.from_named), q)
    types = {str: pa.string(), float: pa.float64(), int: pa.int64(),
             bool: pa.bool_()}
    if q.ask:
        fields = [pa.field("ask", pa.bool_(), False)]
    elif q.describe is not None or q.construct is not None:
        # a column is non-null when every template triple fixes it
        fixed = [q.construct is not None
                 and all(t[i][0] == "term" for t in q.construct)
                 for i in (1, 2, 3)]
        fields = [pa.field(c, pa.string(), not f)
                  for c, f in zip(("subj", "pred", "obj"), fixed)]
    else:
        cols = comp.select(rel, q)[1]
        aggs = {s.alias: s.func for s in q.select if isinstance(s, Agg)}
        computed = _computed_vars(q.where)
        # SAMPLE is typed by its values, like a variable; over anything
        # but a term variable it may be a number
        computed |= {s.alias for s in q.select if isinstance(s, Agg)
                     and s.func == "sample" and not (
                         s.arg[0] == "var" and s.arg[1] not in computed)}
        fields = []
        for c in cols:
            func = aggs.get(c)
            if func == "count":
                fields.append(pa.field(c, pa.int64(), False))
            elif func == "group_concat":
                fields.append(pa.field(c, pa.string(), False))
            elif func in ("sum", "avg", "min", "max"):
                fields.append(pa.field(c, pa.float64()))
            else:
                kinds = {type(r[c]) for r in rows if r.get(c) is not None}
                if len(kinds) > 1 or (not kinds and c in computed):
                    raise SparqlError(f"no single column type for ?{c}")
                fields.append(pa.field(
                    c, types[kinds.pop()] if kinds else pa.string()))
    if not fields:
        # a query without variables keeps its rows but no columns
        unit = pa.table({"__unit": pa.array([1] * len(rows), pa.int8())})
        return spark.createDataFrame(unit).select(), len(rows)
    schema = pa.schema(fields)
    table = pa.table({c: [r.get(c) for r in rows] for c in schema.names},
                     schema=schema)
    return spark.createDataFrame(table), len(rows)


# ---------------------------------------------------------------------------
# W3C SPARQL 1.1 Query Results JSON (application/sparql-results+json)
# ---------------------------------------------------------------------------


def _term_json(v) -> dict:
    """One RDF term (N-Triples string or native value from an aggregate)
    -> the W3C results-JSON binding object."""
    from .functions.ntriples import unescape_literal

    if isinstance(v, bool):
        return {"type": "literal", "value": "true" if v else "false",
                "datatype": "http://www.w3.org/2001/XMLSchema#boolean"}
    if isinstance(v, int):
        return {"type": "literal", "value": str(v),
                "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
    if isinstance(v, float):
        return {"type": "literal", "value": repr(v),
                "datatype": "http://www.w3.org/2001/XMLSchema#double"}
    if v.startswith("<") and v.endswith(">"):
        return {"type": "uri", "value": v[1:-1]}
    if v.startswith("_:"):
        return {"type": "bnode", "value": v[2:]}
    if v.startswith('"'):
        out: dict = {"type": "literal",
                     "value": unescape_literal(term_lex(v))}
        lang = term_lang(v)
        if lang:
            out["xml:lang"] = lang
        else:
            dt = term_datatype(v)
            if dt and dt != XSD_STRING:
                out["datatype"] = dt
        return out
    # plain strings from GROUP_CONCAT etc.
    return {"type": "literal", "value": v}


def sparql_results_json(df: DataFrame, *, limit: int | None = None) -> dict:
    """Collect a SPARQL result DataFrame into the W3C SPARQL 1.1 Query
    Results JSON structure (driver-side — results are the small end of a
    query; cap with ``limit`` when exposing big relations)."""
    cols = df.columns
    # ASK results are exactly one BOOLEAN column named 'ask' — a SELECT
    # projecting a VARIABLE ?ask yields a string column and must not hit
    # this branch
    if _is_ask(df):
        row = df.first()
        return {"head": {}, "boolean": bool(row["ask"]) if row else False}
    if limit is not None:
        df = df.limit(limit)
    bindings = [
        {c: _term_json(row[c]) for c in cols if row[c] is not None}
        for row in df.collect()
    ]
    return {"head": {"vars": cols}, "results": {"bindings": bindings}}


def _is_ask(df: DataFrame) -> bool:
    return (df.columns == ["ask"]
            and str(df.schema["ask"].dataType) == "BooleanType()")


def _term_csv(v) -> str:
    """One term -> the W3C results-CSV field: lexical value only (IRIs
    without angle brackets, literals without quoting/tags, bnodes kept as
    _:label); RFC 4180 quoting is the writer's job."""
    from .functions.ntriples import unescape_literal

    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v) if isinstance(v, float) else str(v)
    if v.startswith("<") and v.endswith(">"):
        return v[1:-1]
    if v.startswith('"'):
        return unescape_literal(term_lex(v))
    return v  # bnodes and plain strings from GROUP_CONCAT etc.


def _term_tsv(v) -> str:
    """One term -> the W3C results-TSV field: full N-Triples syntax
    (already the engine's native representation), with native aggregate
    values rendered as the grammar's unquoted numeric/boolean literals or
    a canonical typed literal for doubles."""
    from .functions.ntriples import canonical_double, escape_literal

    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return (f'"{canonical_double(v)}"'
                '^^<http://www.w3.org/2001/XMLSchema#double>')
    if v.startswith("<") or v.startswith("_:") or v.startswith('"'):
        return v  # N-Triples terms embed no raw tabs/newlines (escaped)
    return f'"{escape_literal(v)}"'


def sparql_results_csv(df: DataFrame, *, limit: int | None = None) -> str:
    """Collect a SELECT result into the W3C SPARQL 1.1 Query Results CSV
    format (RFC 4180: CRLF rows, minimal quoting). The CSV/TSV formats
    cannot carry boolean ASK results — callers must use JSON for those."""
    import csv
    import io

    if _is_ask(df):
        raise SparqlError("ASK results are not expressible in CSV/TSV; "
                          "use the JSON results format")
    if limit is not None:
        df = df.limit(limit)
    cols = df.columns
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerow(cols)
    for row in df.collect():
        w.writerow([_term_csv(row[c]) for c in cols])
    return buf.getvalue()


def sparql_results_nt(df: DataFrame, *, limit: int | None = None) -> str:
    """Serialize a CONSTRUCT/DESCRIBE result (subj, pred, obj — already
    N-Triples terms) as N-Triples text, sorted for determinism."""
    if df.columns != ["subj", "pred", "obj"]:
        raise SparqlError(
            "N-Triples output requires a CONSTRUCT/DESCRIBE result "
            f"(subj, pred, obj), got columns {df.columns}")
    if limit is not None:
        df = df.limit(limit)
    lines = sorted(f"{r.subj} {r.pred} {r.obj} ." for r in df.collect())
    return "\n".join(lines) + ("\n" if lines else "")


def sparql_results_tsv(df: DataFrame, *, limit: int | None = None) -> str:
    """Collect a SELECT result into the W3C SPARQL 1.1 Query Results TSV
    format: ?-prefixed header, full N-Triples term syntax per field."""
    if _is_ask(df):
        raise SparqlError("ASK results are not expressible in CSV/TSV; "
                          "use the JSON results format")
    if limit is not None:
        df = df.limit(limit)
    cols = df.columns
    lines = ["\t".join("?" + c for c in cols)]
    for row in df.collect():
        lines.append("\t".join(_term_tsv(row[c]) for c in cols))
    return "\n".join(lines) + "\n"


def write_results(df: DataFrame, path: str, *, format: str = "csv",
                  mode: str = "overwrite") -> None:
    """Distributed SPARQL result writer (VERDICT r4 task #5): stream a
    SELECT result to shards of W3C results-CSV/TSV, or a CONSTRUCT/
    DESCRIBE result to N-Triples shards, via ``df.write`` — no driver
    ``collect()``, so a CONSTRUCT feeding a bulk export scales with the
    cluster instead of the driver heap. The in-memory serializers above
    stay as the CLI/report surface for small results.

    Rendering parity: N-Triples lines are assembled entirely JVM-side
    (the engine's native term representation IS N-Triples). CSV/TSV rows
    are rendered by ONE ``mapInArrow`` pass that reuses the
    exact per-term functions of the collected serializers (``_term_csv`` /
    ``_term_tsv``), so a written shard-set equals the collected output
    byte-for-byte on sorted data lines (pinned by test). Every shard is a
    standalone document: CSV/TSV shards each begin with the header row, so
    a downstream reader can consume any subset of shards independently.
    """
    if format == "nt":
        if df.columns != ["subj", "pred", "obj"]:
            raise SparqlError(
                "N-Triples output requires a CONSTRUCT/DESCRIBE result "
                f"(subj, pred, obj), got columns {df.columns}")
        line = F.concat_ws(" ", F.col("subj"), F.col("pred"), F.col("obj"),
                           F.lit("."))
        df.select(line.alias("value")).write.mode(mode).text(path)
        return
    if format not in ("csv", "tsv"):
        raise SparqlError(f"unknown results format {format!r}; "
                          "expected csv, tsv or nt")
    if _is_ask(df):
        raise SparqlError("ASK results are not expressible in CSV/TSV; "
                          "use the JSON results format")
    cols = df.columns
    is_csv = format == "csv"

    def render(batches):
        import csv as _csv
        import io as _io

        import pyarrow as _pa

        if is_csv:
            buf = _io.StringIO()
            # \r\n terminator so QUOTE_MINIMAL quotes embedded newlines
            # exactly like the collected serializer; the final \n is
            # stripped because the text sink appends it per record
            w = _csv.writer(buf, lineterminator="\r\n")

            def row_line(vals):
                buf.seek(0)
                buf.truncate()
                w.writerow([_term_csv(v) for v in vals])
                return buf.getvalue()[:-1]

            header = row_line(cols)
        else:
            def row_line(vals):
                return "\t".join(_term_tsv(v) for v in vals)

            header = "\t".join("?" + c for c in cols)
        yield _pa.RecordBatch.from_pydict({"value": [header]})
        for batch in batches:
            # to_pylist: Python-native values and None for nulls, so the
            # shared per-term renderers see exactly what the collected
            # serializers see from Row cells
            col_vals = [batch.column(c).to_pylist() for c in cols]
            lines = [row_line(vals) for vals in zip(*col_vals)] if cols else []
            yield _pa.RecordBatch.from_pydict({"value": _pa.array(lines, _pa.string())})

    (df.mapInArrow(render, schema="value string")
       .write.mode(mode).text(path))
