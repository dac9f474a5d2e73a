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
            DataFrame backend an UNDEF cell on a join-shared variable
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

- ``sparql_query(df, text)`` — DataFrame backend. Each triple pattern is a
  filtered projection of the quad table (constant positions become column
  predicates that push down to the parquet scan); each shared variable
  becomes an equi-join that Catalyst/AQE is free to reorder, broadcast, or
  skew-split. OPTIONAL compiles to a left join, UNION to unionByName,
  aggregates to a hash aggregate. At 100 TB this is the right shape: the
  plan is N filtered scans of one columnar table joined on term strings —
  no driver-side iteration, no per-row Python.
- ``sparql_eval_local(triples, text)`` — in-memory evaluator over one small
  graph (a per-document subgraph). Used by the SHACL engine for sh:sparql
  constraints (per-focus-node, inside mapInPandas) and by the test suite as
  an independent cross-check of the DataFrame compiler.

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
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from .operators.reasoner import _closure_local, transitive_closure

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


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}

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
            return ("call", fname, args)
        if kind == "NUM":
            self.i += 1
            return ("num", float(v) if "." in v else int(v))
        atom = self._term_atom()
        return atom if atom[0] == "var" else ("const", atom[1])


def parse_sparql(text: str) -> Query:
    return _Parser(text).parse()


# ---------------------------------------------------------------------------
# shared term helpers (python side)
# ---------------------------------------------------------------------------

_LIT_RE = re.compile(r'^"(.*)"(?:@([A-Za-z0-9-]+)|\^\^<([^<>]*)>)?$', re.S)


def term_lex(t):
    """Lexical form: IRI content, literal lexical form (raw), bnode label.
    Non-string values (numerics produced by BIND arithmetic / aggregates)
    pass through unchanged."""
    if not isinstance(t, str):
        return t
    if t.startswith("<") and t.endswith(">"):
        return t[1:-1]
    m = _LIT_RE.match(t)
    return m.group(1) if m else t


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
_DT_RE = (r"^(-?\d{4,})-(\d{2})-(\d{2})"
          r"(?:T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?))?"
          r"(Z|[+-]\d{2}:\d{2})?$")
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
# DataFrame backend
# ---------------------------------------------------------------------------

def _c_lex(c: Column) -> Column:
    # cast first: HAVING / post-aggregate references hand us native numeric
    # columns, for which the lexical form is just their string rendering
    c = c.cast("string")
    return (
        F.when(c.startswith("<"), c.substr(F.lit(2), F.length(c) - 2))
        .when(c.startswith('"'),
              F.regexp_extract(c, r'^"(.*)"(?:@[A-Za-z0-9-]+|\^\^<[^<>]*>)?$', 1))
        .otherwise(c)
    )


def _c_num(c: Column) -> Column:
    # try_cast, not cast: ANSI mode (Spark 4 default) would THROW on
    # non-numeric lexical forms; the SPARQL semantics (and the local
    # evaluator) want null -> comparison false / aggregate skip
    return _c_lex(c).try_cast("double")


def _c_lang(c: Column) -> Column:
    return F.regexp_extract(c, r'@([A-Za-z0-9-]+)$', 1)


def _c_datatype(c: Column) -> Column:
    return (
        F.when(~c.startswith('"'), F.lit(None).cast("string"))
        .when(c.rlike(r'\^\^<[^<>]*>$'), F.regexp_extract(c, r'\^\^<([^<>]*)>$', 1))
        .when(c.rlike(r'@[A-Za-z0-9-]+$'), F.lit(RDF_LANGSTRING))
        .otherwise(F.lit(XSD_STRING))
    )


class _DfCompiler:
    def __init__(self, quads: DataFrame, graph_col: str | None,
                 from_graphs: list | None = None,
                 from_named: list | None = None):
        self.quads = quads
        self.graph_col = graph_col
        self._now = None  # NOW() literal, fixed per query execution
        # FROM/FROM NAMED (SPARQL §13.2): any dataset clause REPLACES the
        # store's dataset — default graph = merge of the FROM graphs (empty
        # when only FROM NAMED was given), named graphs = the FROM NAMED
        # set (empty when only FROM was given). Without a dataset clause
        # the union-default-graph convention stands: bare patterns range
        # over ALL quads.
        if from_graphs is not None or from_named is not None:
            if graph_col is None:
                raise SparqlError(
                    "FROM/FROM NAMED used but quads have no graph column")
            fg = from_graphs or []
            # the default graph is the RDF MERGE of the FROM graphs — a
            # SET of triples, so one triple asserted in several FROM
            # graphs matches once, not once per graph (§13.2)
            self.default_quads = (
                quads.filter(F.col(graph_col).isin(fg))
                .select("subj", "pred", "obj").distinct()
                if fg else quads.limit(0).select("subj", "pred", "obj")
            )
            self.named_set: list | None = from_named or []
        else:
            self.default_quads = quads
            self.named_set = None

    def _scope(self, graph) -> DataFrame:
        """The quad relation a pattern ranges over: the dataset's default
        graph outside GRAPH, the named-graph restriction inside it."""
        if graph is None:
            return self.default_quads
        if self.graph_col is None:
            raise SparqlError("GRAPH used but quads have no graph column")
        if self.named_set is None:
            return self.quads
        if not self.named_set:
            return self.quads.limit(0)
        return self.quads.filter(F.col(self.graph_col).isin(self.named_set))

    # expression -> Column in a given mode ('term'|'str'|'num'|'bool')
    def expr(self, e, want: str = "bool") -> Column:
        tag = e[0]
        if tag == "var":
            c = F.col(e[1])
            if want == "num":
                return _c_num(c)
            if want == "str":
                return _c_lex(c)
            return c
        if tag == "const":
            if want == "num":
                return F.lit(term_num(e[1]))
            if want == "str":
                return F.lit(term_lex(e[1]))
            return F.lit(e[1])
        if tag == "num":
            return F.lit(e[1]).cast("double")
        if tag == "and":
            return self.expr(e[1], "bool") & self.expr(e[2], "bool")
        if tag == "or":
            return self.expr(e[1], "bool") | self.expr(e[2], "bool")
        if tag == "not":
            return ~self.expr(e[1], "bool")
        if tag == "cmp":
            op, a, b = e[1], e[2], e[3]
            mode = _cmp_mode(a, b)
            ca, cb = self.expr(a, mode), self.expr(b, mode)
            return {
                "=": ca == cb, "!=": ca != cb, "<": ca < cb,
                "<=": ca <= cb, ">": ca > cb, ">=": ca >= cb,
            }[op]
        if tag == "arith":
            op, ca, cb = e[1], self.expr(e[2], "num"), self.expr(e[3], "num")
            if op == "/":
                # SPARQL: division by zero is an expression error (null),
                # not IEEE Infinity — matches the local evaluator
                return F.when(cb != 0, ca / cb)
            return {"+": ca + cb, "-": ca - cb, "*": ca * cb}[op]
        if tag == "call":
            return self._call(e[1], e[2], want)
        raise SparqlError(f"bad expr {e!r}")

    def _now_literal(self) -> str:
        if self._now is None:
            import time as _time

            self._now = (
                '"' + _time.strftime("%Y-%m-%dT%H:%M:%S",
                                     _time.gmtime())
                + 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>')
        return self._now

    def _call(self, fn: str, args: list, want: str) -> Column:
        if fn == "BOUND":
            return self.expr(args[0], "term").isNotNull()
        if fn == "REGEX":
            pat = term_lex(args[1][1])
            flags = term_lex(args[2][1]) if len(args) > 2 else ""
            if "i" in flags:
                pat = "(?i)" + pat
            return self.expr(args[0], "str").rlike(pat)
        if fn == "RAND":
            return F.rand()
        if fn == "NOW":
            # spec §17.4.5.1: one fixed value for the whole query
            # execution; honor `want` so YEAR(NOW())/STR(NOW()) see the
            # LEXICAL form (the local evaluator re-lexes via term_lex)
            term = self._now_literal()
            return F.lit(term_lex(term) if want == "str" else term)
        if fn == "UUID":
            if want == "str":  # STR(UUID()) = the IRI text, no brackets
                return F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
            return F.concat(F.lit("<urn:uuid:"), F.expr("uuid()"),
                            F.lit(">"))
        if fn == "STRUUID":
            return F.expr("uuid()")
        if fn == "BNODE":
            if not args:
                # fresh label per solution row AND per call site (two
                # BNODE() in one projection must not collide — spec
                # requires distinct bnodes per call): a compile-time
                # call counter salts the row id
                self._bnode_calls = getattr(self, "_bnode_calls", -1) + 1
                return F.concat(
                    F.lit(f"_:bn{self._bnode_calls}c"),
                    F.monotonically_increasing_id().cast("string"))
            # BNODE(str): stable label for the same lexical argument
            # (stable across ALL solutions here — a superset of the spec's
            # per-solution guarantee, shared with the local evaluator)
            return F.concat(
                F.lit("_:bh"),
                F.md5(F.encode(self.expr(args[0], "str"), "UTF-8")))
        a0 = args[0]
        if fn in ("ISIRI", "ISLITERAL", "ISBLANK"):
            c = self.expr(a0, "term")
            return {
                "ISIRI": c.startswith("<"),
                "ISLITERAL": c.startswith('"'),
                "ISBLANK": c.startswith("_:"),
            }[fn]
        if fn == "STR":
            return self.expr(a0, "str")
        if fn == "LANG":
            return _c_lang(self.expr(a0, "term"))
        if fn == "DATATYPE":
            return _c_datatype(self.expr(a0, "term"))
        if fn == "STRLEN":
            return F.length(self.expr(a0, "str")).cast("double")
        if fn in ("UCASE", "LCASE"):
            c = self.expr(a0, "str")
            return F.upper(c) if fn == "UCASE" else F.lower(c)
        if fn == "ENCODE_FOR_URI":
            # url_encode is form-encoding; fix the three divergences from
            # RFC 3986 unreserved-only: '+'->%20, %7E->'~', '*'->%2A
            c = F.url_encode(self.expr(a0, "str"))
            c = F.regexp_replace(c, r"\+", "%20")
            c = F.regexp_replace(c, "%7E", "~")
            return F.regexp_replace(c, r"\*", "%2A")
        if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
                  "TZ"):
            lex = self.expr(a0, "str")
            grp = {"YEAR": 1, "MONTH": 2, "DAY": 3, "HOURS": 4,
                   "MINUTES": 5, "SECONDS": 6, "TZ": 7}[fn]
            part = F.regexp_extract(lex, _DT_RE, grp)
            if fn == "TZ":
                # "" is the spec's answer for a zoneless dateTime, but a
                # NON-dateTime operand is an error -> NULL (unbound)
                return F.when(lex.rlike(_DT_RE), part)
            # a missing time part ("" on xsd:date for HOURS etc.) is a
            # type error -> try_cast yields NULL
            return part.try_cast("double")
        if fn in ("CONTAINS", "STRSTARTS", "STRENDS"):
            ca, cb = self.expr(a0, "str"), self.expr(args[1], "str")
            return {
                "CONTAINS": ca.contains(cb),
                "STRSTARTS": ca.startswith(cb),
                "STRENDS": ca.endswith(cb),
            }[fn]
        if fn in ("COALESCE", "IF"):
            # term-valued: a bare FILTER(IF(...)) has no shared EBV across
            # backends, so require an explicit comparison around them
            if want == "bool":
                raise SparqlError(f"{fn} is term-valued; compare it explicitly")
            if fn == "COALESCE":
                return F.coalesce(*[self.expr(a, want) for a in args])
            cond = self.expr(a0, "bool")
            # two chained whens, NOT .otherwise(): an errored (null)
            # condition must stay an error, matching the local evaluator
            return F.when(cond, self.expr(args[1], want)).when(
                ~cond, self.expr(args[2], want)
            )
        if fn == "CONCAT":
            return F.concat(*[self.expr(a, "str") for a in args])
        if fn == "SUBSTR":
            c = self.expr(a0, "str")
            start = F.greatest(self.expr(args[1], "num").cast("int"), F.lit(1))
            if len(args) > 2:
                ln = F.greatest(self.expr(args[2], "num").cast("int"), F.lit(0))
            else:
                ln = F.length(c)
            return c.substr(start, ln)
        if fn == "REPLACE":
            pat = term_lex(args[1][1])
            rep = term_lex(args[2][1])
            flags = term_lex(args[3][1]) if len(args) > 3 else ""
            if "i" in flags:
                pat = "(?i)" + pat
            return F.regexp_replace(self.expr(a0, "str"), pat, rep)
        if fn in ("STRBEFORE", "STRAFTER"):
            ca, cb = self.expr(a0, "str"), self.expr(args[1], "str")
            pos = F.instr(ca, cb)
            empty_b = F.lit("") if fn == "STRBEFORE" else ca
            found = (
                ca.substr(F.lit(1), pos - 1)
                if fn == "STRBEFORE"
                else ca.substr(pos + F.length(cb), F.length(ca))
            )
            return (
                F.when(ca.isNull() | cb.isNull(), F.lit(None).cast("string"))
                .when(cb == "", empty_b)
                .when(pos > 0, found)
                .otherwise(F.lit(""))
            )
        if fn in ("ABS", "ROUND", "CEIL", "FLOOR"):
            c = self.expr(a0, "num")
            return {
                "ABS": F.abs(c),
                # Spark round = HALF_UP away from zero; the local evaluator
                # pins the same rule (documented divergence from XPath's
                # ceiling-on-negative-half)
                "ROUND": F.round(c, 0),
                "CEIL": F.ceil(c).cast("double"),
                "FLOOR": F.floor(c).cast("double"),
            }[fn]
        if fn == "SAMETERM":
            return self.expr(a0, "term") == self.expr(args[1], "term")
        if fn == "ISNUMERIC":
            c = self.expr(a0, "term")
            cs = c.cast("string")
            lex_ok = _c_num(c).isNotNull()
            dt_ok = _c_datatype(cs).isin(*sorted(_XSD_NUMERIC))
            return F.when(cs.startswith('"'), lex_ok & dt_ok).otherwise(
                lex_ok & ~cs.startswith("<") & ~cs.startswith("_:")
            )
        if fn in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            c = F.encode(self.expr(a0, "str"), "UTF-8")
            return {
                "MD5": F.md5(c),
                "SHA1": F.sha1(c),
                "SHA256": F.sha2(c, 256),
                "SHA384": F.sha2(c, 384),
                "SHA512": F.sha2(c, 512),
            }[fn]
        if fn == "TIMEZONE":
            # xsd:dayTimeDuration from the dateTime's timezone lexical
            # (§17.4.5.7): Z/±00:00 -> PT0S, ±hh:mm -> [-]PThH[mM];
            # a zoneless or non-dateTime operand is an error -> NULL
            lex = self.expr(a0, "str")
            tz = F.regexp_extract(lex, _DT_RE, 7)
            hh = F.regexp_extract(tz, r"^[+-](\d{2}):(\d{2})$", 1).cast("int")
            mm = F.regexp_extract(tz, r"^[+-](\d{2}):(\d{2})$", 2).cast("int")
            sign = F.when(tz.startswith("-") & ((hh > 0) | (mm > 0)),
                          F.lit("-")).otherwise(F.lit(""))
            body = (
                F.when((hh == 0) & (mm == 0), F.lit("PT0S"))
                .when(mm == 0, F.concat(F.lit("PT"), hh.cast("string"),
                                        F.lit("H")))
                .when(hh == 0, F.concat(F.lit("PT"), mm.cast("string"),
                                        F.lit("M")))
                .otherwise(F.concat(F.lit("PT"), hh.cast("string"),
                                    F.lit("H"), mm.cast("string"),
                                    F.lit("M")))
            )
            if want == "str":  # STR(TIMEZONE(x)) -> the lexical duration
                return (F.when(tz == "Z", F.lit("PT0S"))
                        .when(tz != "", F.concat(sign, body)))
            dur = F.concat(
                F.lit('"'), sign, body,
                F.lit('"^^<http://www.w3.org/2001/XMLSchema'
                      '#dayTimeDuration>'))
            return F.when(tz == "Z", F.lit(
                '"PT0S"^^<http://www.w3.org/2001/XMLSchema'
                '#dayTimeDuration>')).when(tz != "", dur)
        if fn == "IRI":
            return F.concat(F.lit("<"), self.expr(a0, "str"), F.lit(">"))
        if fn == "STRLANG":
            return F.concat(
                F.lit('"'), self.expr(a0, "str"), F.lit('"@'),
                self.expr(args[1], "str"),
            )
        if fn == "STRDT":
            return F.concat(
                F.lit('"'), self.expr(a0, "str"), F.lit('"^^<'),
                self.expr(args[1], "str"), F.lit(">"),
            )
        if fn == "LANGMATCHES":
            lang = F.lower(self.expr(a0, "str"))
            rng = F.lower(self.expr(args[1], "str"))
            return F.when(rng == "*", lang != "").otherwise(
                (lang == rng) | lang.startswith(F.concat(rng, F.lit("-")))
            )
        raise SparqlError(f"unsupported function {fn}")

    # one triple pattern -> DataFrame of its variable bindings
    def pattern(self, s, p, o, graph) -> DataFrame:
        df = self._scope(graph)
        cols = [("subj", s), ("pred", p), ("obj", o)]
        if graph is not None:
            if graph[0] == "var":
                # GRAPH ?g ranges over NAMED graphs only: a NULL graph
                # column (default-graph quad in a graph store) must not
                # match with ?g unbound (the local twin's 3-tuples agree)
                df = df.filter(F.col(self.graph_col).isNotNull())
            cols.append((self.graph_col, graph))
        proj: dict[str, str] = {}
        for col, atom in cols:
            if atom[0] == "term":
                df = df.filter(F.col(col) == atom[1])
            else:
                var = atom[1]
                if var in proj:   # repeated var inside one pattern
                    df = df.filter(F.col(col) == F.col(proj[var]))
                else:
                    proj[var] = col
        return df.select(*[F.col(c).alias(v) for v, c in proj.items()])

    # -- property paths -----------------------------------------------------
    def _graph_quads(self, graph) -> DataFrame:
        if graph is None:
            return self.default_quads
        if graph[0] == "term":
            return self._scope(graph).filter(F.col(self.graph_col) == graph[1])
        # GRAPH ?var: every named graph (dataset-restricted via _scope);
        # path evaluation stays graph-local by keying pairs on __g
        return self._scope(graph).filter(F.col(self.graph_col).isNotNull())

    def _path_pairs(self, ast, graph) -> DataFrame:
        """Evaluate a path expression to its (__src, __dst) pair relation.
        Under GRAPH ?var the relation carries a third __g column and every
        join/identity is keyed on it, so each named graph's closure is
        computed independently in ONE shared set of jobs (no per-graph
        driver loop — the graph id is just another shuffle key).
        Closures (+/*) are ``reasoner.transitive_closure`` keyed on __g:
        in-memory for bounded relations, else pointer doubling, which
        converges in ceil(log2 D) rounds on a diameter-D graph."""
        keyed = graph is not None and graph[0] == "var"
        gcols = ["__g"] if keyed else []
        tag = ast[0]
        if tag == "p":
            q = self._graph_quads(graph).filter(F.col("pred") == ast[1])
            sel = [F.col("subj").alias("__src"), F.col("obj").alias("__dst")]
            if keyed:
                sel.append(F.col(self.graph_col).alias("__g"))
            return q.select(*sel)
        if tag == "nps":
            q = self._graph_quads(graph)
            if ast[1]:
                q = q.filter(~F.col("pred").isin(*ast[1]))
            sel = [F.col("subj").alias("__src"), F.col("obj").alias("__dst")]
            if keyed:
                sel.append(F.col(self.graph_col).alias("__g"))
            return q.select(*sel)
        if tag == "inv":
            return self._path_pairs(ast[1], graph).select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst"),
                *gcols
            )
        if tag == "seq":
            out = None
            for elt in ast[1]:
                nxt = self._path_pairs(elt, graph)
                if out is None:
                    out = nxt
                else:
                    out = (
                        out.select("__src", F.col("__dst").alias("__m"), *gcols)
                        .join(nxt.select(F.col("__src").alias("__m"), "__dst",
                                         *gcols),
                              on=["__m"] + gcols)
                        .select("__src", "__dst", *gcols)
                    )
            return out
        if tag == "alt":
            out = None
            for elt in ast[1]:
                nxt = self._path_pairs(elt, graph)
                out = nxt if out is None else out.unionByName(nxt)
            return out
        if tag == "opt":
            return self._path_pairs(ast[1], graph).unionByName(
                self._identity_pairs(graph)
            ).distinct()
        if tag in ("plus", "star"):
            edges = self._path_pairs(ast[1], graph).select(
                F.col("__src").alias("child"), F.col("__dst").alias("parent"),
                *gcols)
            try:
                closed = transitive_closure(edges, keys=gcols)
            except RuntimeError as e:
                raise SparqlError(f"path {e}") from e
            result = closed.select(F.col("child").alias("__src"),
                                   F.col("parent").alias("__dst"), *gcols)
            if tag == "star":
                result = result.unionByName(self._identity_pairs(graph)).distinct()
            return result
        raise SparqlError(f"bad path {ast!r}")

    def _identity_pairs(self, graph) -> DataFrame:
        # SPARQL zero-length path: every term occurring in the graph
        # (per named graph when keyed — zero-length stays graph-local)
        q = self._graph_quads(graph)
        if graph is not None and graph[0] == "var":
            g = F.col(self.graph_col).alias("__g")
            u = q.select(F.col("subj").alias("__n"), g).unionByName(
                q.select(F.col("obj").alias("__n"), g)
            ).distinct()
            return u.select(F.col("__n").alias("__src"),
                            F.col("__n").alias("__dst"), "__g")
        u = q.select(F.col("subj").alias("__n")).unionByName(
            q.select(F.col("obj").alias("__n"))
        ).distinct()
        return u.select(F.col("__n").alias("__src"), F.col("__n").alias("__dst"))

    def path_pattern(self, s, ast, o, graph) -> DataFrame:
        # path patterns evaluate with SET semantics on both backends
        df = self._path_pairs(ast, graph).distinct()
        atoms = [(s, "__src"), (o, "__dst")]
        if graph is not None and graph[0] == "var":
            atoms.append((graph, "__g"))
        proj: dict[str, str] = {}
        for atom, col in atoms:
            if atom[0] == "term":
                df = df.filter(F.col(col) == atom[1])
            else:
                var = atom[1]
                if var in proj:
                    df = df.filter(F.col(col) == F.col(proj[var]))
                else:
                    proj[var] = col
        return df.select(*[F.col(c).alias(v) for v, c in proj.items()])

    def group(self, g: Group, graph=None) -> DataFrame:
        acc: DataFrame | None = None
        filters = []
        for item in g.items:
            tag = item[0]
            if tag == "triple":
                if item[2][0] == "path":
                    acc = self._join(
                        acc, self.path_pattern(item[1], item[2][1], item[3], graph)
                    )
                else:
                    acc = self._join(
                        acc, self.pattern(item[1], item[2], item[3], graph)
                    )
            elif tag == "filter":
                filters.append(item[1])
            elif tag == "optional":
                right = self.group(item[1], graph)
                acc = self._join(acc, right, how="left")
            elif tag == "exists":
                # (NOT) EXISTS: semi/anti join on the shared variables; with
                # no shared vars the inner group is a constant relation and
                # the test degenerates to its (non-)emptiness
                if acc is None:
                    raise SparqlError("FILTER EXISTS before any pattern")
                sub = self.group(item[1], graph)
                shared = [c for c in acc.columns if c in sub.columns]
                if shared:
                    how = "left_semi" if item[2] else "left_anti"
                    acc = acc.join(sub, on=shared, how=how)
                else:
                    if sub.isEmpty() == item[2]:
                        acc = acc.limit(0)
            elif tag == "minus":
                # MINUS: anti join on shared vars; disjoint domains remove
                # nothing (SPARQL §8.3)
                if acc is None:
                    raise SparqlError("MINUS before any pattern")
                sub = self.group(item[1], graph)
                shared = [c for c in acc.columns if c in sub.columns]
                if shared:
                    acc = acc.join(sub, on=shared, how="left_anti")
            elif tag == "union":
                branches = [self.group(b, graph) for b in item[1]]
                u = branches[0]
                for b in branches[1:]:
                    u = u.unionByName(b, allowMissingColumns=True)
                acc = self._join(acc, u)
            elif tag == "graph":
                acc = self._join(acc, self.group(item[2], item[1]))
            elif tag == "subquery":
                subq = item[1]
                sub = _apply_select(self, self.group(subq.where, graph), subq)
                # numeric aggregate aliases come back as native numerics; a
                # shared variable against an outer TERM column must compare
                # on the term's numeric value (try_cast keeps ANSI mode from
                # throwing on non-numeric lexical forms)
                num_aliases = {
                    s.alias for s in subq.select
                    if isinstance(s, Agg) and s.func != "group_concat"
                    and s.func != "sample"
                }
                if acc is None:
                    acc = sub
                else:
                    shared = [c for c in acc.columns if c in sub.columns]
                    if not shared:
                        acc = acc.crossJoin(sub)
                    else:
                        cond = None
                        for c in shared:
                            left = (
                                _c_num(acc[c]) if c in num_aliases else acc[c]
                            )
                            pc = left == sub[c]
                            cond = pc if cond is None else (cond & pc)
                        acc = acc.join(sub, cond)
                        for c in shared:
                            acc = acc.drop(sub[c])
            elif tag == "bind":
                if acc is None:
                    raise SparqlError("BIND before any pattern")
                acc = acc.withColumn(item[2], self.expr(item[1], "term"))
            elif tag == "values":
                vars_, vrows = item[1], item[2]
                vdf = self.quads.sparkSession.createDataFrame(
                    [tuple(r) for r in vrows],
                    ", ".join(f"{v} string" for v in vars_),
                )
                acc = self._join(acc, vdf)
            else:
                raise SparqlError(f"bad group item {tag}")
        if acc is None:
            raise SparqlError("empty group")
        for fe in filters:
            acc = acc.filter(self.expr(fe, "bool"))
        return acc

    def _join(self, acc: DataFrame | None, df: DataFrame, how: str = "inner") -> DataFrame:
        if acc is None:
            return df
        shared = [c for c in acc.columns if c in df.columns]
        if not shared:
            return acc.crossJoin(df) if how == "inner" else acc.join(df, how="left")
        return acc.join(df, on=shared, how=how)


def _apply_select(comp: _DfCompiler, df: DataFrame, q: Query) -> DataFrame:
    """Aggregates, projection, DISTINCT and solution modifiers over a solved
    WHERE relation — shared by the top-level SELECT driver and subqueries."""
    has_agg = any(isinstance(s, Agg) for s in q.select)
    if has_agg or q.group_by:
        keys = [F.col(v) for v in q.group_by]
        aggs = []
        for s in q.select:
            if not isinstance(s, Agg):
                continue
            if s.func == "count":
                if s.arg is None:
                    aggs.append(F.count(F.lit(1)).alias(s.alias))
                elif s.distinct:
                    aggs.append(F.countDistinct(comp.expr(s.arg, "term")).alias(s.alias))
                else:
                    aggs.append(F.count(comp.expr(s.arg, "term")).alias(s.alias))
            elif s.func == "group_concat":
                # spec leaves concatenation order undefined; both backends
                # pin SORTED order so results are deterministic + comparable
                c = comp.expr(s.arg, "str").cast("string")
                coll = F.collect_set(c) if s.distinct else F.collect_list(c)
                aggs.append(F.array_join(F.array_sort(coll), s.sep).alias(s.alias))
            elif s.func == "sample":
                # SAMPLE picks an arbitrary value; both backends pin MIN so
                # the choice is deterministic and cluster-size independent
                aggs.append(F.min(comp.expr(s.arg, "term")).alias(s.alias))
            else:
                c = comp.expr(s.arg, "num")
                fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[s.func]
                aggs.append(fn(c).alias(s.alias))
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        if q.having is not None:
            df = df.filter(comp.expr(q.having, "bool"))
        out_cols = q.group_by + [s.alias for s in q.select if isinstance(s, Agg)]
        sel_order = [s[1] if not isinstance(s, Agg) else s.alias for s in q.select] or out_cols
        df = df.select(*sel_order)
    else:
        if q.select:
            df = df.select(*[s[1] for s in q.select])
    if q.distinct:
        df = df.distinct()
    if q.order_by:
        df = df.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                          for v, asc in q.order_by])
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


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
    native numerics).

    Known divergences from full SPARQL (documented, shared with tests and
    identical in both backends):

    - a UNION branch that leaves a variable unbound which earlier patterns
      in the same group DID bind joins as NULL (row dropped) rather than
      as "compatible with anything" — keep shared variables bound in every
      branch.
    - SELECT expressions ``(expr AS ?v)`` desugar to a trailing BIND, so
      ?v is visible to FILTERs in the same WHERE group; per spec the
      projection expression is evaluated after the WHERE and ?v would be
      unbound there. Don't reference a projection alias inside WHERE."""
    q = parse_sparql(text)
    if graph_col is None and "prov" in quads.columns:
        graph_col = "prov"
    comp = _DfCompiler(quads, graph_col, q.from_graphs, q.from_named)
    if q.describe is not None:
        # node set = explicit IRIs + bindings of the described vars;
        # result = semi-join of the quads on subject membership
        nodes = None
        if any(a[0] == "var" for a in q.describe):
            sol = comp.group(q.where)
            for a in q.describe:
                if a[0] == "var":
                    part = sol.select(F.col(a[1]).alias("__n"))
                    nodes = part if nodes is None else nodes.unionByName(part)
        consts = [a[1] for a in q.describe if a[0] == "term"]
        if consts:
            cdf = quads.sparkSession.createDataFrame(
                [(c,) for c in consts], "__n string"
            )
            nodes = cdf if nodes is None else nodes.unionByName(cdf)
        body = comp.default_quads  # DESCRIBE reads the dataset's default graph
        return (
            body.join(
                nodes.distinct().hint("broadcast"),
                body["subj"] == F.col("__n"),
                "left_semi",
            )
            .select("subj", "pred", "obj")
            .distinct()
        )
    df = comp.group(q.where)
    if q.ask:
        return quads.sparkSession.createDataFrame(
            [(not df.isEmpty(),)], "ask boolean"
        )
    if q.construct is not None:
        # solution modifiers apply to the bindings, then each template
        # triple is instantiated per solution; output is the distinct graph
        if q.order_by:
            df = df.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                              for v, asc in q.order_by])
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)

        return instantiate_construct(df, q.construct)
    return _apply_select(comp, df, q)


# ---------------------------------------------------------------------------
# local (in-memory) backend — per-graph, used by SHACL sh:sparql
# ---------------------------------------------------------------------------


class _LocalEval:
    def __init__(self, triples: list[tuple],
                 from_graphs: list | None = None,
                 from_named: list | None = None):
        # triples: (s, p, o) or (s, p, o, g)
        self.triples = triples
        # FROM/FROM NAMED twin of _DfCompiler: dataset clause replaces the
        # store's dataset (see the DataFrame compiler for the semantics)
        if from_graphs is not None or from_named is not None:
            fg = set(from_graphs or ())
            # RDF merge = triple SET across the FROM graphs (mirrors the
            # DataFrame compiler's distinct default graph)
            self.default_triples = sorted({
                t[:3] for t in triples if len(t) > 3 and t[3] in fg
            })
            self.named_set: set | None = set(from_named or ())
        else:
            self.default_triples = triples
            self.named_set = None

    def expr(self, e, row: dict, want: str = "bool"):
        tag = e[0]
        if tag == "var":
            t = row.get(e[1])
            if t is None:
                return None
            if want == "num":
                return term_num(t)
            if want == "str":
                return term_lex(t)
            return t
        if tag == "const":
            if want == "num":
                return term_num(e[1])
            if want == "str":
                return term_lex(e[1])
            return e[1]
        if tag == "num":
            return float(e[1])
        # three-valued logic (None = error/unknown), matching both SPARQL
        # error propagation and Spark SQL null semantics: a top-level FILTER
        # keeps a row only on True, so None is falsy there — but under '!'
        # an error stays an error instead of flipping to True
        if tag == "and":
            a, b = self.expr(e[1], row), self.expr(e[2], row)
            if a is False or b is False:
                return False
            if a is None or b is None:
                return None
            return True
        if tag == "or":
            a, b = self.expr(e[1], row), self.expr(e[2], row)
            if a is True or b is True:
                return True
            if a is None or b is None:
                return None
            return False
        if tag == "not":
            a = self.expr(e[1], row)
            return None if a is None else not a
        if tag == "cmp":
            op, a, b = e[1], e[2], e[3]
            mode = _cmp_mode(a, b)
            va, vb = self.expr(a, row, mode), self.expr(b, row, mode)
            if va is None or vb is None:
                return None
            return {
                "=": va == vb, "!=": va != vb, "<": va < vb,
                "<=": va <= vb, ">": va > vb, ">=": va >= vb,
            }[op]
        if tag == "arith":
            va, vb = self.expr(e[2], row, "num"), self.expr(e[3], row, "num")
            if va is None or vb is None:
                return None
            return {"+": va + vb, "-": va - vb, "*": va * vb,
                    "/": va / vb if vb else None}[e[1]]
        if tag == "call":
            return self._call(e[1], e[2], row, want)
        raise SparqlError(f"bad expr {e!r}")

    def _call(self, fn, args, row, want):
        if fn == "BOUND":
            return self.expr(args[0], row, "term") is not None
        if fn in ("COALESCE", "IF"):
            if want == "bool":
                raise SparqlError(f"{fn} is term-valued; compare it explicitly")
            if fn == "COALESCE":
                for a in args:
                    v = self.expr(a, row, want)
                    if v is not None:
                        return v
                return None
            cond = self.expr(args[0], row)
            if cond is None:
                return None
            return self.expr(args[1] if cond else args[2], row, want)
        if fn == "CONCAT":
            parts = [self.expr(a, row, "str") for a in args]
            if any(p is None for p in parts):
                return None
            return "".join(str(p) for p in parts)
        if fn == "SAMETERM":
            a = self.expr(args[0], row, "term")
            b = self.expr(args[1], row, "term")
            if a is None or b is None:
                return None
            return a == b
        if fn == "LANGMATCHES":
            lang = self.expr(args[0], row, "str")
            rng = self.expr(args[1], row, "str")
            if lang is None or rng is None:
                return None
            lang, rng = str(lang).lower(), str(rng).lower()
            if rng == "*":
                return lang != ""
            return lang == rng or lang.startswith(rng + "-")
        if fn == "REGEX":
            v = self.expr(args[0], row, "str")
            if v is None:
                return None  # error propagates (Spark: rlike(null) is null)
            pat = term_lex(args[1][1])
            flags = re.I if len(args) > 2 and "i" in term_lex(args[2][1]) else 0
            return re.search(pat, str(v), flags) is not None
        if fn == "RAND":
            import random as _random

            return _random.random()
        if fn == "NOW":
            if getattr(self, "_now", None) is None:
                import time as _time

                self._now = (
                    '"' + _time.strftime("%Y-%m-%dT%H:%M:%S",
                                         _time.gmtime())
                    + 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>')
            return self._now
        if fn == "UUID":
            import uuid as _uuid

            return f"<urn:uuid:{_uuid.uuid4()}>"
        if fn == "STRUUID":
            import uuid as _uuid

            return str(_uuid.uuid4())
        if fn == "BNODE":
            if not args:
                self._bnode_seq = getattr(self, "_bnode_seq", -1) + 1
                return f"_:bn{self._bnode_seq}"
            s = self.expr(args[0], row, "str")
            if s is None:
                return None
            return "_:bh" + hashlib.md5(str(s).encode("utf-8")).hexdigest()
        v = self.expr(args[0], row, "term")
        if fn in ("ISIRI", "ISLITERAL", "ISBLANK"):
            if v is None:
                return None
            return {"ISIRI": v.startswith("<"), "ISLITERAL": v.startswith('"'),
                    "ISBLANK": v.startswith("_:")}[fn]
        if v is None:
            return None
        if fn == "STR":
            return term_lex(v)
        if fn == "LANG":
            return term_lang(v)
        if fn == "DATATYPE":
            return term_datatype(v)
        if fn == "STRLEN":
            return float(len(term_lex(v)))
        if fn == "UCASE":
            return term_lex(v).upper()
        if fn == "LCASE":
            return term_lex(v).lower()
        if fn == "ENCODE_FOR_URI":
            from urllib.parse import quote

            # str(): native numerics from arithmetic/aggregates must
            # coerce like the DF side's cast-to-string, not crash
            return quote(str(term_lex(v)), safe="")
        if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
                  "TZ"):
            m = re.match(_DT_RE, str(term_lex(v)))
            if fn == "TZ":
                return (m.group(7) or "") if m else None
            grp = {"YEAR": 1, "MONTH": 2, "DAY": 3, "HOURS": 4,
                   "MINUTES": 5, "SECONDS": 6}[fn]
            if m is None or not m.group(grp):
                return None
            return float(m.group(grp))
        if fn in ("CONTAINS", "STRSTARTS", "STRENDS"):
            b = self.expr(args[1], row, "str")
            a = term_lex(v)
            return {"CONTAINS": b in a, "STRSTARTS": a.startswith(b),
                    "STRENDS": a.endswith(b)}[fn]
        if fn == "SUBSTR":
            s_ = str(term_lex(v))
            start = self.expr(args[1], row, "num")
            if start is None:
                return None
            start = max(int(start), 1)
            if len(args) > 2:
                ln = self.expr(args[2], row, "num")
                if ln is None:
                    return None
                ln = max(int(ln), 0)
                return s_[start - 1:start - 1 + ln]
            return s_[start - 1:]
        if fn == "REPLACE":
            pat = term_lex(args[1][1])
            # Java-style $n group refs (what regexp_replace uses) -> Python
            rep = re.sub(r"\$(\d)", r"\\\1", term_lex(args[2][1]))
            flags = term_lex(args[3][1]) if len(args) > 3 else ""
            return re.sub(pat, rep, str(term_lex(v)),
                          flags=re.I if "i" in flags else 0)
        if fn in ("STRBEFORE", "STRAFTER"):
            b = self.expr(args[1], row, "str")
            if b is None:
                return None
            a, b = str(term_lex(v)), str(b)
            if b == "":
                return "" if fn == "STRBEFORE" else a
            i = a.find(b)
            if i < 0:
                return ""
            return a[:i] if fn == "STRBEFORE" else a[i + len(b):]
        if fn in ("ABS", "ROUND", "CEIL", "FLOOR"):
            n = term_num(v)
            if n is None:
                return None
            if fn == "ABS":
                return abs(n)
            if fn == "CEIL":
                return float(math.ceil(n))
            if fn == "FLOOR":
                return float(math.floor(n))
            # HALF_UP away from zero, matching Spark's round()
            return float(math.floor(n + 0.5) if n >= 0 else math.ceil(n - 0.5))
        if fn == "ISNUMERIC":
            if isinstance(v, (int, float)):
                return True
            if not v.startswith('"'):
                return False
            return term_num(v) is not None and term_datatype(v) in _XSD_NUMERIC
        if fn in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            data = str(term_lex(v)).encode("utf-8")
            h = {"MD5": hashlib.md5, "SHA1": hashlib.sha1,
                 "SHA256": hashlib.sha256, "SHA384": hashlib.sha384,
                 "SHA512": hashlib.sha512}[fn]
            return h(data).hexdigest()
        if fn == "TIMEZONE":
            m = re.match(_DT_RE, str(term_lex(v)))
            tz = m.group(7) if m else None
            if not tz:
                return None
            dt = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"
            if tz == "Z":
                return f'"PT0S"^^<{dt}>'
            sign = "-" if tz[0] == "-" else ""
            hh, mm = int(tz[1:3]), int(tz[4:6])
            if hh == 0 and mm == 0:
                return f'"PT0S"^^<{dt}>'
            body = "PT" + (f"{hh}H" if hh else "") + (f"{mm}M" if mm else "")
            return f'"{sign}{body}"^^<{dt}>'
        if fn == "IRI":
            return f"<{term_lex(v)}>"
        if fn == "STRLANG":
            b = self.expr(args[1], row, "str")
            if b is None:
                return None
            return f'"{term_lex(v)}"@{b}'
        if fn == "STRDT":
            b = self.expr(args[1], row, "str")
            if b is None:
                return None
            return f'"{term_lex(v)}"^^<{b}>'
        raise SparqlError(f"unsupported function {fn}")

    def _match(self, atom, value, row, out):
        if atom[0] == "term":
            return atom[1] == value
        var = atom[1]
        bound = out.get(var, row.get(var))
        if bound is not None:
            return bound == value
        out[var] = value
        return True

    def pattern(self, s, p, o, graph, rows: list[dict]) -> list[dict]:
        out = []
        src = self.default_triples if graph is None else self.triples
        for row in rows:
            for t in src:
                nb: dict = {}
                if not self._match(s, t[0], row, nb):
                    continue
                if not self._match(p, t[1], row, nb):
                    continue
                if not self._match(o, t[2], row, nb):
                    continue
                if graph is not None:
                    if len(t) < 4 or t[3] is None:
                        continue
                    if self.named_set is not None and t[3] not in self.named_set:
                        continue
                    if not self._match(graph, t[3], row, nb):
                        continue
                out.append({**row, **nb})
        return out

    # -- property paths (mirrors _DfCompiler._path_pairs) -------------------
    def _graph_triples(self, graph):
        if graph is None:
            return self.default_triples
        if graph[0] == "term":
            return [
                t for t in self.triples
                if len(t) > 3 and t[3] == graph[1]
                and (self.named_set is None or t[3] in self.named_set)
            ]
        raise SparqlError("GRAPH ?var paths evaluate per graph — see path_rows")

    def _named_graphs(self) -> list[str]:
        return sorted({
            t[3] for t in self.triples
            if len(t) > 3 and t[3] is not None
            and (self.named_set is None or t[3] in self.named_set)
        })

    def _path_pairs(self, ast, graph) -> set:
        tag = ast[0]
        if tag == "p":
            return {(t[0], t[2]) for t in self._graph_triples(graph)
                    if t[1] == ast[1]}
        if tag == "nps":
            return {(t[0], t[2]) for t in self._graph_triples(graph)
                    if t[1] not in ast[1]}
        if tag == "inv":
            return {(d, s) for s, d in self._path_pairs(ast[1], graph)}
        if tag == "seq":
            pairs = None
            for elt in ast[1]:
                nxt = self._path_pairs(elt, graph)
                if pairs is None:
                    pairs = nxt
                else:
                    by_src: dict = {}
                    for s, d in nxt:
                        by_src.setdefault(s, []).append(d)
                    pairs = {(s, d2) for s, d in pairs for d2 in by_src.get(d, ())}
            return pairs
        if tag == "alt":
            out: set = set()
            for elt in ast[1]:
                out |= self._path_pairs(elt, graph)
            return out
        if tag == "opt":
            return self._path_pairs(ast[1], graph) | self._identity_pairs(graph)
        if tag in ("plus", "star"):
            result = _closure_local(self._path_pairs(ast[1], graph))
            if tag == "star":
                result |= self._identity_pairs(graph)
            return result
        raise SparqlError(f"bad path {ast!r}")

    def _identity_pairs(self, graph) -> set:
        terms = set()
        for t in self._graph_triples(graph):
            terms.add(t[0])
            terms.add(t[2])
        return {(x, x) for x in terms}

    def path_rows(self, s, ast, o, graph, rows: list[dict]) -> list[dict]:
        if graph is not None and graph[0] == "var":
            # GRAPH ?var: each named graph's path relation is independent
            # (the DataFrame twin keys its joins on __g for the same effect)
            out = []
            for gname in self._named_graphs():
                pairs = self._path_pairs(ast, ("term", gname))
                for row in rows:
                    for src, dst in pairs:
                        nb: dict = {}
                        if not self._match(s, src, row, nb):
                            continue
                        if not self._match(o, dst, row, nb):
                            continue
                        if not self._match(graph, gname, row, nb):
                            continue
                        out.append({**row, **nb})
            return out
        pairs = self._path_pairs(ast, graph)
        out = []
        for row in rows:
            for src, dst in pairs:
                nb: dict = {}
                if not self._match(s, src, row, nb):
                    continue
                if not self._match(o, dst, row, nb):
                    continue
                out.append({**row, **nb})
        return out

    def group(self, g: Group, rows: list[dict], graph=None) -> list[dict]:
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
                nxt = []
                for row in rows:
                    matched = self.group(item[1], [row], graph)
                    nxt.extend(matched if matched else [row])
                rows = nxt
            elif tag == "exists":
                rows = [
                    row for row in rows
                    if bool(self.group(item[1], [dict(row)], graph)) == item[2]
                ]
            elif tag == "minus":
                sols = self.group(item[1], [{}], graph)

                def _removed(row: dict) -> bool:
                    for s in sols:
                        shared = [
                            k for k in row
                            if k in s and row[k] is not None and s[k] is not None
                        ]
                        if shared and all(row[k] == s[k] for k in shared):
                            return True
                    return False

                rows = [row for row in rows if not _removed(row)]
            elif tag == "union":
                nxt = []
                for b in item[1]:
                    nxt.extend(self.group(b, rows, graph))
                rows = nxt
            elif tag == "graph":
                rows = self.group(item[2], rows, item[1])
            elif tag == "subquery":
                # bottom-up: the subquery never sees outer bindings; its
                # projected solutions join on the shared variables. A native
                # numeric (aggregate output) against a term string compares
                # on the term's numeric value, mirroring the DataFrame join.
                sub = item[1]
                sols = _apply_select_local(
                    self, sub, self.group(sub.where, [{}], graph)
                )

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
                            # like the DF join keeping acc's column
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
                rows = [{**row, item[2]: self.expr(item[1], row, "term")}
                        for row in rows]
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
        return [r for r in rows if all(self.expr(f, r) for f in filters)]


def _apply_select_local(ev: "_LocalEval", q: Query, rows: list[dict]) -> list[dict]:
    """Aggregates, projection, DISTINCT and solution modifiers over solved
    bindings — shared by sparql_eval_local and local subquery evaluation
    (mirrors _apply_select on the DataFrame side)."""
    has_agg = any(isinstance(s, Agg) for s in q.select)
    if has_agg or q.group_by:
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            key = tuple(r.get(v) for v in q.group_by)
            groups.setdefault(key, []).append(r)
        out_rows = []
        for key, members in groups.items():
            row = dict(zip(q.group_by, key))
            for s in q.select:
                if not isinstance(s, Agg):
                    continue
                if s.func == "count":
                    if s.arg is None:
                        row[s.alias] = len(members)
                    else:
                        vals = [ev.expr(s.arg, m, "term") for m in members]
                        vals = [v for v in vals if v is not None]
                        row[s.alias] = len(set(vals)) if s.distinct else len(vals)
                elif s.func == "group_concat":
                    vals = [ev.expr(s.arg, m, "str") for m in members]
                    vals = [str(v) for v in vals if v is not None]
                    if s.distinct:
                        vals = set(vals)
                    row[s.alias] = s.sep.join(sorted(vals))
                elif s.func == "sample":
                    vals = [ev.expr(s.arg, m, "term") for m in members]
                    vals = [v for v in vals if v is not None]
                    row[s.alias] = min(vals) if vals else None
                else:
                    nums = [ev.expr(s.arg, m, "num") for m in members]
                    nums = [n for n in nums if n is not None]
                    if not nums:
                        row[s.alias] = None
                    elif s.func == "sum":
                        row[s.alias] = sum(nums)
                    elif s.func == "avg":
                        row[s.alias] = sum(nums) / len(nums)
                    elif s.func == "min":
                        row[s.alias] = min(nums)
                    else:
                        row[s.alias] = max(nums)
            out_rows.append(row)
        if q.having is not None:
            out_rows = [r for r in out_rows if ev.expr(q.having, r)]
        rows = out_rows
        sel = [s[1] if not isinstance(s, Agg) else s.alias for s in q.select] \
            or (q.group_by + [s.alias for s in q.select if isinstance(s, Agg)])
    else:
        sel = [s[1] for s in q.select] if q.select else sorted(
            {k for r in rows for k in r}
        )
    rows = [{v: r.get(v) for v in sel} for r in rows]
    if q.distinct:
        seen = set()
        uniq = []
        for r in rows:
            key = tuple(sorted(r.items(), key=lambda kv: kv[0]))
            if key not in seen:
                seen.add(key)
                uniq.append(r)
        rows = uniq
    for var, asc in reversed(q.order_by):
        # unbound sorts lowest (spec; Spark ASC = NULLS FIRST)
        rows.sort(key=lambda r: (r.get(var) is not None, r.get(var)),
                  reverse=not asc)
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
    may be a pre-parsed Query so per-focus-node callers parse once. Returns
    a list of {var: term} dicts restricted to the SELECT list, in a
    deterministic order."""
    q = text if isinstance(text, Query) else parse_sparql(text)
    ev = _LocalEval(triples, q.from_graphs, q.from_named)
    if q.describe is not None:
        nodes = {a[1] for a in q.describe if a[0] == "term"}
        if any(a[0] == "var" for a in q.describe):
            sol = ev.group(q.where, [dict(bindings or {})])
            for a in q.describe:
                if a[0] == "var":
                    nodes |= {r[a[1]] for r in sol if r.get(a[1]) is not None}
        out = sorted({(t[0], t[1], t[2]) for t in ev.default_triples
                      if t[0] in nodes})
        return [dict(zip(("subj", "pred", "obj"), t)) for t in out]
    rows = ev.group(q.where, [dict(bindings or {})])
    if q.ask:
        return [{"ask": bool(rows)}]
    if q.construct is not None:
        for var, asc in reversed(q.order_by):
            rows.sort(key=lambda r: (r.get(var) is not None, r.get(var)),
                      reverse=not asc)
        if q.offset:
            rows = rows[q.offset:]
        if q.limit is not None:
            rows = rows[: q.limit]
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
    return _apply_select_local(ev, q, rows)


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
    are rendered by ONE Arrow-batched ``mapInPandas`` pass that reuses the
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

        import pandas as _pd

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
        yield _pd.DataFrame({"value": [header]})
        for pdf in batches:
            # .tolist() + isna: Python-native values and None for nulls, so
            # the shared per-term renderers see exactly what the collected
            # serializers see from Row cells
            col_vals = [
                [None if _pd.isna(v) else v for v in pdf[c].tolist()]
                for c in cols
            ]
            lines = [row_line(vals) for vals in zip(*col_vals)] if cols else []
            yield _pd.DataFrame({"value": _pd.Series(lines, dtype="object")})

    (df.mapInPandas(render, schema="value string")
       .write.mode(mode).text(path))
