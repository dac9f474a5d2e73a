"""Pure-Python JSON-LD 1.1 -> RDF (N-Triples) conversion.

A from-scratch implementation of the subset of the JSON-LD 1.1 ``toRdf``
algorithm exercised by schema.org-annotated web pages and by the reference's
own fixture corpora (/root/reference/internal/common/jsonld.go:73-87 wraps
json-gold's ToRDF; parity is asserted against its golden outputs, e.g.
/root/reference/cmd/nabu/testdata/iow_wqp_stations__5_release.nq).

Supported: inline contexts (map / array / string), prefix + term definitions,
``@vocab``, ``@base``, ``@language``, type coercion (``@type: @id`` and
datatype IRIs), ``@id``/``@type`` aliases, nested node objects (fresh blank
nodes), value objects (``@value``/``@type``/``@language``), ``@list``,
``@graph``, ``@set``, ``@included``, ``@nest``, language maps
(``@container: @language``) and index maps (``@container: @index``), canonical
xsd:double/integer/boolean literals, and an offline context-document cache
(never touches the network — the analogue of the reference's
CachingDocumentLoader, jsonld.go:35-52).

Context standardization (http://schema.org* -> https://schema.org/ etc.)
mirrors /root/reference/internal/common/jsonld_standardize.go:15-92.
"""

from __future__ import annotations

import re
from typing import Any

from .ntriples import (
    _ESCAPE_RE,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_STRING,
    canonical_number,
    fmt_iri,
    fmt_literal,
    is_valid_iri,
)

KEYWORDS = {
    "@base", "@container", "@context", "@direction", "@graph", "@id", "@import",
    "@included", "@index", "@json", "@language", "@list", "@nest", "@none",
    "@prefix", "@propagate", "@protected", "@reverse", "@set", "@type",
    "@value", "@version", "@vocab",
}
_KEYWORD_FORM_RE = re.compile(r"^@[A-Za-z]+$")

def _schemaorg_context() -> Any:
    """The real schema.org context: @vocab plus the per-term @id/Date/
    DateTime coercions json-gold applies (e.g. ``schema:url``/``schema:sameAs``
    values become IRIs, not string literals). Derived from the public
    vocabulary dump by scripts/derive_schemaorg_context.py — the analogue of
    the reference preloading assets/schemaorg-current-https.jsonld into its
    document loader (/root/reference/internal/common/jsonld.go:21-54)."""
    from ..assets.schemaorg_context import schemaorg_context

    return schemaorg_context()


# Offline context cache: context IRI -> parsed @context value. Never touches
# the network (the analogue of the reference's CachingDocumentLoader with
# PrefixToFileCache); extend via register_context()/register_context_file().
_CONTEXT_CACHE: dict[str, Any] = {
    "https://schema.org/": _schemaorg_context(),
    "https://schema.org": _schemaorg_context(),
    "https://schema.org/docs/jsonldcontext.jsonld": _schemaorg_context(),
    "https://schema.org/docs/jsonldcontext.json": _schemaorg_context(),
    # http:// variants keep the http vocab so non-standardized docs keep
    # their http IRIs (the standardization pass maps these to https first)
    "http://schema.org/": {"@vocab": "http://schema.org/"},
    "http://schema.org": {"@vocab": "http://schema.org/"},
}


def register_context(iri: str, context_value: Any) -> None:
    _CONTEXT_CACHE[iri] = context_value


def register_context_file(iri: str, path: str) -> None:
    """Preload a local JSON-LD document as the offline context for ``iri`` —
    the analogue of the reference's ``--prefixes-to-file`` PrefixToFileCache
    (cmd/nabu/main.go:70, jsonld.go:35-52). Accepts either a bare context
    value or a full document (its ``@context`` member is used), so pointing
    it at a vocabulary dump like schemaorg-current-https.jsonld reproduces
    the reference's preload semantics exactly."""
    import json

    with open(path) as fh:
        doc = json.load(fh)
    value = doc.get("@context", doc) if isinstance(doc, dict) else doc
    register_context(iri, value)


class JsonLdError(ValueError):
    pass


# tri-state marker: a term definition that does NOT mention @direction
# (inherits the context default) vs one that sets it to null (cancels it)
_DIR_UNSET = object()

# rdfDirection: "i18n-datatype" serialization (JSON-LD 1.1 toRdf §4.2;
# json-gold carries direction through expansion at jsonld.go:73-87)
I18N_NS = "https://www.w3.org/ns/i18n#"


class _TermDef:
    __slots__ = ("iri", "type_mapping", "language", "container", "direction")

    def __init__(self, iri, type_mapping=None, language=None, container=None,
                 direction=_DIR_UNSET):
        self.iri = iri
        self.type_mapping = type_mapping
        self.language = language
        self.container = container
        self.direction = direction


class Context:
    __slots__ = ("terms", "vocab", "base", "language", "direction",
                 "expand_cache", "alias_cache")

    def __init__(self):
        self.terms: dict[str, _TermDef] = {}
        self.vocab: str | None = None
        self.base: str | None = None
        self.language: str | None = None
        self.direction: str | None = None
        # per-context memos: shared contexts (the common web case) warm these
        # across documents; workers are single-threaded so plain dicts are fine
        self.expand_cache: dict = {}
        self.alias_cache: dict = {}

    def copy(self) -> "Context":
        c = Context()
        c.terms = dict(self.terms)
        c.vocab = self.vocab
        c.base = self.base
        c.language = self.language
        c.direction = self.direction
        return c


def _expand_iri(
    ctx: Context,
    value: str,
    *,
    vocab: bool = False,
    local: dict | None = None,
    defined: dict | None = None,
) -> str | None:
    """JSON-LD IRI expansion (spec §5.2 subset). Returns an absolute IRI,
    a blank-node id (``_:x``), a keyword, or None (drop)."""
    if local is None:
        key = (value, vocab)
        cached = ctx.expand_cache.get(key, _MISS)
        if cached is not _MISS:
            return cached
        result = _expand_iri_uncached(ctx, value, vocab)
        ctx.expand_cache[key] = result
        return result
    return _expand_iri_uncached(ctx, value, vocab, local, defined)


_MISS = object()


def _expand_iri_uncached(
    ctx: Context,
    value: str,
    vocab: bool = False,
    local: dict | None = None,
    defined: dict | None = None,
) -> str | None:
    if value in KEYWORDS:
        return value
    if value[:1] == "@" and _KEYWORD_FORM_RE.match(value):
        return None  # looks like a keyword -> ignored per spec
    if local is not None and value in local and defined is not None and not defined.get(value):
        _create_term(ctx, local, value, defined)
    if vocab and value in ctx.terms:
        td = ctx.terms[value]
        return td.iri if td else None
    idx = value.find(":")
    if idx > 0:
        prefix, suffix = value[:idx], value[idx + 1 :]
        if prefix == "_":
            return value  # blank node
        if suffix.startswith("//"):
            return value  # already absolute (scheme://)
        if local is not None and prefix in local and defined is not None and not defined.get(prefix):
            _create_term(ctx, local, prefix, defined)
        td = ctx.terms.get(prefix)
        if td and td.iri:
            return td.iri + suffix
        return value  # treat as absolute IRI with unknown scheme
    if vocab and ctx.vocab:
        return ctx.vocab + value
    if not vocab and ctx.base:
        from urllib.parse import urljoin

        return urljoin(ctx.base, value)
    return None


def _create_term(ctx: Context, local: dict, term: str, defined: dict) -> None:
    if defined.get(term) is False:
        raise JsonLdError(f"cyclic IRI mapping for term {term!r}")
    defined[term] = False
    value = local[term]
    if value is None:
        ctx.terms[term] = None  # type: ignore[assignment]
        defined[term] = True
        return
    if isinstance(value, str):
        iri = _expand_iri(ctx, value, vocab=True, local=local, defined=defined)
        ctx.terms[term] = _TermDef(iri)
        defined[term] = True
        return
    if isinstance(value, dict):
        iri = None
        if "@id" in value and isinstance(value["@id"], str):
            iri = _expand_iri(ctx, value["@id"], vocab=True, local=local, defined=defined)
        else:
            idx = term.find(":")
            if idx > 0:
                iri = _expand_iri(ctx, term, vocab=True, local=local, defined=defined)
            elif ctx.vocab:
                iri = ctx.vocab + term
        td = _TermDef(iri)
        t = value.get("@type")
        if isinstance(t, str):
            td.type_mapping = t if t in ("@id", "@vocab", "@json") else _expand_iri(
                ctx, t, vocab=True, local=local, defined=defined
            )
        lang = value.get("@language")
        if isinstance(lang, str) or lang is None and "@language" in value:
            td.language = lang
        if "@direction" in value:
            d = value["@direction"]
            if d not in ("ltr", "rtl", None):
                raise JsonLdError(f"invalid base direction for term {term!r}: {d!r}")
            td.direction = d
        cont = value.get("@container")
        if isinstance(cont, str):
            td.container = cont
        elif isinstance(cont, list):
            # composite containers like ["@language", "@set"]: keep the
            # mapping-relevant keyword (@set alone changes nothing here)
            for c in ("@list", "@language", "@index"):
                if c in cont:
                    td.container = c
                    break
        ctx.terms[term] = td
        defined[term] = True
        return
    raise JsonLdError(f"invalid term definition for {term!r}: {value!r}")


def process_context(active: Context, local: Any, *, strict_remote: bool = True) -> Context:
    """Fold a local context (string IRI / map / array / None) into a copy of
    the active context."""
    result = active.copy()
    items = local if isinstance(local, list) else [local]
    for item in items:
        if item is None:
            result = Context()
            continue
        if isinstance(item, str):
            if item in _CONTEXT_CACHE:
                result = process_context(result, _CONTEXT_CACHE[item], strict_remote=strict_remote)
            elif strict_remote:
                raise JsonLdError(f"remote context not in offline cache: {item}")
            continue
        if not isinstance(item, dict):
            continue  # tolerated, like json-gold's lenient handling
        if "@base" in item and isinstance(item["@base"], str):
            result.base = item["@base"]
        if "@vocab" in item:
            v = item["@vocab"]
            if v is None:
                result.vocab = None
            elif isinstance(v, str):
                expanded = _expand_iri(result, v, vocab=True) if not _has_scheme(v) else v
                result.vocab = expanded if expanded else v
        if "@language" in item:
            result.language = item["@language"] if isinstance(item["@language"], str) else None
        if "@direction" in item:
            d = item["@direction"]
            if d not in ("ltr", "rtl", None):
                raise JsonLdError(f"invalid base direction: {d!r}")
            result.direction = d
        defined: dict[str, bool] = {}
        for term in item:
            if term in ("@base", "@vocab", "@language", "@version", "@propagate", "@protected", "@import", "@direction"):
                continue
            if not defined.get(term):
                _create_term(result, item, term, defined)
    return result


def _has_scheme(v: str) -> bool:
    i = v.find(":")
    return i > 0 and bool(re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*$", v[:i]))


class _ToRdfState:
    __slots__ = ("triples", "bnode_counter", "bnode_map", "rdf_direction")

    def __init__(self, rdf_direction: str | None = None):
        self.triples: list[tuple[str, str, str]] = []
        self.bnode_counter = 0
        self.bnode_map: dict[str, str] = {}
        # None (default): base direction is ignored, literals keep their
        # plain language tag. "i18n-datatype": directional strings become
        # "lex"^^<https://www.w3.org/ns/i18n#lang_dir> as pyld/json-gold do
        # under the rdfDirection option.
        self.rdf_direction = rdf_direction

    def fresh_bnode(self) -> str:
        label = f"_:b{self.bnode_counter}"
        self.bnode_counter += 1
        return label

    def relabel(self, bnode_id: str) -> str:
        if bnode_id not in self.bnode_map:
            self.bnode_map[bnode_id] = self.fresh_bnode()
        return self.bnode_map[bnode_id]


def _fmt_subject(term: str) -> str:
    return term if term.startswith("_:") else fmt_iri(term)


# pre-formatted constant terms for the rdf: vocabulary used in hot loops
_RDF_TYPE_T = fmt_iri(RDF_TYPE)
_RDF_FIRST_T = fmt_iri(RDF_FIRST)
_RDF_REST_T = fmt_iri(RDF_REST)
_RDF_NIL_T = fmt_iri(RDF_NIL)


def _emit_literal_t(state, subj_t, pred_t, value, datatype, language,
                    direction=None):
    """Literal emission taking PRE-FORMATTED subject and
    predicate terms (computed once per node/value instead of per triple).
    The plain-string case — no escaping, no datatype, no language, by far the
    dominant shape in web JSON-LD — skips fmt_literal entirely."""
    if isinstance(value, bool):
        lex = "true" if value else "false"
        dt = datatype or XSD_BOOLEAN
        obj = fmt_literal(lex, dt if dt != XSD_BOOLEAN else XSD_BOOLEAN)
    elif isinstance(value, (int, float)):
        lex, dt = canonical_number(value, datatype)
        obj = fmt_literal(lex, dt)
    else:
        lex = value if type(value) is str else str(value)
        if (
            direction is not None
            and state.rdf_direction == "i18n-datatype"
            and (datatype is None or datatype == XSD_STRING)
        ):
            # i18n datatype: "lex"^^<.../i18n#lang_dir>, language tag folded
            # into the datatype IRI (empty lang -> 'i18n#_rtl')
            datatype = I18N_NS + (language or "").lower() + "_" + direction
            language = None
        if (
            language is None
            and (datatype is None or datatype == XSD_STRING)
            and _ESCAPE_RE.search(lex) is None
        ):
            obj = f'"{lex}"'
        else:
            obj = fmt_literal(lex, datatype, language)
    state.triples.append((subj_t, pred_t, obj))


def _node_subject(state: _ToRdfState, ctx: Context, node: dict) -> str | None:
    # first key aliasing @id wins (early break == the first match of the
    # equivalent list comprehension); alias cache inlined — this runs per node
    raw = _MISS
    ac = ctx.alias_cache
    for k in node:
        kw = ac.get(k, _MISS)
        if kw is _MISS:
            kw = _alias_of(ctx, k)
        if kw == "@id":
            raw = node[k]
            break
    if raw is not _MISS:
        if isinstance(raw, str):
            if raw.startswith("_:"):
                return state.relabel(raw)
            iri = _expand_iri(ctx, raw, vocab=False)
            if iri and (is_valid_iri(iri) or iri.startswith("_:")):
                return state.relabel(iri) if iri.startswith("_:") else iri
            return None  # unresolvable @id -> node dropped (relative, no base)
        return None
    return state.fresh_bnode()


def _alias_of(ctx: Context, key: str) -> str | None:
    """Resolve a key to a keyword if it is one or aliases one."""
    cached = ctx.alias_cache.get(key, _MISS)
    if cached is not _MISS:
        return cached
    if key in KEYWORDS:
        result = key
    else:
        td = ctx.terms.get(key)
        result = td.iri if (td and td.iri in KEYWORDS) else None
    ctx.alias_cache[key] = result
    return result


# Processed-context cache for the common web-corpus case: millions of pages
# sharing a handful of identical @context values. Only root-level contexts
# (empty active context) are cacheable; keyed by the context's repr.
_PROCESSED_CTX_CACHE: dict[str, Context] = {}
_PROCESSED_CTX_CACHE_MAX = 1024


def _process_node(state: _ToRdfState, ctx: Context, node: dict) -> str | None:
    """Emit triples for a node object; returns its subject term or None."""
    if "@context" in node:
        local = node["@context"]
        if not ctx.terms and ctx.vocab is None and ctx.base is None and ctx.language is None:
            key = repr(local)
            cached = _PROCESSED_CTX_CACHE.get(key)
            if cached is None:
                cached = process_context(ctx, local)
                if len(_PROCESSED_CTX_CACHE) < _PROCESSED_CTX_CACHE_MAX:
                    _PROCESSED_CTX_CACHE[key] = cached
            ctx = cached
        else:
            ctx = process_context(ctx, local)

    # pure value object at node position is invalid here; handled by caller
    subj = _node_subject(state, ctx, node)
    if subj is None:
        return None
    subj_t = subj if subj.startswith("_:") else f"<{subj}>"
    ac = ctx.alias_cache
    ec = ctx.expand_cache

    for key, value in node.items():
        kw = ac.get(key, _MISS)
        if kw is _MISS:
            kw = _alias_of(ctx, key)
        if kw is None:
            # ordinary predicate key — the dominant case, dispatched first
            pred_iri = ec.get((key, True), _MISS)
            if pred_iri is _MISS:
                pred_iri = _expand_iri(ctx, key, vocab=True)
            if not pred_iri or pred_iri[0] == "@":
                continue  # key does not expand to an IRI -> dropped entirely
            if pred_iri[:2] == "_:":
                continue  # bnode predicates are generalized RDF; dropped
            td = ctx.terms.get(key)
            _process_values(state, ctx, subj, pred_iri, td, value, subj_t, f"<{pred_iri}>")
            continue
        if kw == "@context" or kw == "@id" or kw == "@index":
            continue
        if kw == "@nest":
            _process_nest(state, ctx, subj, subj_t, value)
            continue
        if kw == "@type":
            types = value if isinstance(value, list) else [value]
            for t in types:
                if not isinstance(t, str):
                    continue
                t_iri = _expand_iri(ctx, t, vocab=True)
                if t_iri and not t_iri.startswith("@"):
                    obj = state.relabel(t_iri) if t_iri.startswith("_:") else fmt_iri(t_iri)
                    state.triples.append((subj_t, _RDF_TYPE_T, obj))
            continue
        if kw == "@graph":
            items = value if isinstance(value, list) else [value]
            for item in items:
                if isinstance(item, dict):
                    _process_node(state, ctx, item)
            continue
        if kw == "@included":
            # JSON-LD 1.1 §9.13: included node objects are expanded into the
            # same output graph with NO edge from the containing node
            items = value if isinstance(value, list) else [value]
            for item in items:
                if isinstance(item, dict):
                    _process_node(state, ctx, item)
            continue
        if kw == "@reverse":
            if isinstance(value, dict):
                for rkey, rval in value.items():
                    pred_iri = _expand_iri(ctx, rkey, vocab=True)
                    if not pred_iri or pred_iri.startswith("@") or not _pred_ok(pred_iri):
                        continue
                    for item in rval if isinstance(rval, list) else [rval]:
                        if isinstance(item, dict):
                            child = _process_node(state, ctx, item)
                            if child is not None:
                                state.triples.append(
                                    (_fmt_subject(child), fmt_iri(pred_iri), _obj_term(subj))
                                )
            continue
        # any other keyword is ignored at node position
    return subj


def _process_nest(state, ctx, subj, subj_t, value, depth: int = 0) -> None:
    """JSON-LD 1.1 ``@nest`` (expansion §13.14 subset): each nested value must
    be a map containing no key that expands to ``@value``; its entries are
    processed as properties of the ENCLOSING node. ``@type`` inside a nest
    types the enclosing node; nested ``@nest`` recurses (bounded).

    Error model: a non-map nested value or a ``@value`` entry raises
    JsonLdError — deliberately aborting the DOCUMENT, which surfaces as a
    ``jsonld_convert`` lineage row. That matches the reference: json-gold's
    ToRDF raises "invalid @nest value" for these shapes and the whole doc
    errors (jsonld.go:73-87 propagates). The single relaxation is ``@id``
    inside a nest (also an error in strict processors): the subject is
    already fixed here, so the key is ignored rather than failing the doc."""
    if depth > 32:
        raise JsonLdError("@nest nesting too deep")
    ac = ctx.alias_cache
    ec = ctx.expand_cache
    for nv in value if isinstance(value, list) else [value]:
        if not isinstance(nv, dict):
            raise JsonLdError("invalid @nest value: not a map")
        for k in nv:
            kw = ac.get(k, _MISS)
            if kw is _MISS:
                kw = _alias_of(ctx, k)
            if kw == "@value":
                raise JsonLdError("invalid @nest value: contains @value")
        for key, v in nv.items():
            kw = ac.get(key, _MISS)
            if kw is _MISS:
                kw = _alias_of(ctx, key)
            if kw is None:
                pred_iri = ec.get((key, True), _MISS)
                if pred_iri is _MISS:
                    pred_iri = _expand_iri(ctx, key, vocab=True)
                if not pred_iri or pred_iri[0] == "@" or pred_iri[:2] == "_:":
                    continue
                td = ctx.terms.get(key)
                _process_values(state, ctx, subj, pred_iri, td, v, subj_t, f"<{pred_iri}>")
                continue
            if kw == "@nest":
                _process_nest(state, ctx, subj, subj_t, v, depth + 1)
                continue
            if kw == "@type":
                types = v if isinstance(v, list) else [v]
                for t in types:
                    if not isinstance(t, str):
                        continue
                    t_iri = _expand_iri(ctx, t, vocab=True)
                    if t_iri and not t_iri.startswith("@"):
                        obj = state.relabel(t_iri) if t_iri.startswith("_:") else fmt_iri(t_iri)
                        state.triples.append((subj_t, _RDF_TYPE_T, obj))
                continue
            # other keywords ignored inside a nest


def _pred_ok(pred_iri: str) -> bool:
    # predicates must be IRIs (bnode predicates are generalized RDF; dropped)
    return not pred_iri.startswith("_:")


def _obj_term(subj_or_iri: str) -> str:
    return subj_or_iri if subj_or_iri.startswith("_:") else fmt_iri(subj_or_iri)


def _process_values(state, ctx, subj, pred_iri, td, value, subj_t=None, pred_t=None) -> None:
    # subj_t/pred_t: pre-formatted terms, computed once per (node, predicate)
    # by the caller instead of per emitted triple
    if subj_t is None:
        subj_t = subj if subj.startswith("_:") else f"<{subj}>"
    if pred_t is None:
        pred_t = f"<{pred_iri}>"
    if isinstance(value, list):
        if td is not None and td.container == "@list":
            _emit_list(state, ctx, subj, pred_iri, td, value, subj_t, pred_t)
            return
        for item in value:
            _process_values(state, ctx, subj, pred_iri, td, item, subj_t, pred_t)
        return
    if value is None:
        return
    if isinstance(value, dict):
        if td is not None and td.container == "@language":
            # language map (JSON-LD 1.1 expansion step 13.7): keys are
            # language tags (lowercased per spec), @none -> no tag; values
            # are strings or string arrays. Keys iterate sorted for
            # deterministic triple order.
            map_dir = td.direction if td.direction is not _DIR_UNSET else ctx.direction
            for lang_key in sorted(value.keys()):
                vals = value[lang_key]
                no_tag = lang_key == "@none" or _alias_of(ctx, lang_key) == "@none"
                lang = None if no_tag else lang_key.lower()
                for v in vals if isinstance(vals, list) else [vals]:
                    if isinstance(v, str):
                        _emit_literal_t(state, subj_t, pred_t, v, None, lang, map_dir)
            return
        if td is not None and td.container == "@index":
            # index map: index keys carry no RDF meaning and are dropped;
            # member values are processed as plain values of the term
            plain_td = _TermDef(td.iri, td.type_mapping, td.language, None)
            for ikey in sorted(value.keys()):
                _process_values(state, ctx, subj, pred_iri, plain_td, value[ikey], subj_t, pred_t)
            return
        # one-pass keyword scan (first key aliasing each keyword wins, and
        # @value > @list > @set priority — both exactly as the equivalent
        # {key: alias} dict construction behaved); alias cache inlined
        ac = ctx.alias_cache
        vkey = lkey = skey = None
        for k in value:
            kw = ac.get(k, _MISS)
            if kw is _MISS:
                kw = _alias_of(ctx, k)
            if kw == "@value":
                if vkey is None:
                    vkey = k
            elif kw == "@list":
                if lkey is None:
                    lkey = k
            elif kw == "@set":
                if skey is None:
                    skey = k
        if vkey is not None:
            v = value[vkey]
            if v is None:
                return
            dtype = None
            lang = None
            vdir = None
            for k in value:
                kwname = ac.get(k, _MISS)
                if kwname is _MISS:
                    kwname = _alias_of(ctx, k)
                if kwname == "@type" and isinstance(value[k], str):
                    dtype = _expand_iri(ctx, value[k], vocab=True)
                elif kwname == "@language" and isinstance(value[k], str):
                    lang = value[k]
                elif kwname == "@direction" and value[k] in ("ltr", "rtl"):
                    vdir = value[k]
            if dtype is None and lang is None and td is not None:
                if td.type_mapping and td.type_mapping not in ("@id", "@vocab", "@json"):
                    dtype = td.type_mapping
                elif td.language is not None:
                    lang = td.language or None
            if vdir is None:
                vdir = (
                    td.direction
                    if td is not None and td.direction is not _DIR_UNSET
                    else ctx.direction
                )
            if dtype is not None and not is_valid_iri(dtype):
                return  # invalid datatype IRI -> literal dropped
            _emit_literal_t(state, subj_t, pred_t, v, dtype, lang, vdir)
            return
        if lkey is not None:
            items = value[lkey]
            _emit_list(
                state, ctx, subj, pred_iri, td,
                items if isinstance(items, list) else [items], subj_t, pred_t,
            )
            return
        if skey is not None:
            _process_values(state, ctx, subj, pred_iri, td, value[skey], subj_t, pred_t)
            return
        child = _process_node(state, ctx, value)
        if child is not None:
            state.triples.append((subj_t, pred_t, _obj_term(child)))
        return
    if isinstance(value, str):
        if td is not None and td.type_mapping == "@id":
            iri = _expand_iri(ctx, value, vocab=False)
            if iri:
                if iri.startswith("_:"):
                    state.triples.append((subj_t, pred_t, state.relabel(iri)))
                elif is_valid_iri(iri):
                    state.triples.append((subj_t, pred_t, f"<{iri}>"))
            return
        if td is not None and td.type_mapping == "@vocab":
            iri = _expand_iri(ctx, value, vocab=True)
            if iri and is_valid_iri(iri):
                state.triples.append((subj_t, pred_t, f"<{iri}>"))
            return
        dtype = None
        lang = None
        if td is not None and td.type_mapping and td.type_mapping not in ("@id", "@vocab", "@json"):
            dtype = td.type_mapping
            if not is_valid_iri(dtype):
                return
        elif td is not None and td.language is not None:
            lang = td.language or None
        elif ctx.language:
            lang = ctx.language
        sdir = (
            td.direction
            if td is not None and td.direction is not _DIR_UNSET
            else ctx.direction
        )
        _emit_literal_t(state, subj_t, pred_t, value, dtype, lang, sdir)
        return
    # number / bool
    dtype = None
    if td is not None and td.type_mapping and td.type_mapping not in ("@id", "@vocab", "@json"):
        dtype = td.type_mapping
    _emit_literal_t(state, subj_t, pred_t, value, dtype, None)


def _emit_list(state, ctx, subj, pred_iri, td, items, subj_t=None, pred_t=None) -> None:
    if subj_t is None:
        subj_t = _fmt_subject(subj)
    if pred_t is None:
        pred_t = f"<{pred_iri}>"
    if not items:
        state.triples.append((subj_t, pred_t, _RDF_NIL_T))
        return
    head = state.fresh_bnode()
    state.triples.append((subj_t, pred_t, head))
    current = head
    # strip the @list container so item values are processed plainly
    plain_td = _TermDef(td.iri, td.type_mapping, td.language, None) if td else None
    for i, item in enumerate(items):
        _process_values(state, ctx, current, RDF_FIRST, plain_td, item, current, _RDF_FIRST_T)
        nxt = state.fresh_bnode() if i + 1 < len(items) else None
        state.triples.append(
            (current, _RDF_REST_T, nxt if nxt else _RDF_NIL_T)
        )
        if nxt:
            current = nxt


def jsonld_to_triples(
    doc: Any, *, base: str | None = None, rdf_direction: str | None = None
) -> list[tuple[str, str, str]]:
    """Convert a parsed JSON-LD document to a list of N-Triples term tuples
    ``(subj, pred, obj)`` (terms already serialized: ``<iri>``, ``_:bN``,
    ``"lit"...``). Blank-node labels are doc-local (``_:b0`` ...).

    ``rdf_direction="i18n-datatype"`` serializes base-direction strings
    (context/term/value ``@direction``) as i18n-datatyped literals, matching
    pyld/json-gold under the same option; the default (None) ignores
    direction per the spec's default toRdf behavior."""
    return jsonld_to_triples_ex(doc, base=base, rdf_direction=rdf_direction)[0]


def jsonld_to_triples_ex(
    doc: Any, *, base: str | None = None, rdf_direction: str | None = None
) -> tuple[list[tuple[str, str, str]], bool]:
    """``(triples, minted_bnodes)`` — same conversion, plus whether ANY
    blank node label was produced, so callers can skip downstream
    bnode-rewriting passes (skolemization is the identity without them)
    without re-scanning every term."""
    state = _ToRdfState(rdf_direction)
    ctx = Context()
    ctx.base = base
    nodes = doc if isinstance(doc, list) else [doc]
    for node in nodes:
        if isinstance(node, dict):
            _process_node(state, ctx, node)
    return state.triples, state.bnode_counter > 0 or bool(state.bnode_map)


# --- context standardization (jsonld_standardize.go:15-92 semantics) ---

_HYF_CANON = "https://www.opengis.net/def/schema/hy_features/hyf/"


def _standardize_iri(iri: str) -> str:
    if "http://schema.org" in iri:
        return "https://schema.org/"
    if "http://www.opengeospatial.org/standards/waterml2/hy_features" in iri:
        return _HYF_CANON
    if "https://www.opengis.net/def/appschema/hy_features/hyf" in iri:
        return _HYF_CANON
    return iri


def _standardize_context_value(ctx_value: Any) -> Any:
    if isinstance(ctx_value, str):
        return _standardize_iri(ctx_value)
    if isinstance(ctx_value, list):
        return [_standardize_context_value(item) for item in ctx_value]
    if isinstance(ctx_value, dict):
        return {
            k: (_standardize_iri(v) if isinstance(v, str) else v)
            for k, v in ctx_value.items()
        }
    return ctx_value


def get_wkt_from_jsonld(doc: dict) -> str | None:
    """WKT extraction (GetWktFromJsonld, jsonld.go:127-140): the literal
    ``jsonld['gsp:hasGeometry']['gsp:asWKT']['@value']`` path, None when any
    level is missing or mistyped. The Spark-side equivalent is the
    get_json_object expression in operators/enrich.py."""
    geo = doc.get("gsp:hasGeometry")
    if isinstance(geo, dict):
        wkt_node = geo.get("gsp:asWKT")
        if isinstance(wkt_node, dict):
            value = wkt_node.get("@value")
            if isinstance(value, str):
                return value
    return None


def standardize_jsonld_context(doc: dict) -> dict:
    """Standardize ``@context`` IRI prefixes so http/https/www variants are
    treated identically (reference: StandardizeJsonldContextWithMutation).
    Raises JsonLdError when the doc has no @context (matching the reference's
    error), leaving the caller to record a parse failure."""
    if doc is None:
        raise JsonLdError("nil jsonld input when trying to standardize context")
    if "@context" not in doc:
        raise JsonLdError("jsonld has no @context to standardize")
    out = dict(doc)
    out["@context"] = _standardize_context_value(doc["@context"])
    return out
