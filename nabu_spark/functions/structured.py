"""Microdata and RDFa Lite extraction from HTML -> serialized RDF terms.

North-star surface beyond the reference (which extracts JSON-LD only): batch-
extract the other two embedded-structured-data formats common on the open
web. Subsets implemented:

  * **Microdata -> RDF** (W3C microdata-to-RDF essentials): ``itemscope`` /
    ``itemtype`` / ``itemprop`` / ``itemid``; property IRIs resolve against
    the item's vocabulary (itemtype up to the last ``/`` or ``#``); value
    extraction follows the per-element rules (meta@content, a/link/area@href,
    img/audio/video/embed/iframe/source@src, time@datetime, data/meter@value,
    object@data, else text content); nested itemscope creates a child item;
    items without ``itemid`` are fresh blank nodes (skolemized downstream
    exactly like JSON-LD blank nodes).
  * **RDFa Lite** (+ two RDFa Core extras): ``vocab`` / ``prefix`` /
    ``typeof`` / ``property`` / ``resource`` / ``about`` / ``href`` /
    ``src`` / ``content``; new subjects from about/resource/typeof; property
    objects prefer content attr, then resource/href/src, then text content;
    typeof emits rdf:type. ``datatype`` types the literal (empty datatype
    forces a plain literal); ``inlist`` collects all values of a
    (subject, property) pair document-wide into one rdf:List in document
    order (rdf:first/rdf:rest/rdf:nil chain, bnodes skolemized downstream).

Both emit the same ``(subj, pred, obj)`` serialized-term tuples as the
JSON-LD path, so skolemization, the strict quad gate, and URN tagging apply
uniformly.
"""

from __future__ import annotations

from urllib.parse import urljoin

from .domtree import Element, parse_html_tree
from .ntriples import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    fmt_iri,
    fmt_literal,
    is_valid_iri,
)


class _BnodeGen:
    def __init__(self, prefix: str):
        self.prefix = prefix
        self.n = 0

    def fresh(self) -> str:
        label = f"_:{self.prefix}{self.n}"
        self.n += 1
        return label


def _term(subject: str) -> str:
    return subject if subject.startswith("_:") else fmt_iri(subject)


# --- Microdata ---------------------------------------------------------------

_SRC_TAGS = {"img", "audio", "video", "embed", "iframe", "source", "track"}
_HREF_TAGS = {"a", "link", "area"}


def _md_vocab(itemtype: str) -> str:
    for sep in ("#", "/"):
        idx = itemtype.rfind(sep)
        if idx > 0:
            return itemtype[: idx + 1]
    return itemtype


def _md_value(el: Element, base: str):
    """(kind, value): kind in {'iri','literal','item'}."""
    if "itemscope" in el.attrs:
        return "item", el
    tag = el.tag
    if tag == "meta":
        return "literal", el.get("content", "")
    if tag in _HREF_TAGS:
        return "iri", urljoin(base, el.get("href", ""))
    if tag in _SRC_TAGS:
        return "iri", urljoin(base, el.get("src", ""))
    if tag == "object":
        return "iri", urljoin(base, el.get("data", ""))
    if tag == "time":
        return "literal", el.get("datetime") or el.text_content()
    if tag in ("data", "meter"):
        return "literal", el.get("value", "")
    if el.get("content") is not None:  # common in the wild
        return "literal", el.get("content")
    return "literal", el.text_content().strip()


def _md_props(item_el: Element):
    """itemprop descendants of an item, not crossing nested itemscopes."""
    stack = [c for c in item_el.children if isinstance(c, Element)]
    while stack:
        el = stack.pop(0)
        if "itemprop" in el.attrs:
            yield el
            if "itemscope" in el.attrs:
                continue  # nested item's own props belong to it
        elif "itemscope" in el.attrs:
            continue  # anonymous nested scope: stop descent
        stack = [c for c in el.children if isinstance(c, Element)] + stack


def extract_microdata(
    data: bytes | str, base: str = "", *, bnodes: _BnodeGen | None = None,
    tree: "Element | None" = None,
) -> list[tuple[str, str, str]]:
    root = tree if tree is not None else parse_html_tree(data)
    bnodes = bnodes or _BnodeGen("md")
    triples: list[tuple[str, str, str]] = []

    def process_item(el: Element) -> str:
        itemid = el.get("itemid")
        subject = urljoin(base, itemid) if itemid else bnodes.fresh()
        itemtype = (el.get("itemtype") or "").split()
        vocab = _md_vocab(itemtype[0]) if itemtype else ""
        for t in itemtype:
            if is_valid_iri(t):
                triples.append((_term(subject), fmt_iri(RDF_TYPE), fmt_iri(t)))
        for prop_el in _md_props(el):
            for name in (prop_el.get("itemprop") or "").split():
                pred = name if is_valid_iri(name) else (vocab + name if vocab else "")
                if not is_valid_iri(pred):
                    continue
                kind, value = _md_value(prop_el, base)
                if kind == "item":
                    child = process_item(value)
                    triples.append((_term(subject), fmt_iri(pred), _term(child)))
                elif kind == "iri":
                    if value and is_valid_iri(value):
                        triples.append((_term(subject), fmt_iri(pred), fmt_iri(value)))
                else:
                    triples.append((_term(subject), fmt_iri(pred), fmt_literal(value)))
        return subject

    for el in root.iter_elements():
        if "itemscope" in el.attrs and "itemprop" not in el.attrs:
            process_item(el)  # top-level items only; nested handled inline
    return triples


# --- RDFa Lite ---------------------------------------------------------------

_DEFAULT_PREFIXES = {
    "schema": "https://schema.org/",
    "dc": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "og": "http://ogp.me/ns#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


def _rdfa_expand(value: str, vocab: str, prefixes: dict, base: str, *, as_prop: bool) -> str | None:
    if not value:
        return None
    idx = value.find(":")
    if idx > 0:
        pre, suffix = value[:idx], value[idx + 1 :]
        if pre in prefixes and not suffix.startswith("//"):
            return prefixes[pre] + suffix
        if is_valid_iri(value):
            return value
    if as_prop:
        return vocab + value if vocab else None
    return urljoin(base, value) if base else (value if is_valid_iri(value) else None)


def extract_rdfa(
    data: bytes | str, base: str = "", *, bnodes: _BnodeGen | None = None,
    tree: "Element | None" = None,
) -> list[tuple[str, str, str]]:
    root = tree if tree is not None else parse_html_tree(data)
    bnodes = bnodes or _BnodeGen("ra")
    triples: list[tuple[str, str, str]] = []
    # inlist accumulation: (subject term, predicate iri) -> object terms in
    # document order; one rdf:List per pair is emitted after the walk
    list_acc: dict[tuple[str, str], list[str]] = {}

    def parse_prefix_attr(attr: str, inherited: dict) -> dict:
        out = dict(inherited)
        parts = attr.split()
        for i in range(0, len(parts) - 1, 2):
            name = parts[i].rstrip(":")
            out[name] = parts[i + 1]
        return out

    def walk(el: Element, subject: str | None, vocab: str, prefixes: dict):
        if not isinstance(el, Element):
            return
        attrs = el.attrs
        if "vocab" in attrs:
            vocab = attrs["vocab"] or ""
        if "prefix" in attrs:
            prefixes = parse_prefix_attr(attrs["prefix"], prefixes)

        new_subject = None
        if "about" in attrs:
            new_subject = _rdfa_expand(attrs["about"], vocab, prefixes, base, as_prop=False)

        prop = attrs.get("property")
        typeof = attrs.get("typeof")

        obj_ref = None
        for key in ("resource", "href", "src"):
            if key in attrs:
                obj_ref = _rdfa_expand(attrs[key], vocab, prefixes, base, as_prop=False)
                break

        if typeof is not None and new_subject is None:
            # typeof mints a subject: the resource if present (and no
            # property chains it), else a fresh bnode
            new_subject = obj_ref if (obj_ref and prop is None) else bnodes.fresh()

        current = new_subject or subject

        if typeof is not None and (new_subject or current):
            tsubj = new_subject or current
            for t in typeof.split():
                t_iri = _rdfa_expand(t, vocab, prefixes, base, as_prop=True)
                if t_iri and is_valid_iri(t_iri):
                    triples.append((_term(tsubj), fmt_iri(RDF_TYPE), fmt_iri(t_iri)))

        if prop is not None and subject is not None or (prop and new_subject and subject is None):
            holder = subject or new_subject
            dt_iri = None
            if attrs.get("datatype"):
                dt_iri = _rdfa_expand(attrs["datatype"], vocab, prefixes, base, as_prop=True)
                if dt_iri is not None and not is_valid_iri(dt_iri):
                    dt_iri = None
            in_list = "inlist" in attrs

            def emit(p_iri: str, obj_term: str) -> None:
                if in_list:
                    list_acc.setdefault((_term(holder), p_iri), []).append(obj_term)
                else:
                    triples.append((_term(holder), fmt_iri(p_iri), obj_term))

            for p in prop.split():
                p_iri = _rdfa_expand(p, vocab, prefixes, base, as_prop=True)
                if not p_iri or not is_valid_iri(p_iri):
                    continue
                if typeof is not None and new_subject and new_subject != holder:
                    emit(p_iri, _term(new_subject))
                elif "content" in attrs:
                    emit(p_iri, fmt_literal(attrs["content"], dt_iri))
                elif obj_ref and is_valid_iri(obj_ref):
                    emit(p_iri, fmt_iri(obj_ref))
                else:
                    emit(p_iri, fmt_literal(el.text_content().strip(), dt_iri))

        child_subject = new_subject or subject
        for c in el.children:
            if isinstance(c, Element):
                walk(c, child_subject, vocab, prefixes)

    for c in root.children:
        if isinstance(c, Element):
            walk(c, base or None, "", dict(_DEFAULT_PREFIXES))

    # materialize one rdf:List per (subject, predicate) inlist group
    for (subj_term, p_iri), items in list_acc.items():
        if not items:
            triples.append((subj_term, fmt_iri(p_iri), fmt_iri(RDF_NIL)))
            continue
        head = bnodes.fresh()
        triples.append((subj_term, fmt_iri(p_iri), head))
        cur = head
        for i, obj_term in enumerate(items):
            triples.append((cur, fmt_iri(RDF_FIRST), obj_term))
            if i + 1 < len(items):
                nxt = bnodes.fresh()
                triples.append((cur, fmt_iri(RDF_REST), nxt))
                cur = nxt
            else:
                triples.append((cur, fmt_iri(RDF_REST), fmt_iri(RDF_NIL)))
    return triples


def extract_structured_triples(
    data: bytes | str, base: str = "", *, formats=("microdata", "rdfa")
) -> list[tuple[str, str, str]]:
    """Microdata and/or RDFa triples from one page: one DOM parse shared by
    both extractors (it dominates the kernel), one bnode namespace."""
    bnodes = _BnodeGen("sd")
    tree = parse_html_tree(data)
    out = []
    if "microdata" in formats:
        out.extend(extract_microdata(data, base, bnodes=bnodes, tree=tree))
    if "rdfa" in formats:
        out.extend(extract_rdfa(data, base, bnodes=bnodes, tree=tree))
    return out
