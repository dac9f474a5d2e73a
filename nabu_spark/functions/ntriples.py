"""N-Triples / N-Quads term model, serialization, and strict validation.

Semantics mirrored from the reference (studied, not copied):
  - line format ``subj pred obj .`` / ``subj pred obj graph .``
    (/root/reference/internal/common/rdfConversions.go:17-43)
  - strict parse during NT->NQ tagging drops lines whose IRIs are invalid
    (e.g. a space inside ``<...>`` from a malformed ``@type``), logged and
    skipped (/root/reference/internal/common/jsonld_test.go:59-76: the
    "Extensometer well" line survives toRdf but is dropped by NtToNq).
  - canonical ``xsd:double`` lexical form uses E-notation with the shortest
    round-trip mantissa (/root/reference/internal/common/urn_test.go:117-118:
    ``-1.091283306E2`` / ``3.712195E1``).
"""

from __future__ import annotations

import re

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"

# RFC 3987-ish check, matching what a strict N-Triples parser accepts inside
# <...>: an absolute IRI (scheme:...) with no whitespace/angle/quote/control.
_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\x00-\x20<>\"{}|^`\\]*$")
_BNODE_RE = re.compile(r"^_:[A-Za-z0-9][A-Za-z0-9._\-]*$|^_:$")

_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}
_ESCAPE_RE = re.compile(r'[\\"\n\r\t]')
_UNESCAPE_RE = re.compile(r"\\(.)")
_UNESCAPES = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}


from functools import lru_cache


def escape_literal(value: str) -> str:
    if _ESCAPE_RE.search(value) is None:  # overwhelmingly common fast path
        return value
    return _ESCAPE_RE.sub(lambda m: _ESCAPES[m.group(0)], value)


def unescape_literal(value: str) -> str:
    return _UNESCAPE_RE.sub(lambda m: _UNESCAPES.get(m.group(1), m.group(1)), value)


@lru_cache(maxsize=65536)
def is_valid_iri(iri: str) -> bool:
    # memoized: predicates/type IRIs repeat massively across a corpus batch
    return bool(_IRI_RE.match(iri))


def fmt_iri(iri: str) -> str:
    return f"<{iri}>"


def fmt_literal(lex: str, datatype: str | None = None, language: str | None = None) -> str:
    out = f'"{escape_literal(lex)}"'
    if language:
        return f"{out}@{language}"
    if datatype and datatype != XSD_STRING:
        return f"{out}^^<{datatype}>"
    return out


def canonical_double(v: float) -> str:
    """Canonical xsd:double lexical form per JSON-LD 1.1 toRdf data
    round-tripping: shortest round-trip mantissa, one digit before the point,
    at least one after, bare-integer exponent with ``E``.

    Golden parity: -107.630658496 -> ``-1.07630658496E2``
    (/root/reference/cmd/nabu/testdata/iow_wqp_stations__5_release.nq).
    """
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "INF"
    if v == float("-inf"):
        return "-INF"
    if v == 0.0:
        # repr distinguishes -0.0
        return "-0.0E0" if repr(v).startswith("-") else "0.0E0"
    # manual shortest-repr -> scientific normalization (Decimal is ~6x slower)
    s = repr(v)
    neg = s[0] == "-"
    if neg:
        s = s[1:]
    if "e" in s:
        mant, _, exp_s = s.partition("e")
        exp = int(exp_s)
    else:
        mant, exp = s, 0
    ip, _, fp = mant.partition(".")
    alldigits = ip + fp
    digits = alldigits.lstrip("0")
    lead = len(alldigits) - len(digits)
    adj = exp + len(ip) - 1 - lead
    digits = digits.rstrip("0") or "0"
    mantissa = digits[0] + "." + (digits[1:] or "0")
    return ("-" if neg else "") + mantissa + "E" + str(adj)


def canonical_number(v: int | float, datatype: str | None = None) -> tuple[str, str]:
    """Return (lexical, datatype) for a JSON number per JSON-LD toRdf.

    A number with a nonzero fractional part, magnitude >= 1e21, or a forced
    xsd:double datatype becomes a canonical double; otherwise xsd:integer.
    """
    if datatype == XSD_DOUBLE or (
        isinstance(v, float) and (not v.is_integer() or abs(v) >= 1e21)
    ):
        return canonical_double(float(v)), XSD_DOUBLE
    if isinstance(v, float):
        v = int(v)
    return str(v), datatype or XSD_INTEGER


def term_is_valid(term: str, *, as_subject: bool = False, as_predicate: bool = False) -> bool:
    """Strict N-Quads term validation (the NtToNq drop-malformed-line gate)."""
    return _term_is_valid_cached(term, as_subject, as_predicate)


@lru_cache(maxsize=65536)
def _term_is_valid_cached(term: str, as_subject: bool, as_predicate: bool) -> bool:
    if term.startswith("<") and term.endswith(">"):
        return is_valid_iri(term[1:-1])
    if term.startswith("_:"):
        return not as_predicate and bool(_BNODE_RE.match(term))
    if term.startswith('"'):
        if as_subject or as_predicate:
            return False
        # fast path: plain '"lex"' with no escapes and no interior quote —
        # exactly the strings matched by ^"[^"\\]*"$ (the dominant shape)
        if len(term) >= 2 and term[-1] == '"' and "\\" not in term and term.count('"') == 2:
            return True
        # "lex"(@lang | ^^<iri>)?
        m = re.match(r'^"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9\-]*|\^\^<([^\x00-\x20<>"{}|^`\\]*)>)?$', term)
        if not m:
            return False
        dt = m.group(1)
        return dt is None or bool(_IRI_RE.match(dt))
    return False
