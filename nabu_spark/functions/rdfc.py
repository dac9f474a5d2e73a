"""RDF Dataset Canonicalization (RDFC-1.0, the algorithm formerly URDNA2015).

From-scratch implementation of the W3C RDFC-1.0 algorithm
(https://www.w3.org/TR/rdf-canon/): deterministic `_:c14nN` blank-node
labels for any graph, stable under bnode renaming AND quad reordering —
the "RDF Dataset Canonicalization ordering" leg of this repo's north star.

Relationship to functions/skolem.py: the reference's skolemizer
(/root/reference/internal/common/urn.go:54-130, mirrored there) hashes each
blank node's ONE-degree context, which is what the reference emits and what
P/R parity requires — but it assigns equal labels to automorphic or
deeply-nested bnodes that differ only beyond one hop. RDFC-1.0 resolves
those through recursive N-degree hashing with permutation search, giving a
collision-free canonical form suitable for content-addressed graph IDs,
release diffing, and cross-run byte-identical N-Quads.

Scale shape: blank nodes never cross document boundaries in this pipeline,
so canonicalization is graph-local — the distributed operator
(operators/graphops.py::canonical_quads) runs it per prov group inside one
per-graph mapInArrow pass over prov-sorted partitions, no shuffle beyond
the one co-location. Worst-case permutation blowup is bounded by ``max_degree``
(documents with pathological automorphic bnode meshes become error rows,
never stuck tasks).

Terms are N-Triples strings ('<iri>', '"lit"', '_:label'), matching
operators/triples.py.
"""

from __future__ import annotations

import hashlib
from itertools import permutations


class CanonicalizationError(ValueError):
    pass


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


class _Issuer:
    """Identifier issuer (RDFC-1.0 §4.5): stable first-issued ordering."""

    __slots__ = ("prefix", "counter", "issued", "order")

    def __init__(self, prefix: str = "c14n"):
        self.prefix = prefix
        self.counter = 0
        self.issued: dict[str, str] = {}
        self.order: list[str] = []

    def issue(self, node: str) -> str:
        got = self.issued.get(node)
        if got is not None:
            return got
        ident = f"{self.prefix}{self.counter}"
        self.counter += 1
        self.issued[node] = ident
        self.order.append(node)
        return ident

    def has(self, node: str) -> bool:
        return node in self.issued

    def copy(self) -> "_Issuer":
        c = _Issuer(self.prefix)
        c.counter = self.counter
        c.issued = dict(self.issued)
        c.order = list(self.order)
        return c


def _is_bnode(t: str) -> bool:
    return t.startswith("_:")


class _Canonicalizer:
    """One canonicalization run over a list of (s, p, o) triples (the
    default graph of a per-document dataset)."""

    def __init__(self, triples: list[tuple[str, str, str]], max_degree: int = 8):
        # an RDF graph is a SET of triples: dedupe, and mention each quad
        # once per bnode even for self-loops (_:b p _:b) — the spec's
        # quad-mention map is a set, and double-counting would corrupt the
        # first-degree hashes vs conformant implementations
        self.triples = sorted(set(triples))
        self.max_degree = max_degree
        self.bnode_quads: dict[str, list[tuple[str, str, str]]] = {}
        for t in self.triples:
            for term in {t[0], t[2]}:
                if _is_bnode(term):
                    self.bnode_quads.setdefault(term, []).append(t)
        self.canonical = _Issuer("c14n")
        self._hfdq_cache: dict[str, str] = {}

    # -- Hash First Degree Quads (§4.6) ------------------------------------
    def _hash_first_degree(self, node: str) -> str:
        cached = self._hfdq_cache.get(node)
        if cached is not None:
            return cached
        lines = []
        for s, p, o in self.bnode_quads[node]:
            ss = ("_:a" if s == node else "_:z") if _is_bnode(s) else s
            oo = ("_:a" if o == node else "_:z") if _is_bnode(o) else o
            lines.append(f"{ss} {p} {oo} .\n")
        h = _sha256("".join(sorted(lines)))
        self._hfdq_cache[node] = h
        return h

    # -- Hash Related Blank Node (§4.7) ------------------------------------
    def _hash_related(self, related: str, quad, issuer: _Issuer, position: str) -> str:
        if self.canonical.has(related):
            ident = "_:" + self.canonical.issued[related]
        elif issuer.has(related):
            ident = "_:" + issuer.issued[related]
        else:
            ident = self._hash_first_degree(related)
        inp = position
        if position != "g":
            inp += f"<{quad[1][1:-1]}>"
        return _sha256(inp + ident)

    # -- Hash N-Degree Quads (§4.8) ----------------------------------------
    def _hash_n_degree(self, node: str, issuer: _Issuer, depth: int = 0):
        if depth > self.max_degree:
            raise CanonicalizationError(
                f"bnode mesh exceeds max recursion depth {self.max_degree}"
            )
        hash_to_related: dict[str, list[str]] = {}
        for quad in self.bnode_quads[node]:
            for term, position in ((quad[0], "s"), (quad[2], "o")):
                if _is_bnode(term) and term != node:
                    h = self._hash_related(term, quad, issuer, position)
                    hash_to_related.setdefault(h, []).append(term)
        data_to_hash = []
        for related_hash in sorted(hash_to_related):
            data_to_hash.append(related_hash)
            chosen_path = ""
            chosen_issuer = issuer
            members = hash_to_related[related_hash]
            if len(members) > self.max_degree:
                raise CanonicalizationError(
                    f"{len(members)} mutually-related bnodes share a hash; "
                    f"permutation search capped at {self.max_degree}"
                )
            for perm in permutations(members):
                issuer_copy = issuer.copy()
                path = ""
                recursion_list = []
                skip = False
                for related in perm:
                    if self.canonical.has(related):
                        path += "_:" + self.canonical.issued[related]
                    else:
                        if not issuer_copy.has(related):
                            recursion_list.append(related)
                        path += "_:" + issuer_copy.issue(related)
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                for related in recursion_list:
                    result_hash, result_issuer = self._hash_n_degree(
                        related, issuer_copy, depth + 1
                    )
                    path += "_:" + issuer_copy.issue(related)
                    path += f"<{result_hash}>"
                    issuer_copy = result_issuer
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data_to_hash.append(chosen_path)
            issuer = chosen_issuer
        return _sha256("".join(data_to_hash)), issuer

    # -- main (§4.4) --------------------------------------------------------
    def run(self) -> dict[str, str]:
        """bnode label -> canonical label (c14nN, without the _: prefix)."""
        hash_to_bnodes: dict[str, list[str]] = {}
        for node in self.bnode_quads:
            hash_to_bnodes.setdefault(self._hash_first_degree(node), []).append(node)
        non_unique: list[list[str]] = []
        for h in sorted(hash_to_bnodes):
            members = hash_to_bnodes[h]
            if len(members) == 1:
                self.canonical.issue(members[0])
            else:
                non_unique.append(members)
        for members in non_unique:
            results = []
            for node in members:
                if self.canonical.has(node):
                    continue
                temp = _Issuer("b")
                temp.issue(node)
                results.append(self._hash_n_degree(node, temp))
            for result_hash, result_issuer in sorted(results, key=lambda r: r[0]):
                for node in result_issuer.order:
                    self.canonical.issue(node)
        return dict(self.canonical.issued)


def canonical_label_map(
    triples: list[tuple[str, str, str]], max_degree: int = 8
) -> dict[str, str]:
    """RDFC-1.0 canonical labels for every blank node in ``triples``:
    {'_:b0': 'c14n1', ...}."""
    return _Canonicalizer(list(triples), max_degree).run()


def canonicalize_triples(
    triples: list[tuple[str, str, str]], max_degree: int = 8
) -> list[tuple[str, str, str]]:
    """Relabel blank nodes canonically and return the triples in canonical
    N-Triples order (sorted serialization) — a pure function of the graph's
    isomorphism class."""
    labels = canonical_label_map(triples, max_degree)

    def sub(t: str) -> str:
        return "_:" + labels[t] if _is_bnode(t) else t

    out = [(sub(s), p, sub(o)) for s, p, o in triples]
    return sorted(set(out), key=lambda t: f"{t[0]} {t[1]} {t[2]}")


def canonical_ntriples(
    triples: list[tuple[str, str, str]], max_degree: int = 8
) -> str:
    """Canonical N-Triples document text (one sorted line per unique triple)."""
    return "".join(
        f"{s} {p} {o} .\n" for s, p, o in canonicalize_triples(triples, max_degree)
    )


def canonical_graph_hash(
    triples: list[tuple[str, str, str]], max_degree: int = 8
) -> str:
    """sha256 of the canonical N-Triples text — equal iff graphs are
    isomorphic (up to the documented max_degree bound)."""
    return _sha256(canonical_ntriples(triples, max_degree))
