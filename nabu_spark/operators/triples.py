"""docs -> quads: the core JSON-LD -> skolemized, URN-tagged N-Quads stage.

Pipeline per document (ordering matters and mirrors the reference's release
path, /root/reference/internal/synchronizer/client_release_graphs.go:100-159):

    parse JSON -> standardize @context -> (optional mainstem injection,
    done upstream) -> toRdf -> skolemize -> strict term validation (the
    NtToNq drop-malformed-line gate) -> tag graph URN

All doc-local, so the whole chain runs in ONE ``mapInPandas`` pass — no
shuffle between steps; blank nodes never cross documents. Failed docs emit a
single row with null subj and an error_code so lineage falls out of a cheap
aggregation over the same output, with no second UDF pass.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.jsonld import (
    JsonLdError, jsonld_to_triples_ex, standardize_jsonld_context,
)
from ..functions.ntriples import _term_is_valid_cached, term_is_valid
from ..functions.skolem import SKOLEM_PREFIX, skolemize_terms
from ..functions.urn import make_urn

# the exact shape of a skolem IRI we minted: prefix + sha256 hex
_is_minted_skolem = re.compile("<" + re.escape(SKOLEM_PREFIX) + "[0-9a-f]{64}>").fullmatch

QUADS_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("prov", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("error_code", T.StringType()),
    ]
)

try:  # optional fast path; stdlib fallback keeps behavior identical
    from orjson import loads as _fast_loads
except ImportError:  # pragma: no cover
    _fast_loads = json.loads

ERR_JSON_PARSE = "json_parse"
ERR_JSONLD = "jsonld_convert"
ERR_EMPTY_GRAPH = "empty_graph"
ERR_INVALID_KEY = "invalid_key"


def finish_quads(
    triples: list[tuple[str, str, str]], obj_key: str, *, skolemize: bool = True
) -> tuple[list[tuple[str, str, str, str]], str, int]:
    """Shared tail of every extraction path: skolemize -> strict term gate ->
    URN tagging. Returns (quads, error_code, dropped_lines)."""
    if not triples:
        return [], ERR_EMPTY_GRAPH, 0
    if skolemize:
        triples = skolemize_terms(triples)
    try:
        # base64 keys can contain '//' (std alphabet); the reference's
        # MakeURN errors per-object there (urn.go:31-49) — here that is a
        # lineage error row, never a task failure
        prov = "<" + make_urn(obj_key) + ">"
    except ValueError:
        return [], ERR_INVALID_KEY, 0
    quads = []
    dropped = 0
    valid = _term_is_valid_cached  # bypass the keyword-arg wrapper in the hot loop
    minted = _is_minted_skolem
    for s, p, o in triples:
        # terms we minted ourselves are valid by construction — skip the
        # regex gate for them; anything else under the public prefix (an
        # untrusted @id) still goes through it
        if (
            (minted(s) or valid(s, True, False))
            and valid(p, False, True)
            and (minted(o) or valid(o, False, False))
        ):
            quads.append((s, p, o, prov))
        else:
            dropped += 1
    if not quads:
        return [], ERR_EMPTY_GRAPH, dropped
    return quads, "", dropped


def doc_to_quads(doc_text: str, obj_key: str, *, skolemize: bool = True) -> tuple[list[tuple[str, str, str, str]], str, int]:
    """Convert one JSON-LD document. Returns (quads, error_code, dropped_lines).

    ``skolemize=False`` matches the reference's single-object-release skip
    (client_release_graphs.go:143-152)."""
    try:
        # orjson is ~3x faster on the common case; any input it rejects that
        # stdlib json accepts (NaN/Infinity literals, >64-bit ints) falls
        # through, so acceptance semantics are exactly stdlib's
        doc = _fast_loads(doc_text)
    except Exception:
        try:
            doc = json.loads(doc_text)
        except Exception:
            return [], ERR_JSON_PARSE, 0
    if not isinstance(doc, (dict, list)):
        return [], ERR_JSON_PARSE, 0
    try:
        if isinstance(doc, dict) and "@context" in doc:
            doc = standardize_jsonld_context(doc)
        triples, minted_bnodes = jsonld_to_triples_ex(doc)
    except JsonLdError:
        return [], ERR_JSONLD, 0
    except RecursionError:
        return [], ERR_JSONLD, 0
    # skolemize_terms is the identity when the conversion minted no blank
    # nodes — skip its per-term scan for the bnode-free majority
    return finish_quads(
        triples, obj_key, skolemize=skolemize and minted_bnodes
    )


def _failed_prov(obj_key) -> str:
    """URN for a failure lineage row: the doc's identity is known even when
    its content fails, which is what makes snapshot resume idempotent (a
    recorded failure is not retried forever).

    Uses the SAME total transform as ``pipeline.with_prov_key`` ('/'->':')
    rather than ``make_urn``: base64 obj_keys can contain '//' (std
    alphabet), which MakeURN rejects per-object (urn.go:31-49) — but the
    resume anti-join keys on with_prov_key's output, so a failure prov
    derived any other way would never match and the failure row would be
    re-appended on every resume. Keyless rows get a deterministic sentinel
    so they too are recorded exactly once."""
    if obj_key is None:
        return "<urn:iow:invalid>"
    return "<urn:iow:" + str(obj_key).replace("/", ":") + ">"


def _relabel_rdfc(quads: list[tuple[str, str, str, str]], obj_key: str):
    """Replace blank-node labels with RDFC-1.0 canonical ones (doc-local,
    so this runs inside the same Arrow pass — no extra shuffle). Returns
    (quads, error_code).

    Labels are DOC-SCOPED canonical: ``_:g<sha1(obj_key)[:12]>c14nN``.
    Within one document the N suffixes are exactly the W3C rdf-canon
    assignment (rename/order-invariant); the doc-hash prefix keeps labels
    collision-free when release files concatenate multiple documents or
    when a global SPARQL join runs across graphs — blank-node labels are
    file-scoped in N-Quads, so bare ``_:c14n0`` from two docs would merge
    into one node (the collision the skolem default exists to prevent)."""
    import hashlib

    from ..functions.rdfc import CanonicalizationError, canonical_label_map

    if not any(s.startswith("_:") or o.startswith("_:") for s, _, o, _ in quads):
        return quads, ""
    try:
        labels = canonical_label_map([(s, p, o) for s, p, o, _ in quads])
    except CanonicalizationError:
        return [], "canon_blowup"
    scope = hashlib.sha1(obj_key.encode("utf-8")).hexdigest()[:12]

    def sub(t: str) -> str:
        return f"_:g{scope}{labels[t]}" if t.startswith("_:") else t

    return [(sub(s), p, sub(o), g) for s, p, o, g in quads], ""


def _quads_batches(
    batches: Iterator[pd.DataFrame], bnode_mode: str = "skolem"
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out_s, out_p, out_o, out_g, out_h, out_e = [], [], [], [], [], []
        for doc_text, obj_key, host, err in zip(
            pdf["doc"], pdf["obj_key"], pdf["host"], pdf["error_code"]
        ):
            if err or obj_key is None:  # upstream failure -> lineage row
                out_s.append(None); out_p.append(None); out_o.append(None)
                out_g.append(_failed_prov(obj_key)); out_h.append(host)
                out_e.append(err or "invalid_url")
                continue
            quads, qerr, _dropped = doc_to_quads(
                doc_text, obj_key, skolemize=bnode_mode == "skolem"
            )
            if not qerr and bnode_mode == "rdfc":
                quads, qerr = _relabel_rdfc(quads, obj_key)
            if qerr:
                out_s.append(None); out_p.append(None); out_o.append(None)
                out_g.append(_failed_prov(obj_key)); out_h.append(host)
                out_e.append(qerr)
                continue
            for s, p, o, g in quads:
                out_s.append(s); out_p.append(p); out_o.append(o)
                out_g.append(g); out_h.append(host); out_e.append(None)
        yield pd.DataFrame(
            {
                "subj": pd.Series(out_s, dtype="object"),
                "pred": pd.Series(out_p, dtype="object"),
                "obj": pd.Series(out_o, dtype="object"),
                "prov": pd.Series(out_g, dtype="object"),
                "host": pd.Series(out_h, dtype="object"),
                "error_code": pd.Series(out_e, dtype="object"),
            }
        )


def docs_to_quads(docs_with_key: DataFrame, *, bnode_mode: str = "skolem") -> DataFrame:
    """docs(url, host, sitemap_id, obj_key, doc, error_code) -> quads rows
    (+ one null-subj row per failed doc, for lineage).

    ``bnode_mode``: 'skolem' (reference-parity content-hash IRIs, default),
    'rdfc' (doc-scoped W3C-canonical `_:g<dochash>c14nN` labels kept as
    blank nodes — rename/order-invariant AND collision-free across
    concatenated documents), or 'raw' (original labels, the reference's
    single-object-release skip; caller owns cross-doc label collisions)."""
    if bnode_mode not in ("skolem", "rdfc", "raw"):
        raise ValueError(f"unknown bnode_mode {bnode_mode!r}")
    cols = docs_with_key.select("doc", "obj_key", "host", "error_code")
    return cols.mapInPandas(
        lambda it: _quads_batches(it, bnode_mode), QUADS_SCHEMA
    )


def quads_only(quads: DataFrame) -> DataFrame:
    return quads.filter(F.col("error_code").isNull()).drop("error_code")


def failures_by_host(quads: DataFrame, stage: str) -> DataFrame:
    """Lineage aggregation over the stage output — no second UDF pass."""
    return (
        quads.groupBy("host")
        .agg(
            F.count(F.when(F.col("error_code").isNull(), 1)).alias("triples_out"),
            F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("parse_failures"),
        )
        .withColumn("stage", F.lit(stage))
        .withColumnRenamed("host", "partition_key")
    )
