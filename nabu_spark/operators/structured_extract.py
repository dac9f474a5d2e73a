"""pages -> quads from HTML-embedded microdata + RDFa (the JSON-LD-free web).

Same stage shape as the JSON-LD path: one ``triples.emit_quads`` pass
(``mapInArrow``), doc-local bnodes -> skolemization -> strict quad gate -> URN
prov; a failed page becomes one lineage row with the shared failure-row
``prov``. ``formats`` selects which extractors run; a page can contribute from
several (shared bnode namespace keeps cross-format references disjoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.structured import extract_structured_triples
from ..functions.urn import object_key
from ..operators.extract import with_sitemap_id
from ..operators.triples import emit_quads, finish_quads

ERR_NO_STRUCTURED = "no_structured_data"


def page_structured_quads(
    body: bytes | None, url: str, sitemap_id: str, *, formats=("microdata", "rdfa")
) -> tuple[list, str]:
    if body is None or len(body) <= 2:
        return [], "empty_body"
    # row-level garbage must become lineage rows, never task failures: the
    # extract walks are recursive, so one hostile deeply-nested page would
    # otherwise RecursionError the whole task (ADVICE r01, medium)
    try:
        triples = extract_structured_triples(body, url, formats=formats)
    except Exception:
        return [], "structured_parse"
    if not triples:
        return [], ERR_NO_STRUCTURED
    quads, err, _ = finish_quads(triples, object_key(sitemap_id, url))
    return quads, err


def pages_to_structured_quads(
    pages: DataFrame, *, formats=("microdata", "rdfa")
) -> DataFrame:
    def per_page(url, sid, body):
        if url is None or sid is None:
            return [], "invalid_url", None
        obj_key = object_key(sid, url)
        quads, err = page_structured_quads(body, url, sid, formats=formats)
        return quads, err, obj_key

    return emit_quads(with_sitemap_id(pages), per_page, "url", "sitemap_id", "html")
