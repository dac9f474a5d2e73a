"""Off-Spark, single-thread probe of the page kernel's layers.

Runs the same public per-document functions ``pages_to_quads_fused`` calls,
one layer at a time over a fixed list of pages, and reports microseconds per
page for each layer plus the counts the kernel produces. Counts are exact
and repeat run to run for the same pages; times are the minimum over
``reps`` passes.

Standalone: ``python3 perfbench/probe.py --seed 0 --pages 2000``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from urllib.parse import urlsplit

try:  # the kernel parses with orjson when present, stdlib json otherwise
    from orjson import loads as _loads
except ImportError:  # pragma: no cover
    from json import loads as _loads

ERROR_CODES = ("no_jsonld", "empty_body", "bad_mime")


def _best(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_probe(pages: list[dict], reps: int = 3) -> dict:
    from nabu_spark.functions.html_extract import OK, extract_document
    from nabu_spark.functions.jsonld import jsonld_to_triples_ex, standardize_jsonld_context
    from nabu_spark.functions.skolem import skolemize_terms
    from nabu_spark.functions.urn import object_key
    from nabu_spark.operators.triples import finish_quads

    from inputs import _SITEMAP_UNSAFE

    n = len(pages)
    extracted = [extract_document(p["html"]) for p in pages]
    t_extract = _best(lambda: [extract_document(p["html"]) for p in pages], reps)
    errors = {code: sum(1 for _, e in extracted if e == code) for code in ERROR_CODES}

    ok = [(p, doc) for p, (doc, err) in zip(pages, extracted) if err == OK]
    texts = [doc for _, doc in ok]
    t_parse = _best(lambda: [_loads(t) for t in texts], reps)
    parsed = [_loads(t) for t in texts]

    def to_rdf(doc):
        if isinstance(doc, dict) and "@context" in doc:
            doc = standardize_jsonld_context(doc)
        return jsonld_to_triples_ex(doc)

    # standardize_jsonld_context may rewrite its input; give every pass a
    # fresh copy so each one does the same work
    t_jsonld = _best(lambda: [to_rdf(d) for d in [_loads(t) for t in texts]], reps) - t_parse
    converted = [to_rdf(d) for d in parsed]

    keys = []
    for p, _ in ok:
        host = urlsplit(p["url"]).hostname or "invalid_host"
        keys.append(object_key(_SITEMAP_UNSAFE.sub("_", host), p["url"]))

    def finish_all():
        return [finish_quads(tr, k, skolemize=minted) for (tr, minted), k in zip(converted, keys)]

    t_finish = _best(finish_all, reps)
    finished = finish_all()

    with_bnodes = [tr for tr, minted in converted if minted]
    t_skolem = _best(lambda: [skolemize_terms(tr) for tr in with_bnodes], reps)

    ok_pages = sum(1 for quads, err, _ in finished if not err)
    quads = sum(len(q) for q, err, _ in finished if not err)
    return {
        "pages": n,
        "html_extract.us_per_page": 1e6 * t_extract / n,
        "triples.parse_us_per_page": 1e6 * t_parse / n,
        "jsonld.us_per_page": 1e6 * max(t_jsonld, 0.0) / n,
        "triples.finish_us_per_page": 1e6 * t_finish / n,
        "skolem.us_per_doc": 1e6 * t_skolem / len(with_bnodes) if with_bnodes else 0.0,
        "triples.per_ok_page": quads / ok_pages if ok_pages else 0.0,
        "triples.gate_dropped": sum(d for _, _, d in finished),
        **{f"html_extract.errors.{c}": v for c, v in errors.items()},
    }


def main() -> None:
    import argparse

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    from nabu_spark.datagen import page_for

    from workloads import PROBE_PAGES, STRIDE

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--pages", type=int, default=PROBE_PAGES)
    args = ap.parse_args()
    start = args.seed * STRIDE
    pages = [page_for(i) for i in range(start, start + args.pages)]
    print(json.dumps(kernel_probe(pages), indent=1))


if __name__ == "__main__":
    main()
