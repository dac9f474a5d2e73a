"""Seeded, cached benchmark inputs.

The seed picks a window of page ids for ``datagen.page_for``: the base window
starts at ``seed * STRIDE`` and holds ``n`` pages. The incremental workload's
fresh pages are the ids just past it, and the query store is built from a
prefix of it. Page ids are pure inputs of ``page_for``, so the same seed
gives the same pages on any machine.

Each window is written once under the cache directory as many small parquet
files, the way a crawled table lands, next to two oracle outputs that the
engine's own per-document functions give off Spark on one thread:

* ``quads.parquet``: the successful quads (subj, pred, obj, prov);
* ``oracle.json``: page, triple and per-error-code counts.

The checks compare the Spark outputs against them; the query workload
builds its store from ``quads.parquet``. Generation time is reported as
``datagen_s`` and is part of no metric.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_PER_FILE = 125
_SITEMAP_UNSAFE = re.compile(r"[^A-Za-z0-9_]")

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_QUADS_SCHEMA = pa.schema([(c, pa.string()) for c in ("subj", "pred", "obj", "prov")])


def oracle_quads(url: str, body: bytes) -> tuple[list[tuple[str, str, str, str]], str]:
    """One page through the engine's public per-document functions, the
    same chain ``pages_to_quads_fused`` runs per row: (quads, error_code)."""
    from nabu_spark.functions.html_extract import OK, extract_document
    from nabu_spark.functions.urn import object_key
    from nabu_spark.operators.triples import doc_to_quads

    host = urlsplit(url).hostname or "invalid_host"
    doc, err = extract_document(body)
    if err != OK:
        return [], err
    quads, qerr, _ = doc_to_quads(doc, object_key(_SITEMAP_UNSAFE.sub("_", host), url))
    return (quads, "") if not qerr else ([], qerr)


class Window:
    """One cached page window: ``pages_dir``, ``quads_path``, ``oracle``."""

    def __init__(self, cache_dir: str, start: int, n: int):
        self.start, self.n = start, n
        self.dir = os.path.join(cache_dir, f"pages-{start}-{n}")
        self.pages_dir = os.path.join(self.dir, "pages")
        self.quads_path = os.path.join(self.dir, "quads.parquet")
        self.oracle_path = os.path.join(self.dir, "oracle.json")
        self.generated_s = 0.0
        if not os.path.exists(self.oracle_path):
            self._generate()
        with open(self.oracle_path) as fh:
            self.oracle = json.load(fh)

    def page_ids(self) -> range:
        return range(self.start, self.start + self.n)

    def _generate(self) -> None:
        from nabu_spark.datagen import page_for

        t0 = time.monotonic()
        tmp = self.dir + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        triples, errors = 0, {}
        quads_cols = {c: [] for c in _QUADS_SCHEMA.names}
        ids = self.page_ids()
        for f, lo in enumerate(range(ids.start, ids.stop, PAGES_PER_FILE)):
            rows = [page_for(i) for i in range(lo, min(lo + PAGES_PER_FILE, ids.stop))]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=_PAGES_SCHEMA),
                os.path.join(tmp, "pages", f"part-{f:05d}.parquet"),
            )
            for row in rows:
                quads, err = oracle_quads(row["url"], row["html"])
                if err:
                    errors[err] = errors.get(err, 0) + 1
                    continue
                triples += len(quads)
                for q in quads:
                    for c, v in zip(_QUADS_SCHEMA.names, q):
                        quads_cols[c].append(v)
        pq.write_table(pa.table(quads_cols, schema=_QUADS_SCHEMA),
                       os.path.join(tmp, "quads.parquet"))
        with open(os.path.join(tmp, "oracle.json"), "w") as fh:
            json.dump({"pages": self.n, "triples": triples, "errors": errors}, fh)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)
        self.generated_s = time.monotonic() - t0

    def rows(self, ids) -> list[dict]:
        """Pages with the given ids, regenerated (page_for is pure)."""
        from nabu_spark.datagen import page_for

        return [page_for(i) for i in ids]
