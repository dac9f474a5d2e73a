"""Bulk Turtle/TriG source: distributed per-FILE parse into quad tables.

N-Quads is the repo's line-splittable bulk format (sources/nquads.py, pure
JVM). Real-world KG corpora, however, also ship as directories of Turtle
documents (ontology releases, per-entity .ttl exports, TriG dataset
dumps). Turtle is stateful — @prefix bindings, ';'/',' lists, multi-line
literals — so a document can NEVER be split by line; the correct 100-TB
shape is one task per FILE over many files:

  * ``spark.read.text(..., wholetext=True)`` gives one row per document
    (gzip transparently decoded; like any non-splittable input, a huge
    corpus should ship many files — the layout bulk exporters already
    produce);
  * ONE Arrow pass runs the existing TriG/Turtle parser
    (functions/trig.py — the same parser the GraphStore LOAD path uses,
    so CLI import and bulk ingest can never diverge) per document;
  * malformed documents become error ROWS carrying the file name and
    message (``error_code='ttl_malformed'``), never task failures — the
    lineage discipline of every other source here.

``graph_from_file=True`` tags each document's default-graph triples with
a graph IRI minted from the file name (the per-document named-graph
model the KG pipeline uses); TriG GRAPH blocks always keep their own
graph regardless.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

QUAD_SCHEMA = ("subj string, pred string, obj string, prov string, "
               "src_file string, error_code string")
_ARROW_SCHEMA = pa.schema([(name, pa.string()) for name in (
    "subj", "pred", "obj", "prov", "src_file", "error_code")])


def _file_graph(path: str) -> str:
    base = os.path.basename(path)
    for ext in (".gz", ".ttl", ".trig"):
        if base.endswith(ext):
            base = base[: -len(ext)]
    return f"<urn:ttl:{base}>"


def read_turtle(
    spark: SparkSession,
    path: str,
    *,
    graph_from_file: bool = False,
) -> DataFrame:
    """Directory (or glob) of .ttl/.trig[.gz] documents -> quad DataFrame
    ``(subj, pred, obj, prov, src_file, error_code)``. Good rows have
    ``error_code`` null; parse failures yield one error row per file."""
    docs = (
        spark.read.text(path, wholetext=True)
        .select(F.input_file_name().alias("src_file"),
                F.col("value").alias("text"))
    )

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from nabu_spark.functions.trig import parse_trig

        for batch in batches:
            out: dict[str, list] = {k: [] for k in _ARROW_SCHEMA.names}
            for src, text in zip(batch.column("src_file").to_pylist(),
                                 batch.column("text").to_pylist()):
                try:
                    quads = parse_trig(text)
                except Exception as e:  # malformed document -> error row
                    out["subj"].append(None)
                    out["pred"].append(None)
                    out["obj"].append(None)
                    out["prov"].append(None)
                    out["src_file"].append(src)
                    out["error_code"].append(f"ttl_malformed: {e}")
                    continue
                default_g = _file_graph(src) if graph_from_file else None
                for s, p, o, g in quads:
                    out["subj"].append(s)
                    out["pred"].append(p)
                    out["obj"].append(o)
                    out["prov"].append(g if g is not None else default_g)
                    out["src_file"].append(src)
                    out["error_code"].append(None)
            yield pa.RecordBatch.from_pydict(out, schema=_ARROW_SCHEMA)

    return docs.mapInArrow(parse, schema=QUAD_SCHEMA)


def turtle_quads(spark: SparkSession, path: str, *,
                 graph_from_file: bool = False) -> DataFrame:
    """Good quads only, in the engine's (subj, pred, obj, prov) shape —
    ready for sparql_query / GraphStore.init / write_release."""
    return (
        read_turtle(spark, path, graph_from_file=graph_from_file)
        .filter(F.col("error_code").isNull())
        .select("subj", "pred", "obj", "prov")
    )
