"""N-Quads / N-Triples source: parse released .nq/.nt text back into quad
DataFrames, pure JVM.

The reference round-trips its releases through a triplestore; here the
released artifact itself is queryable — ``read_nquads`` feeds the SPARQL
engine (cli.py query --nquads) and the diff/integrity operators without any
external service.

Scale shape: ``spark.read.text`` parallelizes by input split across files
(gzip is NOT splittable — each .nq.gz file is one task; write_release
writes one part file per release graph, so one gzipped graph is one read
task), and the line parse is ONE codegen regexp per column — no
Python, no shuffle. Malformed lines become error rows carrying the raw
line (lineage, never task failure), mirroring the strict NtToNq gate of
operators/triples.py (reference: internal/common/nt_to_nq.go — studied,
not copied).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# One Java regex for a whole N-Quads line. Group 1 subj, 2 pred, 3 obj,
# 4 graph (optional). Literals may contain spaces/escapes; the object
# alternation tries IRI, bnode, then literal with optional @lang / ^^<dt>.
_TERM_LIT = r'"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^<>\s]*>)?'
_NQ_LINE = (
    r'^\s*(<[^<>\s]*>|_:[^\s]+)'          # subject: IRI | bnode
    r'\s+(<[^<>\s]*>)'                    # predicate: IRI
    r'\s+(<[^<>\s]*>|_:[^\s]+|' + _TERM_LIT + r')'  # object
    r'(?:\s+(<[^<>\s]*>|_:[^\s]+))?'      # graph label: IRI | bnode (spec)
    r'\s*\.\s*(?:#.*)?$'                  # terminator + optional comment
)


def parse_nquads(lines: DataFrame, *, column: str = "value") -> DataFrame:
    """Parse a DataFrame of raw N-Quads lines into
    (subj, pred, obj, prov, error_code) — prov is the graph label (null for
    triples), error_code='nq_malformed' rows keep the offending line in
    subj for lineage. Blank and comment lines are dropped."""
    c = F.col(column)
    content = lines.filter(
        (F.trim(c) != "") & ~F.trim(c).startswith("#")
    )
    parsed = content.select(
        F.regexp_extract(c, _NQ_LINE, 1).alias("subj"),
        F.regexp_extract(c, _NQ_LINE, 2).alias("pred"),
        F.regexp_extract(c, _NQ_LINE, 3).alias("obj"),
        F.regexp_extract(c, _NQ_LINE, 4).alias("prov"),
        c.alias("_raw"),
    )
    return parsed.select(
        F.when(F.col("subj") != "", F.col("subj"))
        .otherwise(F.col("_raw")).alias("subj"),
        F.when(F.col("pred") != "", F.col("pred")).alias("pred"),
        F.when(F.col("obj") != "", F.col("obj")).alias("obj"),
        F.when(F.col("prov") != "", F.col("prov")).alias("prov"),
        F.when(F.col("subj") == "", F.lit("nq_malformed"))
        .alias("error_code"),
    )


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """Read .nq/.nt (optionally gzipped) files into a quad DataFrame."""
    return parse_nquads(spark.read.text(path))
