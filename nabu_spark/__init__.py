"""nabu_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the semantics of internetofwater/nabu as DataFrame pipelines:

    pages (url, warc_ts, html, text, lang)
      -> extract JSON-LD        (byte-identical text invariant)
      -> standardize @context   (doc-local)
      -> JSON-LD 1.1 -> RDF     (pure-Python expansion, canonical literals)
      -> skolemize blank nodes  (doc-local content-hash IRIs)
      -> tag named graph URN    (prov column)
      -> quads (subj, pred, obj, prov) partitioned parquet + lineage

The fused path runs every per-document step in one ``mapInArrow`` pass;
the staged path commits each stage to a snapshot table, so a killed run
resumes from the last commit. Around it sit the relational stages
(incremental anti-join skip, duplicate detection, cleanup set-difference,
crawl-stats aggregation, bytesum, release routing, mainstem broadcast
spatial join, multi-hop geo joins), a SPARQL query and update engine over
the quads, and the training-data operators (dedup, similarity search, text
analysis).
"""

__version__ = "0.1.0"
