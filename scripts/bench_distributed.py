"""Distributed-leg benchmarks (VERDICT r4 tasks #3 and #8).

The sf0.1 contract suite exercises the bounded-relation DRIVER fast paths
of the fixpoint operators (documented in SCALING.md); at 100x scale the
distributed plans are the operative ones. This script measures those plans
directly, on fixtures sized to overflow every cap (no cap is raised — the
caps stay exactly as shipped and `driver_cap(0)` forces the paths the caps
would otherwise shortcut):

  closure_dist      transitive_closure under driver_cap(0): 96k-edge
                    block-chain (3k blocks x 32) -> 1.49M-pair closure
  rdfs_dist         rdfs_materialize under driver_cap(0): 300k data triples
                    + 6-triple schema
  owl_dist          owl_rl_materialize under driver_cap(0): ~50k-doc
                    chain/symmetric/functional graph (>=350k triples
                    asserted)
  sparql_path_dist  `+` closure under driver_cap(0): 194k-edge segmented
                    prev-chain -> 3.1M-pair closure
  minhash_10x       minhash_dedup at 2,000,000 docs (400x the sf0.1
                    documents table) with Observation drop accounting;
                    includes a 30k-doc boilerplate template block that the
                    max_bucket=64 guardrail must drop and COUNT
  cc_10x            dedup_clusters under driver_cap(0) over the
                    minhash_10x pairs (970k edges at the default size)
  lsh_10x           lsh_topk over 2M synthetic 64-d embeddings, 50 queries
  twin_cap          GraphStore.query on its driver twin against the warm
                    SQL path (driver_cap(0)) at 30k, 60k and 100k quads
                    (the twin's cap is 100k raw rows): a synthetic store of
                    5 quads per site, perfbench's five read templates

Each leg records wall seconds, output rows, fixpoint ROUNDS (from the
operator's ``fixpoint`` span, read under an active tracer), and for
minhash the dropped-bucket observation values. twin_cap records, per store
size, the twin's build time and each template's median read on either
path. Results go to BENCH/SCALING.json and the generated
table in BENCH/SCALING.md.

Usage: python scripts/bench_distributed.py [leg ...]   (default: all)
Env:   SPARK_GRAFT_CPUS (default 32), BENCH_DIST_DOCS (default 2_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _steal_pct() -> float:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return 100.0 * vals[7] / max(1, sum(vals))
    except Exception:
        return -1.0


def traced_rounds(run, site: str):
    """``(run(), rounds)``: the rounds of the outermost ``fixpoint`` span
    that ``run`` leaves for ``site`` (None when no distributed round ran)."""
    from nabu_spark.telemetry import Tracer, set_active

    tracer = Tracer("nabu-bench-distributed")
    set_active(tracer)
    try:
        out = run()
    finally:
        set_active(None)
    spans = [s for s in tracer.spans
             if s.name == "fixpoint" and s.attributes["site"] == site]
    return out, spans[0].attributes.get("rounds") if spans else None


HYF = "https://www.opengis.net/def/schema/hy_features/hyf/"
SITE = "https://geoconnex.us/iow/demo/site-"


def _site_store(spark, n_sites: int):
    """5 quads per site in the site's own graph: its type, its name and a
    3-step hyf position chain to one of 64 mainstems."""
    from pyspark.sql import functions as F

    ids = spark.range(n_sites)
    i = F.col("id").cast("string")
    site = F.concat(F.lit(f"<{SITE}"), i, F.lit(">"))
    rp, ip = F.concat(F.lit("_:rp"), i), F.concat(F.lit("_:ip"), i)
    main = F.concat(F.lit("<https://geoconnex.us/ref/mainstems/"),
                    (F.col("id") % 64 + 36800).cast("string"), F.lit(">"))
    quads = [
        (site, F.lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"),
         F.lit("<https://schema.org/Place>")),
        (site, F.lit("<https://schema.org/name>"),
         F.concat(F.lit('"MONITORING SITE '), i, F.lit('"'))),
        (site, F.lit(f"<{HYF}referencedPosition>"), rp),
        (rp, F.lit(f"<{HYF}HY_IndirectPosition>"), ip),
        (ip, F.lit(f"<{HYF}linearElement>"), main),
    ]
    prov = F.concat(F.lit("<urn:doc:"), i, F.lit(">")).alias("prov")
    out = None
    for s_, p_, o_ in quads:
        part = ids.select(s_.alias("subj"), p_.alias("pred"),
                          o_.alias("obj"), prov)
        out = part if out is None else out.unionByName(part)
    return out


def _template_reads(n_sites: int, k: int, rng) -> dict[str, list[str]]:
    """``k`` instances of each of perfbench's five read templates; a
    prefix picks about a hundred sites, as perfbench's does."""
    def prefix():
        i = str(n_sites // 2 + rng.randrange(n_sites // 2))
        return i[:max(1, len(i) - 2)]

    reads = {t: [] for t in ("lookup", "optional", "type_count", "path",
                             "filter")}
    for _ in range(k):
        reads["lookup"].append(
            f"SELECT ?p ?o WHERE {{ <{SITE}{rng.randrange(n_sites)}> ?p ?o }}")
        reads["optional"].append(
            "SELECT ?s ?n WHERE { { ?s a <https://schema.org/Place> "
            f'FILTER(STRSTARTS(STR(?s), "{SITE}{prefix()}")) }} '
            "OPTIONAL { ?s <https://schema.org/name> ?n } }")
        reads["type_count"].append(
            "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t")
        reads["path"].append(
            f"SELECT ?s WHERE {{ ?s <{HYF}referencedPosition>/"
            f"<{HYF}HY_IndirectPosition>/<{HYF}linearElement> "
            f"<https://geoconnex.us/ref/mainstems/{36800 + rng.randrange(64)}> }}")
        reads["filter"].append(
            "SELECT ?s ?n WHERE { ?s <https://schema.org/name> ?n "
            f'FILTER(STRSTARTS(STR(?n), "MONITORING SITE {prefix()}")) }}')
    return reads


def twin_cap(spark, quads=(30_000, 60_000, 100_000), k: int = 7) -> dict:
    """Per store size: the twin's build (merge of the log files and its
    three indexes, the work of the first read after a key change) and each
    template's median read, ``GraphStore.query(...).collect()``, on the
    twin and on the SQL path under ``driver_cap(0)``. The SQL path is
    warmed with one round of every template first. Both paths return the
    same rows, which is checked on every read."""
    import random
    import shutil
    import statistics
    import tempfile

    from nabu_spark.graphstore import _DRIVER_CAP, GraphStore
    from nabu_spark.session import driver_cap

    def timed(gs, text):
        t = time.perf_counter()
        rows = gs.query(text).collect()
        return 1e3 * (time.perf_counter() - t), sorted(map(tuple, rows))

    out = {}
    root = tempfile.mkdtemp(prefix="twin-cap-")
    try:
        for n in quads:
            gs = GraphStore(spark, os.path.join(root, str(n)))
            gs.init(_site_store(spark, n // 5))
            t = time.perf_counter()
            assert gs._twin_at(gs.tbl.files(), _DRIVER_CAP) is not None
            build_ms = 1e3 * (time.perf_counter() - t)
            reads = _template_reads(n // 5, k, random.Random(n))
            with driver_cap(0):
                for texts in reads.values():
                    timed(gs, texts[0])
            twin, sql = {}, {}
            for tmpl, texts in reads.items():
                a, b = [], []
                for text in texts:
                    ms, rows = timed(gs, text)
                    with driver_cap(0):
                        ms_sql, rows_sql = timed(gs, text)
                    assert rows == rows_sql, text
                    a.append(ms)
                    b.append(ms_sql)
                twin[tmpl] = round(statistics.median(a), 1)
                sql[tmpl] = round(statistics.median(b), 1)
            out[str(n)] = {"twin_build_ms": round(build_ms, 1),
                           "twin_ms": twin, "sql_ms": sql}
            print(json.dumps({"twin_cap": n, **out[str(n)]}), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from nabu_spark.session import driver_cap, get_spark

    legs = sys.argv[1:] or [
        "closure_dist", "rdfs_dist", "owl_dist", "sparql_path_dist",
        "minhash_10x", "cc_10x", "lsh_10x", "twin_cap",
    ]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DIST_DOCS", "2000000"))
    spark = get_spark(app_name="nabu-bench-distributed", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}

    def record(name: str, sec: float, rows: int, **extra) -> None:
        results[name] = {"sec": round(sec, 2), "rows": int(rows), **extra}
        print(json.dumps({"leg": name, **results[name]}), flush=True)

    # ---- closure_dist ------------------------------------------------------
    if "closure_dist" in legs:
        from nabu_spark.operators import reasoner

        edges = (
            spark.range(96_000).filter(F.col("id") % 32 != 0)
            .select(F.concat(F.lit("n"), F.col("id")).alias("child"),
                    F.concat(F.lit("n"), F.col("id") - 1).alias("parent"))
        )
        t0 = time.monotonic()
        with driver_cap(0):
            rows, rounds = traced_rounds(
                lambda: reasoner.transitive_closure(edges).count(),
                "transitive_closure")
        record("closure_dist", time.monotonic() - t0, rows,
               rounds=rounds, input_edges=93_000)

    # ---- rdfs_dist ---------------------------------------------------------
    if "rdfs_dist" in legs:
        from nabu_spark.operators import reasoner

        n = 300_000
        data = spark.range(n).select(
            F.concat(F.lit("<urn:doc:"), F.col("id"), F.lit(">")).alias("subj"),
            F.lit("<urn:p:inLang>").alias("pred"),
            F.concat(F.lit("<urn:lang:l"), F.col("id") % 40,
                     F.lit(">")).alias("obj"),
        )
        schema = spark.createDataFrame(
            [
                ("<urn:p:inLang>", reasoner.SUBPROP, "<urn:p:hasAttr>"),
                ("<urn:p:inLang>", reasoner.DOMAIN, "<urn:class:Doc>"),
                ("<urn:p:inLang>", reasoner.RANGE, "<urn:class:Lang>"),
                ("<urn:class:Doc>", reasoner.SUBCLASS, "<urn:class:Resource>"),
                ("<urn:class:Lang>", reasoner.SUBCLASS, "<urn:class:Resource>"),
                ("<urn:class:Resource>", reasoner.SUBCLASS, "<urn:class:Thing>"),
            ],
            "subj string, pred string, obj string",
        )
        t0 = time.monotonic()
        with driver_cap(0):
            rows = reasoner.rdfs_materialize(data.unionByName(schema)).count()
        record("rdfs_dist", time.monotonic() - t0, rows, input_triples=n + 6)

    # ---- owl_dist ----------------------------------------------------------
    if "owl_dist" in legs:
        from nabu_spark.operators import reasoner

        nd = 50_000
        docs = spark.range(nd)
        d = F.concat(F.lit("<urn:doc:"), F.col("id"), F.lit(">"))
        nxt = F.concat(F.lit("<urn:doc:"), F.col("id") + 1, F.lit(">"))
        pairs = docs.filter(F.col("id") % 5 != 4).select(
            d.alias("i"), nxt.alias("j"))
        lang = F.concat(F.lit("<urn:lang:l"), F.col("id") % 30, F.lit(">"))
        alias = F.concat(F.lit("<urn:alias:l"), F.col("id") % 30, F.lit(">"))
        data = (
            pairs.select(F.col("i").alias("subj"),
                         F.lit("<urn:p:next>").alias("pred"),
                         F.col("j").alias("obj"))
            .unionByName(pairs.select(
                F.col("i").alias("subj"),
                F.lit("<urn:p:near>").alias("pred"),
                F.col("j").alias("obj")))
            .unionByName(docs.select(
                d.alias("subj"), F.lit("<urn:p:lang>").alias("pred"),
                lang.alias("obj")))
            .unionByName(docs.select(
                d.alias("subj"), F.lit("<urn:p:canonLang>").alias("pred"),
                lang.alias("obj")))
            .unionByName(docs.select(
                d.alias("subj"), F.lit("<urn:p:canonLang>").alias("pred"),
                alias.alias("obj")))
        )
        schema = spark.createDataFrame(
            [
                ("<urn:p:next>", reasoner.RDF_TYPE, reasoner.TRANSITIVE),
                ("<urn:p:next>", reasoner.INVERSE_OF, "<urn:p:prev>"),
                ("<urn:p:near>", reasoner.RDF_TYPE, reasoner.SYMMETRIC),
                ("<urn:p:canonLang>", reasoner.RDF_TYPE, reasoner.FUNCTIONAL),
                ("<urn:p:lang>", reasoner.EQ_PROP, "<urn:p:langEq>"),
                ("<urn:p:lang>", reasoner.SUBPROP, "<urn:p:attr>"),
            ],
            "subj string, pred string, obj string",
        )
        n_in = data.count() + 6
        t0 = time.monotonic()
        with driver_cap(0):
            rows, rounds = traced_rounds(
                lambda: reasoner.owl_rl_materialize(
                    data.unionByName(schema)).count(), "owl_rl_materialize")
        record("owl_dist", time.monotonic() - t0, rows,
               rounds=rounds, input_triples=n_in)

    # ---- sparql_path_dist --------------------------------------------------
    if "sparql_path_dist" in legs:
        from nabu_spark.sparql import sparql_query

        chain = spark.range(200_000).filter(F.col("id") % 32 != 0).select(
            F.concat(F.lit("<urn:doc:"), F.col("id"), F.lit(">")).alias("subj"),
            F.lit("<urn:p:prev>").alias("pred"),
            F.concat(F.lit("<urn:doc:"), F.col("id") - 1,
                     F.lit(">")).alias("obj"),
        )
        t0 = time.monotonic()
        with driver_cap(0):
            rows, rounds = traced_rounds(lambda: sparql_query(
                chain,
                """
                PREFIX p: <urn:p:>
                SELECT ?doc (COUNT(?anc) AS ?n_anc)
                WHERE { ?doc p:prev+ ?anc } GROUP BY ?doc
                """,
            ).count(), "transitive_closure")
        record("sparql_path_dist", time.monotonic() - t0, rows,
               rounds=rounds, input_edges=193_750)

    # ---- minhash_10x / cc_10x ---------------------------------------------
    pairs_df = None
    if "minhash_10x" in legs or "cc_10x" in legs:
        from pyspark.sql import Observation

        from nabu_spark.operators.dedup import minhash_dedup

        # 2M docs: 1M near-dup families of 2 (one member carries an extra
        # token every 7th family) + a 30k-doc identical boilerplate
        # template block that MUST hit the max_bucket guardrail
        template_n = min(30_000, n_docs // 4)  # full-size at the real leg;
        # scaled down for smoke runs so the result is never fully empty
        # (empty results hit the documented AQE CollectMetrics limitation)
        docs = (
            spark.range(n_docs)
            .withColumn(
                "family",
                F.when(F.col("id") < template_n, F.lit(-1))
                .otherwise(F.col("id") % (n_docs // 2)))
            .select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.expr(
                        "concat_ws(' ', transform(sequence(1, 40), "
                        "j -> concat('w', pmod(hash(family * 97 + j), 8000))))"
                    ),
                    F.when((F.col("family") % 7 == 0) & (F.col("id") >= n_docs // 2),
                           F.concat(F.lit(" uniq"), F.col("id")))
                    .otherwise(F.lit("")),
                ).alias("text"),
            )
            .repartition(cores * 4)
            .localCheckpoint(eager=True)  # freeze the corpus: both legs and
            # the verify join must see identical texts
        )
        obs = Observation("minhash_10x_drops")
        t0 = time.monotonic()
        # cache + count (NOT localCheckpoint): the observed CollectMetrics
        # node must sit inside the executed plan for obs.get to resolve
        pairs_df = minhash_dedup(docs, "doc_id", "text", observation=obs).cache()
        n_pairs = pairs_df.count()
        sec = time.monotonic() - t0
        dropped = {k: int(v) for k, v in obs.get.items()}
        if "minhash_10x" in legs:
            record("minhash_10x", sec, n_pairs, docs=n_docs,
                   template_docs=template_n, **dropped)

    if "cc_10x" in legs:
        from nabu_spark.operators import dedup as dedup_mod

        t0 = time.monotonic()
        with driver_cap(0):  # BENCH_DIST_DOCS below ~450k stays under the cap
            n_nontrivial, rounds = traced_rounds(
                lambda: dedup_mod.dedup_clusters(pairs_df).filter(
                    F.col("id") != F.col("cluster_id")).count(),
                "dedup_clusters")
        record("cc_10x", time.monotonic() - t0, n_nontrivial,
               rounds=rounds, input_edges=int(pairs_df.count()))

    # ---- lsh_10x -----------------------------------------------------------
    if "lsh_10x" in legs:
        from nabu_spark.operators.similarity import lsh_topk

        emb = (
            spark.range(n_docs)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    "transform(sequence(0, 63), j -> "
                    "cast(pmod(hash(id, j), 2000) as float) / 1000.0 - 1.0)"
                ).alias("embedding"),
            )
            .repartition(cores * 4)
            .localCheckpoint(eager=True)
        )
        queries = emb.limit(50).localCheckpoint(eager=True)
        t0 = time.monotonic()
        out = lsh_topk(emb, queries, k=10)
        rows = out.count()
        record("lsh_10x", time.monotonic() - t0, rows, corpus=n_docs,
               n_queries=50)

    # ---- twin_cap ----------------------------------------------------------
    if "twin_cap" in legs:
        t0 = time.monotonic()
        sizes = twin_cap(spark)
        record("twin_cap", time.monotonic() - t0, max(map(int, sizes)),
               cores=cores, sizes=sizes)

    # ---- persist (merge: partial runs update only their legs) --------------
    out_path = os.path.join(REPO, "BENCH", "SCALING.json")
    prior = {}
    if os.path.exists(out_path):
        try:
            prior = json.load(open(out_path)).get("legs", {})
        except Exception:
            prior = {}
    payload = {
        "cores": cores,
        "n_docs_10x": n_docs,
        "steal_pct_at_end": round(_steal_pct(), 2),
        "legs": {**prior, **results},
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
