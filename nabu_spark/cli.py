"""CLI entry points mirroring the reference's commands, Spark-first.

    harvest  pages-parquet -> docs_tbl (+ crawl stats)            [nabu harvest]
    release  docs_tbl -> enriched -> quads_tbl + nq + bytesums    [nabu release]
    geo      quads -> geoparquet table                            [nabu geoparquet]
    pull     release dir -> local dir with bytesum skip           [nabu pull]
    link     quads + known-iris dict -> owl:sameAs quads          [north-star]
    query    SPARQL SELECT/CONSTRUCT over a quads table           [north-star]
    store    SPARQL-Update-able snapshot graph store              [north-star]

Run via ``spark-submit --py-files dist/nabu_spark.zip jobs/run.py <cmd> ...``
after building the zip with ``scripts/build_dist.sh``, or plain
``python -m nabu_spark.cli <cmd> ...``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


QUADS_HELP = (
    "quads table: a snapshot table root such as <run>/quads_tbl, or parquet "
    "with (subj, pred, obj[, prov]); failure rows are skipped"
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nabu-spark")
    p.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--trace-out",
        help="write an OTLP-shaped JSONL trace of this invocation to FILE "
             "(the reference's --trace/trace.out surface, main.go:162-178; "
             "routed through the opentelemetry SDK too when importable)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    h = sub.add_parser("harvest", help="pages parquet -> docs table + stats")
    h.add_argument("--pages", required=True)
    h.add_argument("--out", required=True)
    h.add_argument("--no-salt", action="store_true")
    h.add_argument("--no-resume", action="store_true")
    h.add_argument(
        "--format", choices=("parquet", "warc"), default="parquet",
        help="pages input format: parquet table or WARC archive dir",
    )

    r = sub.add_parser("release", help="docs -> quads + release graphs + bytesums")
    r.add_argument(
        "--docs", required=True,
        help="harvest output dir (reads its docs_tbl/ snapshot table)",
    )
    r.add_argument("--out", required=True)
    r.add_argument(
        "--mainstems",
        help="mainstems dictionary (enables enrichment): parquet dir or a "
             ".fgb FlatGeobuf file — the reference's own artifact format "
             "(flatgeobuf.go:55-65)",
    )
    r.add_argument("--no-resume", action="store_true")
    r.add_argument(
        "--bnode-mode", choices=["skolem", "rdfc", "raw"], default="skolem",
        help="blank-node handling: reference-parity skolem IRIs (default), "
             "W3C RDFC-1.0 canonical _:c14nN labels, or raw labels",
    )

    g = sub.add_parser("geo", help="quads -> geoparquet")
    g.add_argument("--quads", required=True, help=QUADS_HELP)
    g.add_argument("--out", required=True)

    pl = sub.add_parser("pull", help="pull releases with bytesum skip")
    pl.add_argument("--release-dir", required=True)
    pl.add_argument("--dest", required=True)
    pl.add_argument(
        "--concat", metavar="FILE",
        help="also merge every non-prov release graph into one file "
        "(PullAndConcat, s3/client.go:503-589: skips *_prov.nq, refuses .gz) "
        "— the triplestore bulk-load path",
    )

    st = sub.add_parser("structured", help="pages -> quads from microdata/RDFa")
    st.add_argument("--pages", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--formats", default="microdata,rdfa")

    b = sub.add_parser("bulk", help="NDJSON bulk source -> docs table")
    b.add_argument("--ndjson", required=True, help="NDJSON file/dir of JSON-LD docs")
    b.add_argument("--sitemap-id", required=True)
    b.add_argument("--out", required=True)

    fu = sub.add_parser(
        "full",
        help="end-to-end DAG: harvest -> release -> geo [-> validate -> link] -> pull",
    )
    fu.add_argument("--pages", required=True)
    fu.add_argument("--out", required=True)
    fu.add_argument("--dest", required=True, help="pull destination dir")
    fu.add_argument(
        "--mainstems",
        help="mainstems dictionary (parquet dir or .fgb FlatGeobuf file)",
    )
    fu.add_argument("--shapes", help="SHACL shapes ttl (enables validation)")
    fu.add_argument("--dict", dest="dict_path", help="known-IRI dict parquet (enables linking)")
    fu.add_argument("--no-salt", action="store_true")

    v = sub.add_parser("validate", help="SHACL-lite validation per document graph")
    v.add_argument("--quads", required=True, help=QUADS_HELP)
    v.add_argument("--shapes", required=True, help="SHACL shapes turtle file")
    v.add_argument("--out", required=True)
    v.add_argument(
        "--exit-on-failure", action="store_true",
        help="non-zero exit when any graph fails (reference --exit-on-shacl-failure)",
    )
    v.add_argument(
        "--report-quads", action="store_true",
        help="also write standard sh:ValidationReport graphs "
             "(one per document graph) under <out>/shacl_report_quads",
    )

    ln = sub.add_parser("link", help="entity-link quads against a known-IRI dict")
    ln.add_argument("--quads", required=True, help=QUADS_HELP)
    ln.add_argument("--dict", required=True, dest="dict_path")
    ln.add_argument("--out", required=True)
    ln.add_argument("--threshold", type=float, default=0.5)

    sn = sub.add_parser(
        "snap",
        help="snapshot-committed pipeline: run / history / rollback / vacuum",
    )
    sn.add_argument(
        "action", choices=("run", "history", "rollback", "vacuum"),
    )
    sn.add_argument("--out", required=True, help="snapshot pipeline root dir")
    sn.add_argument("--pages", help="pages parquet (for: run)")
    sn.add_argument(
        "--table", choices=("docs", "quads", "lineage"), default="quads",
        help="which table (for: history/rollback/vacuum)",
    )
    sn.add_argument("--to-version", type=int, help="target (for: rollback)")
    sn.add_argument("--no-salt", action="store_true")

    cu = sub.add_parser(
        "curate",
        help="webtext curation: pages (url, html) or docs (doc_id, text) -> "
             "training-ready documents + funnel report",
    )
    src = cu.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet with (url, html binary)")
    src.add_argument("--docs", help="parquet with (doc_id, text[, url])")
    cu.add_argument("--out", required=True)
    cu.add_argument("--lang", help="keep only this predicted language")
    cu.add_argument("--near-dup-threshold", type=float, default=0.7)
    cu.add_argument("--cap-per-host", type=int)
    cu.add_argument(
        "--shards-target-tokens", type=int,
        help="also export gzipped JSONL training shards of ~N tokens each",
    )
    cu.add_argument(
        "--c4", action="store_true",
        help="apply C4 line cleaning + page verdict inside the funnel",
    )

    qy = sub.add_parser(
        "query",
        help="run a SPARQL SELECT/CONSTRUCT over a quads parquet table",
    )
    qin = qy.add_mutually_exclusive_group(required=True)
    qin.add_argument("--quads", help=QUADS_HELP)
    qin.add_argument("--nquads", help=".nq/.nt text files (gzip ok)")
    qin.add_argument(
        "--turtle",
        help="directory/glob of .ttl/.trig documents (gzip ok; one task "
             "per file — Turtle is never line-split)",
    )
    qsrc = qy.add_mutually_exclusive_group(required=True)
    qsrc.add_argument("--sparql", help="inline query text")
    qsrc.add_argument("--sparql-file", help="path to a .rq file")
    qy.add_argument("--out", help="write results as parquet (default: print)")
    qy.add_argument("--limit", type=int, default=50,
                    help="max rows to print when --out is not given")
    qy.add_argument("--format", choices=["text", "json", "csv", "tsv", "nt"],
                    default="text",
                    help="json/csv/tsv = W3C SPARQL 1.1 Query Results "
                         "formats; nt = N-Triples (CONSTRUCT/DESCRIBE)")

    up = sub.add_parser(
        "store",
        help="SPARQL-updatable snapshot graph store: init / update / "
             "query / compact / history / rollback",
    )
    up.add_argument("action", choices=["init", "update", "query", "compact",
                                       "history", "rollback", "sync", "view",
                                       "entail", "export"])
    up.add_argument("--profile", choices=["rdfs", "owl-rl"], default="rdfs",
                    help="entail: entailment rule profile")
    up.add_argument("--incremental", action="store_true",
                    help="entail: maintain the inference graph from the "
                         "append window since the last entail (falls back "
                         "to full recompute when unsound)")
    up.add_argument("--store", required=True, help="graph store root dir")
    up.add_argument("--quads", help="init/sync: " + QUADS_HELP)
    up.add_argument("--prefix", help="sync: graph-URN prefix to mirror")
    up.add_argument("--view-root",
                    help="view: the materialized view's own snapshot dir "
                         "(refreshed incrementally from the store's deltas)")
    usrc = up.add_mutually_exclusive_group()
    usrc.add_argument("--sparql", help="inline update/query text")
    usrc.add_argument("--sparql-file", help="path to a .ru/.rq file")
    up.add_argument("--to-version", type=int, help="rollback target")
    up.add_argument("--out", help="query: write results as parquet")
    up.add_argument("--limit", type=int, default=50)
    up.add_argument("--format", choices=["text", "json", "csv", "tsv", "nt"],
                    default="text",
                    help="query: json/csv/tsv = W3C SPARQL Query Results "
                         "formats; nt = N-Triples (CONSTRUCT/DESCRIBE)")
    return p


def _read_quads(spark, path: str):
    """The quads at ``path`` without failure rows: a ``SnapshotTable`` root
    (``release`` and ``snap run`` commit ``quads_tbl``) when
    ``<path>/snapshots`` exists, else a plain parquet table (``structured``
    writes one)."""
    from .operators.triples import quads_only

    if os.path.isdir(os.path.join(path, "snapshots")):
        from .snapshots import SnapshotTable

        quads = SnapshotTable(path).read(spark)
    else:
        quads = spark.read.parquet(path)
    return quads_only(quads) if "error_code" in quads.columns else quads


def _print_query_result(out, args, cmd: str, summary) -> int:
    """Print a SPARQL result DataFrame per --format (shared by the
    parquet-quads and graph-store query surfaces); returns the exit code.
    ``summary(n_rows, cols)`` builds the trailing JSON line for text
    mode."""
    if args.format == "json":
        from .sparql import sparql_results_json

        print(json.dumps(sparql_results_json(out, limit=args.limit)))
        return 0
    if args.format in ("csv", "tsv", "nt"):
        from .sparql import (
            SparqlError, sparql_results_csv, sparql_results_nt,
            sparql_results_tsv,
        )

        fn = {"csv": sparql_results_csv, "tsv": sparql_results_tsv,
              "nt": sparql_results_nt}[args.format]
        try:
            print(fn(out, limit=args.limit), end="")
        except SparqlError as e:
            print(json.dumps({"cmd": cmd, "error": str(e)}))
            return 2
        return 0
    rows = out.limit(args.limit).collect()
    for r in rows:
        print("\t".join("" if r[c] is None else str(r[c])
                        for c in out.columns))
    print(json.dumps({"cmd": cmd, **summary(len(rows), out.columns)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if getattr(args, "trace_out", None):
        # reference parity: the root span is named after the argv string
        # (main.go:156-158 argsAsStr) and every command runs inside it
        from .telemetry import Tracer, set_active

        tracer = Tracer("nabu-spark")
        set_active(tracer)
        try:
            with tracer.span("nabu_" + "_".join(argv or sys.argv[1:])) as root:
                rc = _dispatch(args)
                root.set_attribute("exit_code", rc)
        finally:
            set_active(None)
            tracer.export_jsonl(args.trace_out)
        return rc
    return _dispatch(args)


def _dispatch(args) -> int:
    from pyspark.sql import functions as F

    from .session import get_spark

    spark = get_spark(
        app_name=f"nabu-spark-{args.cmd}",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "harvest":
        from .operators.stats import crawl_stats
        from .snapshots import SnapshotTable, commit_docs
        from .telemetry import maybe_span

        if getattr(args, "format", "parquet") == "warc":
            from .sources.warc import read_warc

            pages = read_warc(spark, args.pages).drop("warc_file")
        else:
            pages = spark.read.parquet(args.pages)
        with maybe_span("harvest.extract"):
            docs = commit_docs(
                spark, SnapshotTable(os.path.join(args.out, "docs_tbl")), pages,
                resume=not args.no_resume, salt=not args.no_salt,
            )
        with maybe_span("harvest.stats") as stat_span:
            stats = crawl_stats(docs)
            stats.write.mode("overwrite").json(os.path.join(args.out, "stats"))
            summary = stats.agg(
                F.sum("sites_in_sitemap").alias("sites"),
                F.sum("successful_sites").alias("ok"),
                F.sum("crawl_failures").alias("failed"),
            ).first()
            if stat_span is not None:
                stat_span.set_attribute("sites", int(summary["sites"] or 0))
                stat_span.set_attribute("ok", int(summary["ok"] or 0))
                stat_span.set_attribute("failed", int(summary["failed"] or 0))
        print(json.dumps({"cmd": "harvest", "sites": summary["sites"], "ok": summary["ok"], "failed": summary["failed"]}))
        # reference exit code 3 when any sitemap had failures (main.go:248-258)
        return 3 if summary["failed"] else 0

    if args.cmd == "release":
        from .operators.enrich import enrich_docs
        from .operators.release import write_release
        from .operators.triples import quads_only
        from .snapshots import SnapshotTable, commit_quads

        docs = SnapshotTable(os.path.join(args.docs, "docs_tbl")).read(spark)
        if args.mainstems:
            if args.mainstems.endswith(".fgb"):
                from .sources.flatgeobuf import read_flatgeobuf

                mainstems = read_flatgeobuf(spark, args.mainstems)
            else:
                mainstems = spark.read.parquet(args.mainstems)
            docs = enrich_docs(docs, mainstems)
        try:
            raw = commit_quads(
                spark, SnapshotTable(os.path.join(args.out, "quads_tbl")), docs,
                resume=not args.no_resume, bnode_mode=args.bnode_mode,
            )
        except ValueError as e:  # a resume under another bnode_mode
            print(json.dumps({"cmd": "release", "error": str(e)}))
            return 2
        n = sum(r["lines"] for r in write_release(quads_only(raw), args.out))
        print(json.dumps({"cmd": "release", "quads": n}))
        return 0

    if args.cmd == "geo":
        from .operators.geoparquet import quads_to_geo, write_geoparquet

        geo = quads_to_geo(_read_quads(spark, args.quads))
        manifest = write_geoparquet(geo, args.out)
        # an all-error corpus yields zero geometry rows and zero part files;
        # reading the empty dir would raise instead of reporting rows=0
        n = spark.read.parquet(args.out).count() if manifest else 0
        print(json.dumps({"cmd": "geo", "rows": n, "files": len(manifest)}))
        return 0

    if args.cmd == "pull":
        import glob

        from .operators.release import (
            concat_release_file,
            pull_release_graphs,
            pull_skip_list,
        )

        # read current bytesums and stored sidecars; pull only changed graphs.
        # The skip plan is manifest-scale (one row per graph) — the only
        # driver-side collect; the byte movement itself is a Spark job
        # (parallel binaryFile reads, per-graph ordered writes), not a
        # per-file driver copy loop.
        cur = spark.read.json(os.path.join(args.release_dir, "bytesums"))
        dest_sidecar = os.path.join(args.dest, "bytesums.json")
        os.makedirs(args.dest, exist_ok=True)
        if os.path.exists(dest_sidecar):
            stored = spark.read.json(dest_sidecar)
        else:
            stored = spark.createDataFrame([], "release_name string, bytesum decimal(20,0)")
        plan = pull_skip_list(cur, stored).collect()
        to_pull = [row["release_name"] for row in plan if not row["skip"]]
        skipped = len(plan) - len(to_pull)
        pulled = pull_release_graphs(spark, args.release_dir, to_pull, args.dest)
        cur.toPandas().to_json(dest_sidecar, orient="records", lines=True)
        concatenated = 0
        if args.concat:
            non_prov = [
                row["release_name"] for row in plan
                if not row["release_name"].endswith("_prov.nq")
            ]
            for name in non_prov:
                src = os.path.join(
                    args.release_dir, "graphs", f"release_name={name}"
                )
                gz = glob.glob(os.path.join(src, "*.gz"))
                if gz:
                    raise SystemExit(
                        f"cannot concat compressed files; found {gz[0]}"
                    )
            concat_release_file(spark, args.release_dir, non_prov, args.concat)
            concatenated = len(non_prov)
        print(json.dumps({
            "cmd": "pull", "pulled": pulled, "skipped": skipped,
            "concatenated": concatenated,
        }))
        return 0

    if args.cmd == "structured":
        from .operators.structured_extract import pages_to_structured_quads

        pages = spark.read.parquet(args.pages)
        quads = pages_to_structured_quads(
            pages, formats=tuple(args.formats.split(","))
        )
        quads.write.mode("overwrite").parquet(os.path.join(args.out, "quads"))
        n = (
            spark.read.parquet(os.path.join(args.out, "quads"))
            .filter(F.col("error_code").isNull())
            .count()
        )
        print(json.dumps({"cmd": "structured", "quads": n}))
        return 0

    if args.cmd == "bulk":
        from .snapshots import SnapshotTable, commit_docs
        from .sources.bulk import read_bulk_ndjson

        # a bulk export is a full dump of its source: it replaces the table
        stored = commit_docs(
            spark, SnapshotTable(os.path.join(args.out, "docs_tbl")),
            read_bulk_ndjson(spark, args.ndjson, args.sitemap_id),
            resume=False, extract=False,
        )
        n_ok = stored.filter(F.col("error_code") == "").count()
        n_err = stored.filter(F.col("error_code") != "").count()
        print(json.dumps({"cmd": "bulk", "docs": n_ok, "errors": n_err}))
        return 0

    if args.cmd == "full":
        # chain the individual subcommands in-process (get_spark getOrCreate
        # reuses this session); harvest's exit 3 (some sites failed) is
        # non-fatal for the chain, matching the reference's warn-and-continue
        rc_harvest = main(
            ["harvest", "--pages", args.pages, "--out", args.out]
            + (["--no-salt"] if args.no_salt else [])
        )
        if rc_harvest not in (0, 3):
            return rc_harvest
        rel = ["release", "--docs", args.out, "--out", args.out]
        if args.mainstems:
            rel += ["--mainstems", args.mainstems]
        rc = main(rel)
        if rc:
            return rc
        quads_path = os.path.join(args.out, "quads_tbl")
        rc = main(["geo", "--quads", quads_path, "--out", os.path.join(args.out, "geo")])
        if rc:
            return rc
        if args.shapes:
            rc = main(
                ["validate", "--quads", quads_path, "--shapes", args.shapes,
                 "--out", args.out]
            )
            if rc:
                return rc
        if args.dict_path:
            rc = main(
                ["link", "--quads", quads_path, "--dict", args.dict_path,
                 "--out", os.path.join(args.out, "link")]
            )
            if rc:
                return rc
        rc = main(["pull", "--release-dir", args.out, "--dest", args.dest])
        if rc:
            return rc
        print(json.dumps({"cmd": "full", "harvest_rc": rc_harvest}))
        return 0

    if args.cmd == "validate":
        from .operators.shacl import shacl_validate_quads

        quads = _read_quads(spark, args.quads)
        with open(args.shapes) as fh:
            shapes_ttl = fh.read()
        report = shacl_validate_quads(quads, shapes_ttl)
        report.write.mode("overwrite").parquet(os.path.join(args.out, "shacl_report"))
        if args.report_quads:
            from .operators.shacl import shacl_report_quads

            shacl_report_quads(quads, shapes_ttl).write.mode(
                "overwrite"
            ).parquet(os.path.join(args.out, "shacl_report_quads"))
        report = spark.read.parquet(os.path.join(args.out, "shacl_report"))
        agg = report.agg(
            F.count("*").alias("total"),
            F.sum((F.col("n_violations") > 0).cast("int")).alias("fails"),
            F.sum(
                ((F.col("n_violations") == 0) & (F.col("n_warnings") > 0)).cast("int")
            ).alias("warn_only"),
        ).first()
        total, fails = agg["total"], int(agg["fails"] or 0)
        print(json.dumps({
            "cmd": "validate", "graphs": total, "failures": fails,
            "warning_only": int(agg["warn_only"] or 0),
        }))
        # only Violation-severity results fail the run (pyshacl
        # allow-warnings semantics); sh:severity sh:Warning/sh:Info graphs
        # are reported but never flip the exit code (shacl.go:29-46)
        return 1 if (args.exit_on_failure and fails) else 0

    if args.cmd == "link":
        quads = _read_quads(spark, args.quads)
        from .operators.entitylink import extract_mentions, link_mentions, same_as_quads

        known = spark.read.parquet(args.dict_path)
        mentions = extract_mentions(quads)
        linked = link_mentions(mentions, known, threshold=args.threshold)
        linked_path = os.path.join(args.out, "linked")
        linked.write.mode("overwrite").parquet(linked_path)
        # checkpoint: same_as derives from the written table, not a recompute
        linked = spark.read.parquet(linked_path)
        same_as_quads(linked, quads).write.mode("overwrite").parquet(
            os.path.join(args.out, "same_as")
        )
        n = spark.read.parquet(os.path.join(args.out, "same_as")).count()
        print(json.dumps({"cmd": "link", "same_as": n}))
        return 0

    if args.cmd == "curate":
        from .curate import curate_corpus, docs_from_pages

        if args.pages:
            docs = docs_from_pages(spark.read.parquet(args.pages))
        else:
            docs = spark.read.parquet(args.docs)
        curated, report = curate_corpus(
            docs,
            lang=args.lang,
            near_dup_threshold=args.near_dup_threshold,
            cap_per_host=args.cap_per_host,
            c4=args.c4,
        )
        out_path = os.path.join(args.out, "curated")
        curated.write.mode("overwrite").parquet(out_path)
        if args.shards_target_tokens:
            from .operators.shards import write_jsonl_shards

            docs_out = spark.read.parquet(out_path)
            if "n_tokens" not in docs_out.columns:
                docs_out = docs_out.withColumn(
                    "n_tokens",
                    F.size(F.split(F.col("text"), "\\s+")),
                )
            manifest = write_jsonl_shards(
                docs_out, os.path.join(args.out, "shards"),
                target_tokens=args.shards_target_tokens,
            )
            report["n_shards"] = len(manifest["shards"])
        with open(os.path.join(args.out, "curate_report.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        print(json.dumps({"cmd": "curate", **report}))
        return 0

    if args.cmd == "query":
        from .operators.triples import quads_only
        from .sparql import sparql_query

        text = args.sparql
        if text is None:
            with open(args.sparql_file) as fh:
                text = fh.read()
        if args.nquads:
            from .sources.nquads import read_nquads

            quads = quads_only(read_nquads(spark, args.nquads))
        elif args.turtle:
            from .sources.turtle import turtle_quads

            quads = quads_only(turtle_quads(spark, args.turtle))
        else:
            quads = _read_quads(spark, args.quads)
        out = sparql_query(quads, text)
        if args.out and args.format != "text":
            print(json.dumps({"cmd": "query", "error":
                              "--out writes parquet; --format only "
                              "applies when printing"}))
            return 2
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"cmd": "query", "rows": n, "cols": out.columns}))
            return 0
        return _print_query_result(
            out, args, "query",
            lambda n, cols: {"rows_printed": n, "cols": cols})

    if args.cmd == "store":
        from .graphstore import GraphStore

        gs = GraphStore(spark, args.store)
        text = args.sparql
        if text is None and args.sparql_file:
            with open(args.sparql_file) as fh:
                text = fh.read()
        if args.action == "init":
            if not args.quads:
                print(json.dumps({"cmd": "store", "error": "--quads required"}))
                return 2
            v = gs.init(_read_quads(spark, args.quads))
            print(json.dumps({"cmd": "store", "action": "init", "version": v}))
        elif args.action == "update":
            if text is None:
                print(json.dumps({"cmd": "store",
                                  "error": "--sparql[-file] required"}))
                return 2
            v = gs.update(text)
            print(json.dumps({"cmd": "store", "action": "update",
                              "version": v}))
        elif args.action == "query":
            if text is None:
                print(json.dumps({"cmd": "store",
                                  "error": "--sparql[-file] required"}))
                return 2
            out = gs.query(text)
            if args.out and args.format != "text":
                print(json.dumps({"cmd": "store", "error":
                                  "--out writes parquet; --format "
                                  "only applies when printing"}))
                return 2
            if args.out:
                out.write.mode("overwrite").parquet(args.out)
                print(json.dumps({"cmd": "store", "action": "query",
                                  "rows": spark.read.parquet(args.out).count(),
                                  "cols": out.columns}))
            else:
                rc = _print_query_result(
                    out, args, "store",
                    lambda n, cols: {"action": "query", "cols": cols})
                if rc:
                    return rc
        elif args.action == "sync":
            if not args.quads or not args.prefix:
                print(json.dumps({"cmd": "store",
                                  "error": "--quads and --prefix required"}))
                return 2
            v = gs.sync(_read_quads(spark, args.quads), args.prefix)
            print(json.dumps({"cmd": "store", "action": "sync",
                              "version": v}))
        elif args.action == "view":
            if text is None or not args.view_root:
                print(json.dumps({"cmd": "store", "error":
                                  "--view-root and --sparql[-file] required"}))
                return 2
            from .matview import MaterializedView

            res = MaterializedView(gs, args.view_root, text).refresh()
            print(json.dumps({"cmd": "store", "action": "view", **res}))
        elif args.action == "entail":
            v = gs.entail(profile=args.profile,
                          incremental=args.incremental)
            print(json.dumps({"cmd": "store", "action": "entail",
                              "profile": args.profile, "version": v}))
        elif args.action == "export":
            text_out = gs.to_trig()
            if args.out:
                with open(args.out, "w") as fh:
                    fh.write(text_out)
                print(json.dumps({"cmd": "store", "action": "export",
                                  "path": args.out,
                                  "bytes": len(text_out.encode())}))
            else:
                print(text_out, end="")
        elif args.action == "compact":
            v = gs.compact()
            print(json.dumps({"cmd": "store", "action": "compact",
                              "version": v}))
        elif args.action == "history":
            print(json.dumps({"cmd": "store", "action": "history",
                              "history": gs.history()}, default=str))
        else:
            if args.to_version is None:
                print(json.dumps({"cmd": "store",
                                  "error": "--to-version required"}))
                return 2
            v = gs.rollback(args.to_version)
            print(json.dumps({"cmd": "store", "action": "rollback",
                              "version": v}))
        return 0

    if args.cmd == "snap":
        from .snapshots import SnapshotTable, _parquet_rows, run_pipeline_snapshots

        if args.action == "run":
            if not args.pages:
                print(json.dumps({"cmd": "snap", "error": "--pages required for run"}))
                return 2
            pages = spark.read.parquet(args.pages)
            res = run_pipeline_snapshots(
                spark, pages, args.out, salt=not args.no_salt
            )
            print(json.dumps({
                "cmd": "snap",
                "action": "run",
                # footer row count of the committed files: no Spark job
                "quads": _parquet_rows(res["tables"]["quads"].files()),
                "versions": {
                    name: tbl.latest_version()
                    for name, tbl in res["tables"].items()
                },
            }))
            return 0
        tbl = SnapshotTable(os.path.join(args.out, f"{args.table}_tbl"))
        if args.action == "history":
            print(json.dumps({"cmd": "snap", "action": "history",
                              "table": args.table, "history": tbl.history()}))
            return 0
        if args.action == "rollback":
            if args.to_version is None:
                print(json.dumps({"cmd": "snap", "error": "--to-version required"}))
                return 2
            v = tbl.rollback(args.to_version)
            print(json.dumps({"cmd": "snap", "action": "rollback",
                              "table": args.table, "new_version": v}))
            return 0
        removed = tbl.vacuum()
        print(json.dumps({"cmd": "snap", "action": "vacuum",
                          "table": args.table, "removed": len(removed)}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
