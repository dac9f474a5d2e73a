"""The three workloads. Each drives the engine only through public calls.

* ``build``: the harvest+release batch. Pages -> ``pages_to_quads_fused`` ->
  triple table -> ``write_release`` over the successful quads. Kernel, Arrow
  boundary and release do the work; snapshots, graphstore and sparql none.
* ``incremental``: the resume path. A base snapshot of the build pages is
  committed in setup; each operation rolls the three tables back to it and
  runs ``run_pipeline_snapshots`` over the base pages plus 10% fresh ones.
  Anti-joins over committed tables and three parquet commits dominate; the
  kernel sees only the fresh pages.
* ``query``: serving the built graph. A ``GraphStore`` holds the quads of a
  prefix of the window; one client in a closed loop sends a seeded mix of
  five read templates and small INSERT DATA / DELETE DATA updates.
  Merge-on-read, SPARQL compilation and per-query job overhead do the work.

Every workload offers ``setup(spark, k)`` (program-side state plus one
untimed warm-up), ``timed(spark, tracer, seconds)`` (operation samples),
``checks(spark)`` and, for the traced run, ``trace_extras`` (extra probes
while the traced session is up) and ``layers`` (per-layer metrics from the
spans and the event log).
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

from harness import EventLog, Tracer, median
from inputs import Window, oracle_quads
from probe import kernel_probe

BUILD_PAGES = 6_000
FRESH_PAGES = BUILD_PAGES // 10
STORE_PAGES = BUILD_PAGES // 2
STRIDE = BUILD_PAGES + FRESH_PAGES
PROBE_PAGES = 2_000
CHECK_SAMPLE = 500
# (window start, pages) -> (triples, error rows) of the triple table
PINNED_COUNTS = {(0, 6_000): (59_484, 286)}

# at least one round of the sequence, so every template is timed
MIN_READS = 6
SEQUENCE_UPDATES = 20
NOTE_PRED = "<urn:perfbench:note>"
HYF = "https://www.opengis.net/def/schema/hy_features/hyf/"
TEMPLATES = ("lookup", "optional", "type_count", "path", "filter")


def _loop(seconds: float, step, memory, min_ops: int) -> tuple[list[float], int]:
    """Run ``step`` until ``seconds`` have passed and at least ``min_ops``
    ran. Returns (seconds of each successful step, failed steps)."""
    samples, failed = [], 0
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end or len(samples) + failed < min_ops:
        t0 = time.monotonic()
        memory.begin()
        try:
            step()
        except Exception:  # a failed operation is counted, not fatal
            import traceback

            traceback.print_exc()
            failed += 1
            continue
        finally:
            memory.end()
        samples.append(time.monotonic() - t0)
    return samples, failed


def _seconds(span: dict) -> float:
    return span["end"] - span["start"]


def _spans_jobs(log: EventLog, tracer: Tracer, span: dict) -> list[int]:
    return log.jobs_of({f"span-{i}" for i in tracer.subtree(span["id"])})


def _oracle_rows(pages: list[dict]) -> tuple[set[str], list[tuple]]:
    provs, rows = set(), []
    for page in pages:
        quads, err = oracle_quads(page["url"], page["html"])
        if not err:
            provs.add(quads[0][3])
            rows.extend(quads)
    return provs, sorted(rows)


class Workload:
    name = ""
    # checks of work the traced run adds, set by ``trace_extras``
    trace_checks: list[tuple[str, bool]] = []

    def __init__(self, bench):
        self.bench = bench
        self.seed = bench.seed
        self.work = os.path.join(bench.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def attach(self, spark) -> None:
        """Pick up a new session (the traced run restarts it)."""

    def warm(self, spark) -> None:
        self.run_op(spark, Tracer())

    def base_checks(self, spark) -> list[tuple[str, bool]]:
        """Checks made once, after set-up and before timing."""
        return []

    def trace_extras(self, spark, tracer: Tracer) -> dict:
        return {}

    def layers(self, log: EventLog, tracer: Tracer) -> dict:
        return {}

    def report(self) -> list[tuple[str, float, str, int]]:
        """(name, value, unit, samples) rows for the human-readable report."""
        return []


class Build(Workload):
    name = "build"

    def __init__(self, bench):
        super().__init__(bench)
        self.win = Window(bench.cache, bench.seed * STRIDE, BUILD_PAGES)
        self.datagen_s = self.win.generated_s
        self.triples_dir = os.path.join(self.work, "triples")
        self.release_dir = os.path.join(self.work, "release")
        self.samples: list[float] = []
        self.release_stats = {}

    def run_op(self, spark, tracer: Tracer) -> None:
        from pyspark.sql import functions as F

        from nabu_spark.operators.release import write_release
        from nabu_spark.pipeline import pages_to_quads_fused

        with tracer.span("build.run"):
            with tracer.span("pipeline.quads_write"):
                pages = spark.read.parquet(self.win.pages_dir)
                quads = pages_to_quads_fused(pages, salt=False)
                quads.write.mode("overwrite").parquet(self.triples_dir)
            with tracer.span("release.write_release"):
                ok = (spark.read.parquet(self.triples_dir)
                      .filter(F.col("error_code").isNull()).drop("error_code"))
                write_release(ok, self.release_dir)

    def setup(self, spark, k: int) -> None:
        self.warm(spark)
        if k == 0:
            # CPU per batch keeps falling over the first few batches in a
            # new JVM (JIT); a second one puts the timed batches past the
            # steepest part
            self.warm(spark)

    def timed(self, spark, tracer: Tracer, seconds: float, min_ops: int = 2) -> dict:
        samples, failed = _loop(seconds, lambda: self.run_op(spark, tracer),
                                self.bench.memory, min_ops)
        self.samples = samples
        return {"op": samples, "failed": failed}

    # -- checks -------------------------------------------------------------
    def checks(self, spark) -> list[tuple[str, bool]]:
        return [
            ("build.sample_matches_oracle", self._check_sample(spark)),
            ("build.bytesum_matches_files", self._check_bytesum()),
            ("build.counts_match_oracle", self._check_counts(spark)),
        ]

    def _check_sample(self, spark) -> bool:
        from pyspark.sql import functions as F

        ids = random.Random(self.seed).sample(self.win.page_ids(), CHECK_SAMPLE)
        provs, expected = _oracle_rows(self.win.rows(ids))
        got = sorted(
            tuple(r) for r in spark.read.parquet(self.triples_dir)
            .filter(F.col("prov").isin(sorted(provs)))
            .select("subj", "pred", "obj", "prov").collect()
        )
        return got == expected and len(provs) > CHECK_SAMPLE // 2

    def _check_bytesum(self) -> bool:
        import json

        import numpy as np

        graphs = os.path.join(self.release_dir, "graphs")
        own, lines = {}, 0
        for d in sorted(os.listdir(graphs)):
            if not d.startswith("release_name="):
                continue
            name = d.split("=", 1)[1]
            total = 0
            for f in os.listdir(os.path.join(graphs, d)):
                if f.startswith("part-"):
                    with open(os.path.join(graphs, d, f), "rb") as fh:
                        data = fh.read()
                    total += int(np.frombuffer(data, dtype=np.uint8).sum(dtype=np.uint64))
                    lines += data.count(b"\n")
            own[None if name == "__HIVE_DEFAULT_PARTITION__" else name] = total % (1 << 64)
        side = {}
        sums = os.path.join(self.release_dir, "bytesums")
        for f in os.listdir(sums):
            if f.startswith("part-"):
                with open(os.path.join(sums, f)) as fh:
                    for line in fh:
                        rec = json.loads(line)
                        side[rec.get("release_name")] = int(rec["bytesum"])
        self.release_stats = {"lines": lines, "graphs": len(own)}
        return own == side and lines == self.win.oracle["triples"]

    def _check_counts(self, spark) -> bool:
        from pyspark.sql import functions as F

        row = spark.read.parquet(self.triples_dir).agg(
            F.count(F.when(F.col("error_code").isNull(), 1)).alias("triples"),
            F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("errors"),
        ).first()
        got = (row["triples"], row["errors"])
        want = (self.win.oracle["triples"], sum(self.win.oracle["errors"].values()))
        pinned = PINNED_COUNTS.get((self.win.start, self.win.n), want)
        return got == want == pinned

    # -- traced run ---------------------------------------------------------
    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def trace_extras(self, spark, tracer: Tracer) -> dict:
        """Scan-only, boundary-only and fused passes over the same pages,
        each written to the noop sink; the release bytesum on its own."""
        from pyspark.sql import functions as F

        from nabu_spark.operators.extract import with_host
        from nabu_spark.operators.release import release_bytesums
        from nabu_spark.pipeline import pages_to_quads_fused

        n = spark.sparkContext.defaultParallelism

        def projection():
            df = with_host(spark.read.parquet(self.win.pages_dir)).withColumn(
                "sitemap_id", F.regexp_replace(F.col("host"), r"[^A-Za-z0-9_]", "_"))
            if df.rdd.getNumPartitions() > n:
                df = df.coalesce(n)
            return df.select("url", "host", "sitemap_id", "html")

        def passthrough(batches):
            yield from batches

        with tracer.span("pipeline.scan"):
            self._noop(projection())
        with tracer.span("pipeline.boundary"):
            df = projection()
            self._noop(df.mapInArrow(passthrough, df.schema))
        with tracer.span("pipeline.fused"):
            self._noop(pages_to_quads_fused(spark.read.parquet(self.win.pages_dir), salt=False))
        with tracer.span("release.release_bytesums"):
            ok = (spark.read.parquet(self.triples_dir)
                  .filter(F.col("error_code").isNull()).drop("error_code"))
            release_bytesums(ok).collect()
        out = {f"pipeline.{key}_s": _seconds(tracer.named(f"pipeline.{key}")[0])
               for key in ("scan", "boundary", "fused")}
        out["pipeline.kernel_s"] = out["pipeline.fused_s"] - out["pipeline.boundary_s"]
        out.update(kernel_probe(self.win.rows(self.win.page_ids()[:PROBE_PAGES])))
        # the snapshot layer's resume path over these pages plus the fresh
        # ones: the incremental workload's operation, run here because that
        # workload is not in the driver's set (see README, "Scale")
        self.snapshots = Incremental(self.bench)
        self.snapshots.setup(spark, 0)
        self.snapshots.run_op(spark, tracer)
        self.trace_checks = self.snapshots.checks(spark)
        return out

    def scaling(self, fused_s: float) -> float:
        """Fused noop pass on one core; efficiency against ``fused_s`` on
        all of them (1.0 = linear scaling)."""
        from nabu_spark.pipeline import pages_to_quads_fused

        spark = self.bench.start_session(cores=1)
        t0 = time.monotonic()
        self._noop(pages_to_quads_fused(spark.read.parquet(self.win.pages_dir), salt=False))
        one_core = time.monotonic() - t0
        self.bench.stop_session()
        return one_core / (self.bench.nproc * fused_s) if fused_s > 0 else 0.0

    def layers(self, log: EventLog, tracer: Tracer) -> dict:
        out = {}
        jobs = _spans_jobs(log, tracer, tracer.named("pipeline.fused")[0])
        for metric, acc, scale in (
            ("pipeline.py_start_s", "time to start Python workers", 1e-3),
            ("pipeline.py_init_s", "time to initialize Python workers", 1e-3),
            ("pipeline.py_run_s", "time to run Python workers", 1e-3),
            ("pipeline.py_bytes_in", "data sent to Python workers", 1.0),
            ("pipeline.py_bytes_out", "data returned from Python workers", 1.0),
        ):
            out[metric] = log.accum(jobs, acc) * scale
        tasks = log.tasks_of(jobs)
        out["pipeline.tasks"] = len(tasks)
        times = [t["ms"] for t in tasks]
        out["pipeline.task_skew"] = max(times) / median(times) if times and median(times) else 0.0
        out["pipeline.quads_write_s"] = median(map(_seconds, tracer.named("pipeline.quads_write")))
        write_release = median(map(_seconds, tracer.named("release.write_release")))
        bytesum = _seconds(tracer.named("release.release_bytesums")[0])
        out["release.bytesum_s"] = bytesum
        out["release.graphs_write_s"] = max(write_release - bytesum, 0.0)
        rel = tracer.named("release.write_release")
        out["release.shuffle_bytes"] = median(
            [log.totals(_spans_jobs(log, tracer, s))["shuffle_bytes"] for s in rel])
        out["release.lines"] = self.release_stats.get("lines", 0)
        out["release.graphs"] = self.release_stats.get("graphs", 0)
        out.update(self.snapshots.layers(log, tracer))
        return out

    def report(self):
        op = median(self.samples)
        return [
            ("pages_per_s", self.win.n / op if op else 0.0, "1/s", len(self.samples)),
            ("run_p50_s", op, "s", len(self.samples)),
        ]


class Incremental(Workload):
    name = "incremental"

    def __init__(self, bench):
        super().__init__(bench)
        start = bench.seed * STRIDE
        self.base = Window(bench.cache, start, BUILD_PAGES)
        self.fresh = Window(bench.cache, start + BUILD_PAGES, FRESH_PAGES)
        self.datagen_s = self.base.generated_s + self.fresh.generated_s
        self.samples: list[float] = []
        self.rollbacks_ok = True

    def setup(self, spark, k: int) -> None:
        from nabu_spark.snapshots import run_pipeline_snapshots

        self.root = os.path.join(self.work, f"tables-{k}")
        shutil.rmtree(self.root, ignore_errors=True)
        res = run_pipeline_snapshots(spark, spark.read.parquet(self.base.pages_dir), self.root)
        self.tables = res["tables"]
        # the base commit is itself a run_pipeline_snapshots call, so it is
        # also this workload's warm-up
        self.base_state = {
            name: (tbl.latest_version(), tbl.manifest()["row_count"])
            for name, tbl in self.tables.items()
        }

    def _rollback(self) -> None:
        for name, tbl in self.tables.items():
            version, rows = self.base_state[name]
            tbl.rollback(version)
            if tbl.manifest()["row_count"] != rows:
                self.rollbacks_ok = False
            tbl.vacuum(min_age_seconds=0)

    def run_op(self, spark, tracer: Tracer) -> float:
        from nabu_spark.snapshots import run_pipeline_snapshots

        self._rollback()
        pages = spark.read.parquet(self.base.pages_dir, self.fresh.pages_dir)
        t0 = time.monotonic()
        with tracer.span("snapshots.run_pipeline_snapshots"):
            run_pipeline_snapshots(spark, pages, self.root)
        return time.monotonic() - t0

    def timed(self, spark, tracer: Tracer, seconds: float, min_ops: int = 2) -> dict:
        commits: list[float] = []
        _, failed = _loop(seconds, lambda: commits.append(self.run_op(spark, tracer)),
                          self.bench.memory, min_ops)
        self.samples = commits
        return {"op": commits, "failed": failed}

    def checks(self, spark) -> list[tuple[str, bool]]:
        from pyspark.sql import functions as F

        docs = self.tables["docs"].read(spark).agg(
            F.count("*").alias("rows"), F.countDistinct("url").alias("urls")).first()

        ids = random.Random(self.seed).sample(self.fresh.page_ids(), min(CHECK_SAMPLE, FRESH_PAGES))
        provs, expected = _oracle_rows(self.fresh.rows(ids))
        got = sorted(
            tuple(r) for r in self.tables["quads"].read(spark)
            .filter(F.col("error_code").isNull() & F.col("prov").isin(sorted(provs)))
            .select("subj", "pred", "obj", "prov").collect()
        )
        return [
            ("incremental.docs_unique_urls",
             docs["rows"] == docs["urls"] == self.base.n + self.fresh.n),
            ("incremental.delta_matches_oracle", got == expected and bool(provs)),
            ("incremental.rollback_restores_base", self.rollbacks_ok),
        ]

    def trace_extras(self, spark, tracer: Tracer) -> dict:
        return kernel_probe(self.fresh.rows(self.fresh.page_ids()[:PROBE_PAGES]))

    def layers(self, log: EventLog, tracer: Tracer) -> dict:
        per_op = {k: [] for k in (
            "snapshots.commit_s", "snapshots.antijoin_s", "extract.staged_s", "triples.staged_s",
            "snapshots.commit_write_s", "snapshots.shuffle_bytes",
            "snapshots.rows_scanned", "snapshots.jobs")}
        for span in tracer.named("snapshots.run_pipeline_snapshots"):
            jobs = _spans_jobs(log, tracer, span)
            antijoin, writes = 0.0, []
            for e in log.execs_of(jobs):
                # the commits are the three parquet writes, in stage order;
                # every other execution is a resume anti-join probe (isEmpty)
                if "InsertIntoHadoopFsRelationCommand" in log.execs[e]["plan"]:
                    writes.append(log.exec_seconds(e))
                else:
                    antijoin += log.exec_seconds(e)
            writes += [0.0] * (3 - len(writes))
            totals = log.totals(jobs)
            per_op["snapshots.commit_s"].append(_seconds(span))
            per_op["snapshots.antijoin_s"].append(antijoin)
            per_op["extract.staged_s"].append(writes[0])
            per_op["triples.staged_s"].append(writes[1])
            per_op["snapshots.commit_write_s"].append(writes[2])
            per_op["snapshots.shuffle_bytes"].append(totals["shuffle_bytes"])
            per_op["snapshots.rows_scanned"].append(totals["records_read"])
            per_op["snapshots.jobs"].append(totals["jobs"])
        return {k: median(v) for k, v in per_op.items()}

    def report(self):
        return [("commit_s", median(self.samples), "s", len(self.samples))]


class Query(Workload):
    name = "query"

    def __init__(self, bench):
        super().__init__(bench)
        self.win = Window(bench.cache, bench.seed * STRIDE, STORE_PAGES)
        self.datagen_s = self.win.generated_s
        import pyarrow.parquet as pq

        subj = pq.read_table(self.win.quads_path, columns=["subj"]).column(0).to_pylist()
        self.subjects = sorted({s for s in subj if s.startswith("<https://geoconnex.us/iow/")})
        self.sequence = self._sequence(random.Random(self.seed))
        self.reads: dict[str, list[float]] = {t: [] for t in TEMPLATES}
        self.writes: list[float] = []
        self.visibility_ok = True
        self.plans: dict[str, str] = {}

    # -- the seeded operation sequence --------------------------------------
    def _read(self, template: str, rng: random.Random) -> str:
        if template == "lookup":
            return f"SELECT ?p ?o WHERE {{ {rng.choice(self.subjects)} ?p ?o }}"
        if template == "optional":
            kind, stem = rng.choice((("Place", "site-"), ("Dataset", "dataset-")))
            return (f"SELECT ?s ?n WHERE {{ {{ ?s a <https://schema.org/{kind}> FILTER(STRSTARTS("
                    f'STR(?s), "https://geoconnex.us/iow/demo/{stem}{self._id_prefix(rng)}")) }} '
                    "OPTIONAL { ?s <https://schema.org/name> ?n } }")
        if template == "type_count":
            return "SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s a ?t } GROUP BY ?t"
        if template == "path":
            return (f"SELECT ?s WHERE {{ ?s <{HYF}referencedPosition>/<{HYF}HY_IndirectPosition>"
                    f"/<{HYF}linearElement> <https://geoconnex.us/ref/mainstems/{36800 + rng.randrange(64)}> }}")
        return ("SELECT ?s ?n WHERE { ?s <https://schema.org/name> ?n "
                f'FILTER(STRSTARTS(STR(?n), "MONITORING SITE {self._id_prefix(rng)}")) }}')

    def _id_prefix(self, rng: random.Random) -> str:
        """Leading digits shared by about a hundred page ids of the window."""
        i = str(self.win.start + self.win.n // 2 + rng.randrange(self.win.n // 2))
        return i[:max(1, len(i) - 2)]

    def _sequence(self, rng: random.Random) -> list[tuple]:
        """~100 reads and 20 updates. After each update the next read is a
        lookup of the updated subject, which must show the update."""
        ops, notes = [], {}
        for u in range(SEQUENCE_UPDATES):
            # templates in a fixed rotation so any prefix has the same mix;
            # the seed picks their parameters
            for t in TEMPLATES[u % 2:] + TEMPLATES[:u % 2]:
                ops.append(("read", t, self._read(t, rng), None))
            subj = rng.choice(sorted(notes)) if notes and rng.random() < 0.5 else rng.choice(self.subjects)
            if subj in notes:
                quad = (subj, NOTE_PRED, notes.pop(subj))
                verb, visible = "DELETE", False
            else:
                notes[subj] = f'"note {self.seed} {u}"'
                quad = (subj, NOTE_PRED, notes[subj])
                verb, visible = "INSERT", True
            ops.append(("write", None, f"{verb} DATA {{ {' '.join(quad)} }}", None))
            ops.append(("read", "lookup", f"SELECT ?p ?o WHERE {{ {subj} ?p ?o }}",
                        (quad[1], quad[2], visible)))
        return ops

    def first_reads(self) -> dict[str, str]:
        out = {}
        for kind, t, text, _ in self.sequence:
            if kind == "read" and t not in out:
                out[t] = text
        return out

    # -- operations -----------------------------------------------------------
    def setup(self, spark, k: int) -> None:
        from nabu_spark.graphstore import GraphStore

        root = os.path.join(self.work, f"store-{k}")
        shutil.rmtree(root, ignore_errors=True)
        self.store = GraphStore(spark, root)
        self.v0 = self.store.init(spark.read.parquet(self.win.quads_path))
        self.warm(spark)
        if k == 0:
            # the update path too, once per JVM, else the first timed
            # update pays its warm-up
            self.store.update(next(t for kind, _, t, _ in self.sequence if kind == "write"))
            self.store.rollback(self.v0)

    def attach(self, spark) -> None:
        """Reopen the store in a new session (the traced run)."""
        from nabu_spark.graphstore import GraphStore

        self.store = GraphStore(spark, self.store.tbl.root)

    def warm(self, spark) -> None:
        for text in self.first_reads().values():
            self.store.query(text).collect()

    def _do(self, op, tracer: Tracer) -> None:
        kind, template, text, expect = op
        t0 = time.monotonic()
        if kind == "write":
            with tracer.span("graphstore.update"):
                self.store.update(text)
            self.writes.append(time.monotonic() - t0)
            return
        with tracer.span("sparql.compile"):
            df = self.store.query(text)
        with tracer.span(f"sparql.exec.{template}"):
            rows = df.collect()
        self.reads[template].append(time.monotonic() - t0)
        if tracer.enabled:
            self.plans[template] = df._jdf.queryExecution().executedPlan().toString()
        if expect is not None:
            pred, obj, visible = expect
            if ((pred, obj) in {(r[0], r[1]) for r in rows}) != visible:
                self.visibility_ok = False

    def timed(self, spark, tracer: Tracer, seconds: float, min_ops: int = MIN_READS) -> dict:
        self.reads = {t: [] for t in TEMPLATES}
        self.writes = []
        failed = 0
        t_end = time.monotonic() + seconds

        def done() -> bool:
            reads = sum(len(v) for v in self.reads.values())
            return time.monotonic() >= t_end and reads + failed >= min_ops

        while not done():
            self.store.rollback(self.v0)
            for op in self.sequence:
                self.bench.memory.begin(op[1] or "write")
                try:
                    self._do(op, tracer)
                except Exception:
                    import traceback

                    traceback.print_exc()
                    failed += 1
                finally:
                    self.bench.memory.end()
                # stop only after a round's read-back, so every run's reads
                # have the same template mix and the median compares like
                # with like
                if op[3] is not None and done():
                    break
        return {"op": [x for v in self.reads.values() for x in v],
                "write": self.writes, "failed": failed}

    def checks(self, spark) -> list[tuple[str, bool]]:
        return [("query.updates_visible", self.visibility_ok)]

    def base_checks(self, spark) -> list[tuple[str, bool]]:
        """Each template on the base version equals sparql_eval_local over
        the collected store."""
        from nabu_spark.sparql import sparql_eval_local

        triples = [tuple(r) for r in self.store.read(self.v0).collect()]
        out = []
        for t, text in self.first_reads().items():
            got = self.store.query(text, version=self.v0).collect()
            want = sparql_eval_local(triples, text)
            norm_got = sorted(tuple(sorted((k, str(v)) for k, v in r.asDict().items())) for r in got)
            norm_want = sorted(tuple(sorted((k, str(v)) for k, v in r.items())) for r in want)
            out.append((f"query.{t}_matches_local", norm_got == norm_want and bool(norm_want)))
        return out

    # -- traced run -----------------------------------------------------------
    def trace_extras(self, spark, tracer: Tracer) -> dict:
        from nabu_spark.sparql import parse_sparql

        for _ in range(3):
            with tracer.span("graphstore.read"):
                self.store.read().count()
        parse = []
        for text in self.first_reads().values():
            t0 = time.perf_counter()
            for _ in range(50):
                parse_sparql(text)
            parse.append((time.perf_counter() - t0) / 50)
        return {"sparql.parse_us": 1e6 * median(parse),
                "graphstore.log_files": len(self.store.tbl.manifest()["files"])}

    def layers(self, log: EventLog, tracer: Tracer) -> dict:
        def ms(name):
            return 1e3 * median(map(_seconds, tracer.named(name)))

        def jobs(name):
            return median([len(_spans_jobs(log, tracer, s)) for s in tracer.named(name)])

        out = {
            "graphstore.read_ms": ms("graphstore.read"),
            "graphstore.update_ms": ms("graphstore.update"),
            "graphstore.update_jobs": jobs("graphstore.update"),
            "sparql.compile_ms": ms("sparql.compile"),
        }
        for t in TEMPLATES:
            out[f"sparql.exec_ms.{t}"] = ms(f"sparql.exec.{t}")
            out[f"sparql.jobs.{t}"] = jobs(f"sparql.exec.{t}")
            final = self.plans.get(t, "").split("== Initial Plan ==")[0]
            out[f"sparql.exchanges.{t}"] = len(re.findall(r"\bExchange\b|BroadcastExchange", final))
        return out

    def report(self):
        from harness import quantile

        reads = [x for v in self.reads.values() for x in v]
        rows = [
            ("read_p50_ms", 1e3 * median(reads), "ms", len(reads)),
            ("read_p90_ms", 1e3 * quantile(reads, 0.9), "ms", len(reads)),
            ("write_p50_ms", 1e3 * median(self.writes), "ms", len(self.writes)),
        ]
        rows += [(f"read_p50_ms.{t}", 1e3 * median(v), "ms", len(v)) for t, v in self.reads.items()]
        return rows


WORKLOADS = {w.name: w for w in (Build, Incremental, Query)}
