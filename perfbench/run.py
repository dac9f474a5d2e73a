"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

``--trace 0`` prints every end-to-end metric. ``--trace 1`` runs the same
untraced measurement, then restarts the session with spans, Spark job groups
and the Spark event log on, measures again, and prints every per-layer
metric plus ``trace.overhead_frac``. Both run every correctness check.

Standard output: a human-readable report (metric, value, unit, samples),
then, as the last line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes stays
under ``.perfbench/`` in the checkout: inputs are cached there by window,
the run's own tables are deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    EventLog, OpSampler, StderrTee, Tracer, covered, descendants, median, mix_median,
)
from workloads import TEMPLATES, WORKLOADS  # noqa: E402

# Set-up is repeated this many times per run and setup_s is their median;
# the repeats also bring the JVM's JIT nearer steady state before timing.
SETUPS = 2
# G1 grows the heap by as much as contention slows its collections, which
# made peak_rss_mb vary by a fifth from run to run with 3g; the heap is
# fixed at this size and touched at launch instead (see start_session).
DRIVER_MEMORY = "1g"

END_TO_END = {"setup_s": "s", "op_net_ms": "ms", "op_cpu_ms": "ms", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.boundary_s": "s",
    "pipeline.fused_s": "s",
    "pipeline.kernel_s": "s",
    "pipeline.py_start_s": "s",
    "pipeline.py_init_s": "s",
    "pipeline.py_run_s": "s",
    "pipeline.py_bytes_in": "bytes",
    "pipeline.py_bytes_out": "bytes",
    "pipeline.tasks": "count",
    "pipeline.task_skew": "ratio",
    "pipeline.quads_write_s": "s",
    "pipeline.scaling_eff": "ratio",
    "html_extract.us_per_page": "us",
    "html_extract.errors.no_jsonld": "count",
    "html_extract.errors.empty_body": "count",
    "html_extract.errors.bad_mime": "count",
    "jsonld.us_per_page": "us",
    "triples.parse_us_per_page": "us",
    "triples.finish_us_per_page": "us",
    "skolem.us_per_doc": "us",
    "triples.per_ok_page": "count",
    "triples.gate_dropped": "count",
    "release.graphs_write_s": "s",
    "release.bytesum_s": "s",
    "release.shuffle_bytes": "bytes",
    "release.lines": "count",
    "release.graphs": "count",
    "snapshots.commit_s": "s",
    "snapshots.antijoin_s": "s",
    "snapshots.commit_write_s": "s",
    "extract.staged_s": "s",
    "triples.staged_s": "s",
    "snapshots.shuffle_bytes": "bytes",
    "snapshots.rows_scanned": "count",
    "snapshots.jobs": "count",
    "graphstore.read_ms": "ms",
    "graphstore.update_ms": "ms",
    "graphstore.update_jobs": "count",
    "graphstore.log_files": "count",
    "sparql.parse_us": "us",
    "sparql.compile_ms": "ms",
    **{f"sparql.exec_ms.{t}": "ms" for t in TEMPLATES},
    **{f"sparql.jobs.{t}": "count" for t in TEMPLATES},
    **{f"sparql.exchanges.{t}": "count" for t in TEMPLATES},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_frac": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.error_log_lines": "count",
    "trace.overhead_frac": "ratio",
    "trace.uncovered_frac": "ratio",
}


class Bench:
    """Process-wide state: directories, the Spark session, the stderr tee
    and the memory sampler. ``close`` stops the JVM and every worker."""

    def __init__(self, seed: int):
        self.seed = seed
        self.nproc = len(os.sched_getaffinity(0))
        base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "events")
        for d in (self.cache, self.tmp, self.events):
            os.makedirs(d, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = self.tmp
        self.tee = StderrTee(os.path.join(self.work, "spark.log"))
        self.memory = OpSampler()
        self.spark = None
        self.session_s: list[float] = []

    def start_session(self, cores: int | None = None, event_log: bool = False):
        from nabu_spark.session import get_spark

        cores = cores or self.nproc
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # small crawl files: one split per file, as in bench.py
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the heap is touched in full at launch, so the JVM's share of
            # peak_rss_mb does not depend on how far G1 grew it in this run
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                                              f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark(app_name="nabu-perfbench", cores=cores,
                               shuffle_partitions=cores, extra_conf=conf)
        self.session_s.append(time.monotonic() - t0)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        self.stop_session()
        children = descendants()
        try:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
        except ImportError:
            gateway = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        _wait_gone(children)
        self.memory.close()
        self.tee.close()
        shutil.rmtree(self.work, ignore_errors=True)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _event_log_path(events_dir: str) -> str:
    files = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    return os.path.join(events_dir, max(files, key=lambda f: os.path.getmtime(
        os.path.join(events_dir, f))))


def _ops(res: dict) -> int:
    return len(res["op"]) + len(res.get("write", [])) + res["failed"]


def run(args, bench: Bench) -> dict:
    wl = WORKLOADS[args.workload](bench)
    print(f"# {args.workload} seed={args.seed} cores={bench.nproc} "
          f"datagen_s={wl.datagen_s:.3f} (not part of any metric)", flush=True)

    setups = []
    t0 = T_START
    for k in range(SETUPS):
        if k:
            bench.stop_session()
            t0 = time.monotonic()
        wl.setup(bench.start_session(), k)
        setups.append(time.monotonic() - t0 - (wl.datagen_s if k == 0 else 0.0))
    spark = bench.spark
    checks = wl.base_checks(spark)

    errors0 = bench.tee.count()
    res = wl.timed(spark, Tracer(), args.seconds)
    error_lines = bench.tee.count() - errors0
    ops = bench.memory.take()
    checks += wl.checks(spark)
    attempted, failed = _ops(res), res["failed"]
    rows = [
        ("setup_s", median(setups), "s", len(setups)),
        ("op_wall_ms", 1e3 * mix_median(ops, "wall"), "ms", len(ops)),
        ("op_net_ms", 1e3 * mix_median(ops, "net"), "ms", len(ops)),
        ("op_cpu_ms", 1e3 * mix_median(ops, "cpu"), "ms", len(ops)),
        ("peak_rss_mb", median([op["peak"] for op in ops]), "MB", len(ops)),
    ] + wl.report() + [("spark.error_log_lines", error_lines, "count", 1)]

    metrics = {r[0]: r[1] for r in rows if r[0] in END_TO_END}
    if args.trace:
        layers, traced = trace(args, bench, wl, ops)
        attempted += _ops(traced)
        failed += traced["failed"]
        metrics = {name: float(layers.get(name, 0.0)) for name in PER_LAYER}
        rows += [(name, metrics[name], unit, 1) for name, unit in PER_LAYER.items()]
        checks += wl.trace_checks

    bad = [name for name, ok in checks if not ok]
    attempted += len(checks)
    failed += len(bad)
    for name, value, unit, n in rows:
        print(f"{args.workload:12s} {name:32s} {value:14.4f} {unit:6s} n={n}")
    for name, ok in checks:
        print(f"{args.workload:12s} check {name:42s} {'ok' if ok else 'FAILED'}")
    print(f"{args.workload:12s} {'failed_frac':32s} {failed / attempted:14.4f} ratio  "
          f"n={attempted}")
    print(f"{args.workload:12s} {'setups_s':32s} {' '.join(f'{x:.3f}' for x in setups)}")
    print(f"{args.workload:12s} {'wall_s':32s} {time.monotonic() - T_START:14.4f} s", flush=True)
    return {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": (PER_LAYER if args.trace else END_TO_END)[k]}
                    for k, v in metrics.items()},
    }


def trace(args, bench: Bench, wl, untraced: list[dict]) -> tuple[dict, dict]:
    """The traced half: a fresh session with the event log on, one warm-up,
    the same timed loop under spans, then the workload's extra probes."""
    bench.stop_session()
    spark = bench.start_session(event_log=True)
    wl.attach(spark)
    wl.warm(spark)
    tracer = Tracer(spark.sparkContext, enabled=True)
    errors0 = bench.tee.count()
    t_begin = time.time()
    # half the window and no minimum: the per-layer spans need one
    # operation (on query, one round of the sequence), not a stable median
    traced = wl.timed(spark, tracer, args.seconds / 2, min_ops=1)
    traced_ops = bench.memory.take()
    t_end = time.time()
    error_lines = bench.tee.count() - errors0
    timed_spans = list(tracer.spans)
    layers = wl.trace_extras(spark, tracer)
    bench.stop_session()
    if hasattr(wl, "scaling"):
        layers["pipeline.scaling_eff"] = wl.scaling(layers["pipeline.fused_s"])
    log = EventLog(_event_log_path(bench.events))
    layers.update(wl.layers(log, tracer))

    roots = [s for s in timed_spans if s["parent"] is None]
    jobs = log.jobs_of({f"span-{i}" for s in roots for i in tracer.subtree(s["id"])})
    totals = log.totals(jobs)
    layers.update({f"spark.{k}": totals[k] for k in ("jobs", "tasks", "gc_frac", "shuffle_bytes")})
    layers["spark.error_log_lines"] = error_lines
    layers["session.start_s"] = median(bench.session_s[:SETUPS])
    base, now = mix_median(untraced, "wall"), mix_median(traced_ops, "wall")
    layers["trace.overhead_frac"] = now / base - 1.0 if base else 0.0
    parents = {s["parent"] for s in timed_spans}
    leaves = [(s["start"], s["end"]) for s in timed_spans if s["id"] not in parents]
    layers["trace.uncovered_frac"] = 1.0 - covered(leaves) / (t_end - t_begin)
    print(f"{args.workload:12s} {'trace.uncovered_s':32s} "
          f"{(t_end - t_begin) - covered(leaves):14.4f} s      "
          f"of {t_end - t_begin:.4f} s timed", flush=True)
    self_s: dict[str, float] = {}
    for s in timed_spans:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + tracer.self_time(s)
    for name, secs in sorted(self_s.items(), key=lambda kv: -kv[1]):
        print(f"{args.workload:12s} self {name:27s} {secs:14.4f} s", flush=True)
    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"spans-{args.workload}-{args.seed}.json"))
    return layers, traced


def main() -> int:
    ap = argparse.ArgumentParser(description="nabu_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import nabu_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    bench = Bench(args.seed)
    try:
        result = run(args, bench)
    finally:
        bench.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
