"""SparkSession construction with scale-oriented defaults.

The defaults below are the ones we would ship to a 1000-executor cluster:
AQE on (runtime re-planning + skew-join splitting for mega-host skew),
Arrow enabled for the vectorized UDF hot path, and shuffle partitions sized
by the caller (tests use small values; bench uses the core count).

Python workers fork from ``nabu_spark.worker_daemon`` when the package is
imported from a plain directory, not from a zip shipped with --py-files: with
the stock daemon every Python task re-read Spark's zip archives first (about
130 ms per task, 190-310 ms with four workers at once). The package's parent
directory goes on ``spark.executorEnv.PYTHONPATH``, so the daemon imports
whatever the JVM's working directory is. Keys in ``extra_conf`` override both
settings.

Every driver fast path (an in-memory twin that serves a bounded relation
instead of a multi-round distributed fixpoint) collects its input through
``bounded_collect``; ``driver_cap`` overrides all of their caps at once.
Distributed iterations cut lineage with ``materialize`` and loop in ``fixpoint``.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _daemon_conf() -> dict:
    """The worker daemon settings, or none when the package is in a zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        return {}
    return {
        "spark.python.daemon.module": "nabu_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(pkg_dir),
    }


def get_spark(
    app_name: str = "nabu-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    builder = SparkSession.builder.appName(app_name)
    # spark-submit's --master stands (it sets the gateway port); a JVM we
    # launch reports local[*] as its master, so the conf cannot tell them apart
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in {**_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_DRIVER_CAP: contextvars.ContextVar = contextvars.ContextVar(
    "nabu_driver_cap", default=None)


@contextlib.contextmanager
def driver_cap(n: int):
    """Inside the block every driver fast path uses ``n`` as its cap in
    place of its own; ``driver_cap(0)`` forces every distributed path."""
    token = _DRIVER_CAP.set(n)
    try:
        yield
    finally:
        _DRIVER_CAP.reset(token)


def capped(cap: int) -> int:
    """``cap``, or the ``driver_cap`` override when one is active."""
    n = _DRIVER_CAP.get()
    return cap if n is None else n


def bounded_collect(df: DataFrame, cap: int, *,
                    site: str) -> tuple[list | None, DataFrame]:
    """``(rows, relation)``: ``rows`` is ``df`` collected to the driver when
    it has at most ``cap`` rows, else None; ``relation`` is ``df``
    materialized, for the distributed fallback to reuse.

    ``df``'s plan runs once on either side of the cap. The probe reads a
    lazy local checkpoint through one partition, so it is one job (plus
    ``df``'s own shuffle stages; a ``df`` with no shuffle is computed in
    that one task), and over the cap Spark completes the checkpoint from
    the partitions the probe did not reach. One ``bounded_collect`` span
    records the site, the cap, the rows read and the path taken."""
    # imported here: session.py imports no other package module at load
    from .telemetry import maybe_span

    cap = capped(cap)
    with maybe_span("bounded_collect", site=site, cap=cap) as span:
        if cap > 0:
            relation = df.localCheckpoint(eager=False)
            rows = relation.coalesce(1).limit(cap + 1).collect()
            read = len(rows)
            if read > cap:
                rows = None
        else:
            relation, rows, read = materialize(df), None, 0
        if span is not None:
            span.attributes.update(
                rows=read, path="distributed" if rows is None else "driver")
    return rows, relation


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed now, lineage cut, plan statistics back at Spark's
    default. A checkpoint keeps the size estimate of the plan it replaced
    and a join multiplies its children's, so self-join rounds doubled the
    estimate's digits each round (11 closure rounds over a 1,024-edge
    chain: 8.81E+8452 B) until the planner's BigInt arithmetic dominated.
    Partitioning and ordering stay, so joins and exchange reuse plan as
    over the checkpoint itself. Constraints do not: those of a relation
    whose column passed through an aliasing projection name attributes the
    copy does not output, and the next checkpoint of a plan over it failed
    with "key not found"."""
    ckpt = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    jss, jvm = spark._jsparkSession, spark._jvm
    rdd = ckpt._jdf.queryExecution().analyzed()  # the checkpoint's LogicalRDD
    fresh = rdd.copy(rdd.output(), rdd.rdd(), rdd.outputPartitioning(),
                     rdd.outputOrdering(), rdd.isStreaming(), rdd.stream(),
                     jss, jvm.scala.Option.empty(), jvm.scala.Option.empty())
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, fresh),
                     spark)


def fixpoint(df: DataFrame, step: Callable[[DataFrame], DataFrame],
             done: Callable[[DataFrame, DataFrame], bool], *, cap: int,
             site: str) -> DataFrame:
    """Iterate ``df = materialize(step(df))`` until ``done(previous,
    current)``; return the last relation. Past ``cap`` rounds it raises
    RuntimeError naming ``site``. One span records the site and rounds."""
    from .telemetry import maybe_span

    with maybe_span("fixpoint", site=site) as span:
        for rounds in range(1, cap + 1):
            nxt = materialize(step(df))
            if span is not None:
                span.attributes["rounds"] = rounds
            if done(df, nxt):
                return nxt
            df = nxt
        raise RuntimeError(f"{site} did not converge in {cap} rounds")
