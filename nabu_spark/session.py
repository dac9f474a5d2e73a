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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
