from __future__ import annotations

import os

import pytest

REFERENCE = "/root/reference"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def reference_path(*parts: str) -> str:
    return os.path.join(REFERENCE, *parts)


needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE), reason="reference fixture checkout not present"
)


@pytest.fixture(scope="session")
def spark():
    from nabu_spark.session import get_spark

    s = get_spark(app_name="nabu-spark-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture
def arrow_batches_of_two(spark):
    """Two-row Arrow batches into Python passes, so a graph of three triples
    spans batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)
