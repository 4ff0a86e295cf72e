from __future__ import annotations

import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "external: needs a package absent from the hermetic sandbox "
        "(auto-skips via importorskip; runs after `pip install`)",
    )


@pytest.fixture(scope="session")
def spark():
    from gpu_accelerated_vector_indexing_spark.session import get_spark

    spark = get_spark("gpu_accelerated_vector_indexing_spark-tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def compilations(spark) -> int:
    """Janino compilations so far in this JVM (Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram count); a
    generated class served from the codegen cache does not count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def codegen_compiles(spark):
    """``with codegen_compiles(spark) as c: ...`` → ``c.count`` is the
    number of Janino compilations the block ran — the pin for "no
    per-query recompilation" on a warm serving path."""
    out = SimpleNamespace(count=None)
    before = compilations(spark)
    yield out
    out.count = compilations(spark) - before


@contextmanager
def spark_jobs(spark):
    """``with spark_jobs(spark) as j: ...`` → ``j.count`` is the number
    of Spark jobs the block ran (counted through a private job group)."""
    sc = spark.sparkContext
    out = SimpleNamespace(count=None)
    group = f"jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "job count")
    try:
        yield out
    finally:
        sc.setJobGroup(None, None)
        out.count = len(sc.statusTracker().getJobIdsForGroup(group))
