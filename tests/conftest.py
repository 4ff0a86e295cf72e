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


def assert_pinned_point_search(df) -> str:
    """Pin the plan of a warm ``IVFEngine.search``: a bounded top-k
    (``TakeOrderedAndProject``) over the score projection, over the
    probe ``Filter`` (a by-reference ``array_contains`` on ``cluster``),
    over an ``InMemoryTableScan`` of the engine's pin — so only probed
    rows are scored — with no ``Window``, no ``Exchange`` and no
    ``FileScan`` above the pinned relation. The pin's build plan prints
    below its ``InMemoryRelation`` and is not part of the query."""
    import re

    from gpu_accelerated_vector_indexing_spark.plans.inspect import physical_plan

    plan = physical_plan(df)
    serving = plan.split("InMemoryRelation", 1)[0]
    nodes = [re.sub(r"^[\s:+\-]*(\*\(\d+\) )?", "", ln) for ln in serving.splitlines()]
    lines = [n for n in nodes if n]
    if lines[0].startswith("AdaptiveSparkPlan"):  # AQE wraps a pin whose build has an exchange
        lines = lines[1:]
    ops = [re.split(r"[ (\[]", n, maxsplit=1)[0] for n in lines]
    assert ops == ["TakeOrderedAndProject", "Project", "Filter", "InMemoryTableScan"], serving
    assert " AS score" in lines[1], serving
    assert "array_contains(" in lines[2] and "cluster" in lines[2], serving
    for frag in ("Window", "Exchange", "FileScan"):
        assert frag not in serving, serving
    return plan
