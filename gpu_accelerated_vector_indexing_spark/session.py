"""SparkSession factory tuned for the engine.

Local testing runs on local[N] (single JVM); the config below is chosen
so the same logical plans scale to a multi-executor cluster: AQE on
(runtime coalesce + skew-join), shuffle partitions sized to cores
locally (on a real cluster AQE re-coalesces), UTC session timezone so
results are comparable with the DuckDB oracle, and Arrow enabled for
every pandas interchange.

Literal IN-lists (probe labels, id allowlists) differ from query to
query. By default Catalyst keeps a list of ≤ 10 values as ``In`` and
inlines every value into the generated Java, and code-generates a
larger ``InSet`` of ints as a ``switch`` over its values: either way a
new list is new source for Janino to compile, and the JVM then
re-JITs the new class. With both thresholds at 0 every literal IN-list
becomes a hash-set ``InSet`` that generated code holds by reference,
so warm queries reuse compiled code. Parquet pushdown
(``PushedFilters: [In(...)]``) and partition pruning read the same
``InSet``, so neither changes.

A local session also lists partition directories on the driver. Above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32 by
default) Spark lists them in a job with one task per directory, so
opening a 125-cell index layout ran a 125-task listing job. On
``local[N]`` that job's tasks list the same local disk from the same
JVM, so it only adds scheduling; :func:`get_spark`, which builds only
local sessions, keeps every listing on the driver.
:func:`tune_session` leaves the threshold alone: it also configures
sessions on clusters, where a parallel listing spreads real work.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# every literal IN-list → a by-reference hash-set InSet (see module docstring)
IN_LIST_SETTINGS = {
    "spark.sql.optimizer.inSetConversionThreshold": "0",
    "spark.sql.optimizer.inSetSwitchThreshold": "0",
}


def get_spark(app_name: str = "gpu_accelerated_vector_indexing_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in IN_LIST_SETTINGS.items():
        builder = builder.config(key, value)
    # partition discovery on the driver (see module docstring)
    builder = builder.config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine session settings to an externally-created session.

    The correctness driver owns its own SparkSession; these runtime-safe
    settings (timezone for oracle comparability, AQE, by-reference
    IN-lists) are applied idempotently by every public query entry
    point.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    for key, value in IN_LIST_SETTINGS.items():
        spark.conf.set(key, value)
    return spark
