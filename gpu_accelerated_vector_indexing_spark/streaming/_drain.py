"""Shared Structured-Streaming plumbing for the drained foreachBatch
queries: the embeddings stream reader and the accumulate-drain harness
used by ``vector_stream.streaming_knn`` and
``graph_stream.streaming_graph_attach`` (one definition of the fixture
schema / source glob / checkpoint / lineage-cut accumulation instead of
a copy per module)."""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gpu_accelerated_vector_indexing_spark.memo import state_dir

EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"

# Per-partition byte target for deriving a stream's shuffle-partition
# count — AQE's advisoryPartitionSizeInBytes default (64 MB).
STREAM_PART_BYTES = 64 * 1024 * 1024


def stream_shuffle_partitions(sf_dir: str, *tables: str) -> int:
    """Scale-adaptive shuffle-partition count for ONE streaming query.

    AQE never applies inside Structured Streaming, and a stateful
    operator's state-store instance count is pinned to the
    shuffle-partition count at the query's FIRST start (checkpoint
    metadata) — so the one knob AQE would have tuned at runtime must be
    derived up front. The derivation mirrors AQE's coalescer: total
    source bytes / advisory partition size, floored at 1. Every
    micro-batch pays a state-store commit cycle PER INSTANCE (measured
    on the interval join: 128 instances ≈ half the query's wall time
    for a fixture that fits in one), so an oversized constant burns a
    cluster-sized commit fan-out on every batch — and an UNDERSIZED one
    cannot be raised later without discarding the checkpoint, which is
    why the count must track the corpus, not the local core count.

    Overrides: ``$SPARK_GRAFT_STREAM_PARTITIONS`` pins the count
    outright (cluster deployments with known state cardinality);
    ``$SPARK_GRAFT_STREAM_PART_BYTES`` changes the per-partition byte
    target.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        return max(1, int(env))
    target = int(os.environ.get("SPARK_GRAFT_STREAM_PART_BYTES", STREAM_PART_BYTES))
    total = 0
    for t in tables:
        # exactly the stream readers' own source set ({t}.parquet file or
        # directory) — the old f"{t}.parque*" glob also matched unrelated
        # siblings (events.parquet.bak, .parquet_old), inflating the byte
        # total the knob is meant to derive from (ADVICE r10)
        for p in _glob.glob(os.path.join(sf_dir, f"{t}.parquet")):
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            else:
                total += os.path.getsize(p)
    return max(1, -(-total // max(target, 1)))


class scoped_stream_partitions:
    """Scoped ``spark.sql.shuffle.partitions`` for one stream drain.

    The conf is read once at ``start()`` (and per micro-batch for the
    foreachBatch folds planned inside the scope) and restored on exit
    so batch queries keep the session default + AQE coalescing — the
    same scoped-conf pattern as ``windows._no_trailing_batch``.

    SINGLE-THREADED-DRAIN ASSUMPTION (ADVICE r10): the scope mutates
    the session-global conf, so a concurrent batch query in the same
    session is planned with the derived count, and two overlapping
    scopes on different threads can restore each other's scoped value
    instead of the session default. The engine's sessions execute
    queries sequentially (driver contract), which is what makes the
    pattern sound here; a concurrent deployment would set the conf on
    the stream's own writeStream options instead.
    """

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, sf_dir: str, *tables: str) -> None:
        self._spark = spark
        self._n = stream_shuffle_partitions(sf_dir, *tables)

    def __enter__(self) -> "scoped_stream_partitions":
        self._old = self._spark.conf.get(self._KEY)
        self._spark.conf.set(self._KEY, str(self._n))
        return self

    def __exit__(self, *exc) -> None:
        self._spark.conf.set(self._KEY, self._old)


def embeddings_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The embeddings fixture as a file stream. ``max_files_per_trigger``
    throttles arrivals so tests can force MULTIPLE micro-batches and pin
    batching-invariance."""
    reader = spark.readStream.schema(EMB_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(sf_dir, "embeddings.parque*"))


def drain_accumulate(
    src: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    checkpoint_tag: str,
) -> DataFrame:
    """Run ``src`` to completion, applying ``transform`` to each
    micro-batch and accumulating the results with ``localCheckpoint``
    lineage truncation (O(1) lineage in batch count). Raises a clear
    error when the stream produced no micro-batches (e.g. the source
    glob matched no files) instead of a bare KeyError."""
    state: dict[str, DataFrame] = {}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        merged = state["df"].unionByName(out) if "df" in state else out
        state["df"] = merged.localCheckpoint(eager=True)

    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", state_dir(checkpoint_tag))
        .foreachBatch(fold)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if "df" not in state:
        raise ValueError(
            "stream drained zero micro-batches — the source glob matched no files"
        )
    return state["df"]

DOCS_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The documents fixture as a file stream — one definition of the
    schema/glob shared by the dedup and curation streams."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(sf_dir, "documents.parque*"))

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events fixture as a file stream — the alerting/monitoring
    ingest shape (one definition of the schema/glob)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(sf_dir, "events.parque*"))
