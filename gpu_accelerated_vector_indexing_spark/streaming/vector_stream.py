"""Streaming vector search: query vectors arrive as a STREAM, each
micro-batch is searched against the static index — the online-serving
shape of the engine.

≙ the reference's one-process-per-query CLI loop (README.md:33-39,
run_multiple_configs.sh): where the reference restarts the binary for
every canned query, here queries are a continuous arrival stream and
the corpus is the static side of a stream-static join. Per micro-batch
the (tiny) query relation broadcasts onto the corpus scan and per-query
top-k is a window — exactly ``operators.knn.multi_query_knn``'s plan,
driven incrementally. Results accumulate through ``foreachBatch`` with
``localCheckpoint`` lineage truncation (same posture as
``streaming_foreach_upsert``).

Determinism: top-k per query depends only on that query's batch (the
corpus is static), so the drained result equals the batch multi-query
search regardless of how arrivals are batched — a full DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import as_double_array, l2_norm
from gpu_accelerated_vector_indexing_spark.operators.knn import scored_embeddings
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
from gpu_accelerated_vector_indexing_spark.streaming._drain import (
    drain_accumulate,
    embeddings_stream,
    scoped_stream_partitions,
)


def streaming_knn(
    spark: SparkSession,
    sf_dir: str,
    query_ids: Sequence[int] = (0, 1, 2, 3, 4),
    k: int = 5,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drained stream-of-queries KNN: ``(query_id, vec_id, score, rn)``.

    ``max_files_per_trigger`` throttles arrivals so tests can force the
    queries through MULTIPLE micro-batches and pin batching-invariance.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    raw = embeddings_stream(spark, sf_dir, max_files_per_trigger)
    qstream = raw.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qvec"),
    )

    def search_batch(batch_df: DataFrame) -> DataFrame:
        qs = batch_df.withColumn("qnorm", l2_norm(F.col("qvec")))
        scored = scored_embeddings(emb, qs)
        w = W.partitionBy("query_id").orderBy(F.desc("score"), F.desc("vec_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id", "score", "rn")
        )

    with scoped_stream_partitions(spark, sf_dir, "embeddings"):
        return drain_accumulate(
            qstream, search_batch, "sknn"
        )
