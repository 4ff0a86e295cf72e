"""Streaming curation: score an arriving document stream against the
STATIC memoized DSIR importance model — the apply side of importance
sampling at ingest time. The model (``curation.dsir_bucket_affinity``,
a ≤256-row bucket→affinity relation plus one corpus-mean scalar) is
trained ONCE offline; every arriving shard then scores and keeps/drops
its own documents with no corpus-wide work — the stream-static posture
the dedup and sketch families already carry.

Stream ≡ batch BY CONSTRUCTION: a document's grams live entirely in
its own micro-batch (a per-doc projection + aggregate is batch-local),
the model sides are static, and the keep threshold is a fixed scalar —
so the drained accumulation equals ``curation.dsir_importance_sample``
row for row, and the query shares its full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.streaming._drain import (
    documents_stream,
    drain_accumulate,
    scoped_stream_partitions,
)


def streaming_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the document stream through the static DSIR model and
    return the accumulated per-document scoring relation — the same
    (doc_id, lang, n_grams, affinity_micro_sum, affinity_micro_per_gram,
    selected) contract as the batch operator."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        DSIR_BUCKETS,
        dsir_bucket_affinity,
    )
    from gpu_accelerated_vector_indexing_spark.operators.dedup import (
        _doc_shingle_hashes,
    )

    model = dsir_bucket_affinity(spark, sf_dir)
    aff = model.select("bucket", "aff_micro")
    # ONE exact-integer scalar off the ≤256-row model (driver-side, once
    # per query build — not per batch): the relative keep cut
    mean_pg = int(
        model.agg(F.expr("sum(r_b * aff_micro) DIV sum(r_b)").alias("m")).first().m
    )

    raw = documents_stream(spark, sf_dir)

    def score_batch(batch_df: DataFrame) -> DataFrame:
        grams = _doc_shingle_hashes(batch_df).select(
            "doc_id", (F.col("h") % DSIR_BUCKETS).alias("bucket")
        )
        scored = (
            grams.join(F.broadcast(aff), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_grams"),
                F.sum("aff_micro").alias("affinity_micro_sum"),
            )
        )
        per_gram = F.expr("affinity_micro_sum DIV n_grams")
        return scored.join(batch_df.select("doc_id", "lang"), "doc_id").select(
            "doc_id",
            "lang",
            "n_grams",
            "affinity_micro_sum",
            per_gram.alias("affinity_micro_per_gram"),
            (per_gram >= F.lit(mean_pg)).alias("selected"),
        )

    with scoped_stream_partitions(spark, sf_dir, "documents"):
        return drain_accumulate(
            raw, score_batch, "sdsir"
        )
