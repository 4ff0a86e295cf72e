"""Streaming graph-index maintenance: NEW vectors arrive as a stream
and each micro-batch attaches to the live adjacency state — the
Structured-Streaming twin of ``operators.graph_ann.graph_ann_insert``,
completing the family symmetry the dedup index already has
(``incremental_dedup`` ↔ ``streaming_incremental_dedup``).

Per micro-batch (inside ``foreachBatch``, so windowed top-k is
available):

    new-vector ids → static grouping metadata join (the build's own
        seed groupings, precomputed once from the corpus — index
        metadata, never recomputed per batch)
        → batch→archive candidates (graph_ann.attach_candidates — the
          SAME function the batch twin calls, so the two stay
          structurally identical)
        → score (memoized normed state) → per-node top-k
        → accumulate attached edges (localCheckpoint lineage cut)

Stream ≡ batch BY CONSTRUCTION: every candidate for node *n* is
generated in the micro-batch carrying *n* (seeds pair the batch row
against STATIC archive partners; the refine hop walks STATIC archive
adjacency), and each node arrives exactly once — so the per-node top-k
is batch-local and the drained union over any batching equals the
one-shot batch attach. The DuckDB oracle is therefore the batch twin's
(queries/_graph_ann_oracle.insert_digest_sql), and batching-invariance
is pinned separately in tests via ``maxFilesPerTrigger``.

Scale posture: the static sides (grouping metadata, archive adjacency,
normed vectors) are memoized index state — broadcast or bucket-joined
per micro-batch; candidate volume per batch is
Θ(batch·SEED_WINDOW·(1+K)), scaling with the BATCH and never with the
archive. Accumulated state is the attached edge list itself (k rows per
new node), localCheckpoint-ed so lineage stays O(1) in batch count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
    GRAPH_INSERT_MODULUS,
    K_GRAPH,
    _grouped,
    _masked_adj,
    _mod_slice,
    _rank_digest,
    _score_pairs,
    _topk_per_node,
    attach_candidates,
    fixture_graph,
)
from gpu_accelerated_vector_indexing_spark.operators.knn import fixture_normed
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
from gpu_accelerated_vector_indexing_spark.streaming._drain import (
    drain_accumulate,
    embeddings_stream,
    scoped_stream_partitions,
)


def streaming_graph_attach(
    spark: SparkSession,
    sf_dir: str,
    modulus: int = GRAPH_INSERT_MODULUS,
    k: int = K_GRAPH,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the new-vector stream, attaching each micro-batch to the
    masked live adjacency; returns the build-digest shape (per neighbor
    rank: count, exact score sum, nbr id sum) over ALL attached edges —
    value-identical to ``graph_ann_insert`` regardless of batching."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_n = fixture_normed(spark, sf_dir)
    arch_adj = _masked_adj(fixture_graph(spark, sf_dir), _mod_slice(modulus))
    # grouping ASSIGNMENTS are build-time index metadata: computed once
    # from the static corpus (identical to the batch twin's input), the
    # batch side just looks its rows up by id
    grouped = _grouped(emb)
    arch_g = grouped.filter(F.col("vec_id") % modulus != 0)

    raw = embeddings_stream(spark, sf_dir, max_files_per_trigger)
    new_ids = raw.filter(F.col("vec_id") % modulus == 0).select("vec_id")

    def attach(batch_df: DataFrame) -> DataFrame:
        new_g = grouped.join(batch_df.select("vec_id"), "vec_id")
        cand = attach_candidates(new_g, arch_g, arch_adj)
        return _topk_per_node(_score_pairs(cand, emb_n), k)

    with scoped_stream_partitions(spark, sf_dir, "embeddings"):
        attached = drain_accumulate(
            new_ids, attach, "sgraph"
        )
    return _rank_digest(attached)
