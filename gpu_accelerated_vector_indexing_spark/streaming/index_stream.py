"""Streaming CDC index refresh: the change feed ARRIVES as a stream
and each micro-batch folds into the persisted index — the Structured-
Streaming twin of ``operators.index_build.cdc_refreshed_index`` (the
production shape where upserts trickle in from a CDC bus instead of a
nightly diff job).

Per micro-batch (inside ``foreachBatch``, because the sinks are an
index directory, not a streaming sink):

    docs stream → row-local change classification (status is a pure
        function of (doc_id, text): snapshot membership by the shared
        modular slices, edit by the shared suffix rule)
      → removed + changed rows write their (vec_id, gen) tombstones
        into ``tombstones/batch={batch_id}`` (delta-sized parquet
        beside the index)
      → added + changed rows re-embed from the NEW text and land in
        ``embeddings_indexed/batch={batch_id}`` through the
        nearest-STORED-centroid path (``index_build.append_to_index``
        — no KMeans re-run)

Every write is mode("overwrite") into its OWN batch={batch_id}
subdirectory (ADVICE r9): foreachBatch is at-least-once, and this —
the standard idempotent-sink pattern — makes a replayed micro-batch
rewrite the same deterministic rows over the same directory instead of
double-appending, so stream restarts genuinely recover from the
layout + checkpoint. Readers partition-discover an extra ``batch``
column and ignore it; ``cluster`` stays a partition key, so probe
pruning composes unchanged.

Batching invariance is structural: tombstones and appends are set
unions across batches (every row's fate is row-local), so ANY
micro-batch partitioning of the feed folds to the same final index
state — which is why the drained stream serves the EXACT result of the
batch refresh and shares ``index_refresh_cdc``'s full DuckDB oracle.

Scale posture: per batch, one broadcast argmin against the ≤k-row
centroid table + one per-cluster append write + one delta-sized
tombstone append — nothing corpus-sized moves after the base build;
the stateful operator set is EMPTY (state lives in the index layout,
exactly where a serving system wants it).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.streaming._drain import documents_stream

_lock = threading.Lock()


def _classified(batch: DataFrame) -> DataFrame:
    """Row-local CDC classification: (doc_id, new_text, status) for the
    rows present in either snapshot. Restates curation's ONE snapshot
    definition (slices + edit) as pure row predicates — no join with a
    second snapshot is needed because both versions of a doc derive
    from the same fixture row."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        SNAP_ADDED_MOD,
        SNAP_ADDED_REM,
        SNAP_EDIT_MOD,
        SNAP_EDIT_REM,
        SNAP_EDIT_SUFFIX,
        SNAP_REMOVED_MOD,
        SNAP_REMOVED_REM,
    )

    in_old = F.col("doc_id") % SNAP_REMOVED_MOD != SNAP_REMOVED_REM
    in_new = F.col("doc_id") % SNAP_ADDED_MOD != SNAP_ADDED_REM
    edited = F.col("doc_id") % SNAP_EDIT_MOD == SNAP_EDIT_REM
    new_text = F.when(
        edited, F.concat(F.upper(F.col("text")), F.lit(SNAP_EDIT_SUFFIX))
    ).otherwise(F.col("text"))
    status = (
        F.when(~in_old & in_new, F.lit("added"))
        .when(in_old & ~in_new, F.lit("removed"))
        .when(edited, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return batch.filter(in_old | in_new).select(
        "doc_id", new_text.alias("text"), status.alias("status")
    )


# batch-key stride between refresh CYCLES: cycle g's micro-batch ids
# land at (g-1)·STRIDE + batch_id, so two drained change feeds (the
# gen-2 stream) can never collide in the batch-keyed layout while a
# replay within a cycle still overwrites its own directory. A stream
# restart resets batch_id to its checkpoint, never past the stride.
CYCLE_BATCH_STRIDE = 1_000_000


def fold_micro_batch(
    spark: SparkSession,
    out: str,
    batch_df: DataFrame,
    batch_id: int,
    classifier=None,
    gen: int = 1,
) -> None:
    """One micro-batch's fold into the index layout at ``out`` —
    IDEMPOTENT per batch_id (ADVICE r9): foreachBatch is
    at-least-once, so a micro-batch replayed after a failure/restart
    must not double-append. Every write lands in a batch={key}
    subdirectory with mode("overwrite") — a replay rewrites the SAME
    deterministic rows over the same directory (classification,
    embedding, and centroid assignment are all pure functions of the
    batch rows), so recovery from the layout + checkpoint holds by
    construction. Module-level (not a closure) so the idempotency
    contract is directly testable.

    ``classifier``/``gen`` parameterize the CYCLE (the gen-2 stream
    folds the v2→v3 feed at gen=2): tombstones land at dead-gen
    ``gen - 1``, appends at write-gen ``gen`` — the same monotone rule
    as ``index_build.apply_refresh_cycle``."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        _snapshot_emb,
        append_to_index,
    )

    delta = (classifier or _classified)(batch_df)
    key = (gen - 1) * CYCLE_BATCH_STRIDE + batch_id
    (
        delta.filter(F.col("status").isin("removed", "changed"))
        .select(
            F.col("doc_id").alias("vec_id"), F.lit(gen - 1).cast("int").alias("gen")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out}/tombstones/batch={key}")
    )
    upserts = delta.filter(F.col("status").isin("added", "changed")).select(
        "doc_id", "text"
    )
    append_to_index(
        spark,
        out,
        _snapshot_emb(upserts, gen=gen),
        write_path=f"{out}/embeddings_indexed/batch={key}",
        write_mode="overwrite",
    )


def _classified_v3(batch: DataFrame) -> DataFrame:
    """Row-local classification of the SECOND cycle's feed (v2 → v3):
    restates curation's ``_v3_membership`` / ``snapshot_v3_docs`` as
    pure row predicates — every row's fate is still a function of
    (doc_id, text), which is what keeps the gen-2 stream
    batching-invariant."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        SNAP3_EDIT_SUFFIX,
        SNAP_EDIT_MOD,
        SNAP_EDIT_REM,
        SNAP_EDIT_SUFFIX,
        _in_v2,
        _v3_membership,
    )

    col = F.col("doc_id")
    in_v2 = _in_v2(col)
    in_v3, _, edited_v3 = _v3_membership(col)
    v2_text = F.when(
        col % SNAP_EDIT_MOD == SNAP_EDIT_REM,
        F.concat(F.upper(F.col("text")), F.lit(SNAP_EDIT_SUFFIX)),
    ).otherwise(F.col("text"))
    v3_text = F.when(
        edited_v3, F.concat(v2_text, F.lit(SNAP3_EDIT_SUFFIX))
    ).otherwise(v2_text)
    status = (
        F.when(~in_v2 & in_v3, F.lit("added"))
        .when(in_v2 & ~in_v3, F.lit("removed"))
        .when(edited_v3, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return batch.filter(in_v2 | in_v3).select(
        "doc_id", v3_text.alias("text"), status.alias("status")
    )


def _drain_cycle(spark: SparkSession, sf_dir: str, out: str, classifier, gen: int) -> None:
    """Drain ONE change feed into the layout at ``out`` (cycle ``gen``):
    the generic foreachBatch driver both the single-cycle and gen-2
    streaming refreshes run per cycle."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_micro_batch(spark, out, batch_df, batch_id, classifier=classifier, gen=gen)

    q = (
        documents_stream(spark, sf_dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", state_dir("sidx_ckpt"))
        .foreachBatch(fold)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# the refreshed index dir, once per session/corpus like the batch twin
@session_state
def _refreshed_dir(spark: SparkSession, sf_dir: str) -> str:
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        build_base_snapshot_index,
    )

    out = build_base_snapshot_index(spark, sf_dir, batch_layout=True)
    _drain_cycle(spark, sf_dir, out, _classified, gen=1)
    return out


def streaming_index_refresh(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Drain the change feed into the persisted index, then serve —
    must produce EXACTLY ``index_refresh_cdc``'s rows (shared serve
    definition, shared oracle): the proof that the streaming fold and
    the nightly batch job maintain the same index."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        serve_refreshed_index,
    )

    with _lock:
        idx_dir = _refreshed_dir(spark, sf_dir)
    return serve_refreshed_index(spark, idx_dir, k)


# the gen-2 stream's own twice-refreshed layout
@session_state
def _refreshed_dir_gen2(spark: SparkSession, sf_dir: str) -> str:
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        build_base_snapshot_index,
    )

    out = build_base_snapshot_index(spark, sf_dir, batch_layout=True)
    _drain_cycle(spark, sf_dir, out, _classified, gen=1)
    _drain_cycle(spark, sf_dir, out, _classified_v3, gen=2)
    return out


def streaming_index_refresh_gen2(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """The CDC bus flowing across SNAPSHOT VERSIONS: drain the v1→v2
    feed, then the v2→v3 feed, into one persisted layout (cycle-keyed
    batch directories, tombstones at dead-gen g-1, appends at gen g)
    and serve — must produce EXACTLY ``index_refresh_cdc_gen2``'s rows
    (shared serve definition, shared oracle): the streaming fold and
    the nightly batch loop maintain the same index across generations,
    not just within one."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        serve_refreshed_index,
    )

    with _lock:
        idx_dir = _refreshed_dir_gen2(spark, sf_dir)
    return serve_refreshed_index(spark, idx_dir, k)


# --- r10 cont.: the predicate-delete feed (streaming DELETE WHERE) ----------
# The delete path gets the same streaming twin the refresh has: purge
# decisions arrive on the bus (a compliance queue, a retention
# sweeper), each micro-batch folds its victims' tombstones into the
# layout idempotently, and serving must equal the one-shot batch
# delete. Deletes are tombstone-ONLY folds — no appends, no centroid
# work — so a delete feed never touches index files at all until
# compaction reclaims the masked rows.


def fold_delete_batch(
    spark: SparkSession, out: str, batch_df: DataFrame, batch_id: int
) -> None:
    """One micro-batch of the predicate-delete feed: victims = old-
    snapshot members whose ``source`` is purged (the same row-local
    predicate as ``index_build.delete_where_index``), written
    idempotently into ``tombstones/batch={batch_id}`` at dead-gen 0."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        SNAP_REMOVED_MOD,
        SNAP_REMOVED_REM,
    )
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        DELETE_WHERE_SOURCES,
    )

    in_old = F.col("doc_id") % SNAP_REMOVED_MOD != SNAP_REMOVED_REM
    (
        batch_df.filter(in_old & F.col("source").isin(*DELETE_WHERE_SOURCES))
        .select(F.col("doc_id").alias("vec_id"), F.lit(0).cast("int").alias("gen"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out}/tombstones/batch={batch_id}")
    )


@session_state
def _deleted_dir(spark: SparkSession, sf_dir: str) -> str:
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        build_base_snapshot_index,
    )

    out = build_base_snapshot_index(spark, sf_dir, batch_layout=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_delete_batch(spark, out, batch_df, batch_id)

    q = (
        documents_stream(spark, sf_dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", state_dir("sdel_ckpt"))
        .foreachBatch(fold)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out


def streaming_index_delete_where(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Drain the predicate-delete feed into the persisted index, then
    serve — must produce EXACTLY ``index_delete_where``'s rows (shared
    serve definition, shared oracle): the streaming purge and the
    one-shot batch DELETE maintain the same index."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        serve_refreshed_index,
    )

    with _lock:
        idx_dir = _deleted_dir(spark, sf_dir)
    return serve_refreshed_index(spark, idx_dir, k)


def streaming_index_read_asof(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Time travel over the STREAM-FOLDED layout: the gen stamps and
    batch-keyed directories written by two drained change feeds must
    reconstruct the same three corpus versions the batch loop's layout
    does — ``(asof_gen, doc_id, score)``, shared visibility rule
    (``index_build._live_index_rows_asof``; the extra ``batch``
    partition column is ignored by the reader), shared oracle. This is
    the operational payoff of the streaming fold writing REAL
    generation metadata instead of opaque appends."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import asof_topk

    with _lock:
        idx_dir = _refreshed_dir_gen2(spark, sf_dir)
    return asof_topk(spark, idx_dir, k)
