"""Offline IVF index build — the reference's Python pipeline, as one job.

≙ reference ``clusters.py``: sklearn KMeans(k=128, seed=42) over the
embedding matrix, then per-cluster matrix slices + a cluster→global-id
mapping (clusters.py:15-35). Here the three-process filesystem relay
(embedding.py → clusters.py → convert_npy_bin.py, SURVEY.md §3.2)
collapses into one lazy DAG:

    read embeddings → MLlib KMeans.fit → transform (cluster column)
        → write.partitionBy("cluster") parquet  +  centroids parquet

- The per-cluster ``.bin`` files (clusters.py:32-35) become partition
  directories of ONE parquet table — identical physical layout
  (cluster-major contiguous vectors) with schema, stats and pruning.
- ``cluster_mappings.json`` (clusters.py:26-30) is obviated: ``vec_id``
  is a column, so identity survives partitioning.
- sklearn k-means++ vs MLlib k-means‖ yield different-but-equally-valid
  clusterings (SURVEY.md §7.3): correctness asserts invariants
  (assignment = nearest centroid, k non-empty clusters, recall), never
  exact centroid values.

Float handling: storage is ARRAY<FLOAT>; MLlib Vectors are float64 —
conversion happens only at the KMeans boundary via
``pyspark.ml.functions.array_to_vector`` / ``vector_to_array``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import lit_double_array2
from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table


FIT_SAMPLES_PER_CLUSTER = 256  # FAISS's coarse-quantizer training budget


def kmeans_assign(
    emb: DataFrame, k: int = 10, seed: int = 42, max_iter: int = 8,
    fit_sample: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit KMeans and return ``(assigned, centroids)``.

    ``assigned``  = embeddings + ``cluster INT`` prediction column
    ``centroids`` = ``(cluster INT, centroid ARRAY<DOUBLE>)``

    maxIter=8 / initSteps=1: measured at sf0.1 these reach the same
    training cost as the 20-iteration default (k-means‖ converges in a
    handful of iterations on well-separated fixtures) at ~3.5× less
    wall-clock — every MLlib iteration is a full pass over the corpus,
    which is what matters at 100 TB.

    The fit runs on a sample of the corpus (standard IVF practice — a
    coarse quantizer needs cluster GEOMETRY, not every point; FAISS
    trains on ≤256·k samples for the same reason), then assignment
    transforms the FULL corpus. ``fit_sample`` defaults to the fraction
    that yields ~``FIT_SAMPLES_PER_CLUSTER``·k rows (corpus size from
    parquet metadata, effectively free) — so the fit cost is bounded by
    k, not corpus size, and the gap grows with data since fit passes
    are per-iteration. Falls back to the full frame when the sample is
    too small for k. Search correctness never depends on fit inputs:
    full-probe ≡ brute force and assignment ≡ argmin by construction
    (SURVEY.md §5.3).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if fit_sample is None:
        # a real Spark job, not a metadata shortcut: emb is often a
        # derived frame (refshape projection, filtered slices), so this
        # costs one pass over the frame — priced in as part of the
        # build, the same place the reference pays its full corpus load
        # (IVF.cpp:456-486); pass fit_sample explicitly to skip it
        n = emb.count()
        fit_sample = min(1.0, (FIT_SAMPLES_PER_CLUSTER * k) / max(n, 1))
    feats = emb.withColumn("features", array_to_vector(F.col("embedding").cast("array<double>")))
    fit_frame = feats.sample(fit_sample, seed=seed) if fit_sample < 1.0 else feats
    if fit_sample < 1.0 and fit_frame.limit(10 * k).count() < 10 * k:
        fit_frame = feats  # tiny corpus: sample can't support k clusters
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, initSteps=1,
        featuresCol="features", predictionCol="cluster",
    ).fit(fit_frame)
    assigned = model.transform(feats).drop("features")
    spark = emb.sparkSession
    centers = model.clusterCenters()
    if k * len(centers[0]) <= 4096:
        # JVM-literal construction: createDataFrame from a Python list
        # routes through a Python-RDD task (measured ~5s of worker
        # spin-up for 10 rows); a posexplode of ONE parsed literal
        # (lit_double_array2) stays entirely JVM-side
        centroids = spark.range(1).select(
            F.posexplode(lit_double_array2(centers)).alias("cluster", "centroid")
        )
    else:
        # past ~4k cells the literal's SQL parse dominates — one parse
        # of 128 clusters × 384 dims measured 6-7 s vs 0.5-0.7 s through
        # createDataFrame — so big shapes take the Python-RDD path and
        # small fixture shapes keep the JVM one
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            schema="cluster int, centroid array<double>",
        )
    return assigned, centroids


def build_partitioned_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    k: int = 10,
    seed: int = 42,
) -> tuple[str, str]:
    """Materialize the IVF index as cluster-partitioned parquet.

    Layout ≙ reference index dir (cluster_embeddings_{i}.bin +
    cluster_centroids.bin, IVF.cpp:456-510) but lazy and prunable:
    a fine search with ``cluster IN (probes)`` opens only the probed
    partition directories — at 100 TB nothing else is even listed.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_assign(emb, k=k, seed=seed)
    emb_path = f"{out_dir}/embeddings_indexed"
    cent_path = f"{out_dir}/centroids"
    (
        assigned.repartition("cluster")  # one shuffle → cluster-major files
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(emb_path)
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(cent_path)
    return emb_path, cent_path


def append_to_index(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    write_path: str | None = None,
    write_mode: str = "append",
) -> int:
    """Append new vectors to an EXISTING index without a rebuild.

    ≙ the operation the reference cannot do (its per-cluster ``.bin``
    files are immutable monoliths — adding a vector means rerunning
    clusters.py over everything): each new vector is assigned to its
    nearest stored centroid (broadcast argmin over the tiny centroid
    table, (d², cluster) tie-break — the same rule as
    ``ivf.assign_incremental``) and written into the matching cluster
    partition directory with ``mode("append")``. Existing files are
    untouched; partition pruning keeps working because the layout key
    is unchanged. Returns the number of appended rows.

    ``write_path``/``write_mode`` let the streaming fold redirect the
    write into a batch-keyed subdirectory with ``overwrite`` (the
    idempotent foreachBatch pattern, ADVICE r9) while the assignment
    logic — centroids still read from ``index_dir`` — stays ONE
    definition.

    At 100 TB this is the steady-state ingest path: rebuilds are
    periodic (centroid drift), appends are continuous.
    """
    from gpu_accelerated_vector_indexing_spark.functions.vector import as_double_array

    cents = spark.read.parquet(f"{index_dir}/centroids").withColumnRenamed(
        "cluster", "cand"
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                as_double_array("embedding"), F.col("centroid"), lambda x, c: (x - c) * (x - c)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cand"))
    assigned = (
        new_emb.join(F.broadcast(cents))
        .select(*new_emb.columns, F.col("cand"), d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*new_emb.columns, F.col("cand").alias("cluster"))
    )
    n = assigned.count()
    (
        assigned.repartition("cluster")
        .write.mode(write_mode)
        .partitionBy("cluster")
        .parquet(write_path or f"{index_dir}/embeddings_indexed")
    )
    return n


@session_state
def fixture_kmeans(
    spark: SparkSession, sf_dir: str, k: int = 10, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Memoized (assigned, centroids) for the FIXTURE corpus — index
    state per (session, corpus, k, seed), the same build-once/serve-many
    posture as every other memoized index table (ivf.fixture_qvec,
    graph_ann.fixture_graph). A KMeans fit is an index BUILD: paying it
    once per session is the production shape; callers that audit or
    serve re-run their own plan over the cached assignment each call."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_assign(emb, k=k, seed=seed)
    assigned = assigned.cache()
    assigned.count()
    centroids = centroids.cache()
    centroids.count()
    return (assigned, centroids)


def cluster_invariants(spark: SparkSession, sf_dir: str, k: int = 10, seed: int = 42) -> DataFrame:
    """Property-style summary of a KMeans build (SURVEY.md §5.3).

    One row: n_clusters (must = k), n_rows (must = corpus), and how many
    rows sit with their nearest centroid (must = n_rows — i.e. the
    assignment IS the argmin, reference clusters.py:20 semantics).
    """
    assigned, centroids = fixture_kmeans(spark, sf_dir, k=k, seed=seed)
    return assignment_invariants(assigned, centroids)


def assignment_invariants(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """The §5.3 invariant contract over any (assigned, centroids) pair
    — shared by the fixture-shape ``cluster_invariants`` and the
    128×384 reference-shape query (``refshape.refshape_kmeans_invariants``).

    The corpus × k argmin audit runs as an Arrow-batched NumPy kernel:
    the r3 form — a k-way broadcast join with a per-pair ``zip_with``/
    ``aggregate`` fold — evaluated Spark's higher-order functions
    interpreted, outside whole-stage codegen, and cost 26 s at
    k=128 × 384 dims in bench (vs <1 s here). The centroid matrix
    rides the UDF closure (k·dim doubles — ≤0.4 MB at reference shape,
    index-state scale).

    Distance strategy is MLlib's own: the fast expanded matmul
    ``‖x‖²−2·X·Cᵀ+‖c‖²`` decides every row whose best-to-second-best
    gap exceeds a RELATIVE slack (1e-9 of the row's magnitude scale —
    ~4 orders above the matmul's dim·ε cancellation bound at ANY
    coordinate scale, normalized or not), and only near-tie rows are
    re-decided with the exact difference form ``Σ(x−c)²`` — so the
    audit is matmul-priced (the all-exact
    chunked form cost 2.7 s vs ~1.6 s at 128×384 bench scale; the
    interpreted zip_with fold form cost 26 s) yet can never mis-flag a
    near-equidistant row. Argmin ties break to the LOWEST cluster id
    exactly like the previous ``row_number() OVER (ORDER BY d2, cand)``
    form: unambiguous rows have no tie by construction, and the exact
    re-check uses np.argmin (first minimum) over label-sorted rows."""
    import numpy as np
    from pyspark.sql import types as T

    cent_rows = sorted(
        ((int(r.cluster), [float(x) for x in r.centroid]) for r in centroids.collect())
    )
    labels = np.asarray([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.asarray([v for _, v in cent_rows], dtype=np.float64)  # k × dim
    cnorm = (cmat * cmat).sum(axis=1)
    # the matmul's cancellation error scales with the data: bound ≈
    # dim·ε·(‖x‖²+‖c‖²) ≈ 8.5e-14·magnitude at 384 dims — a RELATIVE
    # slack keeps the exact-recheck net covering unnormalized
    # embeddings of any coordinate scale (an absolute 1e-6 would stop
    # covering |x|² ≳ 1e7), with 4+ orders of margin above the bound
    TIE_REL = 1e-9

    @F.pandas_udf(T.LongType())
    def nearest_label(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for emb in it:
            if len(emb) == 0:  # empty Arrow batch: axis-1 ops would raise
                yield pd.Series([], dtype="int64")
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
            xnorm2 = (x * x).sum(axis=1, keepdims=True)
            d2 = xnorm2 - 2.0 * (x @ cmat.T) + cnorm
            out = np.argmin(d2, axis=1)
            if cmat.shape[0] > 1:  # k=1 has no runner-up to compare
                two = np.partition(d2, 1, axis=1)
                slack = TIE_REL * (xnorm2[:, 0] + cnorm.max())
                for i in np.flatnonzero(two[:, 1] - two[:, 0] < slack):
                    diff = x[i] - cmat
                    out[i] = np.argmin((diff * diff).sum(axis=1))
            yield pd.Series(labels[out])

    flagged = assigned.select("cluster", nearest_label("embedding").alias("nearest"))
    return flagged.agg(
        F.countDistinct("cluster").alias("n_clusters"),
        F.count("*").alias("n_rows"),
        F.sum((F.col("cluster") == F.col("nearest")).cast("long")).alias("n_nearest_ok"),
    )


# ---------------------------------------------------------------------------
# CDC → incremental index refresh (r9: the snapshot-diff × index-
# maintenance composition — what a 100 TB corpus actually runs nightly)
# ---------------------------------------------------------------------------

# The query string every refresh-family read uses (fixture-vocabulary
# tokens so bucket overlap, and hence the ranking, is non-degenerate).
CDC_QUERY_TEXT = "hash table merge join"
CDC_K_CLUSTERS = 10


def _snapshot_emb(docs: DataFrame, gen: int, salt: str = "") -> DataFrame:
    """``(vec_id, embedding, gen)`` — hash-embedded snapshot docs.
    ``gen`` stamps which write produced a row (0 = base build,
    1 = CDC append), so a tombstone can retire an edited doc's BASE
    row without shadowing its re-embedded replacement. ``salt`` selects
    the embedder VERSION (the migration lifecycle)."""
    from gpu_accelerated_vector_indexing_spark.functions.embedder import embed_documents

    return embed_documents(docs, salt=salt).select(
        F.col("doc_id").alias("vec_id"), "embedding", F.lit(gen).alias("gen")
    )


# Tombstone semantics (r10, multi-generation): a tombstone row
# ``(vec_id, gen)`` retires every index row of that vec_id whose
# write generation is <= the tombstone's gen — "everything written
# before the cycle that emitted it". Cycle g tombstones at gen = g-1
# and appends at gen = g, so the rule is monotone across cycles: a
# doc edited in cycle 1 and again in cycle 2 leaves tombstones
# (id, 0) and (id, 1) plus appends at gen 1 and 2 — only the gen-2
# row survives, with no writer ever needing to know which generation
# a vec_id currently sits at (the classification stays row-local,
# which is what keeps the streaming twin batching-invariant).
TOMBSTONE_SCHEMA = "vec_id long, gen int"


def build_base_snapshot_index(
    spark: SparkSession, sf_dir: str, batch_layout: bool = False, salt: str = ""
) -> str:
    """The OLD-snapshot base index in a fresh directory: hash-embed the
    old snapshot, seeded KMeans, cluster-partitioned layout + centroid
    table + an EMPTY tombstone list — the starting state both refresh
    flavors (batch ``cdc_refreshed_index``, streaming
    ``streaming_index_refresh``) mutate. NOT memoized: each caller owns
    (and mutates) its directory.

    ``batch_layout`` nests the base writes under ``batch=-1`` so the
    streaming twin's per-micro-batch subdirectories (the idempotent
    foreachBatch layout, ADVICE r9) coexist with the base files under
    one partition-discovered root; readers see an extra ``batch``
    partition column that every serve path ignores, and ``cluster``
    pruning composes unchanged (it is a partition key either way)."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import snapshot_old_docs

    out = state_dir("cdcidx")
    sub = "/batch=-1" if batch_layout else ""
    docs = load_table(spark, sf_dir, "documents")
    base = _snapshot_emb(snapshot_old_docs(docs), gen=0, salt=salt)
    assigned, centroids = kmeans_assign(base, k=CDC_K_CLUSTERS, seed=42)
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{out}/embeddings_indexed{sub}")
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{out}/centroids")
    spark.createDataFrame([], TOMBSTONE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/tombstones{sub}")
    return out


@session_state
def cdc_refresh_state(spark: SparkSession, sf_dir: str) -> tuple[str, dict[str, int]]:
    """Build the OLD-snapshot index once, then refresh it from the CDC
    diff — returns the refreshed index directory and the refresh's
    write accounting.

    The nightly loop of a versioned 100 TB corpus, composed from parts
    that each already exist here: ``curation.corpus_snapshot_diff``
    classifies (added / removed / changed / unchanged) by content hash;
    removed + changed docs TOMBSTONE their base rows (a ≤|delta| list
    persisted beside the index — the ``ivf.knn_with_deletes`` masked-
    read posture); added + changed docs re-embed from the NEW text and
    append through the standard nearest-stored-centroid path
    (:func:`append_to_index` — no KMeans re-run, the
    ``assign_incremental`` growth rule). Unchanged docs' rows and files
    are never touched: the refresh costs O(|delta|), not O(|corpus|) —
    vs the reference, where ANY corpus change reruns the whole
    embedding.py → clusters.py → convert pipeline (clusters.py:20).

    Refreshed reads ≡ a from-scratch rebuild on the new snapshot —
    exactly, not approximately: live rows = (old ∖ tombstoned) ∪
    re-embedded delta = the new snapshot's embeddings, and a full-probe
    search is brute force over live rows regardless of which centroids
    partition them (SURVEY §5.3's full-probe ≡ exact invariant, pinned
    by test_cdc_refresh_equals_scratch_rebuild).
    """
    out = build_base_snapshot_index(spark, sf_dir)
    return out, apply_cdc_refresh(spark, sf_dir, out)


def cdc_refreshed_index(spark: SparkSession, sf_dir: str) -> str:
    return cdc_refresh_state(spark, sf_dir)[0]


def apply_refresh_cycle(
    spark: SparkSession, out: str, diff: DataFrame, new_docs: DataFrame, gen: int
) -> dict[str, int]:
    """Apply ONE diff-driven refresh cycle to the layout at ``out`` —
    the generic nightly step (cycle ``gen``): removed + changed docs
    APPEND tombstones at dead-gen ``gen - 1`` (retiring every earlier
    write of that vec_id, base or append alike), added + changed docs
    re-embed from ``new_docs``' text and append at write-gen ``gen``
    through the nearest-stored-centroid path. Returns the cycle's
    write accounting. Shared by cycle 1 (:func:`apply_cdc_refresh`),
    cycle 2 (the gen-2 lifecycle), and the compaction copies."""
    tombs = diff.filter(F.col("status").isin("removed", "changed")).select(
        F.col("doc_id").alias("vec_id"), F.lit(gen - 1).cast("int").alias("gen")
    )
    n_tombstoned = tombs.count()
    tombs.coalesce(1).write.mode("append").parquet(f"{out}/tombstones")
    upsert_docs = new_docs.join(
        diff.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    n_appended = append_to_index(spark, out, _snapshot_emb(upsert_docs, gen=gen))
    return {"n_appended": n_appended, "n_tombstoned": n_tombstoned}


def apply_cdc_refresh(spark: SparkSession, sf_dir: str, out: str) -> dict[str, int]:
    """Cycle 1 of the diff-driven refresh (snapshot N → N+1): one diff
    feeds both the tombstone list and the re-embed/append batch.
    Shared by the memoized query path and the compaction lifecycle
    (which mutates its own copy)."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        corpus_snapshot_diff,
        snapshot_new_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return apply_refresh_cycle(
        spark, out, corpus_snapshot_diff(spark, sf_dir), snapshot_new_docs(docs), gen=1
    )


def _live_index_rows(spark: SparkSession, index_dir: str) -> DataFrame:
    """The refreshed index's LIVE rows: base ∪ appends, minus rows
    retired by the tombstone list (``row.gen <= tombstone.gen`` — see
    TOMBSTONE_SCHEMA). The tombstone side is delta-sized, so it
    broadcasts; the gen comparison is what lets an edited doc's
    latest re-embedding survive every earlier retirement."""
    idx = spark.read.parquet(f"{index_dir}/embeddings_indexed")
    tombs = spark.read.parquet(f"{index_dir}/tombstones").select(
        F.col("vec_id").alias("t_vec_id"), F.col("gen").alias("t_gen")
    )
    return idx.join(
        F.broadcast(tombs),
        (idx.vec_id == tombs.t_vec_id) & (idx.gen <= tombs.t_gen),
        "left_anti",
    )


def index_refresh_cdc(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k search over the CDC-REFRESHED index — the registered query
    closing the snapshot-diff → refresh → serve lifecycle.

    Full-probe (every cluster scanned) so the result is provably the
    exact top-k over the new snapshot: the DuckDB oracle re-derives the
    new snapshot's embeddings from text (the embed_and_search featurizer
    CTE over the snapshot relation) and brute-forces the same query —
    a value match certifies the tombstones retired exactly the
    removed + edited base rows and the appends carry exactly the new
    text's vectors. At scale the same read path serves probed subsets
    (partition pruning composes with the tombstone anti-join).
    """
    return serve_refreshed_index(spark, cdc_refreshed_index(spark, sf_dir), k)


def serve_refreshed_index(spark: SparkSession, idx_dir: str, k: int = 5) -> DataFrame:
    """Full-probe top-k over a refreshed layout's live rows THROUGH the
    standard facade — the ONE serve definition shared by the batch,
    streaming, and compacted refresh queries (all must hit the same
    oracle). ``IVFEngine.from_pretrained`` binds the tombstone list it
    finds beside the index (r9: masked reads through the facade, the
    same index-agnostic posture as the graph class), and
    n_probe = every cluster makes the read provably exact."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import layout_engine

    qvec = _cdc_query_vec(spark)
    eng = layout_engine(spark, idx_dir, CDC_K_CLUSTERS)
    return eng.search(qvec, k=k).select(F.col("vec_id").alias("doc_id"), "score")


# served engines (ivf.layout_engine) and the embedded query vector are
# session-fixed state, memoized like every other serving state
@session_state
def _cdc_query_vec(spark: SparkSession) -> list[float]:
    from gpu_accelerated_vector_indexing_spark.functions.embedder import embed_queries

    return [
        float(x)
        for x in embed_queries(spark, [CDC_QUERY_TEXT]).collect()[0].qvec
    ]


def index_refresh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One observability row for the CDC refresh — the lifecycle's
    monitoring close (the ``ivf_index_stats`` posture applied to the
    refresh): per-status diff counts, what the refresh wrote
    (appends = added + changed, tombstones = removed + changed), and
    the refreshed index's live row count (= the new snapshot size).
    A value match certifies the refresh's accounting end to end —
    the row a nightly pipeline alerts on when a diff goes sideways."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import corpus_snapshot_diff

    idx_dir, stats = cdc_refresh_state(spark, sf_dir)
    by_status = corpus_snapshot_diff(spark, sf_dir).groupBy().pivot(
        "status", ["added", "removed", "changed", "unchanged"]
    ).count()
    live = _live_index_rows(spark, idx_dir).agg(F.count("*").alias("n_live"))
    return (
        by_status.crossJoin(F.broadcast(live))
        .select(
            F.coalesce("added", F.lit(0)).alias("n_added"),
            F.coalesce("removed", F.lit(0)).alias("n_removed"),
            F.coalesce("changed", F.lit(0)).alias("n_changed"),
            F.coalesce("unchanged", F.lit(0)).alias("n_unchanged"),
            F.lit(stats["n_appended"]).cast("long").alias("n_appended"),
            F.lit(stats["n_tombstoned"]).cast("long").alias("n_tombstoned"),
            "n_live",
        )
    )


# The compacted index dir is its OWN refreshed copy (the shared
# cdc_refreshed_index state must stay tombstoned: index_refresh_cdc
# reads it through the masked path every call).
@session_state
def compact_refreshed_index(spark: SparkSession, sf_dir: str) -> str:
    """Fold the tombstone list into the files — the maintenance step
    that closes the CDC lifecycle (refresh nightly, compact when the
    masked-read tax is worth reclaiming — ``ivf.delete_compact_plan``'s
    trigger applied to the refresh layout):

    1. affected clusters = partitions holding ≥1 tombstoned base row
       (one delta-sized semi-join — bounded by the tombstone list);
    2. rewrite ONLY those partition directories with their live rows
       (dynamic partition overwrite: untouched clusters' files are
       never opened, listed, or rewritten);
    3. a cluster whose rows were ALL tombstoned is deleted outright
       (dynamic overwrite writes nothing for an empty partition, and a
       leftover directory would resurrect its rows once the list
       empties — at scale this is the catalog/FS partition drop);
    4. the tombstone list becomes empty.

    Serve-identical by construction: live rows before ≡ rows after,
    pinned by test_compaction_preserves_serving + the shared oracle.
    """
    out = build_base_snapshot_index(spark, sf_dir)
    apply_cdc_refresh(spark, sf_dir, out)
    compact_index_dir(spark, out)
    return out


def compact_index_dir(spark: SparkSession, out: str) -> list[int]:
    """Compact one refreshed layout IN PLACE (the mechanism behind
    :func:`compact_refreshed_index`, separable so tests can run it on
    a caller-owned copy and audit exactly which files moved). Returns
    the affected cluster ids."""
    import shutil

    idx = spark.read.parquet(f"{out}/embeddings_indexed")
    tombs = spark.read.parquet(f"{out}/tombstones").select(
        F.col("vec_id").alias("t_vec_id"), F.col("gen").alias("t_gen")
    )
    affected = sorted(
        r.cluster
        for r in idx.join(
            F.broadcast(tombs),
            (idx.vec_id == tombs.t_vec_id) & (idx.gen <= tombs.t_gen),
            "left_semi",
        )
        .select("cluster")
        .distinct()
        .collect()
    )
    # STAGE the affected live rows before rewriting (ADVICE r9): the
    # overwrite plan must never scan the directory it is rewriting —
    # read-while-overwriting the same path happens to pass on this
    # Spark build but is exactly the pattern other committers/object
    # stores reject or corrupt. The staging write is damage-bounded
    # (affected clusters' live rows only), and the final dynamic
    # overwrite scans the staging copy, not the target.
    # a sibling of embeddings_indexed (never inside it — partition
    # discovery of the index must not see it), deliberately NOT
    # underscore-prefixed: Spark's hidden-path filter treats _-names
    # specially and logs spurious all-paths-ignored warnings
    staging = f"{out}/compact-staging"
    (
        _live_index_rows(spark, out)
        .filter(F.col("cluster").isin(affected))
        .repartition("cluster")
        .write.mode("overwrite")
        .parquet(staging)
    )
    live_affected = spark.read.parquet(staging)
    survivors = {
        r.cluster for r in live_affected.select("cluster").distinct().collect()
    }
    (
        live_affected.repartition("cluster")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster")
        .parquet(f"{out}/embeddings_indexed")
    )
    shutil.rmtree(staging, ignore_errors=True)
    for cluster in affected:
        if cluster not in survivors:
            shutil.rmtree(f"{out}/embeddings_indexed/cluster={cluster}")
    spark.createDataFrame([], TOMBSTONE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/tombstones")
    return affected


def index_refresh_compacted(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Serve AFTER compaction — must hit the same oracle as
    ``index_refresh_cdc``: compaction reclaims the masked-read tax
    (the tombstone anti-join sees an empty list) without moving a
    single result value."""
    return serve_refreshed_index(spark, compact_refreshed_index(spark, sf_dir), k)


# ---------------------------------------------------------------------------
# Generation 2 (r10): the refresh as a LOOP — snapshot N → N+1 → N+2
# ---------------------------------------------------------------------------
# Cycle 2 is where the design is actually tested (VERDICT r9 next #1):
# its delta deliberately tombstones cycle-1 APPENDS (docs edited twice,
# docs added then removed — see curation's v3 slice map), resurrects a
# doc cycle 1 tombstoned, and compaction can run MID-sequence. The
# reference can never do any of this: its per-cluster .bin files are
# immutable monoliths (IVF.cpp:439-524) — any corpus change reruns the
# whole embedding.py → clusters.py → convert pipeline.


def apply_cdc_refresh_v3(spark: SparkSession, sf_dir: str, out: str) -> dict[str, int]:
    """Cycle 2 (snapshot N+1 → N+2): the same generic step at gen=2 —
    tombstones land at dead-gen 1 (retiring base rows AND cycle-1
    appends), re-embeds read the v3 text."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        corpus_snapshot_diff_v3,
        snapshot_v3_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return apply_refresh_cycle(
        spark, out, corpus_snapshot_diff_v3(spark, sf_dir), snapshot_v3_docs(docs), gen=2
    )


@session_state
def cdc_refresh_gen2_state(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[dict[str, int]]]:
    """Base build on snapshot N, then TWO diff-driven refresh cycles —
    the nightly loop actually looping: the twice-refreshed index dir +
    per-cycle accounting. Owns its directory (the shared single-cycle
    state must stay at generation 1 for ``index_refresh_cdc``)."""
    out = build_base_snapshot_index(spark, sf_dir)
    c1 = apply_cdc_refresh(spark, sf_dir, out)
    c2 = apply_cdc_refresh_v3(spark, sf_dir, out)
    return out, [c1, c2]


def cdc_refreshed_index_gen2(spark: SparkSession, sf_dir: str) -> str:
    return cdc_refresh_gen2_state(spark, sf_dir)[0]


def index_refresh_cdc_gen2(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k search over the TWICE-refreshed index. Full-probe, so the
    result is provably the exact top-k over snapshot N+2: the oracle
    re-derives v3's embeddings from text and brute-forces the same
    query — a value match certifies that two stacked tombstone
    generations retire exactly the right rows (including cycle-1
    appends) and nothing else."""
    return serve_refreshed_index(spark, cdc_refreshed_index_gen2(spark, sf_dir), k)


def index_refresh_gen2_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cycle accounting row: cycle-2 diff class counts, each
    cycle's write accounting, and the final live row count (= |v3|) —
    the nightly pipeline's monitoring row once the refresh loops."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        corpus_snapshot_diff_v3,
    )

    idx_dir, (c1, c2) = cdc_refresh_gen2_state(spark, sf_dir)
    by_status = corpus_snapshot_diff_v3(spark, sf_dir).groupBy().pivot(
        "status", ["added", "removed", "changed", "unchanged"]
    ).count()
    live = _live_index_rows(spark, idx_dir).agg(F.count("*").alias("n_live"))
    return by_status.crossJoin(F.broadcast(live)).select(
        F.coalesce("added", F.lit(0)).alias("n_added_c2"),
        F.coalesce("removed", F.lit(0)).alias("n_removed_c2"),
        F.coalesce("changed", F.lit(0)).alias("n_changed_c2"),
        F.coalesce("unchanged", F.lit(0)).alias("n_unchanged_c2"),
        F.lit(c1["n_appended"]).cast("long").alias("n_appended_c1"),
        F.lit(c1["n_tombstoned"]).cast("long").alias("n_tombstoned_c1"),
        F.lit(c2["n_appended"]).cast("long").alias("n_appended_c2"),
        F.lit(c2["n_tombstoned"]).cast("long").alias("n_tombstoned_c2"),
        "n_live",
    )


@session_state
def compact_mid_sequence_index(spark: SparkSession, sf_dir: str) -> str:
    """Compaction MID-sequence: base → cycle 1 → compact → cycle 2.
    The compacted layout (tombstones folded into the files, list
    emptied, gen stamps preserved in the rewritten rows) must accept
    the next cycle as if nothing happened — cycle-2 tombstones at
    dead-gen 1 still retire the surviving gen-0/gen-1 rows they name.
    Own copy: the gen-2 serve state must keep its masked layout."""
    out = build_base_snapshot_index(spark, sf_dir)
    apply_cdc_refresh(spark, sf_dir, out)
    compact_index_dir(spark, out)
    apply_cdc_refresh_v3(spark, sf_dir, out)
    return out


def index_refresh_gen2_compact_mid(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Serve after base → refresh → COMPACT → refresh — must hit the
    gen-2 oracle unchanged: maintenance interleaved with refresh
    cycles moves no result value."""
    return serve_refreshed_index(spark, compact_mid_sequence_index(spark, sf_dir), k)


# ---------------------------------------------------------------------------
# Time-travel reads (r10 cont.): the gen stamps ARE a version history
# ---------------------------------------------------------------------------
# The multi-generation layout never rewrites a row in place: writes
# carry their cycle's gen, retirements are (vec_id, dead-gen) rows in a
# side list. That makes every historical snapshot reconstructible from
# the ONE layout — the Delta/Iceberg "read AS OF version v" posture,
# which the reference can never offer (its per-cluster .bin files are
# overwritten monoliths, IVF.cpp:439-524). History lives until
# compaction folds it (compaction = VACUUM: it drops retired rows and
# empties the list, collapsing all generations into the latest).


def _live_index_rows_asof(spark: SparkSession, index_dir: str, asof_gen: int) -> DataFrame:
    """Rows visible AS OF generation ``asof_gen``: writes at
    ``gen <= asof_gen``, minus retirements by tombstones EMITTED by
    cycles ≤ asof_gen (cycle g stamps dead-gen g-1, so the emitted-by
    filter is ``t_gen <= asof_gen - 1``); within that window the
    standard monotone rule ``row.gen <= t_gen`` applies unchanged."""
    idx = spark.read.parquet(f"{index_dir}/embeddings_indexed").filter(
        F.col("gen") <= asof_gen
    )
    tombs = (
        spark.read.parquet(f"{index_dir}/tombstones")
        .filter(F.col("gen") <= asof_gen - 1)
        .select(F.col("vec_id").alias("t_vec_id"), F.col("gen").alias("t_gen"))
    )
    return idx.join(
        F.broadcast(tombs),
        (idx.vec_id == tombs.t_vec_id) & (idx.gen <= tombs.t_gen),
        "left_anti",
    )


def asof_topk(spark: SparkSession, idx_dir: str, k: int = 5) -> DataFrame:
    """Per-generation top-k over ONE multi-gen layout: ``(asof_gen,
    doc_id, score)``, one full-probe slice per version — the ONE serve
    loop both time-travel queries (batch layout and stream-folded
    layout) share, so the shared-oracle contract holds by construction
    rather than by keeping two copies in lockstep."""
    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )
    from gpu_accelerated_vector_indexing_spark.operators.knn import SCORE_SCALE

    q = F.lit(_cdc_query_vec(spark)).cast("array<double>")
    out: DataFrame | None = None
    for v in (0, 1, 2):
        topk = (
            _live_index_rows_asof(spark, idx_dir, v)
            .select(
                F.lit(v).alias("asof_gen"),
                F.col("vec_id").alias("doc_id"),
                F.round(
                    cosine_similarity(as_double_array("embedding"), q), SCORE_SCALE
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.desc("doc_id"))
            .limit(k)
        )
        out = topk if out is None else out.unionByName(topk)
    return out


def index_read_asof_gen(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k at EVERY generation, from the ONE twice-refreshed layout:
    ``(asof_gen, doc_id, score)`` — asof 0 must reproduce the base
    snapshot's ranking, asof 1 snapshot N+1's, asof 2 snapshot N+2's,
    all from the same files with no historical copy retained. The
    oracle brute-forces each snapshot's text independently, so a value
    match certifies the visibility rule (gen-windowed writes minus
    gen-windowed retirements) reconstructs all three corpus versions
    exactly. Full-probe reads keep each slice provably exact."""
    return asof_topk(spark, cdc_refreshed_index_gen2(spark, sf_dir), k)


# ---------------------------------------------------------------------------
# Embedder-version migration (r10 cont.): the full-corpus rewrite event
# ---------------------------------------------------------------------------
# Model upgrades are the ONE lifecycle event that can never be
# incremental: a new embedder changes EVERY vector, so the migration is
# a full re-embed into a PARALLEL layout (never in place — readers stay
# on v1 until v2 is complete), and both versions serve during the
# cutover window with their OWN query embedder. Mixing versions in one
# space is meaningless (the featurizer defines the geometry), which is
# why this is a layout swap, not a refresh cycle.

EMBEDDER_V2_SALT = "v2 "


# A READ-ONLY v1 base layout. build_base_snapshot_index is deliberately
# unmemoized because its other callers MUTATE their directory (refresh
# cycles, deletes); the migration's v1 side is the one read-only
# consumer, so it alone shares a memoized base instead of paying a
# redundant embed + KMeans per query family.
@session_state
def _readonly_base_index(spark: SparkSession, sf_dir: str) -> str:
    return build_base_snapshot_index(spark, sf_dir)


@session_state
def _v2_base_index(spark: SparkSession, sf_dir: str) -> str:
    return build_base_snapshot_index(spark, sf_dir, salt=EMBEDDER_V2_SALT)


def embedder_migration_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """``(v1_dir, v2_dir)`` — the same snapshot indexed under both
    embedder versions, each with its own KMeans over its own geometry.
    v1 is the shared read-only base (never mutated by the migration —
    that is the point: readers stay on it until v2 is complete). Each
    side is its own state, owning exactly the directory it built."""
    return _readonly_base_index(spark, sf_dir), _v2_base_index(spark, sf_dir)


@session_state
def _v2_query_vec(spark: SparkSession) -> list[float]:
    from gpu_accelerated_vector_indexing_spark.functions.embedder import embed_queries

    return [
        float(x)
        for x in embed_queries(spark, [CDC_QUERY_TEXT], salt=EMBEDDER_V2_SALT)
        .collect()[0]
        .qvec
    ]


def index_embedder_migration(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Serve BOTH versions during the cutover: ``(version, doc_id,
    score)``, top-k per version, each layout probed full with the
    matching query embedder. The oracle re-derives both embeddings from
    text (the featurizer CTE at salt "" and at the v2 salt), so a value
    match certifies the v2 rewrite re-embedded every document under the
    new model and v1 serving is untouched by the migration."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import layout_engine

    v1_dir, v2_dir = embedder_migration_dirs(spark, sf_dir)
    out: DataFrame | None = None
    for version, idx_dir, qvec in (
        ("v1", v1_dir, _cdc_query_vec(spark)),
        ("v2", v2_dir, _v2_query_vec(spark)),
    ):
        topk = (
            layout_engine(spark, idx_dir, CDC_K_CLUSTERS)
            .search(qvec, k=k)
            .select(
                F.lit(version).alias("version"),
                F.col("vec_id").alias("doc_id"),
                "score",
            )
        )
        out = topk if out is None else out.unionByName(topk)
    return out


@session_state
def quality_gated_refresh_index(spark: SparkSession, sf_dir: str) -> str:
    """Cycle-1 refresh with the CURATION GATE on the append path — the
    "don't index junk" rule every production pipeline runs between
    ingestion and the index: removed + changed docs still tombstone
    (junk must leave regardless), but added + changed docs re-enter
    only if their NEW text passes the Gopher quality filter
    (``curation.quality_flags``). A changed doc that fails the gate is
    thereby dropped from serving entirely — tombstoned, not
    re-appended."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import (
        corpus_snapshot_diff,
        quality_flags,
        snapshot_new_docs,
    )

    out = build_base_snapshot_index(spark, sf_dir)
    diff = corpus_snapshot_diff(spark, sf_dir)
    new_docs = snapshot_new_docs(load_table(spark, sf_dir, "documents"))
    tombs = diff.filter(F.col("status").isin("removed", "changed")).select(
        F.col("doc_id").alias("vec_id"), F.lit(0).cast("int").alias("gen")
    )
    tombs.coalesce(1).write.mode("append").parquet(f"{out}/tombstones")
    # restrict to the upsert batch BEFORE scoring quality: the gate
    # must be O(|delta|) by construction, not by hoping Catalyst
    # pushes the semi-join below the interpreted HOF projections
    upsert_docs = new_docs.join(
        diff.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    keep_ids = quality_flags(upsert_docs).filter(F.col("keep")).select("doc_id")
    upserts = upsert_docs.join(keep_ids, "doc_id", "left_semi")
    append_to_index(spark, out, _snapshot_emb(upserts, gen=1))
    return out


def index_refresh_gated(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Serve the quality-gated refresh — the oracle brute-forces the
    gated corpus (unchanged docs ∪ quality-passing upserts, all at
    their new text), so a value match certifies the gate admitted
    exactly the passing rows and dropped failing edits entirely."""
    return serve_refreshed_index(spark, quality_gated_refresh_index(spark, sf_dir), k)


@session_state
def rebalanced_refreshed_index(spark: SparkSession, sf_dir: str) -> str:
    """The two lifecycles COMPOSED: after two CDC refresh cycles the
    nearest-stored-centroid appends have skewed some clusters (appends
    go wherever the stale centroids say — exactly the drift
    ``rebalance_plan`` exists to heal), so the nightly maintenance
    window runs the split pass over the refreshed layout's LIVE rows
    and writes a fresh compact layout (tombstones folded, like
    compaction; hot clusters divided, like rebalance). Reads the
    memoized gen-2 layout read-only and owns its output directory."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import (
        _write_rebalanced_layout,
        split_hot_clusters,
    )

    live = _live_index_rows(spark, cdc_refreshed_index_gen2(spark, sf_dir))
    relabeled = split_hot_clusters(live.select("cluster", "vec_id", "embedding"))
    return _write_rebalanced_layout(spark, relabeled)


def index_refresh_rebalanced(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Serve after refresh → refresh → rebalance — must hit the gen-2
    oracle unchanged: maintenance (splitting + tombstone folding)
    moves no result value, while post-split probes scan smaller
    partitions."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import layout_engine

    eng = layout_engine(spark, rebalanced_refreshed_index(spark, sf_dir))
    return eng.search(_cdc_query_vec(spark), k=k).select(
        F.col("vec_id").alias("doc_id"), "score"
    )


def index_history_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-version accounting of the multi-generation layout — the
    observability row for time travel: for each version v,
    ``(gen, n_written, n_retired, n_live)`` where n_written = rows the
    cycle appended (v=0: the base build), n_retired = tombstone rows
    the cycle emitted (dead-gen v-1), n_live = rows visible AS OF v.
    All three columns are read from the PHYSICAL layout; the oracle
    re-derives every number from the snapshot definitions alone, so a
    value match certifies the layout's entire write/retire history."""
    idx_dir = cdc_refreshed_index_gen2(spark, sf_dir)
    writes = (
        spark.read.parquet(f"{idx_dir}/embeddings_indexed")
        .groupBy("gen")
        .agg(F.count("*").alias("n_written"))
    )
    retires = (
        spark.read.parquet(f"{idx_dir}/tombstones")
        .select((F.col("gen") + 1).cast("int").alias("gen"))
        .groupBy("gen")
        .agg(F.count("*").alias("n_retired"))
    )
    # the per-version spine is the as-of loop (it enumerates EVERY
    # version by construction), so a tombstone-only cycle — zero
    # appends, the delete-where shape — still gets its ledger row
    # (g, 0, n_retired, n_live) instead of silently vanishing from a
    # writes-driven rollup
    lives: DataFrame | None = None
    for v in (0, 1, 2):
        row = (
            _live_index_rows_asof(spark, idx_dir, v)
            .agg(F.count("*").alias("n_live"))
            .select(F.lit(v).cast("int").alias("gen"), "n_live")
        )
        lives = row if lives is None else lives.unionByName(row)
    return (
        lives.join(F.broadcast(writes), "gen", "left")
        .join(F.broadcast(retires), "gen", "left")
        .select(
            "gen",
            F.coalesce("n_written", F.lit(0)).cast("long").alias("n_written"),
            F.coalesce("n_retired", F.lit(0)).cast("long").alias("n_retired"),
            "n_live",
        )
    )


# ---------------------------------------------------------------------------
# Predicate-driven deletes (r10 cont.): DELETE FROM index WHERE <metadata>
# ---------------------------------------------------------------------------
# The OTHER way tombstones arise in production: not a snapshot diff but
# a retention/compliance predicate over the catalog — purge a source,
# drop a license class, GDPR-erase a user. The tombstone list is the
# predicate's doc_ids; nothing else changes: the same masked-read serve,
# the same compaction, the same O(|delta|) cost shape.

# the purged sources — a deterministic ~15% metadata slice present at
# every fixture SF (documents.source is uniform over src0..src19)
DELETE_WHERE_SOURCES = ("src3", "src7", "src11")


@session_state
def delete_where_index(spark: SparkSession, sf_dir: str) -> str:
    """Base-build on the old snapshot, then tombstone every indexed doc
    whose ``source`` is in :data:`DELETE_WHERE_SOURCES` — tombstones at
    dead-gen 0 (the rows being purged are base writes). The predicate
    is evaluated against the CATALOG (documents' metadata columns), not
    the index: the index stores only (vec_id, embedding, gen), so a
    metadata delete is a semi-join catalog→id-list, broadcast-sized."""
    from gpu_accelerated_vector_indexing_spark.operators.curation import snapshot_old_docs

    out = build_base_snapshot_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    victims = (
        docs.join(snapshot_old_docs(docs).select("doc_id"), "doc_id", "left_semi")
        .filter(F.col("source").isin(*DELETE_WHERE_SOURCES))
        .select(
            F.col("doc_id").alias("vec_id"), F.lit(0).cast("int").alias("gen")
        )
    )
    victims.coalesce(1).write.mode("append").parquet(f"{out}/tombstones")
    return out


def index_delete_where(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Serve after the predicate delete — full-probe top-k whose oracle
    brute-forces the old snapshot MINUS the purged sources: a value
    match certifies the catalog semi-join tombstoned exactly the
    predicate's rows and the masked read excludes them all."""
    return serve_refreshed_index(spark, delete_where_index(spark, sf_dir), k)
