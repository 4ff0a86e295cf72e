"""Training-pair mining + index drift monitoring over the embedding corpus.

Two operators a training-data pipeline runs on top of the vector store
(the reference's index, IVF.cpp:439-524, is exactly such a store — these
are the queries its downstream consumers ask):

- ``contrastive_triplets``: hard-negative mining for contrastive /
  metric-learning fine-tuning. For each anchor, the positive is its
  nearest SAME-label neighbor and the negatives are its ``n_neg``
  nearest DIFFERENT-label neighbors — "hard" because they score high
  despite being wrong (random negatives teach a retrieval model
  nothing at scale; hard negatives are the standard fix).
- ``embedding_drift``: per-cluster drift between two corpus snapshots —
  population churn + centroid displacement. The signal that tells an
  index operator the KMeans partitioning has gone stale and the index
  needs a rebuild (the maintenance twin of ``ivf_rebalance_plan``).

Scale shape: triplet mining is the multi-query KNN plan (tiny broadcast
anchor relation × corpus scan, per-anchor window top-k — one shuffle on
``query_id``); drift is two label-grouped centroid aggregates (the
``label_centroids`` shape: (labels × dims) partial-aggregate rows, no
vector shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    named_cosine,
)
from gpu_accelerated_vector_indexing_spark.operators.knn import query_vectors
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

ANCHOR_IDS = (0, 1, 2, 3, 4)  # ≙ the reference's 5 canned queries (test.py:13-23)
N_NEG = 3


def contrastive_triplets(
    spark: SparkSession,
    sf_dir: str,
    anchor_ids: tuple[int, ...] = ANCHOR_IDS,
    n_neg: int = N_NEG,
) -> DataFrame:
    """(anchor_id, role, rank, vec_id, score, label) — one 'pos' row
    (nearest same-label neighbor) and ``n_neg`` 'neg' rows (nearest
    different-label neighbors) per anchor, self excluded.

    Scores round to 6 d.p. BEFORE ranking (ties → vec_id DESC) so the
    oracle's window picks identical rows — the registry-wide
    determinism recipe (SURVEY.md §7.3).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = query_vectors(spark, sf_dir, list(anchor_ids)).withColumnRenamed(
        "query_id", "anchor_id"
    )
    anchor_labels = emb.select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    scored = (
        emb.join(F.broadcast(anchors.join(anchor_labels, "anchor_id")))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(
                named_cosine("embedding", "qvec", "qnorm"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("score"), F.desc("vec_id"))
    pos = (
        scored.filter(F.col("label") == F.col("anchor_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .withColumn("role", F.lit("pos"))
    )
    neg = (
        scored.filter(F.col("label") != F.col("anchor_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neg)
        .withColumn("role", F.lit("neg"))
    )
    return (
        pos.unionByName(neg)
        .select("anchor_id", "role", "rank", "vec_id", "score", "label")
        .orderBy("anchor_id", "role", "rank")
    )


def _snapshot_side(emb: DataFrame, parity: int, n_col: str, c_col: str) -> DataFrame:
    """One snapshot's ``(label, n, centroid)`` — delegates the centroid
    recipe (CENTROID_SCALE rounding, position-ordered collect) to
    ``ivf.label_centroids`` so the determinism contract lives in ONE
    place, exactly as the shared ``cent`` oracle CTEs assume."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import label_centroids

    snap = emb.filter((F.col("vec_id") % 2) == parity)
    counts = snap.groupBy("label").agg(F.count("*").alias(n_col))
    return counts.join(
        label_centroids(snap).withColumnRenamed("centroid", c_col), "label"
    )


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label drift between snapshot t0 (even vec_id) and t1 (odd
    vec_id): row counts, growth ratio, centroid cosine distance and L2
    displacement. A label present in only ONE snapshot — a cluster that
    emptied or newly appeared, the loudest drift signal — survives the
    FULL-outer join with zero counts and null displacement columns
    instead of silently vanishing.

    The deterministic parity split stands in for two time-ordered corpus
    snapshots (the fixtures carry no ingest timestamp); in production
    the two sides are two index builds' centroid tables — tiny relations
    — so the final join is labels-sized regardless of corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    t0 = _snapshot_side(emb, 0, "n_t0", "c0")
    t1 = _snapshot_side(emb, 1, "n_t1", "c1")
    dot = F.aggregate(
        F.zip_with("c0", "c1", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(  # noqa: E731 — tiny local expr twin
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("c0", "c1", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    both = F.col("c0").isNotNull() & F.col("c1").isNotNull()
    return (
        t0.join(t1, "label", "full")
        .select(
            "label",
            F.coalesce("n_t0", F.lit(0)).alias("n_t0"),
            F.coalesce("n_t1", F.lit(0)).alias("n_t1"),
            F.when(
                F.col("n_t0").isNotNull() & F.col("n_t1").isNotNull(),
                F.round(F.col("n_t1") / F.col("n_t0"), 6),
            ).alias("growth"),
            F.when(
                both, F.round(1.0 - dot / (nrm(F.col("c0")) * nrm(F.col("c1")) + 1e-8), 6)
            ).alias("cos_dist"),
            F.when(both, F.round(l2, 6)).alias("l2_shift"),
        )
        .orderBy("label")
    )
