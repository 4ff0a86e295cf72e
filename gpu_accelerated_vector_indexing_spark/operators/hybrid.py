"""Hybrid lexical + vector retrieval (EXT, SURVEY.md §2.3).

The reference retrieves by cosine similarity alone (IVF.cpp:267-436).
Production retrieval over a document corpus is almost always HYBRID:
a lexical ranker (BM25) catches exact-term matches that embeddings
blur, the vector ranker catches paraphrases the lexical side misses,
and the two rankings are fused. This module implements that
Spark-first over the ``documents`` + ``embeddings`` fixtures
(doc_id ≙ vec_id):

* **BM25** (k1 = 1.2, b = 0.75) from corpus statistics computed
  in-plan: tf per (doc, term) and df per term from one tokenized
  explode, doc length and corpus-average length from a narrow scan.
  The query's term set and the df table are vocabulary-bounded and
  broadcast — the corpus is never shuffled.
* **Fusion by reciprocal-rank fusion** (RRF, Cormack et al., SIGIR'09):
  ``Σ 1/(60 + rank)`` over both rankings. Rank-based fusion avoids the
  score-normalization trap (cosine ∈ [-1,1] vs unbounded BM25) and is
  exactly reproducible cross-engine — ranks are integers, the
  reciprocals are IEEE-exact, and ties break on the canonical
  (score DESC, doc_id DESC) everywhere.

Determinism policy: idf and each per-term BM25 contribution are rounded
to 6 d.p. (ln is transcendental); per-document sums go through
DECIMAL(18,6); avgdl is an exact int-sum / count double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    as_double_array,
    cosine_similarity_hoisted,
)
from gpu_accelerated_vector_indexing_spark.memo import session_state
from gpu_accelerated_vector_indexing_spark.operators.knn import query_vectors
from gpu_accelerated_vector_indexing_spark.operators.text_analysis import tokens
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


# The inverted-index statistics (tf, df, dl, corpus aggregates) are
# INDEX STATE: a lexical engine builds them once at ingest, not per
# query. Memoized per (session, corpus dir) and cache()d — at 100 TB
# these are materialized tables written beside the corpus by one
# tokenize pass, and the per-query work is only the broadcast term-set
# join + per-doc sum below.
@session_state
def bm25_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, int, float]:
    """``(tf, df, dl, n_docs, avgdl)`` — tokenize-once corpus state."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).cache()
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df")).cache()
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl")).cache()
    row = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ).first()
    tf.count()
    df.count()
    return (tf, df, dl, int(row.n_docs), float(row.avgdl))


def bm25_scores(spark: SparkSession, sf_dir: str, query_id: int = 0) -> DataFrame:
    """BM25 score of every document containing ≥1 term of the query
    document's text — ``(doc_id, bm25)``.

    idf uses the standard Robertson/Sparck-Jones smoothed form
    ln(1 + (N - df + 0.5)/(df + 0.5)). Each per-term contribution is
    rounded before the decimal sum so both engines fold identical
    values.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf, df, dl, n_docs, avgdl = bm25_state(spark, sf_dir)
    corpus = spark.range(1).select(
        F.lit(n_docs).alias("n_docs"), F.lit(avgdl).alias("avgdl")
    )
    q_terms = (
        docs.filter(F.col("doc_id") == query_id)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    idf = F.round(
        F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    term_score = F.round(idf * tf_part, 6)
    return (
        tf.join(F.broadcast(q_terms), "token")
        .join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .select("doc_id", term_score.alias("ts"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("ts").cast("decimal(18,6)")).cast("double").alias("bm25"))
    )


def hybrid_search_rrf(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10
) -> DataFrame:
    """Top-k documents by reciprocal-rank fusion of the exact cosine
    ranking and the BM25 ranking for one query document.

    Both rankings are full (cosine over every vector; BM25 over every
    term-matching doc); a document missing from the BM25 ranking simply
    contributes no lexical reciprocal. The two rank windows are global
    single-partition windows over ALREADY-AGGREGATED per-doc scores —
    at 100 TB both inputs are corpus-sized, so the scale path replaces
    the global window with rank-by-top-N truncation (take top-N of each
    ranking via TakeOrdered — RRF only ever needs the heads); the
    fixture form keeps the full window for oracle exactness.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    cos = emb.join(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            cosine_similarity_hoisted(as_double_array("embedding"), F.col("qvec"), F.col("qnorm")),
            6,
        ).alias("cos"),
    )
    cos_ranked = cos.withColumn(
        "cos_rank", F.row_number().over(W.orderBy(F.desc("cos"), F.desc("doc_id")))
    )
    bm25_ranked = bm25_scores(spark, sf_dir, query_id).withColumn(
        "bm25_rank", F.row_number().over(W.orderBy(F.desc("bm25"), F.desc("doc_id")))
    )
    fused = (
        cos_ranked.join(bm25_ranked, "doc_id", "left")
        .select(
            "doc_id",
            "cos",
            F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
            (
                1.0 / (F.lit(RRF_K) + F.col("cos_rank"))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.desc("doc_id")).limit(k)


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_candidates: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick k results trading relevance against
    redundancy — argmax λ·cos(q,d) − (1−λ)·max cos(d, selected).

    The greedy loop is inherently sequential in k, so it runs on the
    driver over the top-``n_candidates`` candidate set — a BOUNDED
    collect (n_candidates × dim floats), the same materialize-then-
    refine posture as the coarse search (IVF.cpp:282). The corpus-wide
    work (scoring + candidate top-N) stays distributed; only the ≤50-row
    head crosses to the driver. Greedy set-dependence has no SQL twin →
    rows-only; invariants pinned in tests.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    cand = (
        emb.join(F.broadcast(q))
        .select(
            "vec_id",
            as_double_array("embedding").alias("v"),
            F.round(
                cosine_similarity_hoisted(as_double_array("embedding"), F.col("qvec"), F.col("qnorm")),
                6,
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.desc("vec_id"))
        .limit(n_candidates)
        .collect()
    )
    ids = np.array([r.vec_id for r in cand])
    rel = np.array([r.rel for r in cand])
    V = np.array([r.v for r in cand])
    V = V / (np.linalg.norm(V, axis=1, keepdims=True) + 1e-12)
    sims = V @ V.T
    selected: list[int] = []
    picks = []
    for _ in range(min(k, len(cand))):
        if selected:
            redundancy = sims[:, selected].max(axis=1)
        else:
            redundancy = np.zeros(len(cand))
        mmr = lam * rel - (1.0 - lam) * redundancy
        mmr[selected] = -np.inf
        # deterministic tie-break: larger vec_id wins (engine canon)
        best = max(range(len(cand)), key=lambda i: (mmr[i], ids[i]))
        picks.append((int(ids[best]), float(rel[best]), round(float(mmr[best]), 6)))
        selected.append(best)
    structs = [
        F.struct(
            F.lit(r + 1).alias("rank"),
            F.lit(doc).alias("doc_id"),
            F.lit(relv).alias("relevance"),
            F.lit(score).alias("mmr_score"),
        )
        for r, (doc, relv, score) in enumerate(picks)
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("s"))
        .select(
            F.col("s.rank").cast("int").alias("rank"),
            F.col("s.doc_id").cast("bigint").alias("doc_id"),
            F.col("s.relevance").cast("double").alias("relevance"),
            F.col("s.mmr_score").cast("double").alias("mmr_score"),
        )
    )


def hybrid_search_rrf_topn(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10, head_n: int = 100
) -> DataFrame:
    """The SCALE form of ``hybrid_search_rrf``: rank only the top
    ``head_n`` of each ranking (TakeOrderedAndProject heads — k·tasks
    rows to the driver each, no global window over the corpus), then
    fuse.

    This is deliberately APPROXIMATE — the standard production
    trade-off: a document outside a head loses that ranking's
    reciprocal (≤ 1/(61+head_n) per missing head), so fused scores for
    docs straddling a head boundary can drop below full-window RRF.
    The head-of-both-rankings results are identical; tests pin top-1
    equality and a top-k overlap floor vs the full form (the honest
    recall-style contract, like PQ).

    Plan shape: each head is a ``TakeOrderedAndProject`` (k·tasks rows
    to one partition, never a corpus-wide window); rank numbering is a
    window over the ≤head_n-row head (trivially small); fusion is a
    full-outer join of two tiny relations. Nothing is collected —
    the whole query stays one lazy plan, so it composes (and is
    DuckDB-oracle-checkable, unlike the former driver-side fusion).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    cos_head = (
        emb.join(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity_hoisted(as_double_array("embedding"), F.col("qvec"), F.col("qnorm")),
                6,
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.desc("doc_id"))
        .limit(head_n)
    )
    cos_ranked = cos_head.withColumn(
        "cos_rank", F.row_number().over(W.orderBy(F.desc("cos"), F.desc("doc_id")))
    )
    bm_ranked = (
        bm25_scores(spark, sf_dir, query_id)
        .orderBy(F.desc("bm25"), F.desc("doc_id"))
        .limit(head_n)
        .withColumn(
            "bm25_rank", F.row_number().over(W.orderBy(F.desc("bm25"), F.desc("doc_id")))
        )
    )
    fused = cos_ranked.join(bm_ranked, "doc_id", "outer").select(
        "doc_id",
        F.coalesce("cos", F.lit(0.0)).alias("cos"),
        F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("cos_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.desc("doc_id")).limit(k)
