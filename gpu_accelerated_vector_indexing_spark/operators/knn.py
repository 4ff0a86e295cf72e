"""Brute-force k-nearest-neighbor search (the reference's hot path).

Covers SURVEY.md §2 operators O7 (query load), O8 (cosine scoring),
O12/O13 (batched scan + bounded-heap top-k), O6/O19 (doc mapback +
truncation) — re-expressed as one declarative DataFrame chain:

    scan embeddings → score (codegen'd expression) → TakeOrderedAndProject

``orderBy(desc).limit(k)`` compiles to ``TakeOrderedAndProject`` — a
per-partition bounded heap merged on the driver, structurally identical
to the reference's min-heap top-k (IVF.cpp:185-191, 241-252), but
distributed. Tie-break is the canonical ``(score DESC, vec_id DESC)``
(reference IVF.cpp:247; SURVEY.md §7.3).

Every single-query search enters its plan the same way:
:func:`with_query` adds the query as one JVM-built array literal and
its norm as a scalar (both held by reference, so a query that differs
only in its vector reuses the compiled code), and :func:`cosine_topk`
scores and cuts through the one :func:`top_k`. The vector comes from
the per-session :func:`fixture_qvec` memo — no second scan of the
corpus for the query row, and an id that is not in the corpus raises
``KeyError`` before any job. At 100 TB the scan is partition-parallel
and the only data movement is each task's k-row heap to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    EPSILON,
    as_double_array,
    cosine_similarity_pandas,
    l2_norm,
    l2_normalize,
    lit_double_array,
    named_cosine,
    seq_l2_norm,
)
from gpu_accelerated_vector_indexing_spark.memo import session_state
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

SCORE_SCALE = 6  # score comparison precision (reference check_cos_sim.cpp:72: 1e-5)


def query_vectors(spark: SparkSession, sf_dir: str, query_ids: Sequence[int]) -> DataFrame:
    """Query vectors as a (tiny) relation — ≙ reference queries_data/*.bin
    (IVF.cpp:650-672), except identity travels as a column."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qvec"))
        # ‖q‖ computed ONCE here (tiny relation) and broadcast — the
        # per-row score then folds only the row vector (§4 P4 hoist)
        .withColumn("qnorm", l2_norm(F.col("qvec")))
    )


def cosine_score(use_pandas: bool = False) -> Column:
    """``round(cosine(embedding, qvec), SCORE_SCALE)`` over a relation
    carrying ``qvec``/``qnorm`` (:func:`with_query`, or a joined query
    relation). Scoring stays JVM-side unless ``use_pandas`` selects the
    NumPy kernel (≙ the reference's CPU/CUDA mode switch)."""
    if use_pandas:
        score = cosine_similarity_pandas(as_double_array("embedding"), F.col("qvec"))
    else:
        score = named_cosine("embedding", "qvec", "qnorm")
    return F.round(score, SCORE_SCALE)


def normed_score() -> Column:
    """:func:`cosine_score` over the normed corpus (:func:`normed_corpus`
    rows plus ``qvec``/``qnorm``): the stored ‖v‖ leaves one fold per
    scored row, with the same ops in the same order, so the same
    doubles."""
    return F.round(named_cosine("v", "qvec", "qnorm", "nrm"), SCORE_SCALE)


def scored_embeddings(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Cross-score every (embedding, query) pair of a query BATCH via a
    broadcast of the tiny query relation."""
    return emb.join(F.broadcast(queries)).withColumn("score", cosine_score())


def with_query(rows: DataFrame, qvec: Sequence[float]) -> DataFrame:
    """``rows`` plus one query: ``qvec`` as one JVM-built array literal
    and ``qnorm`` as its hoisted norm (``seq_l2_norm`` — bit-identical
    to the JVM fold). The ONE way a single query enters a plan: no
    query relation to scan or broadcast, and both constants are held by
    reference, so queries that differ only in their vector share one
    compiled plan. A NaN/Inf component raises ``ValueError`` before any
    job."""
    qvec = [float(x) for x in qvec]
    return rows.select(
        "*", lit_double_array(qvec).alias("qvec"), F.lit(seq_l2_norm(qvec)).alias("qnorm")
    )


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best rows of a ``(vec_id, score)`` relation — (score DESC,
    vec_id DESC), the reference's KNN tie-break (IVF.cpp:247).
    ``orderBy().limit()`` plans as TakeOrderedAndProject: a bounded heap
    per partition, merged once (the reference's sequential strategy,
    IVF.cpp:286-342)."""
    return scored.orderBy(F.desc("score"), F.desc("vec_id")).limit(k)


def cosine_topk(rows: DataFrame, qvec: Sequence[float], k: int) -> DataFrame:
    """Exact cosine top-k of ``rows`` (``vec_id``, ``embedding``) against
    one query — :func:`with_query` scored by :func:`cosine_score` and cut
    by :func:`top_k`: the shape of every single-query search."""
    return top_k(with_query(rows, qvec).select("vec_id", cosine_score().alias("score")), k)


@session_state
def fixture_ids(spark: SparkSession, sf_dir: str) -> frozenset[int]:
    """Memoized id set of the fixture corpus — index state like the
    centroid rows (one collect of the id column per session and corpus),
    so an unknown query id fails on the driver before any job."""
    emb = load_table(spark, sf_dir, "embeddings")
    return frozenset(int(r.vec_id) for r in emb.select("vec_id").collect())


@session_state
def fixture_qvec(spark: SparkSession, sf_dir: str, query_id: int) -> list[float]:
    """Memoized raw query vector (float32 storage widened to float64) —
    ≙ the reference reading queries_data/*.bin once (IVF.cpp:650-672).
    An id that is not in the corpus raises ``KeyError`` naming it."""
    if query_id not in fixture_ids(spark, sf_dir):
        raise KeyError(f"query id not in the corpus: {query_id}")
    return [float(x) for x in query_vectors(spark, sf_dir, (query_id,)).first().qvec]


def normed_corpus(emb: DataFrame, cell: str = "label") -> DataFrame:
    """``(vec_id, label, v ARRAY<DOUBLE>, nrm)`` with the L2 norm hoisted
    per vector; ``cell`` names the cell column kept in place of
    ``label`` (``cluster`` in the engine's partitioned layout).

    ≙ the reference computing ‖v‖ once per stored vector instead of per
    scored pair (IVF.cpp:130-136, the P4 hoisting pattern). Numerically
    EXACT vs inline cosine: ``sqrt(dot(v, v))`` is the same double
    wherever it is computed and the pair score multiplies the same two
    doubles, so the oracle's norm-CTE mirror is value-identical while
    the per-pair cost drops from three O(dim) folds to one. ``label``
    rides along, so the relation is also the graph index's persisted
    ``corpus_normed`` layout."""
    v = as_double_array("embedding")
    return emb.select("vec_id", cell, v.alias("v"), l2_norm(v).alias("nrm"))


# The normed corpus is INDEX STATE shared by the graph build, the graph
# walks and the IVF batch (``ivf.multi_query_knn_ivf``): decoded,
# widened and normed ONCE per (session, corpus) and pinned in memory,
# like the reference loading its index before any query (IVF.cpp:456-486).
# No query path pays the corpus-wide decode or norm fold again; a real
# deployment persists ‖v‖ alongside the vectors at ingest. The pin fills
# inside the first query that reads it: an eager count would cost that
# query one more job and one more generated aggregate.
@session_state
def fixture_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normed_corpus(load_table(spark, sf_dir, "embeddings")).cache()


def knn_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    use_pandas: bool = False,
) -> DataFrame:
    """Exact top-k by cosine similarity — full scan, no pruning.

    ≙ reference ``findSimilar`` over the whole corpus (IVF.cpp:168-264).
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    return top_k(with_query(emb, qvec).select("vec_id", cosine_score(use_pandas).alias("score")), k)


def prenorm_topk(rows: DataFrame, qvec: Sequence[float], k: int) -> DataFrame:
    """Top-k by the bare dot product of unit-normalized vectors. The
    query is normalized on the driver — ``x / (‖q‖ + 1e-8)`` per
    component, the same IEEE ops as :func:`l2_normalize` — and enters as
    one literal; each row normalizes inline."""
    n = seq_l2_norm(qvec) + EPSILON
    nq = lit_double_array([float(x) / n for x in qvec])
    nv = l2_normalize(as_double_array("embedding"))
    dot = F.aggregate(F.zip_with(nv, nq, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    return top_k(rows.select("vec_id", F.round(dot, SCORE_SCALE).alias("score")), k)


def knn_prenorm(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
) -> DataFrame:
    """Top-k over PRE-NORMALIZED vectors: cosine ≡ plain dot product.

    SURVEY.md §4 P4's 'strictly stronger hoisting': normalizing vectors
    once at index-build time removes BOTH norms from the per-row score —
    the hot loop is a bare fused dot product (the cheapest possible
    scan expression). Here normalization happens inline (the fixture
    table stores raw vectors); at build time it would be a stored
    column. Normalization divides by (‖v‖ + 1e-8) — the reference's
    denominator guard (IVF.cpp:150) applied once per vector instead of
    once per pair, replicated exactly in the oracle SQL.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    return prenorm_topk(load_table(spark, sf_dir, "embeddings"), qvec, k)


def knn_filtered(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    lang: str = "en",
) -> DataFrame:
    """Metadata-filtered KNN: top-k cosine restricted to documents
    matching a predicate (here ``lang``), the standard "filtered vector
    search" shape real ANN services expose.

    The reference has no metadata filter (its only predicate is probe
    membership, IVF.cpp:296-299) — this composes O8+O13 with a semi
    join against the predicate's id-set. Plan shape: the filter runs
    BEFORE scoring (never score-then-discard), so the expensive fold
    touches only qualifying rows; at 100 TB the documents side is a
    broadcast semi join when the predicate is selective, and the
    embeddings scan still prunes columns to (vec_id, embedding).
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(F.col("lang") == lang).select(F.col("doc_id").alias("vec_id"))
    return cosine_topk(emb.join(allowed, "vec_id", "left_semi"), qvec, k)


def similarity_range_search(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    threshold: float = 0.3,
) -> DataFrame:
    """Range (radius) search: EVERY vector with cosine ≥ threshold,
    not a fixed k — the dual of top-k that the reference's bounded heap
    cannot express (IVF.cpp:185-191 fixes k up front).

    Declaratively it is just a predicate on the score column, so
    Catalyst fuses scan+score+filter into one codegen stage with no
    shuffle and no heap at all; result size is data-dependent.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    scored = with_query(emb, qvec).select("vec_id", cosine_score().alias("score"))
    return scored.filter(F.col("score") >= threshold)


def map_to_docs(topk: DataFrame, docs: DataFrame) -> DataFrame:
    """The ONE doc-mapback recipe (≙ reference ``mapBack.get`` + print
    loop, IVF.cpp:688-710): a ``(vec_id, score)`` top-k joined back to
    article text truncated to 200 chars. The positional file lookup
    becomes an equi-join on ``doc_id``; the k-row side is broadcast so
    ``documents`` never shuffles. Index-agnostic — shared by the
    brute-force, IVF-engine, and graph-index result sinks."""
    return docs.join(F.broadcast(topk), docs.doc_id == topk.vec_id).select(
        "vec_id", "score", F.substring("text", 1, 200).alias("snippet")
    )


def knn_with_docs(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 5
) -> DataFrame:
    """Top-k joined back to article text — ``map_to_docs`` over the
    brute-force search."""
    topk = knn_bruteforce(spark, sf_dir, query_id=query_id, k=k)
    return map_to_docs(topk, load_table(spark, sf_dir, "documents"))


def multi_query_knn(
    spark: SparkSession,
    sf_dir: str,
    query_ids: Sequence[int] = (0, 1, 2, 3, 4),
    k: int = 5,
) -> DataFrame:
    """Batched KNN for many queries in ONE job.

    The reference runs its 5 canned queries one process at a time
    (README.md:33-39); here the query set is a broadcast relation and
    per-query top-k is a window — one scan of the corpus total.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qs = query_vectors(spark, sf_dir, query_ids)
    scored = scored_embeddings(emb, qs)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.desc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "score", "rn")
    )


def multi_query_knn_prenorm(
    spark: SparkSession,
    sf_dir: str,
    query_ids: Sequence[int] = (0, 1, 2, 3, 4),
    k: int = 5,
) -> DataFrame:
    """Batched prenormalized search: every query's top-k from ONE corpus
    scan of bare dot products — the cheapest possible multi-query plan
    (P4 hoisting × multi-query amortization composed).

    The normalized query relation broadcasts; the per-query top-k is a
    window over scored rows. At 100 TB the scan cost is paid once for
    the whole query batch instead of once per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(
            F.col("vec_id").alias("query_id"),
            l2_normalize(as_double_array("embedding")).alias("nq"),
        )
    )
    nv = l2_normalize(as_double_array("embedding"))
    dot = F.aggregate(
        F.zip_with(nv, F.col("nq"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = emb.join(F.broadcast(qs)).select(
        "query_id", "vec_id", F.round(dot, SCORE_SCALE).alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.desc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )


def knn_per_cluster_topk(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 3
) -> DataFrame:
    """Per-cluster top-k for one query: the sequential fine search's
    building block (SURVEY §2 O16) exposed as a user query — 'the k
    nearest in EVERY cluster', the diagnostic view that shows which
    clusters would have answered if probed.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    scored = with_query(emb, qvec).select("label", "vec_id", cosine_score().alias("score"))
    w = W.partitionBy("label").orderBy(F.desc("score"), F.desc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )


def corpus_validation(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """The ingestion data-quality gate (SURVEY §1.3: the reference's
    implicit schema becomes explicit checks — its only validation is a
    file-size divisibility assert, IVF.cpp:473-476).

    One aggregation pass over the corpus: row count, id uniqueness,
    dimension uniformity against the declared ``dim``, null/empty
    vectors, and non-finite components. All-zero violation counts are
    the contract a 100 TB ingest must assert before an index build —
    catching a ragged vector at build time, not as a wrong search
    result.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    has_nonfinite = F.exists(
        "embedding", lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    return emb.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("vec_id").alias("n_distinct_ids"),
        F.sum((F.size("embedding") != dim).cast("long")).alias("n_bad_dim"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null_vec"),
        F.sum(has_nonfinite.cast("long")).alias("n_nonfinite"),
    )


def chunk_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, chunk_idx, emb ARRAY<DOUBLE>)`` — every document's
    overlap-window chunks, each hash-embedded (the O20 featurizer,
    embedding.py:16,32). Shared by the mean-pool (``knn_chunk_pooled``)
    and late-interaction (``knn_maxsim``) retrieval paths; chunk
    fan-out is len/stride rows per doc — a narrow map, no shuffle."""
    from gpu_accelerated_vector_indexing_spark.functions.embedder import (
        DEFAULT_DIM,
        hash_embedder,
    )
    from gpu_accelerated_vector_indexing_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_WIDTH,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE))
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        ((F.col("pos") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.expr(f"substring(text, pos, {CHUNK_WIDTH})").alias("chunk_text"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        hash_embedder(DEFAULT_DIM)(F.col("chunk_text")).cast("array<double>").alias("emb"),
    )


def knn_chunk_pooled(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = "hash table merge join",
    k: int = 5,
) -> DataFrame:
    """Chunked-document retrieval with mean-pooled document embeddings —
    the RAG/training-pipeline composition of three existing stages:
    chunk (text_analysis CHUNK_WIDTH/STRIDE windows) → hash-embed each
    chunk (the O20 featurizer, embedding.py:16,32) → mean-pool per doc →
    cosine top-k (O8/O13 semantics).

    Determinism contract: the pool sums float32 chunk components in
    ascending ``chunk_idx`` order via a left fold over the sorted
    collected array, so the DuckDB oracle (``list_reduce`` over
    ``list(... ORDER BY chunk_idx)``) adds the same doubles in the same
    order — bit-identical pooled vectors, score rounded to 6 d.p. like
    every score.

    Scale: chunk fan-out is len/stride rows per doc (narrow map, no
    shuffle); the ONE shuffle is the per-doc pool (state = dim doubles
    per doc); query side broadcasts. At 100 TB this is the canonical
    map → combine-by-key shape.
    """
    from gpu_accelerated_vector_indexing_spark.functions.embedder import (
        DEFAULT_DIM,
        embed_queries,
    )
    from gpu_accelerated_vector_indexing_spark.functions.vector import cosine_similarity

    chunk_vecs = chunk_vectors(spark, sf_dir)
    pooled = (
        chunk_vecs.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("chunk_idx", "emb"))).alias("cs"))
        .select(
            "doc_id",
            F.transform(
                F.aggregate(
                    F.col("cs"),
                    F.array_repeat(F.lit(0.0), DEFAULT_DIM),
                    lambda acc, c: F.zip_with(acc, c["emb"], lambda a, b: a + b),
                ),
                lambda x: x / F.size(F.col("cs")),
            ).alias("doc_vec"),
        )
    )
    q = embed_queries(spark, [query_text])
    return (
        pooled.join(F.broadcast(q))
        .select(
            "doc_id",
            F.round(cosine_similarity(F.col("doc_vec"), F.col("qvec")), SCORE_SCALE).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(k)
    )


def knn_maxsim(
    spark: SparkSession,
    sf_dir: str,
    query_doc_id: int = 0,
    k: int = 5,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) document retrieval: the
    query is a MULTI-VECTOR bag (the query document's chunk embeddings)
    and ``score(doc) = (1/m) Σᵢ maxⱼ cos(qᵢ, dⱼ)`` — each query chunk
    independently finds its best-matching candidate chunk, so a long
    document matching on two different topics outranks one matching a
    single pooled average (the failure mode of ``knn_chunk_pooled``'s
    mean-pool this exists to fix).

    Determinism: per-pair cosines round to 6 d.p. BEFORE the max (max
    of identical rounded doubles is engine-independent); the Σ over
    query chunks converts each max to an exact integer (×10⁶, rounded)
    and sums LONGs — float-order-free, like the moment sums — then one
    final double division.

    Scale: the query bag (m chunk vectors) broadcasts; candidate chunks
    stream through one codegen'd score + two map-side-combined
    aggregates keyed on doc_id (max per (doc, qᵢ), then the exact sum).
    Chunk fan-out is len/stride per doc; nothing materializes the
    |query chunks| × |corpus chunks| relation past the scan.
    """
    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        EPSILON,
        dot_product,
        l2_norm,
    )

    cv = chunk_vectors(spark, sf_dir)
    q_chunks = cv.filter(F.col("doc_id") == query_doc_id).select(
        F.col("chunk_idx").alias("q_idx"),
        F.col("emb").alias("qemb"),
        l2_norm(F.col("emb")).alias("qn"),
    )
    # norms HOISTED out of the pair loop (SURVEY §4 P4, the
    # cosine_similarity_hoisted move applied to BOTH sides): the inline
    # cosine paid THREE interpreted folds per (candidate chunk × query
    # chunk) pair; with per-vector norms precomputed the pair work is
    # ONE dot fold + a multiply — bit-identical doubles (same ops, same
    # order; sqrt and * round once each in both forms)
    cand = cv.filter(F.col("doc_id") != query_doc_id).select(
        "doc_id", "emb", l2_norm(F.col("emb")).alias("cn")
    )
    scored = cand.join(F.broadcast(q_chunks)).select(
        "doc_id",
        "q_idx",
        F.round(
            dot_product(F.col("emb"), F.col("qemb"))
            / (F.col("cn") * F.col("qn") + F.lit(EPSILON)),
            SCORE_SCALE,
        ).alias("c"),
    )
    per_q = scored.groupBy("doc_id", "q_idx").agg(F.max("c").alias("mx"))
    # m (the query's chunk count) is derivable IN-PLAN: the cross join
    # gives every candidate doc exactly one per_q row per query chunk,
    # so count(*) per doc == m — no eager driver-side count job
    return (
        per_q.groupBy("doc_id")
        .agg(
            F.sum(F.round(F.col("mx") * 1e6).cast("long")).alias("s"),
            F.count("*").alias("m"),
        )
        .select(
            "doc_id",
            F.round(F.col("s") / (F.col("m") * F.lit(1e6)), SCORE_SCALE).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(k)
    )


# --- matryoshka (prefix-dimension) two-stage search ---------------------------

MRL_PREFIX_DIM = 16
MRL_CANDIDATES = 50


def knn_matryoshka(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    prefix_dim: int = MRL_PREFIX_DIM,
    n_candidates: int = MRL_CANDIDATES,
) -> DataFrame:
    """Two-stage search over dimension PREFIXES (matryoshka-style): rank
    candidates by cosine over the first ``prefix_dim`` dims (¼ of the
    per-row fold work), then rescore the top ``n_candidates`` exactly on
    the full vector.

    The dimension-truncation rung of the compression ladder (next to
    SQ8/PQ/BQ in ``quantize.py``): with matryoshka-trained embeddings
    the prefix IS a valid low-rank embedding; with generic embeddings
    (this fixture) it is simply a cheap correlated screen — the
    candidate stage reads and folds 16 of 64 floats per row. At 100 TB
    the prefix would live as its own narrow column (or a separate
    parquet file), so the candidate scan's I/O shrinks 4× too, and the
    exact rescore touches only ``n_candidates`` rows — the same
    scan-narrow-then-rescore-exact shape as SQ8 (quantize.py).

    Both stages round scores to 6 d.p. and tie-break ``vec_id DESC``
    (reference IVF.cpp:247 policy), so candidate sets — not just final
    ranks — are deterministic and oracle-replayable.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _prefix_candidates(emb, qvec, prefix_dim, n_candidates)
    return cosine_topk(emb.join(cand, "vec_id"), qvec, k)


def _prefix_candidates(
    emb: DataFrame, qvec: list[float], prefix_dim: int, n_candidates: int
) -> DataFrame:
    """The matryoshka candidate stage: the ``n_candidates`` best ids by
    cosine over the first ``prefix_dim`` dims, cut like every top-k."""
    prefix = emb.select(
        "vec_id", F.slice(as_double_array("embedding"), 1, prefix_dim).alias("embedding")
    )
    return cosine_topk(prefix, qvec[:prefix_dim], n_candidates).select("vec_id")


def knn_ivf_matryoshka(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    prefix_dim: int = MRL_PREFIX_DIM,
    n_candidates: int = MRL_CANDIDATES,
) -> DataFrame:
    """IVF × matryoshka — the composition of the engine's two
    independent cheap levers: partition pruning cuts the fraction of
    the index READ to ``n_probe/n_clusters`` (SURVEY.md §4 P1), the
    candidate stage folds only the first ``prefix_dim`` dims of the
    probed rows (¼ of the per-row work; a production matryoshka store
    co-locates the prefix as its own narrow column inside the pruned
    partitions, so I/O shrinks by the same factor), and the exact
    rescore touches ≤ ``n_candidates`` rows. Completes the IVF
    composition matrix alongside knn_ivf_{sq8,pq,bq,prenorm}.

    Same determinism contract as :func:`knn_matryoshka`: both stages
    round to 6 d.p. and tie-break ``vec_id DESC``, so the candidate
    set — not just the final top-k — replays exactly in the oracle.
    """
    from gpu_accelerated_vector_indexing_spark.operators.ivf import coarse_probes, probed_corpus

    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = probed_corpus(spark, sf_dir, coarse_probes(spark, sf_dir, query_id, n_probe))
    cand = _prefix_candidates(emb, qvec, prefix_dim, n_candidates)
    return cosine_topk(emb.join(F.broadcast(cand), "vec_id"), qvec, k)
