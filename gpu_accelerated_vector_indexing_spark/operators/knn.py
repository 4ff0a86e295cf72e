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

Scale notes: the query vector rides along as a broadcast single-row
relation (never a driver-side loop); at 100 TB the scan is partition-
parallel and the only data movement is each task's k-row heap to the
driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    as_double_array,
    cosine_similarity_pandas,
    l2_norm,
    named_cosine,
)
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


def scored_embeddings(
    emb: DataFrame, queries: DataFrame, use_pandas: bool = False
) -> DataFrame:
    """Cross-score every (embedding, query) pair via a broadcast of the
    tiny query relation; scoring stays JVM-side unless ``use_pandas``
    selects the NumPy kernel (≙ reference's CPU/CUDA mode switch)."""
    if use_pandas:
        score = cosine_similarity_pandas(as_double_array("embedding"), F.col("qvec"))
    else:
        score = named_cosine("embedding", "qvec", "qnorm")
    return emb.join(F.broadcast(queries)).withColumn("score", F.round(score, SCORE_SCALE))


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
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    scored = scored_embeddings(emb, q, use_pandas=use_pandas)
    return (
        scored.select("vec_id", "score")
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


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
    from gpu_accelerated_vector_indexing_spark.functions.vector import l2_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == query_id)
        .select(l2_normalize(as_double_array("embedding")).alias("nq"))
    )
    nv = l2_normalize(as_double_array("embedding"))
    dot = F.aggregate(
        F.zip_with(nv, F.col("nq"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        emb.join(F.broadcast(q))
        .select("vec_id", F.round(dot, SCORE_SCALE).alias("score"))
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


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
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(F.col("lang") == lang).select(F.col("doc_id").alias("vec_id"))
    q = query_vectors(spark, sf_dir, [query_id])
    scored = scored_embeddings(emb.join(allowed, "vec_id", "left_semi"), q)
    return (
        scored.select("vec_id", "score")
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


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
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    scored = scored_embeddings(emb, q)
    return scored.select("vec_id", "score").filter(F.col("score") >= threshold)


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
    from gpu_accelerated_vector_indexing_spark.functions.vector import l2_normalize

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
    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    scored = emb.join(F.broadcast(q)).select(
        "label",
        "vec_id",
        F.round(
            named_cosine("embedding", "qvec", "qnorm"),
            SCORE_SCALE,
        ).alias("score"),
    )
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
    from gpu_accelerated_vector_indexing_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = query_vectors(spark, sf_dir, [query_id])
    q16 = q.select(F.slice("qvec", 1, prefix_dim).alias("q16"))
    s16 = cosine_similarity(
        F.slice(as_double_array("embedding"), 1, prefix_dim), F.col("q16")
    )
    cand = (
        emb.join(F.broadcast(q16))
        .select("vec_id", F.round(s16, SCORE_SCALE).alias("s16"))
        .orderBy(F.desc("s16"), F.desc("vec_id"))
        .limit(n_candidates)
    )
    full = named_cosine("embedding", "qvec", "qnorm")
    return (
        emb.join(cand.select("vec_id"), "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", F.round(full, SCORE_SCALE).alias("score"))
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


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
    from gpu_accelerated_vector_indexing_spark.functions.vector import cosine_similarity
    from gpu_accelerated_vector_indexing_spark.operators.ivf import coarse_probes

    probes = coarse_probes(spark, sf_dir, query_id, n_probe)  # memoized index state
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isin(probes))
    q = query_vectors(spark, sf_dir, [query_id])
    q16 = q.select(F.slice("qvec", 1, prefix_dim).alias("q16"))
    s16 = cosine_similarity(
        F.slice(as_double_array("embedding"), 1, prefix_dim), F.col("q16")
    )
    cand = (
        emb.join(F.broadcast(q16))
        .select("vec_id", F.round(s16, SCORE_SCALE).alias("s16"))
        .orderBy(F.desc("s16"), F.desc("vec_id"))
        .limit(n_candidates)
    )
    full = named_cosine("embedding", "qvec", "qnorm")
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", F.round(full, SCORE_SCALE).alias("score"))
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )
