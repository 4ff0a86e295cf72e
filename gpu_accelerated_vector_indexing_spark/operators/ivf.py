"""IVF (inverted-file) approximate nearest-neighbor search.

The reference's core design (SURVEY.md §2 O14-O17, §4 P1): a coarse
search picks the top-``n_probe`` of 128 centroids by cosine similarity
(IVF.cpp:271-282), then the fine search scans ONLY the probed clusters
(IVF.cpp:296-299, 353-357) — an
n_probe/128 fraction of the corpus.

Spark-first re-expression:

- The cluster column travels WITH the data (no positional
  ``cluster_mappings`` indirection — reference IVF.cpp:441-449 exists
  only because raw .bin files lose row identity).
- Coarse search runs on the driver (:func:`probe_labels`) over the
  tiny centroid table (≤ a few hundred rows), collected once and held
  as index state — by the fixture memos here and by ``IVFEngine`` per
  instance — and its probe list parameterizes the fine scan: the
  reference's materialize-then-prune control flow (IVF.cpp:271-282).
- Probe pruning is a ``cluster IN (...)`` predicate. Against the
  partitioned index layout (``write.partitionBy("cluster")``) this is
  Parquet **partition pruning**: a 1000-executor job never opens the
  other clusters' files. ``IVFEngine`` instead pins the layout's live
  rows once and filters the pin per query (engine.py says why).
- The fine search is ``knn.cosine_topk`` over the pruned scan: the
  query enters as one literal, and ``orderBy().limit()`` plans as
  TakeOrderedAndProject — a bounded top-k per partition, then one
  merge. That is the reference's "sequential" strategy (IVF.cpp:
  286-342: per-cluster top-k, then a global top-k) and yields the
  "combined" one's rows (IVF.cpp:344-434: one top-k over the pruned
  union), so both registered strategies run this one plan (§5.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    as_double_array,
    cosine_similarity_hoisted,
    lit_double_array,
    lit_double_array2,
    lit_int_array2,
    lit_long_array,
    np_dot_seq,
    seq_l2_norm,
)
from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.operators.knn import (
    SCORE_SCALE,
    cosine_topk,
    fixture_normed,
    fixture_qvec,
    normed_score,
    prenorm_topk,
    query_vectors,
)
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

CENTROID_SCALE = 8  # centroid components rounded for cross-engine determinism


def label_centroids(emb: DataFrame, cluster_col: str = "label") -> DataFrame:
    """Per-cluster mean embedding → ``(label, centroid ARRAY<DOUBLE>)``.

    ≙ the reference's KMeans ``cluster_centers_`` (clusters.py:22-24)
    for the fixture's precomputed ``label`` partitioning. posexplode +
    partial-aggregated avg keeps the shuffle to (n_clusters × dim) rows.
    """
    exploded = emb.select(
        F.col(cluster_col).alias("label"),
        F.posexplode(as_double_array("embedding")).alias("pos", "x"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.round(F.avg("x"), CENTROID_SCALE).alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("centroid")
        )
    )


# Centroids are INDEX STATE: the reference loads them from the prebuilt
# index (cluster_centroids.bin, IVF.cpp:489-510) and never recomputes
# them at query time. The fixture path mirrors that — the first call per
# (session, corpus dir) aggregates per-label means once and collects the
# tiny result (n_clusters × dim doubles, the same bounded-collect posture
# as the coarse materialization, IVF.cpp:282). Every subsequent query's
# coarse stage then ranks ≤ a few hundred local rows: no registered IVF
# query pays a corpus-wide exchange before its pruned fine scan.
@session_state
def fixture_centroid_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """Memoized collected ``(label, centroid)`` rows — the in-memory
    form the reference holds after loading cluster_centroids.bin."""
    cents = label_centroids(load_table(spark, sf_dir, "embeddings"))
    return [
        (int(r.label), [float(x) for x in r.centroid]) for r in cents.collect()
    ]


@session_state
def fixture_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized ``(label, centroid)`` relation for the fixture corpus,
    derived from :func:`fixture_centroid_rows`.

    ≙ reading the prebuilt centroid table (IVF.cpp:489-510) instead of
    re-deriving it — the exact analog of ``quantize.pq_codebooks``
    memoizing PQ codebooks as build-time index state. ``cache()``d so
    repeat scans stay JVM-side instead of re-serializing the local rows
    per query.
    """
    rows = fixture_centroid_rows(spark, sf_dir)
    df = spark.createDataFrame(
        rows, schema="label int, centroid array<double>"
    ).cache()
    df.count()
    return df


def fixture_qvecs(
    spark: SparkSession, sf_dir: str, query_ids: tuple[int, ...]
) -> list[tuple[int, list[float]]]:
    """Batched ``fixture_qvec``: fetch every COLD id in ONE job (a
    batched endpoint must not pay one driver round-trip per query id)
    and fill the memo; warm ids are free. Ids that are not in the
    corpus raise one ``KeyError`` naming them all."""
    cold = [q for q in query_ids if fixture_qvec.lookup(spark, sf_dir, q) is None]
    if cold:
        for row in query_vectors(spark, sf_dir, cold).collect():
            fixture_qvec.prime([float(x) for x in row.qvec], spark, sf_dir, row.query_id)
        missing = sorted({q for q in cold if fixture_qvec.lookup(spark, sf_dir, q) is None})
        if missing:
            raise KeyError(f"query ids not in the corpus: {missing}")
    return [(q, fixture_qvec(spark, sf_dir, q)) for q in query_ids]


def _round_half_up6(v: float) -> float:
    """Python twin of ``F.round(col, 6)`` on DOUBLE (HALF_UP over the
    shortest decimal repr — Spark routes doubles through
    ``BigDecimal.valueOf``, which uses ``Double.toString``)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(v)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


# queries scored per NumPy pass: bounds the (queries × centroids × dim)
# product array at ~25 MB for 128 × 384 centroids
_COARSE_CHUNK = 64


def coarse_scores(
    rows: list[tuple[int, list[float]]], qvecs: Sequence[Sequence[float]]
) -> list[list[tuple[float, int]]]:
    """``(score, label)`` of every centroid for each query — the
    driver-side coarse stage over collected centroid state.

    ≙ IVF.cpp:271-282: the coarse stage is an in-memory op over the
    tiny (≤128 × dim) centroid matrix. Launching a distributed job to
    rank ≤128 local rows costs ~0.5 s of fixed scheduling overhead per
    query (measured at sf0.1) — pure waste at any scale, since the
    centroid relation is index state that fits in L2. All centroids and
    all queries are scored in one NumPy pass (``np_dot_seq``), with the
    SAME arithmetic the oracle replays: sequential float64 folds,
    ``+1e-8`` guard, HALF_UP round to 6 d.p.
    """
    import numpy as np

    if not rows:
        return [[] for _ in qvecs]
    labels = [lab for lab, _ in rows]
    cents = np.asarray([c for _, c in rows], dtype=np.float64)
    cnorm = np.sqrt(np_dot_seq(cents, cents))
    out = []
    for lo in range(0, len(qvecs), _COARSE_CHUNK):
        qs = np.asarray(qvecs[lo : lo + _COARSE_CHUNK], dtype=np.float64).reshape(-1, cents.shape[1])
        qnorm = np.sqrt(np_dot_seq(qs, qs))
        dots = np_dot_seq(cents[None, :, :], qs[:, None, :])  # (queries, centroids)
        raw = dots / (cnorm[None, :] * qnorm[:, None] + 1e-8)
        out += [[(_round_half_up6(float(s)), lab) for s, lab in zip(r, labels)] for r in raw]
    return out


def probe_lists(
    rows: list[tuple[int, list[float]]], qvecs: Sequence[Sequence[float]], n_probe: int
) -> list[list[int]]:
    """Top-``n_probe`` labels per query in (cscore DESC, label DESC)
    order — so each probe SET is identical to ``coarse_search``'s
    (pinned by test_ivf parity and every IVF query's value oracle)."""
    return [
        [lab for _, lab in sorted(scored, key=lambda t: (-t[0], -t[1]))[:n_probe]]
        for scored in coarse_scores(rows, qvecs)
    ]


def probe_labels(
    rows: list[tuple[int, list[float]]], qvec: list[float], n_probe: int
) -> list[int]:
    """:func:`probe_lists` for one query."""
    return probe_lists(rows, [qvec], n_probe)[0]


def coarse_probes(
    spark: SparkSession, sf_dir: str, query_id: int, n_probe: int
) -> list[int]:
    """Top-``n_probe`` cluster labels for one fixture query — the
    memoized-state fast path every fixture IVF query uses."""
    return probe_labels(
        fixture_centroid_rows(spark, sf_dir),
        fixture_qvec(spark, sf_dir, query_id),
        n_probe,
    )


def coarse_search(centroids: DataFrame, queries: DataFrame, n_probe: int) -> DataFrame:
    """Top-``n_probe`` clusters by cosine(query, centroid).

    ≙ reference ``findSimilar`` over the 128×384 centroid matrix
    (IVF.cpp:271-282). The centroid relation is tiny → broadcast.
    """
    scored = F.broadcast(centroids).join(F.broadcast(queries)).select(
        "query_id",
        "label",
        F.round(
            cosine_similarity_hoisted(F.col("centroid"), F.col("qvec"), F.col("qnorm")),
            SCORE_SCALE,
        ).alias("cscore"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cscore"), F.desc("label"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n_probe)


def probed_corpus(spark: SparkSession, sf_dir: str, probes: list[int]) -> DataFrame:
    """The fixture corpus pruned to the probed clusters (partition
    pruning on a partitioned layout)."""
    return load_table(spark, sf_dir, "embeddings").filter(F.col("label").isin(probes))


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-pruned top-k cosine search over the fixture ``label`` clusters.

    ≙ reference ``IVFIndex::search`` (IVF.cpp:267-436): the coarse stage
    runs on the driver over memoized index state (IVF.cpp:282), the fine
    stage is one ``cosine_topk`` over the probed clusters.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    probes = coarse_probes(spark, sf_dir, query_id, n_probe)
    return cosine_topk(probed_corpus(spark, sf_dir, probes), qvec, k)


def knn_ivf_prenorm(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVF probe pruning COMPOSED with the prenormalized-dot fine scan —
    the fastest composed read path: the coarse stage prunes partitions
    (SURVEY.md §4 P1) and the fine stage's per-row work is a bare fused
    dot product (P4's strongest hoisting — with normalize-once storage
    both norms leave the hot loop entirely).

    At 100 TB this is the plan to run: n_probe/k of the files opened,
    and each surviving row costs one O(dim) fold with zero sqrt/div.
    Probe selection is identical to ``knn_ivf`` (cosine over raw
    centroids), so the pruning decision is unchanged — only the fine
    scoring arithmetic differs (normalized dot, +1e-8 guard applied
    once per vector, reference IVF.cpp:150).
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    probes = coarse_probes(spark, sf_dir, query_id, n_probe)
    return prenorm_topk(probed_corpus(spark, sf_dir, probes), qvec, k)


def knn_ivf_filtered(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    lang: str = "en",
) -> DataFrame:
    """IVF pruning COMPOSED with a metadata filter: probe the usual
    top-n_probe clusters, then restrict the fine search to documents
    matching the predicate (pre-filter semantics — the industry-standard
    "filtered ANN" contract: the k results all satisfy the filter).

    Probe selection stays geometry-only (the filter does not move
    centroids); the id-allowlist applies inside the pruned scan as a
    semi join, so the plan keeps BOTH prunings: partition pruning from
    the probe list AND the predicate pushed to the documents scan.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    probes = coarse_probes(spark, sf_dir, query_id, n_probe)
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(F.col("lang") == lang).select(F.col("doc_id").alias("vec_id"))
    return cosine_topk(probed_corpus(spark, sf_dir, probes).join(allowed, "vec_id", "left_semi"), qvec, k)


def multi_query_knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    query_ids: Sequence[int] = (0, 1, 2, 3, 4),
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVF search for MANY queries in one job.

    The reference runs one query per process (IVF.cpp:650); here the
    coarse stage ranks the centroids for every query of the batch in one
    driver-side pass, and the fine stage scans the UNION of probed
    clusters exactly once — each (query, cluster) candidate pair exists
    only if that query probed that cluster, so per-query work matches
    the single-query plan while the corpus is read once.

    Each distinct id is answered once, in first-seen order (a repeated
    id would otherwise join its candidates twice and fill its top-k with
    duplicates). Ids that are not in the corpus raise ``KeyError``
    before any fine-stage job; an empty batch returns an empty result
    with the batch schema.

    Scale shape:
    - the corpus side is the pinned normed corpus
      (``knn.fixture_normed``: decoded, widened and normed once per
      session and corpus, ≙ the reference loading its index once,
      IVF.cpp:456-486), so a warm batch neither decodes the parquet nor
      widens float→double or folds ‖v‖ per (query, row) pair — the
      score is ``dot(v, qvec) / (nrm·qnorm + 1e-8)``, one fold per pair
      (``knn.normed_score``: ``named_cosine`` over the stored norm);
    - the (query, row) pairs are generated inside the scan stage, not
      joined: rows outside the probed-label union are cut by a
      by-reference ``InSet``, then one ``explode`` emits, per surviving
      row, the batch positions whose probe list holds its label — looked
      up by the label VALUE (``array_position`` into the sorted union
      literal, ``element_at`` into one nested positions literal, never
      arithmetic on the label) — and ``query_id``, ``qvec`` and
      ``qnorm`` are read by position from JVM-built literals held by
      reference: no literal relation, no broadcast job, no
      recompilation for a new batch;
    - the per-query vectors come from the ``fixture_qvec`` memo the
      coarse stage fills, so the corpus is never scanned for them;
    - the per-query top-k is a window over the scored pairs.

    Trade-off: the label filter is evaluated over the in-memory corpus
    instead of being pushed into the parquet reader as
    ``In(label, …)``. On the fixture layout such a pushdown prunes
    nothing (the file is not partitioned and its row groups are not
    clustered by label), so every row is decoded either way.
    ``IVFEngine.search`` makes the same trade over a cluster-partitioned
    layout: it filters its pinned live rows instead of pruning
    directories per query.
    """
    ids = list(dict.fromkeys(int(q) for q in query_ids))
    qvecs = [v for _, v in fixture_qvecs(spark, sf_dir, tuple(ids))]
    probes = probe_lists(fixture_centroid_rows(spark, sf_dir), qvecs, n_probe)
    union = sorted({lab for p in probes for lab in p})
    # 1-based batch positions per probed label, in `union` order
    positions = [[i + 1 for i, p in enumerate(probes) if lab in p] for lab in union]
    pruned = F.expr(f"label IN ({','.join(map(str, union))})") if union else F.lit(False)
    slot = F.array_position(lit_long_array(union), F.col("label")).cast("int")
    qi = F.col("qi")
    fine = (
        fixture_normed(spark, sf_dir)
        .filter(pruned)
        .select("vec_id", "v", "nrm", F.explode(F.element_at(lit_int_array2(positions), slot)).alias("qi"))
        .select(
            F.element_at(lit_long_array(ids), qi).alias("query_id"),
            "vec_id",
            "v",
            "nrm",
            F.element_at(lit_double_array2(qvecs), qi).alias("qvec"),
            F.element_at(lit_double_array([seq_l2_norm(v) for v in qvecs]), qi).alias("qnorm"),
        )
        .select("query_id", "vec_id", normed_score().alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.desc("vec_id"))
    return (
        fine.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "score", "rn")
    )


def recall_sweep_rows(
    spark: SparkSession,
    sf_dir: str,
    knob: str,
    values: Sequence[int],
    search_fn,
    query_id: int = 0,
    k: int = 5,
) -> DataFrame:
    """One ``(knob, n_hits, recall)`` row per swept value against ONE
    exact top-k — the recall-sweep recipe shared by the IVF (n_probe)
    and graph (beam width) knobs, ≙ the reference's experiment grid
    (experiment*_config.txt).

    The exact ids are collected once (k rows — the bounded-collect
    posture of the coarse materialization) into a literal ``isin``
    filter, so the brute-force scan runs ONCE rather than once per
    swept value in the unioned plan."""
    from functools import reduce

    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    if not values or len(set(values)) != len(values):
        raise ValueError(f"sweep values must be non-empty and unique: {values!r}")
    exact_ids = [
        int(r.vec_id)
        for r in knn_bruteforce(spark, sf_dir, query_id=query_id, k=k).collect()
    ]
    rows = []
    for val in values:
        hits = search_fn(val).select("vec_id").filter(F.col("vec_id").isin(exact_ids))
        rows.append(
            hits.agg(
                F.lit(val).alias(knob),
                F.count("*").alias("n_hits"),
                F.round(F.count("*") / F.lit(float(k)), 6).alias("recall"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), rows).orderBy(knob)


def ivf_recall_sweep(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probes: Sequence[int] = (1, 3, 5, 10),
) -> DataFrame:
    """recall@k per n_probe in ONE result — ``recall_sweep_rows`` over
    the IVF search. Output: (n_probe, n_hits, recall) ascending."""
    return recall_sweep_rows(
        spark,
        sf_dir,
        "n_probe",
        n_probes,
        lambda p: knn_ivf(spark, sf_dir, query_id=query_id, k=k, n_probe=p),
        query_id=query_id,
        k=k,
    )


def ivf_recall(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """recall@k of IVF vs exact brute force — one row ``(n_hits, recall)``.

    Generalizes the reference's GPU-vs-CPU agreement check
    (check_cos_sim.cpp:72; SURVEY.md §5.2): ``n_probe = n_clusters``
    must give recall 1.0.
    """
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    approx = knn_ivf(spark, sf_dir, query_id=query_id, k=k, n_probe=n_probe)
    exact = knn_bruteforce(spark, sf_dir, query_id=query_id, k=k)
    hits = approx.select("vec_id").join(exact.select("vec_id"), "vec_id", "left_semi")
    return hits.agg(
        F.count("*").alias("n_hits"),
        F.round(F.count("*") / F.lit(float(k)), 6).alias("recall"),
    )


def assign_incremental(spark: SparkSession, sf_dir: str, modulus: int = 7) -> DataFrame:
    """Incremental index maintenance: nearest-centroid assignment of a
    new vector batch against the EXISTING centroids — no KMeans re-run.

    This is the 100 TB growth path the reference lacks entirely (its
    index is rebuilt offline, clusters.py:20): a new batch is assigned
    by broadcasting the tiny centroid relation and computing a per-row
    argmin over squared L2 distance — embarrassingly parallel, zero
    shuffle on the batch side until the final per-cluster count.

    The "new batch" is simulated as the ``vec_id % modulus == 0`` slice.
    Output: per assigned cluster, how many vectors landed there and how
    many agree with the label the fixture already carries.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixture_centroids(spark, sf_dir).withColumnRenamed("label", "c_label")
    batch = emb.filter(F.col("vec_id") % modulus == 0).select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("centroid"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    # argmin via struct-min: (d2, c_label) orders by distance then label,
    # so equal-distance ties resolve identically in Spark and the oracle
    best = (
        batch.join(F.broadcast(cents))
        .select("vec_id", "label", F.struct(d2.alias("d2"), F.col("c_label")).alias("cand"))
        .groupBy("vec_id", "label")
        .agg(F.min("cand").alias("best"))
    )
    return (
        best.select("label", F.col("best.c_label").alias("assigned_label"))
        .groupBy("assigned_label")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum((F.col("label") == F.col("assigned_label")).cast("int")).alias("n_matching"),
        )
    )


def centroid_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd step over the live index state — the
    ACTION the drift monitor (mining.embedding_drift) feeds: reassign
    every vector to its nearest CURRENT centroid, recompute per-label
    means, and report each label's new population and how far its
    centroid moved. An operator a 100 TB index runs periodically
    instead of the reference's full offline rebuild (clusters.py:20).

    Determinism (the PQ-fit recipe, one iteration at full dim): d²
    rounds to 6 d.p. before the argmin with ties → lowest label
    (struct-min), means round to 8 d.p. — so the oracle replays the
    step exactly. A label that loses all members keeps a row with
    n_assigned = 0 and null shift (the rebalance/merge signal).

    Scale: centroids broadcast; assignment is a per-row argmin (no
    shuffle); the mean recompute is the ``label_centroids`` shape —
    (labels × dims) partial-aggregate rows, never a vector shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixture_centroids(spark, sf_dir).withColumnRenamed("label", "c_label")
    v = as_double_array("embedding")
    d2 = F.round(
        F.aggregate(
            F.zip_with(v, F.col("centroid"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    best = (
        emb.join(F.broadcast(cents))
        .select("vec_id", F.struct(d2.alias("d2"), F.col("c_label")).alias("cand"))
        .groupBy("vec_id")
        .agg(F.min("cand").alias("best"))
        .select("vec_id", F.col("best.c_label").alias("new_label"))
    )
    reassigned = emb.select("vec_id", "embedding").join(best, "vec_id")
    new_cents = label_centroids(reassigned, cluster_col="new_label").withColumnRenamed(
        "centroid", "new_centroid"
    )
    counts = reassigned.groupBy(F.col("new_label").alias("label")).agg(
        F.count("*").alias("n")
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("centroid", "new_centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        fixture_centroids(spark, sf_dir)
        .join(new_cents.withColumnRenamed("label", "nl"), F.col("label") == F.col("nl"), "left")
        .join(counts.withColumnRenamed("label", "cl"), F.col("label") == F.col("cl"), "left")
        .select(
            "label",
            F.coalesce("n", F.lit(0).cast("long")).alias("n_assigned"),
            F.when(F.col("new_centroid").isNotNull(), F.round(l2, 6)).alias("l2_shift"),
        )
        .orderBy("label")
    )


def index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index health monitoring: per-cluster population and dispersion
    (mean / max squared distance to the cluster centroid).

    The operational counterpart of the build invariants — skewed
    populations mean probe pruning stops helping (one hot partition
    dominates every fine search) and rising dispersion means the
    centroids have drifted from the data and the index needs a rebuild.
    One broadcast of the (k × dim) centroid table + one groupBy(label):
    map-side partials, k-row output. d² is rounded to 6 d.p. before the
    decimal-sum mean so both engines fold identical values.
    """
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixture_centroids(spark, sf_dir)
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
    return (
        emb.join(F.broadcast(cents), "label")
        .select("label", d2.alias("d2"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(
                F.sum(F.col("d2").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("avg_d2"),
            F.round(F.max("d2"), 6).alias("max_d2"),
        )
    )


def ann_method_comparison(
    spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 5
) -> DataFrame:
    """Recall@k of every ANN method in the ladder against exact brute
    force, in one relation — the evaluation harness a method choice at
    100 TB starts from (≙ the reference's experiment grid,
    run_multiple_configs.sh, generalized from timings to quality).

    Each method's k-row result semi-joins the k-row exact set; the
    per-method outputs union into (method, n_hits, recall). All inputs
    are ≤k rows — the comparison itself costs nothing; the methods do
    the work. Every member is SQL-replayable (LSH via signature replay,
    PQ via the staged-CTE codebook replay) → full value oracle; bounds
    are additionally pinned in tests.
    """
    from gpu_accelerated_vector_indexing_spark.operators.knn import (
        knn_bruteforce,
        knn_ivf_matryoshka,
        knn_matryoshka,
    )
    from gpu_accelerated_vector_indexing_spark.operators.lsh_ann import knn_lsh
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        knn_bq,
        knn_ivf_bq,
        knn_ivf_pq,
        knn_ivf_sq4,
        knn_ivf_sq8,
        knn_pq,
        knn_sq4,
        knn_sq8,
    )

    exact = knn_bruteforce(spark, sf_dir, query_id=query_id, k=k).select("vec_id")
    methods = {
        "ivf_np3": knn_ivf(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
        "lsh": knn_lsh(spark, sf_dir, query_id=query_id, k=k),
        "sq8": knn_sq8(spark, sf_dir, query_id=query_id, k=k),
        "sq4": knn_sq4(spark, sf_dir, query_id=query_id, k=k),
        "ivf_sq8": knn_ivf_sq8(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
        "ivf_sq4": knn_ivf_sq4(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
        "pq": knn_pq(spark, sf_dir, query_id=query_id, k=k),
        "bq": knn_bq(spark, sf_dir, query_id=query_id, k=k),
        "ivf_bq": knn_ivf_bq(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
        "ivf_pq": knn_ivf_pq(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
        "mrl": knn_matryoshka(spark, sf_dir, query_id=query_id, k=k),
        "ivf_mrl": knn_ivf_matryoshka(spark, sf_dir, query_id=query_id, k=k, n_probe=3),
    }
    # the graph index's rungs (r4) — imported late: graph_ann imports
    # this module for fixture_qvec. Both graph members ride ONE
    # lockstep walk loop (r11): the float and BQ walks share the same
    # adjacency and entry points, so their per-hop adjacency lookup and
    # scoring actions batch into one job each — each member's result is
    # exactly its standalone query's (value parity pinned in
    # tests/test_graph_ann.py).
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        graph_comparison_members,
    )

    methods["graph_beam"], methods["graph_beam_bq"] = graph_comparison_members(
        spark, sf_dir, query_id, k
    )
    return _recall_rows(methods, exact, k)


def _recall_rows(methods: dict[str, DataFrame], exact: DataFrame, k: int) -> DataFrame:
    """(method, n_hits, recall) rows: each method's k-row result checked
    against the k-row exact set — shared by the unfiltered and filtered
    comparison harnesses.

    The exact ids are COLLECTED ONCE (≤k rows, one tiny job) and enter
    each member as a pushed InSet filter (the ``graph_repair_recall``
    posture) instead of a per-member semi join against the lazy exact
    relation: the semi-join form embedded the full brute-force subtree
    (a corpus scan + TakeOrdered) once PER MEMBER in the union plan —
    14 redundant corpus scans at scale, and a 14×-larger tree for the
    optimizer. Same rows by construction (semi join ≡ membership test
    on a unique key)."""
    exact_ids = [int(r.vec_id) for r in exact.collect()]
    out = None
    for name, df in methods.items():
        hits = df.select("vec_id").filter(F.col("vec_id").isin(exact_ids)).agg(
            F.lit(name).alias("method"),
            F.count("*").alias("n_hits"),
            F.round(F.count("*") / F.lit(float(k)), 6).alias("recall"),
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def filtered_method_recall(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    lang: str = "en",
) -> DataFrame:
    """Recall@k of every FILTERED search path against the exact filtered
    brute force (``knn.knn_filtered``) — metadata-filtered retrieval is
    its own quality regime (the predicate interacts with pruning: IVF
    may probe cells the filter empties; the graph walk spends beam
    budget on filtered-out regions), so the harness measures it
    separately from the unfiltered ladder. Same bounded shape as
    ``ann_method_comparison``: every input is ≤k rows.
    """
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        knn_graph_beam_filtered,
    )
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_filtered

    exact = knn_filtered(spark, sf_dir, query_id=query_id, k=k, lang=lang).select(
        "vec_id"
    )
    methods = {
        "ivf_filtered": knn_ivf_filtered(
            spark, sf_dir, query_id=query_id, k=k, n_probe=n_probe, lang=lang
        ),
        "graph_beam_filtered": knn_graph_beam_filtered(
            spark, sf_dir, query_id=query_id, k=k, lang=lang
        ),
    }
    return _recall_rows(methods, exact, k)


# rebalance thresholds: population ratio vs the uniform target.
# Real deployments run wider bands (≈2.0 / 0.5); the fixture bands are
# tight so both actions are exercised at every SF.
REBALANCE_SPLIT_RATIO = 1.1
REBALANCE_MERGE_RATIO = 0.9


def rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance plan: split hot clusters, merge cold ones.

    The operational follow-up to ``index_stats``: probe pruning only
    pays off when cluster populations are near-uniform (a hot partition
    dominates every fine search — reference IVF.cpp:296-299 scans whole
    clusters, so one oversized cluster sets the latency floor). The plan
    marks clusters ``split`` (population > SPLIT_RATIO × target, with
    ``n_splits = ceil(n/target)`` sub-clusters) or ``merge``
    (population < MERGE_RATIO × target, with ``merge_into`` = nearest
    other centroid by L2 — where its vectors would land).

    Cost shape: one groupBy(label) count (k rows), one k×k centroid
    self-join (k ≤ a few hundred — driver-broadcast scale), zero passes
    over the corpus beyond the count scan. Executing the plan would be
    a per-cluster KMeans (split) / partition rewrite (merge) — planning
    is decoupled from execution exactly like AQE's plan-vs-run split.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    totals = counts.agg(
        F.sum("n_vectors").alias("total"), F.count("*").alias("k_clusters")
    )

    nearest = _nearest_other_centroid(fixture_centroids(spark, sf_dir))

    target = F.col("total") / F.col("k_clusters")
    ratio = F.col("n_vectors") / target
    action = (
        F.when(ratio > REBALANCE_SPLIT_RATIO, F.lit("split"))
        .when(ratio < REBALANCE_MERGE_RATIO, F.lit("merge"))
        .otherwise(F.lit("keep"))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .join(F.broadcast(nearest), "label")
        .select(
            "label",
            "n_vectors",
            target.alias("target_size"),
            ratio.alias("ratio"),
            action.alias("action"),
            F.when(action == "merge", F.col("nearest_label")).alias("merge_into"),
            F.when(action == "split", F.ceil(F.col("n_vectors") / target)).alias("n_splits"),
        )
    )


# --- r10 cont.: selectivity-planned filtered search -------------------------
# The pre-filter vs post-filter decision every filtered-ANN service
# makes: a SELECTIVE predicate (few matches) is cheapest as an exact
# scan over the qualifying rows (the probe structure would mostly miss
# them anyway); a BROAD predicate keeps the IVF probes and filters the
# candidates. The cutoff compares the predicate's exact selectivity —
# metadata-scale counts, so the plan choice is deterministic and the
# oracle replays it (both branches guarded by the same selectivity
# predicate; exactly one emits rows).

PLAN_SELECTIVITY_CUTOFF = 0.25


def knn_filtered_planned(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    lang: str = "fr",
    n_probe: int = 5,
) -> DataFrame:
    """Filtered top-k with a planned strategy: ``(strategy, vec_id,
    score)`` where strategy ∈ {prefilter, postfilter} is chosen by the
    predicate's exact selectivity against
    :data:`PLAN_SELECTIVITY_CUTOFF`. The strategy column is part of the
    value contract, so the oracle certifies the CHOICE, not just the
    rows."""
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    n_match = docs.filter(F.col("lang") == lang).count()
    allowed = docs.filter(F.col("lang") == lang).select(
        F.col("doc_id").alias("vec_id")
    )
    if n_match / n_total < PLAN_SELECTIVITY_CUTOFF:
        strategy = "prefilter"
        cands = emb.join(F.broadcast(allowed), "vec_id", "left_semi")
    else:
        strategy = "postfilter"
        probes = coarse_probes(spark, sf_dir, query_id, n_probe)
        cands = emb.filter(F.col("label").isin(probes)).join(
            F.broadcast(allowed), "vec_id", "left_semi"
        )
    return cosine_topk(cands, qvec, k).select(F.lit(strategy).alias("strategy"), "vec_id", "score")


# --- r10 cont.: EXECUTE the split half of the rebalance plan ----------------
# rebalance_plan marks hot clusters; this is the maintenance job that
# acts on the marks. One pass splits each hot cluster IN TWO (nightly
# passes iterate to convergence — the same one-step-per-cycle posture
# as the CDC refresh). The split rule is a single deterministic
# assignment step: seeds = the members with min and max vec_id, every
# member goes to the nearer seed by rounded L2 (ties → the lo seed) —
# exactly replayable in SQL, unlike an iterated Lloyd whose float
# accumulation order cannot be pinned across engines (SURVEY §5.3's
# property-not-centroid-values rule, applied in reverse: where the
# oracle CAN replay values, make the rule replayable).
# Cost shape at 100 TB: the split set is k-row metadata; seed fetch is
# a broadcast semi-join; the rewrite touches ONLY hot clusters'
# partitions (the same damage-bounded posture as compaction).


def _d2_rounded(a, b):
    """Rounded squared-L2 between two double arrays — the one distance
    recipe every rebalance stage (and its oracle) shares."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _nearest_other_centroid(cents: DataFrame) -> DataFrame:
    """``(label, nearest_label)`` by rounded-d2 (ties → lower nbr) —
    the ONE nearest-other-centroid recipe, shared by the rebalance
    PLAN (its ``merge_into`` column) and the merge EXECUTOR (its
    relabel target), so the executor can never drift from the plan it
    claims to execute."""
    a = cents.select(F.col("label"), F.col("centroid").alias("ca"))
    b = cents.select(F.col("label").alias("nbr"), F.col("centroid").alias("cb"))
    pairs = a.join(b, F.col("label") != F.col("nbr")).select(
        "label", "nbr", _d2_rounded(F.col("ca"), F.col("cb")).alias("d2")
    )
    return (
        pairs.withColumn(
            "rn", F.row_number().over(W.partitionBy("label").orderBy("d2", "nbr"))
        )
        .filter(F.col("rn") == 1)
        .select("label", F.col("nbr").alias("nearest_label"))
    )


def rebalance_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(cluster, vec_id, embedding)`` after one split pass over the
    fixture corpus — see :func:`split_hot_clusters` for the rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    return split_hot_clusters(emb.withColumnRenamed("label", "cluster"))


def split_hot_clusters(emb: DataFrame) -> DataFrame:
    """One split pass over ANY ``(cluster, vec_id, embedding)``
    relation: hot clusters (rebalance_plan's ``split`` rule) are
    divided between their min-vec_id and max-vec_id members' seeds;
    everything else keeps its label. New cluster ids are dense after
    the existing max (``max + rank-of-split-cluster``) so ids never
    collide. Generic so the pass composes with the CDC-refreshed
    layout's live rows, not just the fixture corpus."""
    emb = emb.withColumnRenamed("cluster", "label")
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    totals = counts.agg(
        F.sum("n_vectors").alias("total"), F.count("*").alias("k_clusters")
    )
    split_labels = (
        counts.crossJoin(F.broadcast(totals))
        .filter(
            F.col("n_vectors") / (F.col("total") / F.col("k_clusters"))
            > REBALANCE_SPLIT_RATIO
        )
        .select("label")
    )
    maxl = emb.agg(F.max("label").alias("max_label"))
    hi_map = (
        split_labels.withColumn("rn", F.row_number().over(W.orderBy("label")))
        .crossJoin(F.broadcast(maxl))
        .select("label", (F.col("max_label") + F.col("rn")).cast("int").alias("hi_label"))
    )
    seed_ids = (
        emb.join(F.broadcast(split_labels), "label")
        .groupBy("label")
        .agg(F.min("vec_id").alias("lo_id"), F.max("vec_id").alias("hi_id"))
    )
    # broadcast the ≤k-row SEED-ID side and stream the corpus past it —
    # never the reverse (broadcasting the embeddings relation would
    # materialize the whole corpus on every executor at scale)
    s_lo = emb.select(F.col("vec_id").alias("lo_id"), F.col("embedding").alias("s_lo")).join(
        F.broadcast(seed_ids.select("label", "lo_id")), "lo_id"
    )
    s_hi = emb.select(F.col("vec_id").alias("hi_id"), F.col("embedding").alias("s_hi")).join(
        F.broadcast(seed_ids.select("label", "hi_id")), "hi_id"
    )
    seeds = s_lo.join(s_hi, "label").select("label", "s_lo", "s_hi")
    e = as_double_array("embedding")
    split_rows = (
        emb.join(F.broadcast(seeds), "label")
        .withColumn(
            "hi",
            _d2_rounded(e, as_double_array("s_hi")) < _d2_rounded(e, as_double_array("s_lo")),
        )
        .join(F.broadcast(hi_map), "label")
        .select(
            F.when(F.col("hi"), F.col("hi_label"))
            .otherwise(F.col("label"))
            .alias("cluster"),
            "vec_id",
            "embedding",
        )
    )
    keep_rows = emb.join(F.broadcast(split_labels), "label", "left_anti").select(
        F.col("label").alias("cluster"), "vec_id", "embedding"
    )
    return keep_rows.unionByName(split_rows)


@session_state
def rebalanced_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the post-split layout (cluster-partitioned rows + a fresh
    centroid table = per-cluster means) — the artifact the accounting
    and serve queries read, so the oracle pins the REWRITE, not a lazy
    plan. At scale only hot clusters' partitions change; the fixture
    write rewrites all of them for test isolation (a caller-owned dir)."""
    return _write_rebalanced_layout(spark, rebalance_split_assignments(spark, sf_dir))


def ivf_rebalance_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster membership accounting of the WRITTEN post-split
    layout: ``(cluster, n_vectors, id_sum, id_min, id_max)``. The
    id-sum/min/max triple plus the count pins the exact member set of
    every post-rebalance cluster — the oracle replays the split rule
    (plan thresholds → seeds → rounded-d2 assignment → dense new ids)
    from the fixture alone, so a value match certifies the executed
    rewrite moved exactly the rows the plan marked."""
    idx = spark.read.parquet(f"{rebalanced_index_dir(spark, sf_dir)}/embeddings_indexed")
    return idx.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum("vec_id").alias("id_sum"),
        F.min("vec_id").alias("id_min"),
        F.max("vec_id").alias("id_max"),
    )


def rebalance_merge_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(cluster, vec_id, embedding)`` after one merge pass: cold
    clusters (rebalance_plan's ``merge`` rule) donate ALL their members
    to their ``merge_into`` target — the nearest OTHER centroid by the
    plan's rounded-d2 recipe. All merges apply simultaneously against
    ORIGINAL labels (a target that is itself cold donates its own rows
    elsewhere in the same pass; chains converge across nightly cycles,
    the same one-step-per-cycle posture as the split half)."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    totals = counts.agg(
        F.sum("n_vectors").alias("total"), F.count("*").alias("k_clusters")
    )
    merge_labels = (
        counts.crossJoin(F.broadcast(totals))
        .filter(
            F.col("n_vectors") / (F.col("total") / F.col("k_clusters"))
            < REBALANCE_MERGE_RATIO
        )
        .select("label")
    )
    target = (
        _nearest_other_centroid(fixture_centroids(spark, sf_dir))
        .join(F.broadcast(merge_labels), "label", "left_semi")
        .select("label", F.col("nearest_label").alias("merge_into"))
    )
    merged_rows = emb.join(F.broadcast(target), "label").select(
        F.col("merge_into").alias("cluster"), "vec_id", "embedding"
    )
    keep_rows = emb.join(F.broadcast(merge_labels), "label", "left_anti").select(
        F.col("label").alias("cluster"), "vec_id", "embedding"
    )
    return keep_rows.unionByName(merged_rows)


def _write_rebalanced_layout(spark: SparkSession, rows: DataFrame) -> str:
    """Persist a relabeled ``(cluster, vec_id, embedding)`` relation as
    an engine-servable layout: cluster-partitioned rows + per-cluster
    mean centroids (the coarse stage's table; full-probe serves stay
    exact regardless of centroid quality)."""
    out = state_dir("rebal")
    (
        rows.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{out}/embeddings_indexed")
    )
    cents = (
        spark.read.parquet(f"{out}/embeddings_indexed")
        .select("cluster", F.posexplode(as_double_array("embedding")).alias("i", "v"))
        .groupBy("cluster", "i")
        .agg(F.avg("v").alias("v"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("i", "v"))).alias("s"))
        .select("cluster", F.col("s.v").alias("centroid"))
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{out}/centroids")
    return out


@session_state
def merged_rebalance_dir(spark: SparkSession, sf_dir: str) -> str:
    return _write_rebalanced_layout(spark, rebalance_merge_assignments(spark, sf_dir))


def ivf_rebalance_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster membership accounting of the WRITTEN post-merge
    layout — same (count, id_sum, id_min, id_max) member-set pin as the
    split half; the oracle replays thresholds → nearest-other-centroid
    targets → simultaneous relabel from the fixture alone."""
    idx = spark.read.parquet(
        f"{merged_rebalance_dir(spark, sf_dir)}/embeddings_indexed"
    )
    return idx.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum("vec_id").alias("id_sum"),
        F.min("vec_id").alias("id_min"),
        F.max("vec_id").alias("id_max"),
    )


@session_state
def layout_engine(spark: SparkSession, idx_dir: str, n_probe: int | None = None):
    """``IVFEngine`` over a written layout, memoized per (layout,
    n_probe); ``None`` probes every cluster (one centroid count when
    the engine is built)."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    if n_probe is None:
        n_probe = spark.read.parquet(f"{idx_dir}/centroids").count()
    return IVFEngine.from_pretrained(spark, idx_dir, n_probe=n_probe)


def _serve_layout_full_probe(
    spark: SparkSession, sf_dir: str, idx_dir: str, k: int
) -> DataFrame:
    """Full-probe top-k through a rebalanced layout via the standard
    facade — the ONE serve recipe both rebalance serves share (engine
    memoized per layout, n_probe = every cluster, fixture query 0)."""
    qrow = (
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).first()
    )
    engine = layout_engine(spark, idx_dir)
    return engine.search([float(x) for x in qrow.embedding], k=k)


def ivf_rebalance_merge_serve(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Full-probe top-k through the post-merge layout — value-identical
    to brute force: merging partitions moves no vector."""
    return _serve_layout_full_probe(spark, sf_dir, merged_rebalance_dir(spark, sf_dir), k)


def ivf_rebalance_serve(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Full-probe top-k THROUGH the rebalanced layout via the standard
    facade — must hit ``knn_bruteforce``'s oracle unchanged: splitting
    partitions moves no vector, so serving is value-identical while
    per-probe fine-search cost drops with the hot cluster's size."""
    return _serve_layout_full_probe(spark, sf_dir, rebalanced_index_dir(spark, sf_dir), k)


# delete/compaction parameters: vec_id % DELETE_MOD == 0 tombstones a
# deterministic ~11% of the corpus (standing in for dedup losers /
# retention purges); partitions past the fraction threshold rewrite
DELETE_MOD = 9
COMPACT_FRAC = 0.15
VECTOR_BYTES = 4  # float32 storage (reference IVF.cpp:14)


def delete_compact_plan(
    spark: SparkSession,
    sf_dir: str,
    delete_mod: int = DELETE_MOD,
    compact_frac: float = COMPACT_FRAC,
    dim: int = 64,
) -> DataFrame:
    """Tombstone-delete accounting + compaction plan per cluster.

    At 100 TB deletions are never in-place: the delete set is a
    TOMBSTONE TABLE (here the deterministic ``vec_id % delete_mod``
    slice standing in for dedup losers or retention purges), reads
    anti-join it (see ``knn_with_deletes``), and compaction rewrites
    ONLY the partitions whose tombstone fraction crosses the threshold
    — the same plan-vs-execute split as ``rebalance_plan``. One
    groupBy(label) with a conditional count: map-side partials, k-row
    output, zero extra corpus passes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    deleted = (F.col("vec_id") % delete_mod == 0).cast("int")
    per = emb.select("label", deleted.alias("del")).groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum("del").alias("n_deleted"),
    )
    frac = F.col("n_deleted") / F.col("n_vectors")
    live = F.col("n_vectors") - F.col("n_deleted")
    return per.select(
        "label",
        "n_vectors",
        "n_deleted",
        live.alias("n_live"),
        frac.alias("tombstone_frac"),
        (frac >= compact_frac).alias("compact"),
        (live * dim * VECTOR_BYTES).alias("live_bytes"),
    )


def knn_with_deletes(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 1,
    k: int = 5,
    delete_mod: int = DELETE_MOD,
) -> DataFrame:
    """Read path under deletion: top-k over the corpus MINUS the
    tombstone set — correctness holds before any compaction runs.

    The tombstone predicate composes with the scan filter (at scale:
    an anti-join against the broadcast tombstone table, or a pushed
    ``NOT IN`` when the set is a predicate like here); everything else
    is the stock brute-force plan (TakeOrderedAndProject, broadcast
    query).
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % delete_mod != 0)
    return cosine_topk(emb, qvec, k)


# ---------------------------------------------------------------------------
# Ranking-aware retrieval evaluation (r7): NDCG@k / MRR / recall@k
# ---------------------------------------------------------------------------

NDCG_ROUND = 12  # per-term DCG contributions rounded, then summed DECIMAL-exact


def _dcg_contribution(rank: int) -> "Decimal":
    """Python twin of the per-rank DCG term ``round(1/log2(rank+1), 12)``
    (HALF_UP, same as Spark's F.round on DOUBLE) — used only for the
    IDCG constant, which is the sum of the first k terms."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(1.0 / math.log2(rank + 1))).quantize(
        Decimal(f"1e-{NDCG_ROUND}"), rounding=ROUND_HALF_UP
    )


def ideal_dcg(k: int) -> float:
    """IDCG@k for binary relevance: every one of the k exact neighbors
    retrieved in rank order. DECIMAL-exact sum of the rounded terms, so
    the constant is bit-identical to the oracle's ``range()`` sum."""
    from decimal import Decimal

    return float(sum((_dcg_contribution(i) for i in range(1, k + 1)), Decimal(0)))


def retrieval_ndcg(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probes: Sequence[int] = (1, 3, 5),
) -> DataFrame:
    """Ranking-aware ANN evaluation: per swept ``n_probe``, NDCG@k, MRR,
    and recall@k of the IVF search against the exact brute-force top-k.

    recall (``ivf_recall``) only counts set overlap; a serving-quality
    gate also cares WHERE the true neighbors land in the approximate
    ranking. Binary relevance (retrieved id ∈ exact top-k), DCG term
    ``1/log2(rank+1)``:

    - ``ndcg``  = DCG / IDCG, rank-discounted set agreement;
    - ``mrr``   = 1 / rank of the first true neighbor (0 if none);
    - ``recall`` = |hits| / k (ties out to ``ivf_recall``'s number).

    Determinism: each DCG term is rounded to 12 d.p. then summed as
    DECIMAL(38,12) (order-free — the PageRank posture), divided by the
    same-rounded IDCG constant, final metrics rounded to 6 d.p. The
    exact ids are collected once (k rows, the recall_sweep_rows bounded
    posture) into a literal ``isin``; each swept search is the stock
    ``knn_ivf`` plan (pruned scan + TakeOrdered over ≤ k rows), so the
    sweep costs one pruned scan per knob value and the eval math runs
    over ≤ k rows — at 100 TB the eval adds nothing to the search cost.

    ≙ reference check_cos_sim.cpp:72 (GPU-vs-CPU agreement) upgraded
    from set-overlap to rank-quality, over the experiment grid of
    run_multiple_configs.sh.
    """
    return ranking_metric_rows(
        spark,
        sf_dir,
        "n_probe",
        n_probes,
        lambda p: knn_ivf(spark, sf_dir, query_id=query_id, k=k, n_probe=p),
        query_id=query_id,
        k=k,
    )


def ranking_metric_rows(
    spark: SparkSession,
    sf_dir: str,
    knob: str,
    values: Sequence[int],
    search_fn,
    query_id: int = 0,
    k: int = 5,
) -> DataFrame:
    """One ``(knob, recall, mrr, ndcg)`` row per swept value — the
    rank-quality twin of ``recall_sweep_rows``, shared by the IVF
    (n_probe) and graph (beam width) knobs. ``search_fn(value)`` must
    return the top-k relation ``(vec_id, score)``."""
    from functools import reduce

    from pyspark.sql.types import DecimalType

    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    if not values or len(set(values)) != len(values):
        raise ValueError(f"sweep values must be non-empty and unique: {values!r}")
    exact_ids = [
        int(r.vec_id)
        for r in knn_bruteforce(spark, sf_dir, query_id=query_id, k=k).collect()
    ]
    idcg = ideal_dcg(k)
    rows = []
    for val in values:
        ranked = search_fn(val).withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.desc("score"), F.desc("vec_id"))
            ),
        )
        hits = ranked.filter(F.col("vec_id").isin(exact_ids))
        term = F.round(F.lit(1.0) / F.log2(F.col("rnk") + F.lit(1)), NDCG_ROUND).cast(
            DecimalType(38, NDCG_ROUND)
        )
        rows.append(
            hits.agg(
                F.lit(val).alias(knob),
                F.round(F.count("*") / F.lit(float(k)), SCORE_SCALE).alias("recall"),
                F.round(
                    F.coalesce(F.lit(1.0) / F.min("rnk"), F.lit(0.0)), SCORE_SCALE
                ).alias("mrr"),
                F.round(
                    F.coalesce(F.sum(term).cast("double"), F.lit(0.0)) / F.lit(idcg),
                    SCORE_SCALE,
                ).alias("ndcg"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), rows).orderBy(knob)


# ---------------------------------------------------------------------------
# Shard-parallel index build + merge (r7): mergeable sufficient statistics
# ---------------------------------------------------------------------------


def shard_centroid_stats(emb: DataFrame, n_shards: int = 2) -> DataFrame:
    """Per-shard centroid SUFFICIENT STATISTICS: one row per
    ``(shard, label, pos)`` carrying the component SUM and the member
    COUNT — the mergeable state a shard-parallel index build emits.

    A mean is not mergeable; (sum, count) is. At 100 TB each of 1000
    executors folds its local vectors map-side (partial aggregation —
    the sketch-family posture of operators/approx.py), so the shuffle
    carries shards × labels × dim tiny stat rows, never vectors.

    The component sum ``s`` is a DECIMAL(38,20) fold of the components
    snapped to an engine-local 1e-20 grid (ADVICE r7: a double fold is
    order-dependent, so two merges of the same shards could disagree
    by an ulp). Decimal addition is associative, so WITHIN an engine
    the merged state is IDENTICAL for any shard count, partitioning,
    or merge order — pinned by
    test_shard_merge_invariant_to_shard_count. Two caveats (ADVICE
    r8): (1) the double→decimal snap itself is engine-local — Spark
    snaps via the shortest decimal representation, DuckDB rounds the
    full binary expansion — so CROSS-engine agreement is gated through
    the 8-d.p. rounded merge output, not the raw ``s`` digits;
    (2) DECIMAL(38,20) leaves 18 integer digits, so a single
    (shard, label, pos) component sum past ~1e18 would overflow (to
    NULL under non-ANSI Spark). With unit-normalized components
    (|x| ≤ 1) that is ≥1e18 members per (shard, label) — far past any
    real corpus; raise the shard count or narrow the scale before
    approaching it.
    """
    from pyspark.sql.types import DecimalType

    return (
        emb.select(
            (F.col("vec_id") % n_shards).cast("int").alias("shard"),
            F.col("label"),
            F.posexplode(as_double_array("embedding")).alias("pos", "x"),
        )
        .groupBy("shard", "label", "pos")
        .agg(
            F.sum(F.col("x").cast(DecimalType(38, 20))).alias("s"),
            F.count("*").alias("n"),
        )
    )


def merged_component_values(stats: DataFrame) -> DataFrame:
    """``(label, pos, v)``: the 8-d.p. merged centroid components from
    ``(shard, label, pos, s, n)`` sufficient statistics — THE one
    merge expression (``round(Σs / Σn, CENTROID_SCALE)`` over the
    DECIMAL folds), shared by the in-session merge, the
    persisted-state digest, and the merged-layout build so the three
    consumers cannot drift off the exactness contract."""
    return stats.groupBy("label", "pos").agg(
        F.round(F.sum("s").cast("double") / F.sum("n"), CENTROID_SCALE).alias("v")
    )


def assemble_centroids(components: DataFrame) -> DataFrame:
    """``(label, centroid ARRAY<DOUBLE>)`` from flat (label, pos, v)
    components — position-sorted array assembly, shared by every
    consumer that needs the vector form."""
    return components.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )


def merged_centroid_rows(
    spark: SparkSession, sf_dir: str, n_shards: int = 2
) -> list[tuple[int, list[float]]]:
    """Merge per-shard centroid stats into full-corpus centroids:
    ``sum(s)/sum(n)`` per (label, pos), rounded to the shared
    CENTROID_SCALE — the same 8-d.p. state ``label_centroids`` builds
    in one pass, now assembled from independently-built shard states
    (the distributed-index-build story: build partials anywhere, merge
    a few thousand stat rows, never re-read the corpus).

    Exactness contract (ADVICE r7): the merge itself is exact by
    construction — ``s`` is a DECIMAL(38,20) fold, so ``sum(s)`` is
    the same value for ANY shard count or addition order. Agreement
    with the one-pass double ``avg`` of ``label_centroids`` is a
    separate, fixture-gated property: the two differ by ≤1 ulp of the
    8-d.p. CENTROID_SCALE grid (test-asserted ±2e-8), and the value
    gate pins that no fixture component sits on a rounding boundary.
    """
    stats = shard_centroid_stats(load_table(spark, sf_dir, "embeddings"), n_shards)
    merged = assemble_centroids(merged_component_values(stats))
    return [(int(r.label), [float(x) for x in r.centroid]) for r in merged.collect()]


def knn_ivf_shard_merge(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    n_shards: int = 2,
) -> DataFrame:
    """IVF search through an index MERGED from independently-built
    shards — matches the single-build ``knn_ivf`` because the merged
    sufficient statistics reproduce the full-corpus centroids on the
    shared 8-d.p. CENTROID_SCALE grid (the merge itself is exact by
    construction — DECIMAL-fold ``s`` — and its agreement with the
    one-pass avg is fixture-gated at ±1 grid ulp, see
    ``merged_centroid_rows``) and the fine scan is the union of the
    shard partitions, i.e. the corpus.

    This is the scale path for index construction: at 100 TB no single
    job builds the centroid state; shards emit (sum, count) partials,
    the merge touches shards × labels × dim rows, and the search plan
    is byte-identical to the single-build plan. Shares ``knn_ivf``'s
    full value oracle.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    probes = probe_labels(merged_centroid_rows(spark, sf_dir, n_shards), qvec, n_probe)
    return cosine_topk(probed_corpus(spark, sf_dir, probes), qvec, k)


@session_state
def shard_state_dir(spark: SparkSession, sf_dir: str, n_shards: int = 2) -> str:
    """Directory holding the persisted per-shard centroid sufficient
    statistics, written once per (session, corpus, shard count) — the
    on-disk form a shard-parallel build ships to the merge job (each
    shard writes its (shard, label, pos, sum, count) partial
    independently; nothing global exists until the merge reads them
    all). ``n_shards`` is part of the memo key (ADVICE r7: without it
    a second call with a different shard count silently got the first
    count's partials)."""
    out = state_dir("shardstate")
    shard_centroid_stats(
        load_table(spark, sf_dir, "embeddings"), n_shards
    ).write.mode("overwrite").parquet(f"{out}/stats")
    return out


def ivf_shard_state_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the shard partials, read them back, MERGE FROM DISK, and
    value-summarize the merged centroid state in one row — pinning that
    the cross-job handoff (shard build → parquet → merge) reproduces
    the in-session centroid state exactly (the oracle re-derives the
    centroids straight from the corpus and computes the same digest).
    Checksums are order-free: label/component counts are bigint folds;
    ``centroid_sum_micro`` is the exact integer sum of the 8-d.p.
    centroid components in 1e-8 units, so a drift in ANY component of
    ANY label moves the row (the graph family's score_sum_micro
    posture)."""
    stats = spark.read.parquet(f"{shard_state_dir(spark, sf_dir)}/stats")
    merged = merged_component_values(stats)
    return merged.agg(
        F.countDistinct("label").alias("n_labels"),
        (F.max("pos") + F.lit(1)).alias("dim"),
        F.count("*").alias("n_components"),
        F.sum(F.round(F.col("v") * F.lit(10.0 ** CENTROID_SCALE)).cast("long")).alias(
            "centroid_sum_micro"
        ),
    )


@session_state
def merged_ivf_index(spark: SparkSession, sf_dir: str, n_shards: int = 2) -> str:
    """Persist the shard-MERGED IVF state through the STANDARD engine
    layout (``embeddings_indexed`` partitioned by cluster +
    ``centroids``) — the step between :func:`shard_state_dir`'s
    partials and serving, closing the IVF lifecycle exactly as
    ``graph_ann.merged_graph_index`` closes the graph one (VERDICT r7
    #4: ``--index ivf`` previously served only the single-build
    layout; ``ivf_shard_state_roundtrip`` stopped at the digest).

    The centroid table is the merge of the PERSISTED shard partials
    (read from parquet, never the in-session memo — this is the
    cross-job handoff), identical to ``merged_centroid_rows`` by the
    DECIMAL-fold exactness contract; the corpus lands cluster-major so
    a probed search opens only the probed partition directories.
    """
    out = state_dir("ivfmerged")
    stats = spark.read.parquet(
        f"{shard_state_dir(spark, sf_dir, n_shards)}/stats"
    )
    cents = assemble_centroids(merged_component_values(stats)).select(
        F.col("label").cast("int").alias("cluster"), "centroid"
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{out}/centroids")
    emb = load_table(spark, sf_dir, "embeddings")
    (
        emb.select(
            "vec_id", "embedding", F.col("label").cast("int").alias("cluster")
        )
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{out}/embeddings_indexed")
    )
    return out


def ivf_merge_serve(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    n_shards: int = 2,
) -> DataFrame:
    """Serve a query THROUGH the persisted merged IVF index —
    ``IVFEngine.from_pretrained`` over :func:`merged_ivf_index`, the
    same facade every pretrained index serves through (and the same
    layout the ``--index ivf`` CLI binds, pinned by the CLI test).
    Shares ``knn_ivf_shard_merge``'s full value oracle: shard build →
    persist partials → merge from disk → standard layout → facade
    search must be value-neutral end to end, or the hash breaks."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    eng = IVFEngine.from_pretrained(
        spark, merged_ivf_index(spark, sf_dir, n_shards), n_probe=n_probe
    )
    return eng.search(fixture_qvec(spark, sf_dir, query_id), k=k).select(
        "vec_id", "score"
    )


OUTLIER_FACTOR = 2.0  # d² > factor × cluster mean d² ⇒ outlier


def embedding_outliers(
    spark: SparkSession, sf_dir: str, factor: float = OUTLIER_FACTOR
) -> DataFrame:
    """Per-cluster embedding quality audit: how far members sit from
    their own centroid, and which ones are suspiciously far — the
    corrupt/mislabeled-vector signal an embedding corpus needs before
    anything trains on it (the vector twin of the text family's
    quality_filter).

    One row per label: member count, mean squared distance to the
    centroid, the count over ``factor ×`` that mean, and the worst
    member (id + distance, ties to the higher id). Distances are the
    shared 6-d.p.-rounded d² of ``ivf_assign_incremental``'s recipe
    over the memoized 8-d.p. centroid state; the mean is a
    DECIMAL-exact sum of those rounded values (order-free), so the
    audit is deterministic cross-engine. Plan shape: centroids are
    broadcast state, the scan is one pass, the rollup is one
    label-keyed aggregate — scan-speed at any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixture_centroids(spark, sf_dir).select(
        F.col("label"), F.col("centroid")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                as_double_array("embedding"),
                F.col("centroid"),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        SCORE_SCALE,
    )
    scored = emb.join(F.broadcast(cents), "label").select(
        "label", "vec_id", d2.alias("d2")
    )
    from pyspark.sql.types import DecimalType

    per_label = scored.groupBy("label").agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum(F.col("d2").cast(DecimalType(38, SCORE_SCALE))).cast("double")
            / F.count("*"),
            SCORE_SCALE,
        ).alias("mean_d2"),
        F.max(F.struct(F.col("d2"), F.col("vec_id"))).alias("worst"),
    )
    outliers = (
        scored.join(F.broadcast(per_label.select("label", "mean_d2")), "label")
        .filter(F.col("d2") > F.col("mean_d2") * F.lit(factor))
        .groupBy("label")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        per_label.join(outliers, "label", "left")
        .select(
            "label",
            "n_members",
            "mean_d2",
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
            F.col("worst.vec_id").alias("worst_vec_id"),
            F.col("worst.d2").alias("worst_d2"),
        )
        .orderBy("label")
    )


ADAPTIVE_DELTA = 0.1  # probe every centroid within this of the best coarse score


def adaptive_probe_labels(
    rows: list[tuple[int, list[float]]], qvec: list[float], delta: float
) -> list[int]:
    """Score-gap adaptive coarse search: probe EVERY centroid whose
    (rounded) coarse cosine is within ``delta`` of the best — easy
    queries (one dominant cluster) probe few partitions, ambiguous
    queries (flat coarse profile) probe many. The per-query twin of a
    fixed n_probe, same driver-side memoized-state posture as
    ``probe_labels``; the best centroid is always included."""
    scored = coarse_scores(rows, [qvec])[0]
    best = max(s for s, _ in scored)
    return sorted(lab for s, lab in scored if s >= best - delta)


def knn_ivf_adaptive(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    delta: float = ADAPTIVE_DELTA,
) -> DataFrame:
    """IVF search with ADAPTIVE probing: instead of a fixed n_probe,
    the probe set is every cluster whose coarse score sits within
    ``delta`` of the best (``adaptive_probe_labels``) — the
    recall/latency knob that spends scan budget only where the coarse
    profile says the answer could hide. Fine scan and top-k are the
    stock ``knn_ivf`` plan (pruned partitions, TakeOrdered); the probe
    decision stays a driver-side op over the memoized centroid state,
    and the oracle recomputes the same rounded-score gap rule in SQL.
    """
    qvec = fixture_qvec(spark, sf_dir, query_id)
    probes = adaptive_probe_labels(fixture_centroid_rows(spark, sf_dir), qvec, delta)
    return cosine_topk(probed_corpus(spark, sf_dir, probes), qvec, k)


def ivf_adaptive_sweep(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 5,
    deltas: Sequence[float] = (0.05, 0.1, 0.2),
) -> DataFrame:
    """Observability for the adaptive-probe knob: per swept ``delta``,
    how many clusters the gap rule probes and what recall@k that buys —
    the (probe-budget, recall) trade-off curve an operator reads before
    picking the gap (the adaptive twin of ``ivf_recall_sweep``).
    Probe counts come off the memoized centroid state driver-side; each
    searched side is the stock pruned plan; every compared relation is
    ≤ k rows."""
    from functools import reduce

    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    if not deltas or len(set(deltas)) != len(deltas):
        raise ValueError(f"deltas must be non-empty and unique: {deltas!r}")
    cent_rows = fixture_centroid_rows(spark, sf_dir)
    qv = fixture_qvec(spark, sf_dir, query_id)
    exact_ids = [
        int(r.vec_id)
        for r in knn_bruteforce(spark, sf_dir, query_id=query_id, k=k).collect()
    ]
    rows = []
    for d in deltas:
        n_probes = len(adaptive_probe_labels(cent_rows, qv, d))
        hits = (
            knn_ivf_adaptive(spark, sf_dir, query_id=query_id, k=k, delta=d)
            .select("vec_id")
            .filter(F.col("vec_id").isin(exact_ids))
        )
        rows.append(
            hits.agg(
                F.lit(float(d)).alias("delta"),
                F.lit(n_probes).alias("n_probes"),
                F.count("*").alias("n_hits"),
                F.round(F.count("*") / F.lit(float(k)), SCORE_SCALE).alias("recall"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), rows).orderBy("delta")
