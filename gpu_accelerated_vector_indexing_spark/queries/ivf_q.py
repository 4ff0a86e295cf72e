"""IVF query family (SURVEY.md §2 O14-O17, O22-O23; §2.3).

Oracle determinism: centroid components are rounded to 8 d.p. in BOTH
engines before the coarse cosine (float64 avg summation order differs
between Spark and DuckDB); scores rounded to 6 d.p. as everywhere.
The MLlib KMeans build is NOT oracle-expressible (k-means‖ vs any SQL
restatement) → property-style rows-only entry (SURVEY.md §5.3).
"""

from __future__ import annotations

from functools import partial

from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.operators import index_build, ivf

QUERY_ID = 0
K = 5
N_PROBE = 3
DIM = 64
N_CLUSTERS = 10

_COS_Q = (
    "round(list_dot_product(e.embedding::DOUBLE[], q.qvec) /"
    " (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6)"
)

# Shared CTE prefix: per-label mean centroids (rounded), query vector,
# coarse top-n_probe, pruned fine scores. Parameterized over n_probe to
# mirror the reference's experiment grid (experiment*_config.txt).
def _ivf_ctes(n_probe: int = N_PROBE, fine_where: str = "") -> str:
    return f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID}),
coarse AS (
  SELECT c.label,
         round(list_dot_product(c.centroid, q.qvec) /
               (sqrt(list_dot_product(c.centroid, c.centroid)) *
                sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6) AS cscore
  FROM cent c CROSS JOIN q
),
probes AS (SELECT label FROM coarse ORDER BY cscore DESC, label DESC LIMIT {n_probe}),
fine AS (
  SELECT e.vec_id, {_COS_Q} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (SELECT label FROM probes){fine_where}
),
ivf_topk AS (SELECT vec_id, score FROM fine ORDER BY score DESC, vec_id DESC LIMIT {K})
"""


_IVF_CTES = _ivf_ctes(N_PROBE)


def _centroids_table(spark, sf_dir):
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.vector import as_double_array
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(as_double_array("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 8).alias("v"))
        .select("label", F.col("pos").cast("int").alias("pos"), "v")
    )


# The built layout is INDEX STATE memoized per (session, corpus) — the
# build-once/serve-many posture every other layout query here already
# has (refshape_search_cli, engine_ivf_merge_serve): call 1 pays MLlib
# KMeans + the cluster-partitioned write, later calls serve from the
# persisted layout (r10: the previous form re-fit and re-wrote the
# whole index into a FRESH temp dir on every call — 28 jobs/call warm).
# Evicted by memo.clear_session_caches like every session state.
@session_state
def _engine_index_dir(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.operators.index_build import build_partitioned_index

    out = state_dir("ivf_index")
    build_partitioned_index(spark, sf_dir, out, k=N_CLUSTERS, seed=42)
    return out


def _engine_full_probe(spark, sf_dir):
    """Build a REAL cluster-partitioned index (MLlib KMeans + partitioned
    write), then search it through the end-user facade at
    n_probe = n_clusters — which must equal exact brute force, so the
    whole build→facade→search path sits under the value-hash gate."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.operators.ivf import fixture_qvec

    eng = IVFEngine.from_pretrained(spark, _engine_index_dir(spark, sf_dir), n_probe=N_CLUSTERS)
    return eng.search(fixture_qvec(spark, sf_dir, QUERY_ID), k=K)


QUERY_IDS = (0, 1, 2, 3, 4)

def _knn_ivf_sq8(spark, sf_dir):
    """IVF pruning × SQ8 compressed scan × exact rescore — equals the
    exact fine search within the probed set, so it shares the IVF oracle."""
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_ivf_sq8

    return knn_ivf_sq8(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


def _knn_ivf_bq(spark, sf_dir):
    """IVF pruning × 1-bit Hamming candidates × exact rescore — equals
    the exact fine search within the probed set (margin pinned in
    tests), so it shares the IVF oracle."""
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_ivf_bq

    return knn_ivf_bq(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


def _knn_ivf_pq(spark, sf_dir):
    """IVF pruning × PQ ADC scan × exact rescore under a FULL value
    oracle: the deterministic codebook fit is replayed as staged CTEs
    (queries/_pq_oracle) on top of the shared coarse/probe CTEs, so the
    probed candidate set and the rescored top-k are value-checked.
    Recall invariants stay pinned in tests/test_ivf.py."""
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_ivf_pq

    return knn_ivf_pq(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


def _knn_ivf_pq_residual(spark, sf_dir):
    """IVFADC proper (residual encoding, Jégou et al. 2011 §IV): codes
    quantize ``v − centroid(label)``, the scan reconstructs via per-label
    broadcast precomputed tables, exact rescore restores true cosine.
    Full value oracle: the residual fit replays as staged CTEs on the
    shared 8-d.p. centroid state (queries/_pq_oracle, residual=True)."""
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        knn_ivf_pq_residual,
    )

    return knn_ivf_pq_residual(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


QUERIES = {
    "ivf_centroids": _centroids_table,
    "engine_full_probe": _engine_full_probe,
    "multi_query_knn_ivf": partial(
        ivf.multi_query_knn_ivf, query_ids=QUERY_IDS, k=K, n_probe=N_PROBE
    ),
    "knn_ivf_combined": partial(ivf.knn_ivf, query_id=QUERY_ID, k=K, n_probe=N_PROBE),
    "knn_ivf_filtered": partial(
        ivf.knn_ivf_filtered, query_id=QUERY_ID, k=K, n_probe=N_PROBE, lang="en"
    ),
    "knn_ivf_sequential": partial(ivf.knn_ivf, query_id=QUERY_ID, k=K, n_probe=N_PROBE),
    "knn_ivf_prenorm": partial(ivf.knn_ivf_prenorm, query_id=QUERY_ID, k=K, n_probe=N_PROBE),
    "ivf_recall": partial(ivf.ivf_recall, query_id=QUERY_ID, k=K, n_probe=N_PROBE),
    "knn_ivf_sq8": _knn_ivf_sq8,
    "knn_ivf_bq": _knn_ivf_bq,
    "knn_ivf_pq": _knn_ivf_pq,
    "knn_ivf_pq_residual": _knn_ivf_pq_residual,
    "kmeans_invariants": partial(index_build.cluster_invariants, k=N_CLUSTERS, seed=42),
    "ivf_assign_incremental": ivf.assign_incremental,
}


def _contrastive_triplets(spark, sf_dir):
    """Hard-negative mining for contrastive fine-tuning: per anchor, the
    nearest same-label neighbor (positive) + the N nearest different-
    label neighbors (hard negatives). operators/mining.py."""
    from gpu_accelerated_vector_indexing_spark.operators.mining import (
        contrastive_triplets,
    )

    return contrastive_triplets(spark, sf_dir)


def _embedding_drift(spark, sf_dir):
    """Per-label drift between two corpus snapshots (even/odd vec_id
    parity standing in for t0/t1): churn + centroid displacement — the
    index-staleness signal feeding ivf_rebalance_plan."""
    from gpu_accelerated_vector_indexing_spark.operators.mining import embedding_drift

    return embedding_drift(spark, sf_dir)


QUERIES["contrastive_triplets"] = _contrastive_triplets
QUERIES["embedding_drift"] = _embedding_drift

# n_probe sweep ≙ the reference's experiment grid (n_probe ∈ {5,20,40,80}
# of 128 clusters — here {1,5,10} of 10; 10 = full probe = brute force)
N_PROBE_GRID = (1, 5, 10)
for _np in N_PROBE_GRID:
    QUERIES[f"knn_ivf_np{_np}"] = partial(ivf.knn_ivf, query_id=QUERY_ID, k=K, n_probe=_np)
QUERIES["ivf_recall_sweep"] = partial(
    ivf.ivf_recall_sweep, query_id=QUERY_ID, k=K, n_probes=N_PROBE_GRID
)


def _recall_at(n_probe: int) -> str:
    return (
        _ivf_ctes(n_probe)
        + f""",
exact AS (
  SELECT e.vec_id FROM embeddings e CROSS JOIN q
  ORDER BY {_COS_Q} DESC, e.vec_id DESC LIMIT {K}
),
hits AS (SELECT a.vec_id FROM ivf_topk a WHERE a.vec_id IN (SELECT vec_id FROM exact))
SELECT {n_probe} AS n_probe, count(*) AS n_hits, round(count(*) / {K}.0, 6) AS recall FROM hits
"""
    )

ORACLES = {
    "multi_query_knn_ivf": f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label),
qs AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id IN {QUERY_IDS}
),
coarse AS (
  SELECT q.query_id, c.label,
         round(list_dot_product(c.centroid, q.qvec) /
               (sqrt(list_dot_product(c.centroid, c.centroid)) *
                sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6) AS cscore
  FROM cent c CROSS JOIN qs q
),
probes AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, label DESC) AS rn
    FROM coarse
  ) WHERE rn <= {N_PROBE}
),
fine AS (
  SELECT q.query_id, e.vec_id, {_COS_Q} AS score
  FROM embeddings e
  JOIN probes p ON e.label = p.label
  JOIN qs q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, score, CAST(rn AS INT) AS rn FROM (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id DESC) AS rn
  FROM fine
) WHERE rn <= {K}
""",
    # full probe ≡ exact brute force (IVF prunes nothing at n_probe = k)
    "engine_full_probe": f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT {_COS_Q} AS score, e.vec_id
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, e.vec_id DESC LIMIT {K}
""",
    "ivf_centroids": f"""
SELECT e.label, (d.i - 1)::INT AS pos, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
FROM embeddings e CROSS JOIN (SELECT i FROM range(1, {DIM + 1}) t(i)) d
GROUP BY e.label, d.i
""",
    "knn_ivf_combined": _IVF_CTES + "SELECT vec_id, score FROM ivf_topk",
    # filtered ANN over the same probes: the lang allowlist restricts the
    # fine CTE only — probe selection is identical to the unfiltered plan
    "knn_ivf_filtered": _ivf_ctes(
        N_PROBE,
        fine_where=" AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    )
    + "SELECT vec_id, score FROM ivf_topk",
    # SQ8 candidate scan + exact rescore within the probed set must equal
    # the exact fine search — same oracle as the combined IVF plan.
    "knn_ivf_sq8": _IVF_CTES + "SELECT vec_id, score FROM ivf_topk",
    "knn_ivf_bq": _IVF_CTES + "SELECT vec_id, score FROM ivf_topk",
    "knn_ivf_sequential": _IVF_CTES + "SELECT vec_id, score FROM ivf_topk",
    # IVF probes (identical coarse CTEs, reused via the fine-less prefix
    # below) × prenormalized bare-dot fine scoring — the same
    # normalize-then-dot arithmetic as knn_prenorm, restricted to the
    # probed clusters. The unused `fine` CTE from the shared prefix is
    # harmless (never referenced).
    "knn_ivf_prenorm": _IVF_CTES
    + f""",
nq AS (
  SELECT list_transform(embedding::DOUBLE[], x -> x /
         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) + 1e-8)) AS nqv
  FROM embeddings WHERE vec_id = {QUERY_ID}
),
nfine AS (
  SELECT e.vec_id,
         round(list_dot_product(list_transform(e.embedding::DOUBLE[], x -> x /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) + 1e-8)), nq.nqv), 6) AS score
  FROM embeddings e CROSS JOIN nq
  WHERE e.label IN (SELECT label FROM probes)
)
SELECT vec_id, score FROM nfine ORDER BY score DESC, vec_id DESC LIMIT {K}""",
    "ivf_recall": _IVF_CTES
    + f""",
exact AS (
  SELECT e.vec_id FROM embeddings e CROSS JOIN q
  ORDER BY {_COS_Q} DESC, e.vec_id DESC LIMIT {K}
),
hits AS (SELECT a.vec_id FROM ivf_topk a WHERE a.vec_id IN (SELECT vec_id FROM exact))
SELECT count(*) AS n_hits, round(count(*) / {K}.0, 6) AS recall FROM hits
""",
    # kmeans_invariants: MLlib k-means‖ CENTROIDS are not SQL-restatable,
    # but the query's output IS the §5.3 invariant contract — k non-empty
    # clusters, every row sitting with its nearest centroid — whose
    # values are fully determined by corpus size. Asserting them as the
    # oracle (r3) upgrades the check from rows-only to value-checked:
    # an empty cluster or a non-argmin assignment now fails the gate.
    "kmeans_invariants": f"""
SELECT CAST({N_CLUSTERS} AS BIGINT) AS n_clusters,
       count(*) AS n_rows,
       count(*) AS n_nearest_ok
FROM embeddings
""",
    # incremental assignment: same rounded centroids, same rounded d²,
    # same (d2, label) argmin tie-break as the Spark operator
    "ivf_assign_incremental": f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label AS c_label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
batch AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 7 = 0
),
dists AS (
  SELECT b.vec_id, b.label, c.c_label,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (b.v[i] - c.centroid[i]) * (b.v[i] - c.centroid[i]))), 6) AS d2
  FROM batch b CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, label, c_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
  FROM dists
)
SELECT c_label AS assigned_label, count(*) AS n_assigned,
       CAST(sum(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
FROM assigned WHERE rn = 1 GROUP BY c_label
""",
}

for _np in N_PROBE_GRID:
    ORACLES[f"knn_ivf_np{_np}"] = _ivf_ctes(_np) + "SELECT vec_id, score FROM ivf_topk"

ORACLES["ivf_recall_sweep"] = (
    "SELECT n_probe, n_hits, recall FROM (\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM ({_recall_at(p)})" for p in N_PROBE_GRID)
    + "\n) ORDER BY n_probe"
)

QUERIES["ivf_index_stats"] = ivf.index_stats

# same rounded-centroid + rounded-d² determinism recipe as
# ivf_assign_incremental; the mean goes through a DECIMAL(18,6) sum
ORACLES["ivf_index_stats"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label AS c_label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
d2s AS (
  SELECT e.label,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (e.embedding[i]::DOUBLE - c.centroid[i]) * (e.embedding[i]::DOUBLE - c.centroid[i]))), 6) AS d2
  FROM embeddings e JOIN cent c ON e.label = c.c_label
)
SELECT label, count(*) AS n_vectors,
       round(CAST(sum(d2::DECIMAL(18,6)) AS DOUBLE) / count(*), 6) AS avg_d2,
       round(max(d2), 6) AS max_d2
FROM d2s GROUP BY label
"""

QUERIES["ivf_rebalance_plan"] = ivf.rebalance_plan

# counts + the same rounded-centroid recipe; ratio/threshold comparisons
# are identical IEEE double expressions in both engines (bigint/bigint
# division then decimal-literal compare), so verdicts agree exactly
ORACLES["ivf_rebalance_plan"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label AS c_label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
pairs AS (
  SELECT a.c_label AS label, b.c_label AS nbr,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i]))), 6) AS d2
  FROM cent a JOIN cent b ON a.c_label <> b.c_label
),
nearest AS (
  SELECT label, nbr AS nearest_label FROM (
    SELECT label, nbr, row_number() OVER (PARTITION BY label ORDER BY d2, nbr) AS rn FROM pairs
  ) WHERE rn = 1
),
counts AS (SELECT label, count(*)::BIGINT AS n_vectors FROM embeddings GROUP BY label),
tot AS (SELECT sum(n_vectors)::BIGINT AS total, count(*)::BIGINT AS k_clusters FROM counts)
SELECT c.label, c.n_vectors,
  total / k_clusters AS target_size,
  c.n_vectors / (total / k_clusters) AS ratio,
  CASE WHEN c.n_vectors / (total / k_clusters) > {ivf.REBALANCE_SPLIT_RATIO} THEN 'split'
       WHEN c.n_vectors / (total / k_clusters) < {ivf.REBALANCE_MERGE_RATIO} THEN 'merge'
       ELSE 'keep' END AS action,
  CASE WHEN c.n_vectors / (total / k_clusters) < {ivf.REBALANCE_MERGE_RATIO}
       THEN n.nearest_label END AS merge_into,
  CASE WHEN c.n_vectors / (total / k_clusters) > {ivf.REBALANCE_SPLIT_RATIO}
       THEN ceil(c.n_vectors / (total / k_clusters))::BIGINT END AS n_splits
FROM counts c CROSS JOIN tot JOIN nearest n ON n.label = c.label
"""

QUERIES["ann_method_comparison"] = ivf.ann_method_comparison

# --- full value oracles for the PQ paths + the method-comparison grid --------
# The PQ codebook fit is deterministic and rounded per step, so the
# oracle replays it as staged CTEs (queries/_pq_oracle.py).
from gpu_accelerated_vector_indexing_spark.queries import _pq_oracle as _pq
from gpu_accelerated_vector_indexing_spark.queries import lsh_q as _lsh_q

ORACLES["knn_ivf_pq"] = _pq.knn_ivf_pq_sql(
    _IVF_CTES, QUERY_ID, dim=DIM, k=K, n_candidates=150
)
ORACLES["knn_ivf_pq_residual"] = _pq.knn_ivf_pq_residual_sql(
    _IVF_CTES, QUERY_ID, dim=DIM, k=K, n_candidates=150
)

# ann_method_comparison: every method's top-k is SQL-expressible — the
# exact-contract methods (sq8/bq) use the brute-force SQL their own
# oracles use, the IVF-composed exact methods reuse the shared IVF CTEs,
# LSH reuses its signature-replay oracle, and the PQ members use the
# staged-CTE replay. Each method runs as a nested-WITH subquery so CTE
# names never collide.
_AM_BRUTE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID})
SELECT e.vec_id FROM embeddings e CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id DESC LIMIT {K}
"""
_AM_IVF = _IVF_CTES + "SELECT vec_id FROM ivf_topk"
_AM_METHODS = {
    "ivf_np3": _AM_IVF,
    "lsh": _lsh_q.ORACLES["knn_lsh"],
    "sq8": _AM_BRUTE,
    "sq4": _AM_BRUTE,
    "ivf_sq8": _AM_IVF,
    "ivf_sq4": _AM_IVF,
    "pq": _pq.knn_pq_sql(QUERY_ID, dim=DIM, k=K, n_candidates=150),
    "bq": _AM_BRUTE,
    "ivf_bq": _AM_IVF,
    "ivf_pq": ORACLES["knn_ivf_pq"],
}
ORACLES["ann_method_comparison"] = (
    f"WITH am_exact AS MATERIALIZED (SELECT vec_id FROM ({_AM_BRUTE}))\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, count(*) AS n_hits,"
        f" round(count(*) / {K}.0, 6) AS recall"
        f" FROM ({sql}) m WHERE m.vec_id IN (SELECT vec_id FROM am_exact)"
        for name, sql in _AM_METHODS.items()
    )
)


# --- delete/compaction maintenance (r3) -------------------------------------

from gpu_accelerated_vector_indexing_spark.operators.ivf import (  # noqa: E402
    COMPACT_FRAC,
    DELETE_MOD,
    VECTOR_BYTES,
    delete_compact_plan,
    knn_with_deletes,
)

QUERIES["ivf_delete_compact"] = delete_compact_plan
QUERIES["knn_with_deletes"] = knn_with_deletes

ORACLES["ivf_delete_compact"] = f"""
WITH per AS (
  SELECT label, count(*)::BIGINT AS n_vectors,
         sum((vec_id % {DELETE_MOD} = 0)::INT)::BIGINT AS n_deleted
  FROM embeddings GROUP BY label
)
SELECT label, n_vectors, n_deleted,
       n_vectors - n_deleted AS n_live,
       n_deleted / n_vectors AS tombstone_frac,
       n_deleted / n_vectors >= {COMPACT_FRAC} AS compact,
       (n_vectors - n_deleted) * 64 * {VECTOR_BYTES} AS live_bytes
FROM per
"""

_COS_DEL = (
    "round(list_dot_product(e.embedding::DOUBLE[], q.qvec) /"
    " (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6)"
)
ORACLES["knn_with_deletes"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT e.vec_id, {_COS_DEL} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id % {DELETE_MOD} <> 0
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id DESC LIMIT 5
"""


# --- training-pair mining + drift monitoring (operators/mining.py) ------------
from gpu_accelerated_vector_indexing_spark.operators.mining import ANCHOR_IDS, N_NEG

_ANCHOR_IN = ", ".join(str(a) for a in ANCHOR_IDS)
ORACLES["contrastive_triplets"] = f"""
WITH anchors AS (
  SELECT e.vec_id AS anchor_id, e.label AS anchor_label, e.embedding::DOUBLE[] AS qvec
  FROM embeddings e WHERE e.vec_id IN ({_ANCHOR_IN})
),
scored AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
         round(list_dot_product(e.embedding::DOUBLE[], a.qvec) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(a.qvec, a.qvec)) + 1e-8), 6) AS score
  FROM embeddings e CROSS JOIN anchors a
  WHERE e.vec_id <> a.anchor_id
),
pos AS (
  SELECT anchor_id, 'pos' AS role, rn AS "rank", vec_id, score, label FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, vec_id DESC) AS rn
    FROM scored WHERE label = anchor_label
  ) WHERE rn = 1
),
neg AS (
  SELECT anchor_id, 'neg' AS role, rn AS "rank", vec_id, score, label FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, vec_id DESC) AS rn
    FROM scored WHERE label <> anchor_label
  ) WHERE rn <= {N_NEG}
)
SELECT * FROM pos UNION ALL SELECT * FROM neg
"""

ORACLES["embedding_drift"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
snap_flat AS (
  SELECT e.label, (e.vec_id % 2)::INT AS snap, d.i,
         round(avg(e.embedding[d.i]::DOUBLE), 8) AS v, count(*) AS n
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, e.vec_id % 2, d.i
),
snaps AS (
  SELECT label, snap, any_value(n) AS n, list(v ORDER BY i) AS c
  FROM snap_flat GROUP BY label, snap
),
t0 AS (SELECT label, n AS n_t0, c AS c0 FROM snaps WHERE snap = 0),
t1 AS (SELECT label, n AS n_t1, c AS c1 FROM snaps WHERE snap = 1)
SELECT label,
       coalesce(n_t0, 0) AS n_t0,
       coalesce(n_t1, 0) AS n_t1,
       CASE WHEN n_t0 IS NOT NULL AND n_t1 IS NOT NULL
            THEN round(n_t1 / n_t0::DOUBLE, 6) END AS growth,
       CASE WHEN c0 IS NOT NULL AND c1 IS NOT NULL
            THEN round(1.0 - list_dot_product(c0, c1) /
                 (sqrt(list_dot_product(c0, c0)) * sqrt(list_dot_product(c1, c1)) + 1e-8), 6)
       END AS cos_dist,
       CASE WHEN c0 IS NOT NULL AND c1 IS NOT NULL
            THEN round(sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> (c0[i] - c1[i]) * (c0[i] - c1[i])))), 6)
       END AS l2_shift
FROM t0 FULL JOIN t1 USING (label) ORDER BY label
"""


def _ivf_centroid_refresh(spark, sf_dir):
    """One deterministic Lloyd step over the index state: reassign →
    re-mean → per-label population + centroid displacement
    (operators/ivf.centroid_refresh). The maintenance ACTION the drift
    monitor feeds."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import centroid_refresh

    return centroid_refresh(spark, sf_dir)


QUERIES["ivf_centroid_refresh"] = _ivf_centroid_refresh

ORACLES["ivf_centroid_refresh"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label),
scored AS (
  SELECT e.vec_id, c.label AS c_label,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (e.embedding[i]::DOUBLE - c.centroid[i]) *
                    (e.embedding[i]::DOUBLE - c.centroid[i]))), 6) AS d2
  FROM embeddings e CROSS JOIN cent c
),
best AS (
  SELECT vec_id, c_label AS new_label FROM (
    SELECT vec_id, c_label,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
    FROM scored
  ) WHERE rn = 1
),
newflat AS (
  SELECT b.new_label AS label, d.i,
         round(avg(e.embedding[d.i]::DOUBLE), 8) AS v, count(*) AS n
  FROM best b JOIN embeddings e USING (vec_id) CROSS JOIN dims d
  GROUP BY b.new_label, d.i
),
newcent AS (
  SELECT label, any_value(n) AS n_assigned, list(v ORDER BY i) AS c
  FROM newflat GROUP BY label
)
SELECT o.label,
       coalesce(nc.n_assigned, 0) AS n_assigned,
       CASE WHEN nc.c IS NOT NULL
            THEN round(sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> (o.centroid[i] - nc.c[i]) * (o.centroid[i] - nc.c[i])))), 6)
       END AS l2_shift
FROM cent o LEFT JOIN newcent nc USING (label)
ORDER BY o.label
"""


def _knn_ivf_matryoshka(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_ivf_matryoshka

    return knn_ivf_matryoshka(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


QUERIES["knn_ivf_matryoshka"] = _knn_ivf_matryoshka

# IVF pruning + prefix-dim candidate scan + exact rescore: the oracle
# replays the coarse probes (shared CTEs) and both matryoshka stages
# with the same 6 d.p. / vec_id DESC candidate determinism.
from gpu_accelerated_vector_indexing_spark.operators.knn import (  # noqa: E402
    MRL_CANDIDATES,
    MRL_PREFIX_DIM,
)

ORACLES["knn_ivf_matryoshka"] = _ivf_ctes(N_PROBE) + f""",
probed AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  WHERE e.label IN (SELECT label FROM probes)
),
s1 AS (
  SELECT p.vec_id,
         round(list_dot_product(p.embedding[1:{MRL_PREFIX_DIM}]::DOUBLE[], q.qvec[1:{MRL_PREFIX_DIM}]) /
               (sqrt(list_dot_product(p.embedding[1:{MRL_PREFIX_DIM}]::DOUBLE[],
                                      p.embedding[1:{MRL_PREFIX_DIM}]::DOUBLE[])) *
                sqrt(list_dot_product(q.qvec[1:{MRL_PREFIX_DIM}], q.qvec[1:{MRL_PREFIX_DIM}])) + 1e-8), 6) AS s16
  FROM probed p CROSS JOIN q
),
cand AS (SELECT vec_id FROM s1 ORDER BY s16 DESC, vec_id DESC LIMIT {MRL_CANDIDATES}),
rescore AS (
  SELECT p.vec_id,
         round(list_dot_product(p.embedding::DOUBLE[], q.qvec) /
               (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6) AS score
  FROM probed p JOIN cand USING (vec_id) CROSS JOIN q
)
SELECT vec_id, score FROM rescore ORDER BY score DESC, vec_id DESC LIMIT {K}
"""

# r4: the comparison harness gains the matryoshka rungs — rebuild its
# oracle with the extended method map now that knn_ivf_matryoshka's SQL
# exists (the operator added "mrl"/"ivf_mrl" in ivf.ann_method_comparison).
from gpu_accelerated_vector_indexing_spark.queries import knn_q as _knn_q  # noqa: E402

_AM_METHODS["mrl"] = _knn_q.ORACLES["knn_matryoshka"]
_AM_METHODS["ivf_mrl"] = ORACLES["knn_ivf_matryoshka"]

# r4: the harness also gains the graph index's two rungs. Their top-ks
# come from ONE shared build replay (method_topk_sql replays the
# NN-descent build once and runs both beams over it) and are compared
# against the SAME materialized am_exact as every other row — one exact
# definition for all 12 methods, no second brute-force derivation. The
# VALUES spine keeps a zero-hit method as an explicit 0-recall row
# (a bare GROUP BY would drop it and break the row-count match).
from gpu_accelerated_vector_indexing_spark.queries._graph_ann_oracle import (  # noqa: E402
    method_topk_sql as _graph_method_topk_sql,
)

ORACLES["ann_method_comparison"] = (
    f"WITH am_exact AS MATERIALIZED (SELECT vec_id FROM ({_AM_BRUTE}))\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, count(*) AS n_hits,"
        f" round(count(*) / {K}.0, 6) AS recall"
        f" FROM ({sql}) m WHERE m.vec_id IN (SELECT vec_id FROM am_exact)"
        for name, sql in _AM_METHODS.items()
    )
    + f"""
UNION ALL
SELECT spine.method, count(g.vec_id) AS n_hits,
       round(count(g.vec_id) / {K}.0, 6) AS recall
FROM (VALUES ('graph_beam'), ('graph_beam_bq')) spine(method)
LEFT JOIN (
  SELECT method, vec_id FROM ({_graph_method_topk_sql(QUERY_ID, k=K)}) t
  WHERE t.vec_id IN (SELECT vec_id FROM am_exact)
) g ON g.method = spine.method
GROUP BY spine.method"""
)

# --- PQ index-state persistence roundtrip (r4) -------------------------------
from gpu_accelerated_vector_indexing_spark.operators.quantize import (  # noqa: E402
    PQ_ITERS,
    pq_state_roundtrip,
)

QUERIES["pq_state_roundtrip"] = pq_state_roundtrip

# the oracle replays the deterministic Lloyd fit + corpus encode from
# raw embeddings and computes the SAME exact-integer checksums the
# Spark side reads back off the persisted parquet state
_PQ_MICROSUM = "CAST(sum(list_sum(list_transform(c, v -> CAST(floor(v * 1000000) AS BIGINT)))) AS BIGINT)"
ORACLES["pq_state_roundtrip"] = f"""
WITH {_pq.pq_replay_ctes(QUERY_ID, DIM)}
SELECT
  (SELECT count(*) FROM pq_c{PQ_ITERS}) AS n_codewords,
  (SELECT {_PQ_MICROSUM} FROM pq_c{PQ_ITERS}) AS book_checksum,
  (SELECT count(DISTINCT vec_id) FROM pq_codes) AS n_code_rows,
  (SELECT {_PQ_MICROSUM} FROM pq_codes) AS recon_checksum
"""

# --- compression-error audit (r4) --------------------------------------------
from gpu_accelerated_vector_indexing_spark.operators.quantize import (  # noqa: E402
    SPAN_GUARD,
    SQ_LEVELS,
    compression_error_audit,
)

QUERIES["ann_compression_error"] = compression_error_audit

# The oracle replays BOTH quantizers from the raw embeddings: the SQ8
# per-dimension min/max affine codes, and the staged Lloyd-fit PQ
# encode (shared pq_replay_ctes). Errors use the same three-dot
# decomposition dot(a,a) - 2*dot(a,b) + dot(b,b), rounded to 6 d.p.
# THEN scaled to exact LONG micro-units, so sums are order-free.
_SQERR = (
    "CAST(round(round("
    "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, r.rv)"
    " + list_dot_product(r.rv, r.rv), 6) * 1e6) AS BIGINT)"
)
_PQERR = (
    "CAST(round(round("
    "list_dot_product(a.x, a.x) - 2 * list_dot_product(a.x, k.c)"
    " + list_dot_product(k.c, k.c), 6) * 1e6) AS BIGINT)"
)
# pqr_allsub/pqr_codes (the residual replay) need the shared `cent`/`q`
# CTEs in scope, so the statement leads with the IVF CTE prefix.
ORACLES["ann_compression_error"] = _IVF_CTES + "," + f"""
{_pq.pq_replay_ctes(QUERY_ID, DIM)},
{_pq.pq_replay_ctes(QUERY_ID, DIM, residual=True)},
ce_e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ce_stats AS (
  SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
  FROM ce_e CROSS JOIN (SELECT unnest(range(1, {DIM + 1})) AS i) d
  GROUP BY i),
ce_l AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM ce_stats),
ce_rv AS (
  SELECT e.vec_id,
         list_transform(generate_series(1, {DIM}),
           i -> round((e.v[i] - l.lo[i]) / (l.hi[i] - l.lo[i] + {SPAN_GUARD}) * {SQ_LEVELS})
                * (l.hi[i] - l.lo[i] + {SPAN_GUARD}) / {SQ_LEVELS} + l.lo[i]) AS rv
  FROM ce_e e CROSS JOIN ce_l l),
ce_sq_err AS (
  SELECT {_SQERR} AS err FROM ce_e e JOIN ce_rv r USING (vec_id)),
ce_pq_err AS (
  SELECT a.vec_id, CAST(sum({_PQERR}) AS BIGINT) AS err
  FROM pq_allsub a JOIN pq_codes k ON a.s = k.s AND a.vec_id = k.vec_id
  GROUP BY a.vec_id),
ce_pqr_err AS (
  SELECT a.vec_id, CAST(sum({_PQERR}) AS BIGINT) AS err
  FROM pqr_allsub a JOIN pqr_codes k ON a.s = k.s AND a.vec_id = k.vec_id
  GROUP BY a.vec_id)
SELECT 'sq8' AS method, count(*) AS n_vectors,
       CAST(sum(err) AS BIGINT) AS err_micro_sum, max(err) AS err_micro_max
FROM ce_sq_err
UNION ALL
SELECT 'pq' AS method, count(*) AS n_vectors,
       CAST(sum(err) AS BIGINT) AS err_micro_sum, max(err) AS err_micro_max
FROM ce_pq_err
UNION ALL
SELECT 'pq_residual' AS method, count(*) AS n_vectors,
       CAST(sum(err) AS BIGINT) AS err_micro_sum, max(err) AS err_micro_max
FROM ce_pqr_err
"""

# --- filtered-search recall harness (r4) --------------------------------------
from gpu_accelerated_vector_indexing_spark.queries._graph_ann_oracle import (  # noqa: E402
    beam_search_sql as _beam_search_sql,
)

QUERIES["filtered_method_recall"] = partial(
    ivf.filtered_method_recall, query_id=QUERY_ID, k=K, n_probe=N_PROBE, lang="en"
)

# each member reuses its OWN registered oracle as a nested subquery;
# the exact side is knn_filtered's (filter BEFORE scoring, same as the
# Spark operator)
_FM_METHODS = {
    "ivf_filtered": ORACLES["knn_ivf_filtered"],
    "graph_beam_filtered": _beam_search_sql(query_id=QUERY_ID, k=K, lang="en"),
}
ORACLES["filtered_method_recall"] = (
    "WITH fm_exact AS MATERIALIZED (SELECT vec_id FROM ("
    + _knn_q.ORACLES["knn_filtered"]
    + "))\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, count(*) AS n_hits,"
        f" round(count(*) / {K}.0, 6) AS recall"
        f" FROM ({sql}) m WHERE m.vec_id IN (SELECT vec_id FROM fm_exact)"
        for name, sql in _FM_METHODS.items()
    )
)


# --- r6: IVF × SQ4 composition rung -------------------------------------------
def _knn_ivf_sq4(spark, sf_dir):
    """IVF pruning × SQ4 compressed scan × exact rescore — equals the
    exact fine search within the probed set, so it shares the IVF oracle."""
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_ivf_sq4

    return knn_ivf_sq4(spark, sf_dir, query_id=QUERY_ID, k=K, n_probe=N_PROBE)


QUERIES["knn_ivf_sq4"] = _knn_ivf_sq4
ORACLES["knn_ivf_sq4"] = ORACLES["knn_ivf_sq8"]


# --- r7: ranking-aware eval + shard-merged index build ---------------------

NDCG_PROBE_GRID = (1, 3, 5)

QUERIES["retrieval_ndcg"] = partial(
    ivf.retrieval_ndcg, query_id=QUERY_ID, k=K, n_probes=NDCG_PROBE_GRID
)


def _ndcg_at(n_probe: int) -> str:
    """NDCG@k / MRR / recall@k of the IVF top-k vs exact — one row.
    Per-term DCG contributions rounded to 12 d.p. then summed as
    DECIMAL(38,12) (order-free), divided by the same-rounded IDCG."""
    return (
        _ivf_ctes(n_probe)
        + f""",
ranked AS (
  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id DESC) AS rnk
  FROM ivf_topk
),
exact AS (
  SELECT e.vec_id FROM embeddings e CROSS JOIN q
  ORDER BY {_COS_Q} DESC, e.vec_id DESC LIMIT {K}
),
hits AS (SELECT rnk FROM ranked WHERE vec_id IN (SELECT vec_id FROM exact)),
idcg AS (
  SELECT CAST(sum(CAST(round(1.0 / log2(i + 1), 12) AS DECIMAL(38,12))) AS DOUBLE) AS v
  FROM range(1, {K + 1}) t(i)
)
SELECT {n_probe} AS n_probe,
       round(count(*) / {K}.0, 6) AS recall,
       round(coalesce(1.0 / min(rnk), 0.0), 6) AS mrr,
       round(coalesce(CAST(sum(CAST(round(1.0 / log2(rnk + 1), 12) AS DECIMAL(38,12))) AS DOUBLE), 0.0)
             / (SELECT v FROM idcg), 6) AS ndcg
FROM hits
"""
    )


ORACLES["retrieval_ndcg"] = (
    "SELECT n_probe, recall, mrr, ndcg FROM (\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM ({_ndcg_at(p)})" for p in NDCG_PROBE_GRID)
    + "\n) ORDER BY n_probe"
)

# Shard-merged build must reproduce the single-build index exactly
# (merged (sum, count) stats → the same 8-d.p. centroids → the same
# probes → the same pruned fine scan) — shares knn_ivf's full oracle.
QUERIES["knn_ivf_shard_merge"] = partial(
    ivf.knn_ivf_shard_merge, query_id=QUERY_ID, k=K, n_probe=N_PROBE, n_shards=2
)
ORACLES["knn_ivf_shard_merge"] = _IVF_CTES + "SELECT vec_id, score FROM ivf_topk"

# r8: the lifecycle CLOSE — shard build → persisted partials → merge
# FROM DISK → standard engine layout → facade search (the IVF twin of
# graph_merge_serve); value-pinned by knn_ivf's full oracle, so the
# whole persisted handoff must be value-neutral.
QUERIES["engine_ivf_merge_serve"] = partial(
    ivf.ivf_merge_serve, query_id=QUERY_ID, k=K, n_probe=N_PROBE, n_shards=2
)
ORACLES["engine_ivf_merge_serve"] = ORACLES["knn_ivf_shard_merge"]

# Shard-partial persistence: build partials anywhere, ship parquet,
# merge elsewhere — digest pinned against the corpus-derived centroids.
QUERIES["ivf_shard_state_roundtrip"] = ivf.ivf_shard_state_roundtrip
ORACLES["ivf_shard_state_roundtrip"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
)
SELECT count(DISTINCT label)::BIGINT AS n_labels,
       max(i)::INT AS dim,
       count(*)::BIGINT AS n_components,
       sum(CAST(round(v * 1e8) AS BIGINT))::BIGINT AS centroid_sum_micro
FROM cent_flat
"""

# Embedding-corpus quality audit: distance-to-own-centroid outliers.
QUERIES["embedding_outliers"] = ivf.embedding_outliers
ORACLES["embedding_outliers"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label),
scored AS (
  SELECT e.label, e.vec_id,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (e.embedding[i]::DOUBLE - c.centroid[i]) * (e.embedding[i]::DOUBLE - c.centroid[i]))), 6) AS d2
  FROM embeddings e JOIN cent c ON e.label = c.label
),
per_label AS (
  SELECT label,
         count(*)::BIGINT AS n_members,
         round(CAST(sum(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_d2
  FROM scored GROUP BY label
),
worst AS (
  SELECT label, vec_id AS worst_vec_id, d2 AS worst_d2
  FROM (SELECT label, vec_id, d2,
               row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id DESC) AS rk
        FROM scored)
  WHERE rk = 1
),
outl AS (
  SELECT s.label, count(*)::BIGINT AS n_outliers
  FROM scored s JOIN per_label p ON s.label = p.label
  WHERE s.d2 > p.mean_d2 * {ivf.OUTLIER_FACTOR}
  GROUP BY s.label
)
SELECT p.label, p.n_members, p.mean_d2,
       coalesce(o.n_outliers, 0)::BIGINT AS n_outliers,
       w.worst_vec_id, w.worst_d2
FROM per_label p JOIN worst w ON p.label = w.label
LEFT JOIN outl o ON p.label = o.label
ORDER BY p.label
"""

# Adaptive probing: the probe set = clusters within DELTA of the best
# coarse score — same staged CTEs with the gap rule replacing the LIMIT.
QUERIES["knn_ivf_adaptive"] = partial(ivf.knn_ivf_adaptive, query_id=QUERY_ID, k=K)
ORACLES["knn_ivf_adaptive"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID}),
coarse AS (
  SELECT c.label,
         round(list_dot_product(c.centroid, q.qvec) /
               (sqrt(list_dot_product(c.centroid, c.centroid)) *
                sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6) AS cscore
  FROM cent c CROSS JOIN q
),
probes AS (
  SELECT label FROM coarse
  WHERE cscore >= (SELECT max(cscore) FROM coarse) - {ivf.ADAPTIVE_DELTA}
),
fine AS (
  SELECT e.vec_id, {_COS_Q} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (SELECT label FROM probes)
)
SELECT vec_id, score FROM fine ORDER BY score DESC, vec_id DESC LIMIT {K}
"""

# Adaptive-probe trade-off curve: (delta, n_probes, recall) per gap.
ADAPTIVE_DELTAS = (0.05, 0.1, 0.2)
QUERIES["ivf_adaptive_sweep"] = partial(
    ivf.ivf_adaptive_sweep, query_id=QUERY_ID, k=K, deltas=ADAPTIVE_DELTAS
)


def _adaptive_at(delta: float) -> str:
    return f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (SELECT label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label),
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID}),
coarse AS (
  SELECT c.label,
         round(list_dot_product(c.centroid, q.qvec) /
               (sqrt(list_dot_product(c.centroid, c.centroid)) *
                sqrt(list_dot_product(q.qvec, q.qvec)) + 1e-8), 6) AS cscore
  FROM cent c CROSS JOIN q
),
probes AS (
  SELECT label FROM coarse
  WHERE cscore >= (SELECT max(cscore) FROM coarse) - {delta}
),
fine AS (
  SELECT e.vec_id, {_COS_Q} AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (SELECT label FROM probes)
),
topk AS (SELECT vec_id FROM fine ORDER BY score DESC, vec_id DESC LIMIT {K}),
exact AS (
  SELECT e.vec_id FROM embeddings e CROSS JOIN q
  ORDER BY {_COS_Q} DESC, e.vec_id DESC LIMIT {K}
)
SELECT {delta} AS delta,
       CAST((SELECT count(*) FROM probes) AS INT) AS n_probes,
       count(*) AS n_hits,
       round(count(*) / {K}.0, 6) AS recall
FROM topk WHERE vec_id IN (SELECT vec_id FROM exact)
"""


ORACLES["ivf_adaptive_sweep"] = (
    "SELECT delta, n_probes, n_hits, recall FROM (\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM ({_adaptive_at(d)})" for d in ADAPTIVE_DELTAS)
    + "\n) ORDER BY delta"
)


# --- r9: CDC → incremental index refresh (snapshot-diff composition) --------
# The refreshed layout (base build on the OLD snapshot, tombstones for
# removed+changed, nearest-stored-centroid appends for added+changed)
# must serve EXACTLY the new snapshot: the oracle re-derives the new
# snapshot's embeddings from text (the ONE featurizer CTE restatement,
# knn_q.embed_cte) and brute-forces the same query — full-probe reads
# are brute force over live rows, so centroid drift cannot excuse a
# mismatch. Snapshot slices/edit restate curation's ONE definition.
QUERIES["index_refresh_cdc"] = index_build.index_refresh_cdc


def _index_refresh_cdc_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import new_snapshot_rel_sql
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    return embed_cte(
        docs_rel=new_snapshot_rel_sql(),
        query_text=index_build.CDC_QUERY_TEXT,
    ) + f"""
SELECT doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""


ORACLES["index_refresh_cdc"] = _index_refresh_cdc_oracle()


# The refresh's monitoring row: diff-class counts, write accounting
# (appends = added+changed, tombstones = removed+changed), live rows
# (= new snapshot size) — the oracle re-derives all seven numbers from
# the snapshot definitions alone, so a value match certifies the
# refresh accounting without trusting any engine-side state.
QUERIES["index_refresh_stats"] = index_build.index_refresh_stats


def _index_refresh_stats_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        snapshot_diff_ctes_sql,
    )

    return f"""
WITH {snapshot_diff_ctes_sql()},
c AS (
  SELECT sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
         sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
         sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged
  FROM diff
)
SELECT n_added, n_removed, n_changed, n_unchanged,
       n_added + n_changed AS n_appended,
       n_removed + n_changed AS n_tombstoned,
       (SELECT count(*) FROM new_snap)::BIGINT AS n_live
FROM c
"""


ORACLES["index_refresh_stats"] = _index_refresh_stats_oracle()


# Compaction close: serving through the COMPACTED layout (tombstones
# folded into the files, list emptied) must hit the refresh oracle
# unchanged — live rows before ≡ rows after, by construction.
QUERIES["index_refresh_compacted"] = index_build.index_refresh_compacted
ORACLES["index_refresh_compacted"] = ORACLES["index_refresh_cdc"]


# --- r10: generation 2 — the refresh as a LOOP (snapshot N → N+1 → N+2) -----
# Two stacked refresh cycles must serve EXACTLY snapshot N+2: cycle-2
# tombstones (dead-gen 1) retire cycle-1 APPENDS (docs edited twice,
# docs added then removed), a cycle-1 tombstone must not shadow a
# cycle-2 resurrection, and compaction can run MID-sequence. The
# oracle is the same brute-force-over-snapshot shape as cycle 1's,
# pointed at the v3 relation — full-probe reads are exact over live
# rows, so a value match certifies both tombstone generations.
QUERIES["index_refresh_cdc_gen2"] = index_build.index_refresh_cdc_gen2


def _index_refresh_cdc_gen2_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import v3_snapshot_rel_sql
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    return embed_cte(
        docs_rel=v3_snapshot_rel_sql(),
        query_text=index_build.CDC_QUERY_TEXT,
    ) + f"""
SELECT doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""


ORACLES["index_refresh_cdc_gen2"] = _index_refresh_cdc_gen2_oracle()

# Mid-sequence maintenance: base → refresh → COMPACT → refresh serves
# the same rows — compaction preserves gen stamps, so the next cycle's
# dead-gen-1 tombstones still retire exactly the rows they name.
QUERIES["index_refresh_gen2_compact_mid"] = index_build.index_refresh_gen2_compact_mid
ORACLES["index_refresh_gen2_compact_mid"] = ORACLES["index_refresh_cdc_gen2"]


# Two-cycle accounting: cycle-2 diff class counts + both cycles' write
# accounting + the final live count (= |v3|) — every number re-derived
# from the snapshot definitions alone.
QUERIES["index_refresh_gen2_stats"] = index_build.index_refresh_gen2_stats


def _index_refresh_gen2_stats_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        snapshot_diff_ctes_sql,
        snapshot_diff_v3_ctes_sql,
    )

    return f"""
WITH {snapshot_diff_ctes_sql()},
{snapshot_diff_v3_ctes_sql()},
c1 AS (
  SELECT sum(CASE WHEN status IN ('added', 'changed') THEN 1 ELSE 0 END)::BIGINT AS n_appended_c1,
         sum(CASE WHEN status IN ('removed', 'changed') THEN 1 ELSE 0 END)::BIGINT AS n_tombstoned_c1
  FROM diff
),
c2 AS (
  SELECT sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added_c2,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed_c2,
         sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed_c2,
         sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged_c2,
         sum(CASE WHEN status IN ('added', 'changed') THEN 1 ELSE 0 END)::BIGINT AS n_appended_c2,
         sum(CASE WHEN status IN ('removed', 'changed') THEN 1 ELSE 0 END)::BIGINT AS n_tombstoned_c2
  FROM diff3
)
SELECT n_added_c2, n_removed_c2, n_changed_c2, n_unchanged_c2,
       n_appended_c1, n_tombstoned_c1, n_appended_c2, n_tombstoned_c2,
       (SELECT count(*) FROM v3_snap)::BIGINT AS n_live
FROM c1 CROSS JOIN c2
"""


ORACLES["index_refresh_gen2_stats"] = _index_refresh_gen2_stats_oracle()


# --- r10 cont.: time-travel reads over the multi-generation layout ----------
# The gen stamps ARE a version history: asof 0/1/2 reconstruct the
# base / N+1 / N+2 snapshots from the ONE twice-refreshed layout. The
# oracle brute-forces each snapshot's text independently (three
# embed_cte blocks over the three snapshot relation definitions), so a
# value match certifies the visibility rule — gen-windowed writes minus
# gen-windowed retirements — reproduces all three corpus versions.
QUERIES["index_read_asof_gen"] = index_build.index_read_asof_gen


def _index_read_asof_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        new_snapshot_rel_sql,
        old_snapshot_rel_sql,
        v3_snapshot_rel_sql,
    )
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    def block(v: int, rel: str) -> str:
        return embed_cte(docs_rel=rel, query_text=index_build.CDC_QUERY_TEXT) + f"""
SELECT {v} AS asof_gen, doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""

    rels = [old_snapshot_rel_sql(), new_snapshot_rel_sql(), v3_snapshot_rel_sql()]
    return (
        "SELECT asof_gen, doc_id, score FROM (\n"
        + "\nUNION ALL\n".join(f"SELECT * FROM ({block(v, rel)})" for v, rel in enumerate(rels))
        + "\n)"
    )


ORACLES["index_read_asof_gen"] = _index_read_asof_oracle()


# --- r10 cont.: predicate-driven deletes (DELETE FROM index WHERE ...) ------
# Tombstones from a retention/compliance predicate over the catalog —
# the oracle carves the purged sources out of the base-snapshot
# relation and brute-forces the remainder: a value match certifies the
# catalog semi-join tombstoned exactly the predicate's rows.
QUERIES["index_delete_where"] = index_build.index_delete_where


def _index_delete_where_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        old_snapshot_rel_sql,
    )
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    srcs = ", ".join(f"'{s}'" for s in index_build.DELETE_WHERE_SOURCES)
    rel = old_snapshot_rel_sql(alias="live_docs", where=f"source NOT IN ({srcs})")
    return embed_cte(docs_rel=rel, query_text=index_build.CDC_QUERY_TEXT) + f"""
SELECT doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""


ORACLES["index_delete_where"] = _index_delete_where_oracle()


# --- r10 cont.: EXECUTE the rebalance plan's split half ----------------------
# The accounting oracle replays the whole split rule from the fixture
# alone — plan thresholds → min/max-vec_id seeds → rounded-d2 nearer-
# seed assignment → dense new ids — and pins the WRITTEN layout's
# member sets via (count, id_sum, id_min, id_max) per cluster. The
# serve query must hit knn_bruteforce's oracle unchanged: splitting
# partitions moves no vector.
QUERIES["ivf_rebalance_apply"] = ivf.ivf_rebalance_apply
QUERIES["ivf_rebalance_serve"] = partial(ivf.ivf_rebalance_serve, k=K)

ORACLES["ivf_rebalance_apply"] = f"""
WITH counts AS (SELECT label, count(*)::BIGINT AS n_vectors FROM embeddings GROUP BY label),
tot AS (SELECT sum(n_vectors)::BIGINT AS total, count(*)::BIGINT AS k_clusters FROM counts),
split AS (
  SELECT label FROM counts CROSS JOIN tot
  WHERE n_vectors / (total / k_clusters) > {ivf.REBALANCE_SPLIT_RATIO}
),
maxl AS (SELECT max(label) AS max_label FROM embeddings),
hi_map AS (
  SELECT label, (max_label + row_number() OVER (ORDER BY label))::INT AS hi_label
  FROM split CROSS JOIN maxl
),
seed_ids AS (
  SELECT label, min(vec_id) AS lo_id, max(vec_id) AS hi_id
  FROM embeddings WHERE label IN (SELECT label FROM split) GROUP BY label
),
seeds AS (
  SELECT s.label, el.embedding AS s_lo, eh.embedding AS s_hi
  FROM seed_ids s
  JOIN embeddings el ON el.vec_id = s.lo_id
  JOIN embeddings eh ON eh.vec_id = s.hi_id
),
assigned AS (
  SELECT e.label, e.vec_id,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (e.embedding[i]::DOUBLE - s.s_hi[i]::DOUBLE) * (e.embedding[i]::DOUBLE - s.s_hi[i]::DOUBLE))), 6)
       < round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (e.embedding[i]::DOUBLE - s.s_lo[i]::DOUBLE) * (e.embedding[i]::DOUBLE - s.s_lo[i]::DOUBLE))), 6) AS hi
  FROM embeddings e JOIN seeds s ON s.label = e.label
),
relabeled AS (
  SELECT CASE WHEN a.hi THEN h.hi_label ELSE a.label END AS cluster, a.vec_id
  FROM assigned a JOIN hi_map h ON h.label = a.label
  UNION ALL
  SELECT e.label AS cluster, e.vec_id FROM embeddings e
  WHERE e.label NOT IN (SELECT label FROM split)
)
SELECT cluster, count(*)::BIGINT AS n_vectors, sum(vec_id)::BIGINT AS id_sum,
       min(vec_id) AS id_min, max(vec_id) AS id_max
FROM relabeled GROUP BY cluster
"""

ORACLES["ivf_rebalance_serve"] = _knn_q.ORACLES["knn_bruteforce"]


# The merge half: cold clusters donate all members to the plan's
# merge_into target (nearest other centroid, the plan oracle's own
# recipe), applied simultaneously against original labels. Same
# member-set accounting pin; same serve-unchanged pin.
QUERIES["ivf_rebalance_merge_apply"] = ivf.ivf_rebalance_merge_apply
QUERIES["ivf_rebalance_merge_serve"] = partial(ivf.ivf_rebalance_merge_serve, k=K)

ORACLES["ivf_rebalance_merge_apply"] = f"""
WITH dims AS (SELECT i FROM range(1, {DIM + 1}) t(i)),
cent_flat AS (
  SELECT e.label, d.i, round(avg(e.embedding[d.i]::DOUBLE), 8) AS v
  FROM embeddings e CROSS JOIN dims d
  GROUP BY e.label, d.i
),
cent AS (
  SELECT label AS c_label, list(v ORDER BY i) AS centroid FROM cent_flat GROUP BY label
),
pairs AS (
  SELECT a.c_label AS label, b.c_label AS nbr,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (a.centroid[i] - b.centroid[i]) * (a.centroid[i] - b.centroid[i]))), 6) AS d2
  FROM cent a JOIN cent b ON a.c_label <> b.c_label
),
nearest AS (
  SELECT label, nbr AS merge_into FROM (
    SELECT label, nbr, row_number() OVER (PARTITION BY label ORDER BY d2, nbr) AS rn FROM pairs
  ) WHERE rn = 1
),
counts AS (SELECT label, count(*)::BIGINT AS n_vectors FROM embeddings GROUP BY label),
tot AS (SELECT sum(n_vectors)::BIGINT AS total, count(*)::BIGINT AS k_clusters FROM counts),
mrg AS (
  SELECT label FROM counts CROSS JOIN tot
  WHERE n_vectors / (total / k_clusters) < {ivf.REBALANCE_MERGE_RATIO}
),
relabeled AS (
  SELECT n.merge_into AS cluster, e.vec_id
  FROM embeddings e JOIN nearest n ON n.label = e.label
  WHERE e.label IN (SELECT label FROM mrg)
  UNION ALL
  SELECT e.label AS cluster, e.vec_id FROM embeddings e
  WHERE e.label NOT IN (SELECT label FROM mrg)
)
SELECT cluster, count(*)::BIGINT AS n_vectors, sum(vec_id)::BIGINT AS id_sum,
       min(vec_id) AS id_min, max(vec_id) AS id_max
FROM relabeled GROUP BY cluster
"""

ORACLES["ivf_rebalance_merge_serve"] = _knn_q.ORACLES["knn_bruteforce"]


# Time travel's observability row: the layout's full write/retire
# history — per version: rows appended, tombstones emitted, rows
# visible as-of — every number re-derived from the snapshot
# definitions alone (the diff class counts and snapshot sizes).
QUERIES["index_history_stats"] = index_build.index_history_stats


def _index_history_stats_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        snapshot_diff_ctes_sql,
        snapshot_diff_v3_ctes_sql,
    )

    return f"""
WITH {snapshot_diff_ctes_sql()},
{snapshot_diff_v3_ctes_sql()}
SELECT 0::INT AS gen,
       (SELECT count(*) FROM old_snap)::BIGINT AS n_written,
       0::BIGINT AS n_retired,
       (SELECT count(*) FROM old_snap)::BIGINT AS n_live
UNION ALL
SELECT 1::INT,
       (SELECT count(*) FROM diff WHERE status IN ('added', 'changed'))::BIGINT,
       (SELECT count(*) FROM diff WHERE status IN ('removed', 'changed'))::BIGINT,
       (SELECT count(*) FROM new_snap)::BIGINT
UNION ALL
SELECT 2::INT,
       (SELECT count(*) FROM diff3 WHERE status IN ('added', 'changed'))::BIGINT,
       (SELECT count(*) FROM diff3 WHERE status IN ('removed', 'changed'))::BIGINT,
       (SELECT count(*) FROM v3_snap)::BIGINT
"""


ORACLES["index_history_stats"] = _index_history_stats_oracle()


# The two lifecycles composed: refresh → refresh → rebalance serves
# the gen-2 oracle unchanged (maintenance moves no value) while the
# split pass heals the cluster skew the nearest-stored-centroid
# appends introduced.
QUERIES["index_refresh_rebalanced"] = index_build.index_refresh_rebalanced
ORACLES["index_refresh_rebalanced"] = ORACLES["index_refresh_cdc_gen2"]


# --- r10 cont.: the curation gate on the refresh path ------------------------
# Only quality-passing upserts re-enter the index; failing edits are
# tombstoned and NOT re-appended (dropped from serving). The oracle
# brute-forces the gated corpus: unchanged docs ∪ quality-passing
# added/changed docs, all at their new text.
QUERIES["index_refresh_gated"] = index_build.index_refresh_gated


def _index_refresh_gated_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.operators import curation as C
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        new_snapshot_rel_sql,
        quality_keep_ids_sql,
    )
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    keep_rel = quality_keep_ids_sql(new_snapshot_rel_sql("ks"))
    gated_rel = f"""(
  SELECT ns.doc_id, ns.text
  FROM {new_snapshot_rel_sql("ns")}
  WHERE (ns.doc_id % {C.SNAP_REMOVED_MOD} <> {C.SNAP_REMOVED_REM}
         AND ns.doc_id % {C.SNAP_EDIT_MOD} <> {C.SNAP_EDIT_REM})
     OR ns.doc_id IN (SELECT doc_id FROM {keep_rel})
) gated_corpus"""
    return embed_cte(docs_rel=gated_rel, query_text=index_build.CDC_QUERY_TEXT) + f"""
SELECT doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""


ORACLES["index_refresh_gated"] = _index_refresh_gated_oracle()


# --- r10 cont.: selectivity-planned filtered search --------------------------
# Two registered variants exercise BOTH planner branches: 'fr' (~15%
# of docs) goes pre-filter, 'en' (~43%) goes post-filter through the
# IVF probes. The oracle replays the plan choice itself: both branches
# are guarded by the same exact-selectivity predicate, so exactly one
# emits rows — a value match certifies strategy AND results.
QUERIES["knn_filtered_planned_narrow"] = partial(
    ivf.knn_filtered_planned, query_id=QUERY_ID, k=K, lang="fr", n_probe=N_PROBE
)
QUERIES["knn_filtered_planned_broad"] = partial(
    ivf.knn_filtered_planned, query_id=QUERY_ID, k=K, lang="en", n_probe=N_PROBE
)


def _knn_filtered_planned_oracle(lang: str) -> str:
    sel = (
        f"(SELECT sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END)::DOUBLE"
        f" / count(*)::DOUBLE FROM documents)"
    )
    allowed = f" AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = '{lang}')"
    pre = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_ID}),
fine AS (
  SELECT e.vec_id, {_COS_Q} AS score
  FROM embeddings e CROSS JOIN q
  WHERE true{allowed}
)
SELECT 'prefilter' AS strategy, vec_id, score FROM fine
WHERE {sel} < {ivf.PLAN_SELECTIVITY_CUTOFF}
ORDER BY score DESC, vec_id DESC LIMIT {K}
"""
    post = f"""{_ivf_ctes(N_PROBE, fine_where=allowed)}
SELECT 'postfilter' AS strategy, vec_id, score FROM fine
WHERE {sel} >= {ivf.PLAN_SELECTIVITY_CUTOFF}
ORDER BY score DESC, vec_id DESC LIMIT {K}
"""
    return (
        "SELECT strategy, vec_id, score FROM (\n"
        f"SELECT * FROM ({pre})\nUNION ALL\nSELECT * FROM ({post})\n)"
    )


ORACLES["knn_filtered_planned_narrow"] = _knn_filtered_planned_oracle("fr")
ORACLES["knn_filtered_planned_broad"] = _knn_filtered_planned_oracle("en")


# --- r10 cont.: embedder-version migration ------------------------------------
# The full-corpus rewrite event: a new embedder changes EVERY vector,
# so v2 is a parallel layout and both versions serve during cutover,
# each with its own query embedder. The oracle re-derives both
# geometries from text (featurizer CTE at salt "" and at the v2 salt).
QUERIES["index_embedder_migration"] = index_build.index_embedder_migration


def _index_embedder_migration_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.curation_q import (
        old_snapshot_rel_sql,
    )
    from gpu_accelerated_vector_indexing_spark.queries.knn_q import embed_cte

    def block(version: str, salt: str) -> str:
        return embed_cte(
            docs_rel=old_snapshot_rel_sql(),
            query_text=index_build.CDC_QUERY_TEXT,
            salt=salt,
        ) + f"""
SELECT '{version}' AS version, doc_id,
       round(list_dot_product(c.emb, q.q) /
             (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q, q.q)) + 1e-8),
             6) AS score
FROM corpus c CROSS JOIN qvec q
ORDER BY score DESC, doc_id DESC LIMIT {K}
"""

    return (
        "SELECT version, doc_id, score FROM (\n"
        + "\nUNION ALL\n".join(
            f"SELECT * FROM ({block(v, s)})"
            for v, s in (("v1", ""), ("v2", index_build.EMBEDDER_V2_SALT))
        )
        + "\n)"
    )


ORACLES["index_embedder_migration"] = _index_embedder_migration_oracle()
