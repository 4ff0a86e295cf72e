from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.parity import assert_parity

KNN_NAMES = [
    "knn_bruteforce",
    "knn_bruteforce_pandas",
    "knn_with_docs",
    "multi_query_knn",
    "knn_sq8",
    "knn_prenorm",
    "knn_chunk_pooled",
    "knn_maxsim",
]
ROWS_ONLY = ["embed_and_search"]


@pytest.mark.parametrize("name", KNN_NAMES)
def test_knn_oracle_parity_smoke(spark, duck, name):
    assert_parity(spark, duck, name, SF_SMOKE)


@pytest.mark.parametrize("name", KNN_NAMES)
def test_knn_oracle_parity_sf001(spark, duck, name):
    assert_parity(spark, duck, name, SF_CORRECT)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    assert set(df.columns) == {"vec_id", "score", "snippet"}


def test_knn_self_match(spark):
    """The query vector's own row must be its top hit with score ~1."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    top = knn_bruteforce(spark, SF_SMOKE, query_id=7, k=1).collect()[0]
    assert top.vec_id == 7
    assert abs(top.score - 1.0) < 1e-4


def test_sq8_codes_bounds_and_reconstruction(spark):
    """Codes live in [0,255]; dequantized vectors stay within half a
    quantization step of the original per dimension."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        SQ_LEVELS,
        dim_min_max,
        sq8_codes,
        sq8_dequantize,
    )
    from gpu_accelerated_vector_indexing_spark.functions.vector import as_double_array
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    mins, maxs = dim_min_max(emb, dim)
    v = as_double_array("embedding")
    codes = sq8_codes(v, mins, maxs)
    err = F.zip_with(sq8_dequantize(codes, mins, maxs), v, lambda a, b: F.abs(a - b))
    row = emb.select(
        F.min(F.array_min(codes)).alias("cmin"),
        F.max(F.array_max(codes)).alias("cmax"),
        F.max(F.array_max(err)).alias("emax"),
    ).first()
    assert row.cmin >= 0 and row.cmax <= SQ_LEVELS
    half_step = max(hi - lo for lo, hi in zip(mins, maxs)) / SQ_LEVELS / 2
    assert row.emax <= half_step + 1e-9


def test_sq8_equals_bruteforce_at_scale(spark):
    """The SQ8 candidate+rescore path must return the exact brute-force
    top-k at the bench scale factor (the approx-equals-exact contract)."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_sq8

    sf = "/root/testdata/sf0.1"
    for qid in (0, 3, 11):
        exact = [(r.vec_id, r.score) for r in knn_bruteforce(spark, sf, query_id=qid).collect()]
        sq8 = [(r.vec_id, r.score) for r in knn_sq8(spark, sf, query_id=qid).collect()]
        assert sq8 == exact, f"query {qid}: {sq8} != {exact}"


def test_pq_recall_floor_and_exact_rescore(spark):
    """PQ at the default candidate margin: recall@5 ≥ 0.6 on every probe
    query, and every returned (vec_id, score) pair appears in the exact
    brute-force scoring (the rescore emits true cosines only)."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_pq

    for sf in (SF_SMOKE, SF_CORRECT):
        for qid in (0, 3, 11):
            exact = {(r.vec_id, r.score) for r in knn_bruteforce(spark, sf, query_id=qid, k=5).collect()}
            got = [(r.vec_id, r.score) for r in knn_pq(spark, sf, query_id=qid, k=5).collect()]
            assert len(got) == 5
            hits = sum(1 for g in got if g in exact)
            assert hits >= 3, f"{sf} q{qid}: recall {hits}/5, got={got}"


def test_pq_full_margin_equals_bruteforce(spark):
    """candidates = corpus size ⇒ the candidate stage passes everything
    and the exact rescore must reproduce brute force exactly (the PQ
    analog of the IVF full-probe invariant)."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_pq

    n = 10_000  # ≥ corpus rows at sf0.01
    exact = [(r.vec_id, r.score) for r in knn_bruteforce(spark, SF_CORRECT, query_id=7).collect()]
    pq = [(r.vec_id, r.score) for r in knn_pq(spark, SF_CORRECT, query_id=7, n_candidates=n).collect()]
    assert pq == exact


def test_embed_and_search_rows(spark):
    """Rows-only check for the md5-hash embedding pipeline (no SQL twin):
    k rows, scores in [-1, 1], non-degenerate (top score > 0)."""
    from gpu_accelerated_vector_indexing_spark.queries import merged

    df = merged()[0]["embed_and_search"](spark, SF_CORRECT)
    rows = df.collect()
    assert len(rows) == 5
    assert all(-1.0 <= r.score <= 1.0 for r in rows)
    assert rows[0].score > 0


def test_hybrid_rrf_self_retrieval_and_fusion(spark):
    """The query document must be its own top hybrid hit (cosine rank 1
    — self-similarity is exactly 1.0 — makes it unbeatable after fusion
    unless another doc sweeps both rankings), and every fused score must
    stay within the theoretical RRF bounds for two rankings."""
    from gpu_accelerated_vector_indexing_spark.operators.hybrid import hybrid_search_rrf

    rows = hybrid_search_rrf(spark, SF_CORRECT, query_id=0, k=10).collect()
    assert len(rows) == 10
    assert rows[0].doc_id == 0
    assert rows[0].cos == 1.0  # self-match tops the vector ranking
    for r in rows:
        assert 0 < r.rrf <= 2.0 / 61.0 + 1e-12
    assert sorted((r.rrf for r in rows), reverse=True) == [r.rrf for r in rows]


def test_mmr_rerank_invariants(spark):
    """MMR: k distinct picks from the candidate head, the first pick is
    the relevance argmax (no redundancy penalty yet), and every pick's
    relevance appears in the exact brute-force scoring."""
    from gpu_accelerated_vector_indexing_spark.operators.hybrid import mmr_rerank
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    rows = mmr_rerank(spark, SF_CORRECT, query_id=0, k=5).collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    assert len({r.doc_id for r in rows}) == 5
    top1 = knn_bruteforce(spark, SF_CORRECT, query_id=0, k=1).collect()[0]
    assert rows[0].doc_id == top1.vec_id and rows[0].relevance == top1.score


def test_hybrid_topn_approximates_full_rrf(spark):
    """Head-truncated RRF: same top-1, ≥8/10 top-k overlap with the
    full-window form, and identical fused scores for every doc inside
    BOTH heads (truncation only loses tail reciprocals)."""
    from gpu_accelerated_vector_indexing_spark.operators.hybrid import (
        hybrid_search_rrf,
        hybrid_search_rrf_topn,
    )

    full = [(r.doc_id, round(r.rrf, 12)) for r in hybrid_search_rrf(spark, SF_CORRECT, query_id=0, k=10).collect()]
    topn = [(r.doc_id, round(r.rrf, 12)) for r in hybrid_search_rrf_topn(spark, SF_CORRECT, query_id=0, k=10).collect()]
    assert topn[0] == full[0]
    overlap = {d for d, _ in topn} & {d for d, _ in full}
    assert len(overlap) >= 8, f"overlap {len(overlap)}/10"
    full_scores = dict(full)
    for d, s in topn:
        if d in full_scores:  # in-both-heads docs score identically
            assert s <= full_scores[d] + 1e-12


def test_knn_bq_equals_bruteforce_at_margin(spark):
    """Binary-quantization candidates + exact rescore must reproduce the
    exact brute-force top-k at the default candidate margin (the
    approx-equals-exact contract its oracle relies on). The margin is
    load-bearing: sign bits carry ~1 bit/dim, so a tiny candidate head
    is NOT guaranteed to contain the true top-k."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce
    from gpu_accelerated_vector_indexing_spark.operators.quantize import knn_bq

    bf = [tuple(r) for r in knn_bruteforce(spark, SF_CORRECT).collect()]
    bq = [tuple(r) for r in knn_bq(spark, SF_CORRECT).collect()]
    assert bq == bf


def test_matryoshka_full_candidates_equals_bruteforce(spark):
    """With the candidate stage widened to the whole corpus, the prefix
    screen cannot drop anything and the rescore IS brute force — the
    approx-equals-exact contract of the dimension-truncation rung.
    At the default 50-candidate budget the exact top-k must still rank
    identically for whichever of its members survive the screen."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import (
        knn_bruteforce,
        knn_matryoshka,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    n = load_table(spark, SF_CORRECT, "embeddings").count()
    bf = [tuple(r) for r in knn_bruteforce(spark, SF_CORRECT).collect()]
    wide = [tuple(r) for r in knn_matryoshka(spark, SF_CORRECT, n_candidates=n).collect()]
    assert wide == bf

    narrow = knn_matryoshka(spark, SF_CORRECT).collect()
    bf_scores = dict(bf)
    for r in narrow:
        if r.vec_id in bf_scores:
            assert r.score == bf_scores[r.vec_id]


def test_maxsim_contract(spark):
    """Late interaction: query doc never in its own results; k rows;
    scores in [-1, 1]; and MaxSim must rank some doc differently than
    the mean-pool (the two scoring functions are not equivalent)."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_maxsim

    rows = knn_maxsim(spark, SF_CORRECT, query_doc_id=0, k=5).collect()
    assert len(rows) == 5
    assert all(r.doc_id != 0 for r in rows)
    assert all(-1.0 <= r.score <= 1.0 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ivf_matryoshka_full_budget_equals_ivf_exact(spark):
    """IVF × matryoshka with the candidate stage widened to the whole
    probed pool must equal the exact IVF fine search at the same probes
    (the prefix screen cannot drop anything inside the pruned set) —
    the approx-equals-exact contract of the composed path."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import knn_ivf
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_ivf_matryoshka
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    n = load_table(spark, SF_CORRECT, "embeddings").count()
    for qid in (0, 3):
        exact = [
            tuple(r) for r in knn_ivf(spark, SF_CORRECT, query_id=qid, k=5, n_probe=3).collect()
        ]
        wide = [
            tuple(r)
            for r in knn_ivf_matryoshka(
                spark, SF_CORRECT, query_id=qid, k=5, n_probe=3, n_candidates=n
            ).collect()
        ]
        assert wide == exact
        # at the default budget, survivors of the screen keep exact scores
        narrow = knn_ivf_matryoshka(spark, SF_CORRECT, query_id=qid, k=5, n_probe=3).collect()
        exact_scores = dict(exact)
        for r in narrow:
            if r.vec_id in exact_scores:
                assert r.score == exact_scores[r.vec_id]


def test_sq4_margin_headroom(spark):
    """Margin-sufficiency guard for the SQ4 rung (ADVICE r6): the
    empirically-chosen n_candidates=80 must carry >= 2x headroom —
    every exact top-k member already ranks inside the top
    n_candidates // 2 by SQ4 approximate score, at BOTH fixture
    scales. Margin erosion on a corpus shift fails here loudly,
    before it could silently violate the approx==exact oracle."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        EPSILON,
        as_double_array,
        l2_norm,
    )
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce, query_vectors
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        corpus_quantizer,
        sq8_codes,
        sq8_dequantize,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    n_candidates, k = 80, 5
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for qid in (0, 3):
            exact_ids = {
                r.vec_id for r in knn_bruteforce(spark, sf, query_id=qid, k=k).collect()
            }
            emb = load_table(spark, sf, "embeddings")
            mins, maxs = corpus_quantizer(spark, sf)
            q = query_vectors(spark, sf, [qid])
            v = as_double_array("embedding")
            approx_v = sq8_dequantize(sq8_codes(v, mins, maxs, 15), mins, maxs, 15)
            approx = F.aggregate(
                F.zip_with(approx_v, F.col("qvec"), lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            ) / (l2_norm(approx_v) * F.col("qnorm") + F.lit(EPSILON))
            ranked = [
                r.vec_id
                for r in emb.join(F.broadcast(q))
                .select("vec_id", approx.alias("a"))
                .orderBy(F.desc("a"), F.desc("vec_id"))
                .limit(n_candidates // 2)
                .collect()
            ]
            missing = exact_ids - set(ranked)
            assert not missing, (
                f"{sf} q{qid}: exact top-{k} ids {missing} fall outside the "
                f"top {n_candidates // 2} by SQ4 approx score — margin headroom lost"
            )


def test_pq_refresh_cdc_lifecycle(spark):
    """Structural pins on the CDC-refreshed PQ state (the oracle
    value-certifies the served top-k): live code rows ≡ the live
    snapshot exactly, appends carry gen 1, a changed doc's replacement
    code row differs from its tombstoned base row (the replaced vector
    genuinely re-encoded), and unchanged docs' codes are untouched
    base rows (gen 0)."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        cdc_dead,
        cdc_member,
        cdc_new,
    )
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        cdc_refreshed_pq_state,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    out = cdc_refreshed_pq_state(spark, SF_SMOKE)
    codes = spark.read.parquet(f"{out}/codes")
    tombs = spark.read.parquet(f"{out}/tombstones").select(
        F.col("vec_id").alias("t_vec_id"), F.col("gen").alias("t_gen")
    )
    live_codes = codes.join(
        F.broadcast(tombs),
        (codes.vec_id == tombs.t_vec_id) & (codes.gen <= tombs.t_gen),
        "left_anti",
    )
    emb = load_table(spark, SF_SMOKE, "embeddings")
    live_ids = {
        r.vec_id for r in emb.filter(cdc_member(1, F.col("vec_id"))).select("vec_id").collect()
    }
    assert {r.vec_id for r in live_codes.select("vec_id").collect()} == live_ids
    by_gen = {
        r.gen: r.n
        for r in live_codes.groupBy("gen").agg(F.count("*").alias("n")).collect()
    }
    new_n = emb.filter(cdc_new(1, F.col("vec_id"))).count()
    assert by_gen.get(1, 0) == new_n and by_gen.get(0, 0) == len(live_ids) - new_n

    # a changed doc appears twice in the codes table: its dead gen-0
    # row and its live gen-1 replacement, with different codes
    changed = (
        codes.filter(
            cdc_dead(1, F.col("vec_id")) & cdc_member(1, F.col("vec_id")) & cdc_member(0, F.col("vec_id"))
        )
        .select("vec_id", "gen", "codes")
        .collect()
    )
    by_id = {}
    for r in changed:
        by_id.setdefault(r.vec_id, {})[r.gen] = list(r.codes)
    assert by_id, "changed slice must be populated"
    assert any(0 in v and 1 in v and v[0] != v[1] for v in by_id.values()), (
        "no changed doc's replacement re-encoded to different codes"
    )


def test_pq_refresh_gen2_lifecycle(spark):
    """Two stacked tombstone generations over the PQ codes: live rows ≡
    the v3 snapshot, a gen-1 tombstone retires a cycle-1 APPEND, and a
    twice-changed vector holds three code rows (gen 0/1/2) with only
    gen 2 live."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        cdc_changed,
        cdc_member,
        cdc_new,
    )
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        cdc_refreshed_pq_state_gen2,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    out = cdc_refreshed_pq_state_gen2(spark, SF_SMOKE)
    codes = spark.read.parquet(f"{out}/codes")
    tombs = spark.read.parquet(f"{out}/tombstones")
    live = codes.join(
        F.broadcast(
            tombs.select(F.col("vec_id").alias("t_vec_id"), F.col("gen").alias("t_gen"))
        ),
        (codes.vec_id == F.col("t_vec_id")) & (codes.gen <= F.col("t_gen")),
        "left_anti",
    )
    emb = load_table(spark, SF_SMOKE, "embeddings")
    v3_ids = {
        r.vec_id for r in emb.filter(cdc_member(2, F.col("vec_id"))).select("vec_id").collect()
    }
    assert {r.vec_id for r in live.select("vec_id").collect()} == v3_ids

    # gen-1 tombstone naming a vec that holds a gen-1 code row
    t1 = {r.vec_id for r in tombs.filter(F.col("gen") == 1).collect()}
    g1 = {r.vec_id for r in codes.filter(F.col("gen") == 1).select("vec_id").collect()}
    assert t1 & g1, "no cycle-1 append was retired by delta 2"

    twice_ids = [
        r.vec_id
        for r in emb.filter(
            cdc_changed(1, F.col("vec_id")) & cdc_changed(2, F.col("vec_id"))
        ).select("vec_id").collect()
    ]
    assert twice_ids
    rows = codes.filter(F.col("vec_id").isin(twice_ids)).select("vec_id", "gen").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.vec_id, set()).add(r.gen)
    assert all(v == {0, 1, 2} for v in by_id.values()), by_id
    live_gens = {
        r.gen
        for r in live.filter(F.col("vec_id").isin(twice_ids)).select("gen").collect()
    }
    assert live_gens == {2}


def test_pq_asof_latest_slice_equals_gen2_serve(spark):
    """asof-2 is the ordinary gen-2 masked read; asof-0 must rank over
    the base code set only (no vec_id outside the old snapshot)."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        GRAPH_CDC_ADD_MOD,
        GRAPH_CDC_ADD_REM,
    )
    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        pq_read_asof,
        pq_refresh_cdc_gen2,
    )
    from tests.conftest import SF_SMOKE

    rows = pq_read_asof(spark, SF_SMOKE).collect()
    asof2 = {(r.vec_id, r.score) for r in rows if r.asof_gen == 2}
    latest = {
        (r.vec_id, r.score) for r in pq_refresh_cdc_gen2(spark, SF_SMOKE).collect()
    }
    assert asof2 == latest
    v0_ids = {r.vec_id for r in rows if r.asof_gen == 0}
    assert all(v % GRAPH_CDC_ADD_MOD != GRAPH_CDC_ADD_REM for v in v0_ids)


def _query_id_call(name):
    """A converted single-query registered row as ``call(spark, sf, qid)``:
    the row itself with ``query_id`` passed (a partial's is overridden),
    or, where the registry wraps the operator in a function, the
    operator."""
    from gpu_accelerated_vector_indexing_spark.operators import hybrid, knn, quantize
    from gpu_accelerated_vector_indexing_spark.queries import merged

    wrapped = {
        "knn_matryoshka": knn.knn_matryoshka,
        "knn_ivf_matryoshka": knn.knn_ivf_matryoshka,
        "knn_sq8": quantize.knn_sq8,
        "knn_sq4": quantize.knn_sq4,
        "knn_ivf_sq8": quantize.knn_ivf_sq8,
        "knn_bq": quantize.knn_bq,
        "knn_ivf_bq": quantize.knn_ivf_bq,
        "knn_pq": quantize.knn_pq,
        "knn_ivf_pq": quantize.knn_ivf_pq,
        "knn_ivf_pq_residual": quantize.knn_ivf_pq_residual,
        "hybrid_search_rrf": hybrid.hybrid_search_rrf,
        "hybrid_search_rrf_topn": hybrid.hybrid_search_rrf_topn,
        "mmr_rerank": hybrid.mmr_rerank,
    }
    fn = wrapped.get(name, merged()[0][name])
    return lambda spark, sf, qid: fn(spark, sf, query_id=qid)


SINGLE_QUERY_ROWS = [
    "knn_bruteforce",
    "knn_bruteforce_pandas",
    "knn_prenorm",
    "knn_filtered",
    "similarity_range_search",
    "knn_per_cluster_topk",
    "knn_matryoshka",
    "knn_ivf_matryoshka",
    "knn_ivf_combined",
    "knn_ivf_sequential",
    "knn_ivf_prenorm",
    "knn_ivf_filtered",
    "knn_filtered_planned_broad",
    "knn_with_deletes",
    "knn_ivf_shard_merge",
    "knn_ivf_adaptive",
    "knn_sq8",
    "knn_sq4",
    "knn_ivf_sq8",
    "knn_bq",
    "knn_ivf_bq",
    "knn_pq",
    "knn_ivf_pq",
    "knn_ivf_pq_residual",
    "refshape_search_bq",
    "hybrid_search_rrf",
    "hybrid_search_rrf_topn",
    "mmr_rerank",
]


@pytest.mark.parametrize("name", SINGLE_QUERY_ROWS)
def test_unknown_query_id_raises_before_any_job(spark, name):
    """Every single-query search raises ``KeyError`` naming an id that is
    not in the corpus, from the call itself and before any job: the
    check runs on the driver against the memoized corpus id set (index
    state, built once per session and corpus)."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import fixture_ids
    from tests.conftest import spark_jobs

    missing = 10**12 + 7
    fixture_ids(spark, SF_CORRECT)
    with spark_jobs(spark) as jobs, pytest.raises(KeyError, match=str(missing)):
        _query_id_call(name)(spark, SF_CORRECT, missing)
    assert jobs.count == 0, f"{name}: {jobs.count} jobs"


@pytest.mark.parametrize("name", ["knn_bruteforce", "knn_ivf_combined"])
def test_warm_fresh_query_id_is_one_job_and_no_compile(spark, name):
    """A warm single-query search for an id no earlier query used is one
    Spark job (the scan and its top-k — no query scan, no broadcast) and
    compiles nothing: the query arrives as a by-reference literal, so it
    reuses the code the previous id compiled."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import fixture_qvecs
    from tests.conftest import codegen_compiles, spark_jobs

    call = _query_id_call(name)
    base = 300 + 10 * ["knn_bruteforce", "knn_ivf_combined"].index(name)
    warm, fresh = base, base + 1
    fixture_qvecs(spark, SF_CORRECT, (warm, fresh))  # the memo fill is its own job
    call(spark, SF_CORRECT, warm).collect()
    with spark_jobs(spark) as jobs, codegen_compiles(spark) as compiles:
        rows = call(spark, SF_CORRECT, fresh).collect()
    assert len(rows) == 5
    assert jobs.count == 1, f"{name}: {jobs.count} jobs"
    assert compiles.count == 0, f"{name}: {compiles.count} compilations"


@pytest.mark.parametrize("name", ["knn_pq", "knn_ivf_pq_residual"])
def test_warm_fresh_query_id_pq_compiles_nothing(spark, name):
    """A warm PQ search for a fresh id compiles nothing: the ADC score
    divides by ‖recon‖·‖q‖ + ε in a fold's finish lambda, so the hoisted
    ‖q‖ stays a by-reference literal instead of a double inlined into
    generated code."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import fixture_qvecs
    from tests.conftest import codegen_compiles

    call = _query_id_call(name)
    base = 340 + 10 * ["knn_pq", "knn_ivf_pq_residual"].index(name)
    warm, fresh = base, base + 1
    fixture_qvecs(spark, SF_CORRECT, (warm, fresh))
    call(spark, SF_CORRECT, warm).collect()
    with codegen_compiles(spark) as compiles:
        rows = call(spark, SF_CORRECT, fresh).collect()
    assert len(rows) == 5
    assert compiles.count == 0, f"{name}: {compiles.count} compilations"


def test_warm_fresh_query_id_hybrid_compiles_nothing(spark):
    """A warm ``hybrid_search_rrf_topn`` for a fresh id compiles nothing:
    the cosine half takes the query vector as a by-reference literal and
    the BM25 half filters ``tf`` by the memoized query terms as one
    array literal instead of reading the query document by ``doc_id``
    (7 jobs and 2 compilations at sf0.01 with the per-query scan)."""
    from gpu_accelerated_vector_indexing_spark.operators.hybrid import (
        hybrid_search_rrf_topn,
        query_terms,
    )
    from gpu_accelerated_vector_indexing_spark.operators.ivf import fixture_qvecs
    from tests.conftest import codegen_compiles, spark_jobs

    warm, fresh = 380, 381
    fixture_qvecs(spark, SF_CORRECT, (warm, fresh))  # the memo fills are their own jobs
    query_terms(spark, SF_CORRECT, fresh)
    # Spark's codegen cache holds 100 classes in LRU segments, so after
    # other queries a warm call can evict and recompile some of its own
    # classes; repeat it until a same-id call compiles nothing
    for _ in range(3):
        with codegen_compiles(spark) as settle:
            hybrid_search_rrf_topn(spark, SF_CORRECT, query_id=warm).collect()
        if settle.count == 0:
            break
    with spark_jobs(spark) as jobs, codegen_compiles(spark) as compiles:
        rows = hybrid_search_rrf_topn(spark, SF_CORRECT, query_id=fresh).collect()
    assert len(rows) == 10
    assert compiles.count == 0, f"{compiles.count} compilations"
    assert jobs.count <= 5, f"{jobs.count} jobs"
