"""Property-based checks (hypothesis) — the generalization of the
reference's random-input kernel consistency check (check_cos_sim.cpp:18-79,
which draws a random 10000×512 batch and compares GPU vs CPU at 1e-5).

Here the property is engine-vs-NumPy: for ANY float corpus and query,
the engine's cosine expression and top-k ordering must match a NumPy
recomputation. One Spark job per example; examples are kept small and
few because each is a full plan execution.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    EPSILON,
    cosine_similarity,
)

DIM = 8
K = 3

finite_floats = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False, width=32
)
vectors = st.lists(finite_floats, min_size=DIM, max_size=DIM)


def _np_cosine(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    dots = mat @ q
    denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(q) + EPSILON
    return dots / denom


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vectors, min_size=K, max_size=12), vectors)
def test_cosine_and_topk_match_numpy(spark, rows, qvec):
    """Scores agree with NumPy to 1e-5 (the reference's own tolerance)
    and the top-k id ordering under (score DESC, id DESC) is identical."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    q = F.array(*[F.lit(float(x)) for x in qvec])
    got = {
        r.vec_id: r.score
        for r in df.select(
            "vec_id", cosine_similarity(F.col("embedding"), q).alias("score")
        ).collect()
    }
    mat = np.array(rows, dtype=np.float64)
    exp = _np_cosine(mat, np.array(qvec, dtype=np.float64))
    for i, e in enumerate(exp):
        assert math.isfinite(got[i])
        assert abs(got[i] - e) < 1e-5, (i, got[i], e)

    topk = [
        r.vec_id
        for r in df.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), q), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(K)
        .collect()
    ]
    order = sorted(
        range(len(rows)), key=lambda i: (round(exp[i], 6), i), reverse=True
    )[:K]
    assert topk == order, (topk, order)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vectors, min_size=2, max_size=10))
def test_sq8_roundtrip_error_bound(spark, rows):
    """For ANY corpus: codes ∈ [0,255] and per-dimension reconstruction
    error ≤ half a quantization step of that dimension's span."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        SQ_LEVELS,
        SPAN_GUARD,
        sq8_codes,
        sq8_dequantize,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    mat = np.array(rows, dtype=np.float64)
    mins, maxs = mat.min(axis=0).tolist(), mat.max(axis=0).tolist()
    codes = sq8_codes(F.col("embedding"), mins, maxs)
    err = F.zip_with(
        sq8_dequantize(codes, mins, maxs), F.col("embedding"), lambda a, b: F.abs(a - b)
    )
    row = df.select(
        F.min(F.array_min(codes)).alias("cmin"),
        F.max(F.array_max(codes)).alias("cmax"),
        F.max(F.array_max(err)).alias("emax"),
    ).first()
    assert row.cmin >= 0 and row.cmax <= SQ_LEVELS
    half_step = (max(hi - lo for lo, hi in zip(mins, maxs)) + SPAN_GUARD) / SQ_LEVELS / 2
    assert row.emax <= half_step + 1e-9


texts = st.text(
    alphabet=st.characters(codec="ascii", exclude_categories=("Cc", "Cs")),
    min_size=0,
    max_size=700,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(texts, min_size=1, max_size=4))
def test_chunking_reconstructs_documents(spark, docs):
    """For ANY ascii corpus: stitching each document's chunks back
    together (dropping every chunk's 50-char overlap with its
    predecessor) reproduces the document exactly, and chunk widths obey
    the 200-char cap with only the final chunk short."""
    from gpu_accelerated_vector_indexing_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_WIDTH,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id LONG, text STRING"
    )
    chunks = (
        df.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            ((F.col("pos") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.expr(f"substring(text, pos, {CHUNK_WIDTH})").alias("chunk"),
        )
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk))
    for i, text in enumerate(docs):
        parts = [c for _, c in sorted(by_doc[i])]
        stitched = parts[0] + "".join(p[CHUNK_WIDTH - CHUNK_STRIDE:] for p in parts[1:])
        assert stitched == text, (i, text, parts)
        assert all(len(p) <= CHUNK_WIDTH for p in parts)
        assert all(len(p) == CHUNK_WIDTH for p in parts[:-1] if len(text) >= CHUNK_WIDTH)


word = st.text(alphabet="ab1", min_size=1, max_size=3)
texts_rep = st.lists(word, min_size=0, max_size=40).map(" ".join)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(texts_rep, min_size=1, max_size=6))
def test_repetition_fold_matches_python_model(spark, docs):
    """The sorted-array run-length fold must equal a direct Python
    Counter on arbitrary token streams (tiny alphabet maximizes
    repeated bigrams — the regime the fold exists for)."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.text_analysis import tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    run0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, x):
        bump = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), bump.alias("run"), F.greatest(acc["best"], bump).alias("best"))

    top = F.aggregate(F.array_sort(bigrams), run0, step, lambda acc: acc["best"])
    got = {r["doc_id"]: r["top"] for r in df.select("doc_id", top.alias("top")).collect()}
    for i, t in enumerate(docs):
        ts = re.findall("[A-Za-z0-9]+", t.lower())
        bg = [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        assert got[i] == (max(Counter(bg).values()) if bg else 0)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.binary(min_size=1, max_size=2048))
def test_wav_bmp_codecs_roundtrip_any_bytes(payload):
    """For ANY byte payload the real codecs must round-trip exactly and
    emit header fields consistent with the payload length — the codec
    analog of the reference's random-input kernel consistency check
    (pure Python, no Spark job per example, so examples are cheap)."""
    from gpu_accelerated_vector_indexing_spark.operators.multimodal import (
        BMP_WIDTH,
        WAV_SAMPLE_RATE,
        _decode_bmp8,
        _decode_wav_pcm,
        _encode_bmp8,
        _encode_wav_pcm,
    )

    wav = _decode_wav_pcm(_encode_wav_pcm(payload))
    assert wav["samples"] == payload
    assert wav["sample_rate"] == WAV_SAMPLE_RATE
    assert len(_encode_wav_pcm(payload)) % 2 == 0  # RIFF word alignment

    bmp = _decode_bmp8(_encode_bmp8(payload))
    h = max(1, -(-len(payload) // BMP_WIDTH))
    assert bmp["pixels"][: len(payload)] == payload
    assert (bmp["width"], bmp["height"]) == (BMP_WIDTH, h)
    assert bmp["file_size"] == 14 + 40 + 1024 + h * BMP_WIDTH
    # padding beyond the payload is zeros (deterministic container)
    assert set(bmp["pixels"][len(payload):]) <= {0}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_min_label_fixpoint_matches_union_find(spark, edges):
    """The shared iterative kernel (semantic + n-gram dedup components)
    must compute EXACT connected components on arbitrary graphs — cross-
    checked against a plain Python union-find with min-id roots."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.dedup import (
        min_label_fixpoint,
    )

    # ground truth: union-find, component label = min member id
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in parent}

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "node bigint, nbr bigint"
    )
    und = df.union(df.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))).distinct()
    got = {r.node: r.component for r in min_label_fixpoint(und, max_rounds=40).collect()}
    assert got == truth


@pytest.mark.parametrize(
    "consumer, allowance",
    [("pagerank", 1), ("kcore", 0), ("min_label", 1), ("nn_descent", 1), ("shard_merge", 1)],
)
def test_iteration_kernel_frees_superseded_snapshots(spark, consumer, allowance):
    """Cache-hygiene contract of the iteration kernel (ADVICE r6 / review
    r7): every cut frees the superseded snapshot, so a call grows the
    persistent-RDD registry by AT MOST the returned state's own snapshot
    — one for PageRank's ranks, min-label's labels and an NN-descent
    graph (a full build or a shard merge), none for k-core's local
    digest rows. A leak registers one snapshot per cut: 5 for PageRank,
    k-core and the NN-descent build at sf0.01, 3 for the shard merge
    (round 0 plus MERGE_ROUNDS), ≥ 12 for the 12-node path graph. The
    NN-descent cases count localCheckpoint snapshots only, over a
    pre-filled normed corpus and (for the merge) prebuilt shards."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.dedup import min_label_fixpoint
    from gpu_accelerated_vector_indexing_spark.operators.graph import (
        _pagerank_edges,
        copurchase_pagerank,
        kcore_trajectory,
    )
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        K_GRAPH,
        build_knn_graph_over,
        merge_graph_shards,
    )
    from gpu_accelerated_vector_indexing_spark.operators.iterate import _is_local_ckpt
    from gpu_accelerated_vector_indexing_spark.operators.knn import fixture_normed
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from tests.conftest import SF_CORRECT

    # a 12-node path graph: diameter 11 forces >= 12 rounds
    path = spark.createDataFrame([(i, i + 1) for i in range(12)], "node bigint, nbr bigint")
    und = path.union(path.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))).distinct()
    # the memoized graph state registers its caches outside the count
    _pagerank_edges(spark, SF_CORRECT)
    emb, emb_n = load_table(spark, SF_CORRECT, "embeddings"), fixture_normed(spark, SF_CORRECT)
    n_vec = emb_n.count()  # fills the pinned normed corpus
    shards = []
    if consumer == "shard_merge":
        shards = [
            build_knn_graph_over(emb.filter(F.col("vec_id") % 2 == i), emb_n.filter(F.col("vec_id") % 2 == i))
            for i in (0, 1)
        ]
    call, n_rows = {
        "pagerank": (lambda: copurchase_pagerank(spark, SF_CORRECT), 25),
        "kcore": (lambda: kcore_trajectory(spark, SF_CORRECT), 5),
        "min_label": (lambda: min_label_fixpoint(und, max_rounds=20), 13),
        "nn_descent": (lambda: build_knn_graph_over(emb, emb_n), n_vec * K_GRAPH),
        "shard_merge": (lambda: merge_graph_shards(emb, emb_n, shards), n_vec * K_GRAPH),
    }[consumer]
    local_only = consumer in ("nn_descent", "shard_merge")

    def registered() -> int:
        return sum(1 for r in dict(spark._jsc.getPersistentRDDs()).values() if not local_only or _is_local_ckpt(r))

    before = registered()
    assert call().count() == n_rows
    after = registered()
    assert after - before <= allowance, f"registry grew {before} -> {after}: snapshots leaked"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=0, max_value=600), min_size=1, max_size=5, unique=True
    )
)
def test_ranking_metrics_match_python_model(spark, ids):
    """ranking_metric_rows (the shared NDCG/MRR/recall kernel) against
    an independent pure-Python model, over ARBITRARY injected rankings
    (the search_fn parameter exists exactly so the metric math is
    testable apart from any index): binary relevance vs the fixture's
    exact top-5, ranks = injected order."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from gpu_accelerated_vector_indexing_spark.operators.ivf import (
        NDCG_ROUND,
        ideal_dcg,
        ranking_metric_rows,
    )
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce
    from tests.conftest import SF_SMOKE

    exact = {
        int(r.vec_id)
        for r in knn_bruteforce(spark, SF_SMOKE, query_id=0, k=5).collect()
    }
    ranking = spark.createDataFrame(
        [(int(v), float(1.0 - i * 0.01)) for i, v in enumerate(ids)],
        "vec_id bigint, score double",
    )
    row = ranking_metric_rows(
        spark, SF_SMOKE, "knob", [1], lambda _: ranking, query_id=0, k=5
    ).collect()[0]

    def r6(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    hit_ranks = [i + 1 for i, v in enumerate(ids) if v in exact]
    recall = r6(len(hit_ranks) / 5.0)
    mrr = r6(1.0 / min(hit_ranks)) if hit_ranks else 0.0
    dcg = sum(
        (
            Decimal(repr(1.0 / math.log2(r + 1))).quantize(
                Decimal(f"1e-{NDCG_ROUND}"), rounding=ROUND_HALF_UP
            )
            for r in hit_ranks
        ),
        Decimal(0),
    )
    ndcg = r6(float(dcg) / ideal_dcg(5))
    assert (row["recall"], row["mrr"], row["ndcg"]) == (recall, mrr, ndcg), ids


def test_cusum_changepoint_matches_python_model(spark):
    """events_cusum_changepoint against an INDEPENDENT pure-Python
    integer recomputation over the raw parquet (pyarrow, no Spark, no
    SQL): per user, D_i = n·cumsum_i − i·total over cents, argmax |D|
    with smallest-index tie-break — every field must agree exactly."""
    import pyarrow.parquet as pq

    from gpu_accelerated_vector_indexing_spark.operators.temporal import cusum_changepoint
    from tests.conftest import SF_SMOKE

    got = {r["user_id"]: r for r in cusum_changepoint(spark, SF_SMOKE).collect()}

    t = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pylist()
    by_user: dict[int, list] = {}
    for e in t:
        by_user.setdefault(e["user_id"], []).append(e)
    assert set(by_user) == set(got)
    from decimal import ROUND_HALF_UP, Decimal

    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        # HALF_UP cents snap, matching Spark's F.round — Python's
        # built-in round is half-to-even and would disagree on a value
        # landing exactly on .5 cents (ADVICE r7)
        cents = [
            int(
                Decimal(repr(e["value"] * 100)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
            for e in evs
        ]
        n, total = len(cents), sum(cents)
        best = None  # (abs_dev DESC, idx ASC)
        cum = 0
        for i, c in enumerate(cents, start=1):
            cum += c
            d = n * cum - i * total
            key = (-abs(d), i)
            if best is None or key < best[0]:
                best = (key, i, evs[i - 1]["event_id"], abs(d))
        r = got[uid]
        assert (r["n_events"], r["cp_index"], r["cp_event_id"]) == (n, best[1], best[2]), uid
        assert r["max_dev"] == round(best[3] / (n * 100.0), 6) or abs(
            r["max_dev"] - best[3] / (n * 100.0)
        ) < 1e-6, uid


def test_lit_array_helpers_match_per_element(spark):
    """The literal-array builders are BIT-identical to the per-element
    ``F.array(*[F.lit(x), ...])`` form, and carry the type the one-parse
    SQL text had (``array<double>``, containsNull=false): each builds
    ONE JVM ``Literal`` from a packed buffer that holds the float64 bits
    themselves. Rows of a 2-D literal may differ in length (including
    empty). Longs cover both word boundaries incl. LONG_MIN; ints cover
    the probe-list builder. A NaN/±Inf component raises ``ValueError``
    while the literal is built — before any job runs."""
    import random
    import struct

    import pytest
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        lit_double_array,
        lit_double_array2,
        lit_int_array2,
        lit_long_array,
    )
    from tests.conftest import spark_jobs

    def bits(xs):
        return [struct.pack("<d", float(v)) for v in xs]

    rng = random.Random(711)
    vals = [rng.uniform(-1e3, 1e3) for _ in range(64)]
    vals += [0.0, -0.0, 1e-300, -1.5e300, 0.1, 2.0, 1e-8, -3.5, 5e-324]
    got = spark.range(1).select(lit_double_array(vals).alias("x"))
    ref = spark.range(1).select(F.array(*[F.lit(float(v)) for v in vals]).alias("x"))
    parsed = spark.range(1).select(
        F.expr("array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")").alias("x")
    )
    assert bits(got.first().x) == bits(ref.first().x)
    assert got.schema == parsed.schema  # array<double>, containsNull=false
    # a NumPy array is packed as is
    assert bits(spark.range(1).select(lit_double_array(np.asarray(vals)).alias("x")).first().x) == bits(vals)

    rows = [vals[:8], vals[8:16], [0.25, -0.5], []]
    got2 = spark.range(1).select(lit_double_array2(rows).alias("x"))
    assert [bits(r) for r in got2.first().x] == [bits(r) for r in rows]
    parsed2 = spark.range(1).select(
        F.expr(
            "array("
            + ",".join("array(" + ",".join(repr(float(v)) + "D" for v in r) + ")" for r in rows[:3])
            + ")"
        ).alias("x")
    )
    assert got2.schema == parsed2.schema

    lvals = [0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63), 42]
    gotl = spark.range(1).select(lit_long_array(lvals).alias("x")).first().x
    assert gotl == lvals
    probes = [[3, 1, 2], [], [2**31 - 1, -(2**31)]]
    assert spark.range(1).select(lit_int_array2(probes).alias("x")).first().x == probes

    for bad in (float("nan"), float("inf"), float("-inf")):
        with spark_jobs(spark) as jobs:
            with pytest.raises(ValueError, match="non-finite"):
                lit_double_array(vals[:3] + [bad])
            with pytest.raises(ValueError, match="non-finite"):
                lit_double_array2([vals[:3], [1.0, bad]])
        assert jobs.count == 0
