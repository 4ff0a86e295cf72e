"""Tests: binary/npy/article ingestion, embedder, and the engine facade.

Covers SURVEY.md §2 O1/O2/O7 (raw .bin scans), O24 (.npy), O3-O6
(article store + mapback), O20/O25 (embedding generation), O28 (CLI
flag validation), and the end-to-end build→search path (M1+M2).
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


# --- raw float32 .bin (O1/O2/O7) --------------------------------------------


def test_read_float32_bin_roundtrip(spark, tmp_path):
    from gpu_accelerated_vector_indexing_spark.sources.binary import read_float32_bin, write_float32_bin

    rng = np.random.default_rng(7)
    a = rng.standard_normal((5, 4)).astype(np.float32)
    b = rng.standard_normal((3, 4)).astype(np.float32)
    # sorted-path order defines global ids (embedding.py:26)
    a.tofile(tmp_path / "cluster_embeddings_0.bin")
    b.tofile(tmp_path / "cluster_embeddings_1.bin")

    df = read_float32_bin(spark, str(tmp_path / "*.bin"), dim=4)
    rows = df.orderBy("vec_id").collect()
    assert [r.vec_id for r in rows] == list(range(8))
    got = np.asarray([r.embedding for r in rows], dtype=np.float32)
    np.testing.assert_array_equal(got, np.vstack([a, b]))

    # export side (O24 inverse): bin file is byte-identical
    out = tmp_path / "export.bin"
    n = write_float32_bin(df, "embedding", str(out))
    assert n == 8
    np.testing.assert_array_equal(
        np.fromfile(out, dtype=np.float32).reshape(-1, 4), np.vstack([a, b])
    )


def test_write_float32_bin_refuses_corpus_sized_frames(spark, tmp_path):
    """The driver-side exporter's small-relation contract is enforced,
    not just documented: past the ceiling it must refuse and point at
    the distributed clustered writer."""
    import pytest

    from gpu_accelerated_vector_indexing_spark.sources import binary

    big = spark.range(binary.BIN_EXPORT_MAX_ROWS + 1).selectExpr(
        "id AS vec_id", "array(1.0, 2.0) AS embedding"
    )
    with pytest.raises(ValueError, match="write_float32_bin_clustered"):
        binary.write_float32_bin(big, "embedding", str(tmp_path / "too_big.bin"))


def test_read_float32_bin_rejects_bad_size(spark, tmp_path):
    (tmp_path / "bad.bin").write_bytes(b"\x00" * 10)  # not divisible by 16
    from gpu_accelerated_vector_indexing_spark.sources.binary import read_float32_bin

    with pytest.raises(ValueError, match="not divisible"):
        read_float32_bin(spark, str(tmp_path / "bad.bin"), dim=4)


def test_read_npy(spark, tmp_path):
    from gpu_accelerated_vector_indexing_spark.sources.binary import read_npy

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((6, 3)).astype(np.float32)
    qvec = rng.standard_normal(3).astype(np.float64)  # 1-D + float64 → widened
    np.save(tmp_path / "a_matrix.npy", mat)
    np.save(tmp_path / "b_query.npy", qvec)

    rows = read_npy(spark, str(tmp_path / "*.npy")).orderBy("vec_id").collect()
    assert [r.vec_id for r in rows] == list(range(7))
    np.testing.assert_array_equal(
        np.asarray([r.embedding for r in rows[:6]], dtype=np.float32), mat
    )
    np.testing.assert_array_equal(
        np.asarray(rows[6].embedding, dtype=np.float32), qvec.astype(np.float32)
    )


# --- JSON article store (O3-O6) ----------------------------------------------


@pytest.fixture()
def article_dir(tmp_path):
    files = {
        "b_second.json": [{"id": "2", "title": "t2", "text": "gamma delta"}],
        "a_first.json": [
            {"id": "0", "title": "t0", "text": "alpha text zero"},
            {"id": "1", "title": "t1", "text": "beta text one"},
        ],
    }
    for name, arts in files.items():
        (tmp_path / name).write_text(json.dumps(arts))
    return tmp_path


def test_read_article_dir_global_ids(spark, article_dir):
    from gpu_accelerated_vector_indexing_spark.sources.articles import file_lengths, read_article_dir

    arts = read_article_dir(spark, str(article_dir))
    rows = arts.orderBy("doc_id").collect()
    # sorted-filename order: a_first.json rows get ids 0,1; b_second.json gets 2
    assert [(r.doc_id, r.text) for r in rows] == [
        (0, "alpha text zero"),
        (1, "beta text one"),
        (2, "gamma delta"),
    ]
    fl = {r.file.rsplit("/", 1)[-1]: r.num_articles for r in file_lengths(arts).collect()}
    assert fl == {"a_first.json": 2, "b_second.json": 1}


def test_lookup_texts_truncates(spark, article_dir):
    from gpu_accelerated_vector_indexing_spark.sources.articles import lookup_texts, read_article_dir

    arts = read_article_dir(spark, str(article_dir))
    ids = spark.createDataFrame([(0,)], "doc_id BIGINT")
    got = lookup_texts(arts, ids, truncate=5).collect()
    assert [(r.doc_id, r.snippet) for r in got] == [(0, "alpha")]


# --- embedding generation (O20/O25) ------------------------------------------


def test_hash_embedder_deterministic_and_normalized(spark):
    from gpu_accelerated_vector_indexing_spark.functions.embedder import embed_queries

    a = embed_queries(spark, ["the quick brown fox", "lazy dog"], dim=16).collect()
    b = embed_queries(spark, ["the quick brown fox", "lazy dog"], dim=16).collect()
    va = np.asarray(a[0].qvec)
    assert np.allclose(va, np.asarray(b[0].qvec))  # run-to-run determinism
    assert va.shape == (16,)
    assert abs(np.linalg.norm(va) - 1.0) < 1e-5  # unit norm
    assert not np.allclose(va, np.asarray(a[1].qvec))  # distinguishes texts


def test_embed_documents_shape(spark):
    from gpu_accelerated_vector_indexing_spark.functions.embedder import embed_documents
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    out = embed_documents(docs, dim=32).collect()
    assert len(out) == 10
    assert all(len(r.embedding) == 32 for r in out)


def test_sentence_transformer_gated():
    from gpu_accelerated_vector_indexing_spark.functions.embedder import sentence_transformer_embedder

    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        sentence_transformer_embedder()


@pytest.mark.external
def test_sentence_transformer_real_model_contract(spark):
    """REAL-model smoke (VERDICT r3 Next #7): runs iff
    sentence-transformers actually imports — one `pip install` away
    from executed, never silently dead. Asserts the contract the
    engine depends on (reference embedding.py:16,32): 384-dim
    all-MiniLM-L6-v2 output, float32, finite, deterministic across
    two invocations, non-degenerate norm."""
    pytest.importorskip("sentence_transformers")
    import math

    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.embedder import (
        sentence_transformer_embedder,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(4).select("doc_id", "text")
    embed = sentence_transformer_embedder()  # all-MiniLM-L6-v2
    rows = docs.select("doc_id", embed(F.col("text")).alias("embedding")).collect()
    assert len(rows) == 4
    for r in rows:
        assert len(r.embedding) == 384  # ≙ IVF.cpp:13 dimensionality
        assert all(isinstance(x, float) and math.isfinite(x) for x in r.embedding)
        assert sum(x * x for x in r.embedding) > 0.0
    rows2 = docs.select("doc_id", embed(F.col("text")).alias("embedding")).collect()
    assert [r.embedding for r in rows] == [r.embedding for r in rows2]


def test_sentence_transformer_real_path_with_stub_model(spark, tmp_path):
    """Execute the REAL model-UDF path (reference embedding.py:16,32) —
    the one reference behavior with no test execution before r3 —
    against a deterministic stand-in SentenceTransformer shipped to the
    Python workers via addPyFile. The UDF body (per-worker model
    construction, 1024-batch encode, Series plumbing, float32 output)
    runs for real; only the network weights are faked."""
    import importlib
    import sys
    import textwrap

    from pyspark.sql import functions as F

    stub = tmp_path / "sentence_transformers.py"
    stub.write_text(
        textwrap.dedent(
            """
            import hashlib

            import numpy as np


            class SentenceTransformer:
                DIM = 16

                def __init__(self, model_name):
                    self.model_name = model_name

                def encode(self, texts, batch_size=32):
                    out = []
                    for t in texts:
                        h = hashlib.md5((t or "").encode()).digest()
                        v = np.frombuffer(h, dtype=np.uint8).astype(np.float32)
                        out.append(v[: self.DIM] / 255.0)
                    return np.stack(out)
            """
        )
    )
    spark.sparkContext.addPyFile(str(stub))
    sys.path.insert(0, str(tmp_path))
    importlib.invalidate_caches()
    try:
        from gpu_accelerated_vector_indexing_spark.functions.embedder import (
            sentence_transformer_embedder,
        )
        from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

        docs = load_table(spark, SF_SMOKE, "documents").limit(8).select("doc_id", "text")
        embed = sentence_transformer_embedder("stub-model")
        rows = docs.select("doc_id", embed(F.col("text")).alias("embedding")).collect()
        assert len(rows) == 8
        assert all(len(r.embedding) == 16 for r in rows)
        assert any(any(x != 0.0 for x in r.embedding) for r in rows)
        rows2 = docs.select("doc_id", embed(F.col("text")).alias("embedding")).collect()
        assert [r.embedding for r in rows] == [r.embedding for r in rows2]
    finally:
        # addPyFile also prepends the SparkFiles root to the DRIVER's
        # sys.path — scrub both entries so the import-gate test stays
        # honest wherever it runs in the session
        from pyspark import SparkFiles

        sys.path[:] = [
            p
            for p in sys.path
            if p != str(tmp_path) and not p.startswith(SparkFiles.getRootDirectory())
        ]
        sys.modules.pop("sentence_transformers", None)
        importlib.invalidate_caches()


# --- engine facade + CLI parity (O28, M1+M2 end-to-end) ----------------------


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    from gpu_accelerated_vector_indexing_spark.operators.index_build import build_partitioned_index

    out = str(tmp_path_factory.mktemp("ivf_index"))
    build_partitioned_index(spark, SF_SMOKE, out, k=4, seed=42)
    return out


def _query_vec(spark, sf_dir, query_id=0):
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    row = (
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == query_id).first()
    )
    return [float(x) for x in row.embedding]


def test_engine_full_probe_matches_bruteforce(spark, built_index):
    """n_probe = n_clusters ⇒ identical ids to exact search (§5.2)."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.operators.knn import knn_bruteforce

    qvec = _query_vec(spark, SF_SMOKE)
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=4)
    got = [r.vec_id for r in eng.search(qvec, k=5).collect()]
    exact = [r.vec_id for r in knn_bruteforce(spark, SF_SMOKE, query_id=0, k=5).collect()]
    assert got == exact


def test_engine_sequential_equals_combined(spark, built_index):
    """Both ``sequential_fine_search`` values return identical
    ``(score, vec_id)`` rows (O16≡O17) across queries and k."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    seq = IVFEngine.from_pretrained(spark, built_index, n_probe=2, sequential_fine_search=True)
    comb = IVFEngine.from_pretrained(spark, built_index, n_probe=2, sequential_fine_search=False)
    for qid in (0, 3, 11):
        qvec = _query_vec(spark, SF_SMOKE, qid)
        for k in (1, 5, 50):
            rows = [(r.score, r.vec_id) for r in seq.search(qvec, k=k).collect()]
            assert rows == [(r.score, r.vec_id) for r in comb.search(qvec, k=k).collect()]
            assert rows, f"q{qid} k={k}: empty answer"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran) via a private job group."""
    import uuid

    sc = spark.sparkContext
    group = f"engine-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "engine job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_coarse(centroids, qvec, n_probe):
    """The engine's former per-query coarse job, kept as the oracle for
    the driver-side probes: cosine against every centroid row in Spark,
    rounded to SCORE_SCALE, (score desc, cluster desc), limit n_probe."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.functions.vector import cosine_similarity
    from gpu_accelerated_vector_indexing_spark.operators.knn import SCORE_SCALE

    q = F.lit([float(x) for x in qvec]).cast("array<double>")
    scored = centroids.select(
        "cluster",
        F.round(cosine_similarity(F.col("centroid"), q), SCORE_SCALE).alias("cscore"),
    )
    rows = scored.orderBy(F.desc("cscore"), F.desc("cluster")).limit(n_probe).collect()
    return [r.cluster for r in rows]


def test_engine_driver_probes_match_spark_coarse(spark, built_index, tmp_path):
    """The engine's driver-side coarse stage (``ivf.probe_labels`` over
    engine-held centroid rows) picks the same probes, in the same order,
    as the Spark coarse expression — on the built index's centroids and
    on a table with exact duplicate centroids (tied scores fall back to
    cluster desc), for seeded random queries, the zero query, and
    n_probe up to and past the cluster count."""
    import random

    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine, SearchConfig

    rng = random.Random(2024)
    built = [
        (int(r.cluster), [float(x) for x in r.centroid])
        for r in spark.read.parquet(f"{built_index}/centroids").collect()
    ]
    dim = len(built[0][1])
    rand = [(10 + i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(8)]
    dup = [(20, built[0][1]), (21, rand[2][1]), (22, rand[2][1])]
    cent_path = str(tmp_path / "centroids")
    spark.createDataFrame(
        built + rand + dup, "cluster int, centroid array<double>"
    ).coalesce(1).write.parquet(cent_path)
    cents = spark.read.parquet(cent_path)
    n_clusters = len(built + rand + dup)

    queries = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(6)]
    queries += [[0.0] * dim, built[0][1], rand[2][1]]
    eng = IVFEngine(spark, f"{built_index}/embeddings_indexed", cent_path, SearchConfig())
    for n_probe in (1, 3, n_clusters, n_clusters + 5):
        for qvec in queries:
            assert eng._coarse(qvec, n_probe) == _spark_coarse(cents, qvec, n_probe)
    # clusters 12, 21 and 22 hold the same vector: an exact three-way
    # tie at 1.0, broken by cluster desc
    assert eng._coarse(rand[2][1], 3) == [22, 21, 12]


def test_engine_warm_search_is_one_job(spark, built_index):
    """Centroid rows are collected by the first search only, once per
    engine instance; after that ``search()`` runs no job and its
    ``collect()`` exactly one (the pruned scan with its top-k)."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    qvec = _query_vec(spark, SF_SMOKE)
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=2)
    assert eng._centroid_rows is None  # nothing collected at load
    _, cold_jobs = _jobs(spark, lambda: eng.search(qvec, k=5))
    assert cold_jobs == 1  # the one centroid collect
    held = eng._centroid_rows
    for q in (qvec, _query_vec(spark, SF_SMOKE, 5)):
        df, search_jobs = _jobs(spark, lambda: eng.search(q, k=5))
        assert search_jobs == 0, "a warm search must run no coarse job"
        rows, collect_jobs = _jobs(spark, df.collect)
        assert collect_jobs == 1 and len(rows) == 5
    assert eng._centroid_rows is held


def test_engine_non_finite_query_fails_before_any_job(spark, built_index):
    """A NaN/±Inf query component raises ``ValueError`` from
    ``search()`` itself — not at collect, and before even the cold
    centroid collect runs."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    qvec = _query_vec(spark, SF_SMOKE)
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=2)
    for bad in (float("nan"), float("inf"), float("-inf")):
        q = list(qvec)
        q[3] = bad

        def call(q=q):
            with pytest.raises(ValueError, match="non-finite"):
                eng.search(q, k=5)

        _, jobs = _jobs(spark, call)
        assert jobs == 0
    assert eng._centroid_rows is None


def _cluster_members(eng, clusters):
    return sorted(
        (r.vec_id for r in eng.embeddings.select("cluster", "vec_id").collect() if r.cluster in clusters),
        reverse=True,
    )


def test_engine_zero_query_scores_zero_in_vec_id_order(spark, built_index):
    """A zero query vector scores every centroid and row 0.0 (the
    ``+1e-8`` guard): probes tie-break by cluster desc, and the k rows
    come back scored 0.0 in vec_id desc order."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    dim = len(_query_vec(spark, SF_SMOKE))
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=2)
    rows = eng.search([0.0] * dim, k=5).collect()
    clusters = sorted((c for c, _ in eng._centroid_rows), reverse=True)
    assert eng._coarse([0.0] * dim, 2) == clusters[:2]
    expect = _cluster_members(eng, set(clusters[:2]))[:5]
    assert [(r.score, r.vec_id) for r in rows] == [(0.0, v) for v in expect]


def test_engine_k_past_candidates_returns_every_candidate(spark, built_index):
    """k larger than the probed candidate count returns every row of
    the probed clusters, in (score desc, vec_id desc) order."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    qvec = _query_vec(spark, SF_SMOKE)
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=1)
    rows = eng.search(qvec, k=100_000).collect()
    members = _cluster_members(eng, set(eng._coarse(qvec, 1)))
    assert 0 < len(rows) == len(members)
    assert sorted(r.vec_id for r in rows) == sorted(members)
    keys = [(r.score, r.vec_id) for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_engine_partition_pruning(spark, built_index):
    """The fine scan's plan prunes to n_probe of the cluster partitions."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine

    qvec = _query_vec(spark, SF_SMOKE)
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=1)
    probes = eng._coarse(qvec, 1)
    from pyspark.sql import functions as F

    pruned = eng.embeddings.filter(F.col("cluster").isin(probes))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    # files actually opened shrink to the probed partition directories
    n_files = pruned.select(F.input_file_name().alias("f")).distinct().count()
    all_files = eng.embeddings.select(F.input_file_name().alias("f")).distinct().count()
    assert n_files < all_files


def test_engine_flag_validation():
    from gpu_accelerated_vector_indexing_spark.engine import SearchConfig

    with pytest.raises(ValueError, match="mode"):
        SearchConfig(mode="Turbo").validate()
    with pytest.raises(ValueError, match="threadsperBlock"):
        SearchConfig(threadsperBlock=100).validate()
    with pytest.raises(ValueError, match="n_probe"):
        SearchConfig(n_probe=0).validate()
    SearchConfig(mode="Atomic", threadsperBlock=1024).validate()  # reference-legal


def test_engine_search_with_docs(spark, built_index):
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    qvec = _query_vec(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    eng = IVFEngine.from_pretrained(spark, built_index, n_probe=4)
    rows = eng.search_with_docs(qvec, docs, k=5).collect()
    assert len(rows) == 5
    assert all(len(r.snippet) <= 200 for r in rows)


def test_cli_main_smoke(spark, built_index, tmp_path, capsys):
    """The reference-flag CLI runs end-to-end: .bin query in, timed
    (score, id) rows out (≙ IVF.cpp main, output shape of :688-706)."""
    import numpy as np

    from gpu_accelerated_vector_indexing_spark.engine import main

    np.asarray(_query_vec(spark, SF_SMOKE), dtype=np.float32).tofile(tmp_path / "query1.bin")
    main(
        [
            "--index_dir", built_index,
            "--query_bin", str(tmp_path / "query1.bin"),
            "--dim", "64",
            "--k", "5",
            "--n_probe", "4",
            "--mode", "Atomic",
            "--threadsperBlock", "512",
        ]
    )
    out = capsys.readouterr().out
    assert "Search Time:" in out  # run_multiple_configs.sh:93 parse format
    assert len([l for l in out.splitlines() if l.startswith("(")]) == 5


@pytest.fixture(scope="module")
def built_graph_index(spark, tmp_path_factory):
    """A pretrained graph index on disk: edges + normed corpus — the
    layout GraphEngine.from_pretrained consumes."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        fixture_graph,
        fixture_normed,
        write_graph_index,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    out = str(tmp_path_factory.mktemp("graph_index"))
    corpus_normed = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "label")
        .join(fixture_normed(spark, SF_SMOKE), "vec_id")
    )
    write_graph_index(fixture_graph(spark, SF_SMOKE), corpus_normed, out)
    return out


def test_graph_engine_matches_in_session(spark, built_graph_index):
    """The persisted-index facade search must equal the in-session beam
    walk value-for-value — persistence changes nothing."""
    from gpu_accelerated_vector_indexing_spark.engine import GraphEngine
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import knn_graph_beam

    qvec = _query_vec(spark, SF_SMOKE)
    eng = GraphEngine.from_pretrained(spark, built_graph_index)
    got = [(r.vec_id, r.score) for r in eng.search(qvec, k=5).collect()]
    want = [
        (r.vec_id, r.score)
        for r in knn_graph_beam(spark, SF_SMOKE, query_id=0, k=5).collect()
    ]
    assert got == want


def test_graph_engine_validates_knobs(spark, built_graph_index):
    from gpu_accelerated_vector_indexing_spark.engine import GraphEngine

    with pytest.raises(ValueError, match="beam_width"):
        GraphEngine.from_pretrained(spark, built_graph_index, beam=0)


def test_cli_main_smoke_graph(spark, built_graph_index, tmp_path, capsys):
    """--index graph drives the second index class through the same CLI
    (the reference's mode-switch posture, IVF.cpp:558-635, extended)."""
    import numpy as np

    from gpu_accelerated_vector_indexing_spark.engine import main

    np.asarray(_query_vec(spark, SF_SMOKE), dtype=np.float32).tofile(
        tmp_path / "queryg.bin"
    )
    main(
        [
            "--index_dir", built_graph_index,
            "--index", "graph",
            "--query_bin", str(tmp_path / "queryg.bin"),
            "--dim", "64",
            "--k", "5",
            "--beam_width", "8",
        ]
    )
    out = capsys.readouterr().out
    assert "Search Time:" in out
    assert len([l for l in out.splitlines() if l.startswith("(")]) == 5


def test_float32bin_datasource_matches_composed_reader(spark, tmp_path):
    """The custom Python DataSource (format('float32bin')) must return
    exactly what the composed binaryFile+mapInPandas reader returns —
    same ids, same vectors, same per-file partitioning convention."""
    from gpu_accelerated_vector_indexing_spark.sources import bin_datasource
    from gpu_accelerated_vector_indexing_spark.sources.binary import read_float32_bin

    rng = np.random.default_rng(11)
    a = rng.standard_normal((6, 4)).astype(np.float32)
    b = rng.standard_normal((2, 4)).astype(np.float32)
    a.tofile(tmp_path / "cluster_embeddings_0.bin")
    b.tofile(tmp_path / "cluster_embeddings_1.bin")

    bin_datasource.register(spark)
    via_ds = (
        spark.read.format("float32bin")
        .option("dim", 4)
        .load(str(tmp_path / "*.bin"))
        .orderBy("vec_id")
        .collect()
    )
    via_composed = (
        read_float32_bin(spark, str(tmp_path / "*.bin"), dim=4).orderBy("vec_id").collect()
    )
    assert [r.vec_id for r in via_ds] == [r.vec_id for r in via_composed] == list(range(8))
    got = np.asarray([r.embedding for r in via_ds], dtype=np.float32)
    np.testing.assert_array_equal(got, np.vstack([a, b]))
    # in-file position and source path survive the connector
    assert all(r.path.endswith(".bin") for r in via_ds)
    assert [r.pos for r in via_ds] == [0, 1, 2, 3, 4, 5, 0, 1]


def test_float32bin_datasource_rejects_bad_size(spark, tmp_path):
    from gpu_accelerated_vector_indexing_spark.sources import bin_datasource

    (tmp_path / "bad.bin").write_bytes(b"\x00" * 10)  # not divisible by 16
    bin_datasource.register(spark)
    import pytest as _pytest

    with _pytest.raises(Exception, match="divisible"):
        spark.read.format("float32bin").option("dim", 4).load(
            str(tmp_path / "bad.bin")
        ).collect()


def test_explain_cli_smoke(spark, capsys):
    """The plan-inspection CLI prints a formatted physical plan with the
    pushdown evidence visible."""
    from gpu_accelerated_vector_indexing_spark.explain import main

    assert main(["filtered_scan", "--sf-dir", SF_SMOKE]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_float32bin_stream_incremental_arrival(spark, tmp_path):
    """The streaming reader's file-arrival semantics: a second micro-batch
    picks up ONLY newly-arrived files, and global vec_ids continue from
    the previous offset's row base (the sorted-filename id convention
    held across batches)."""
    import numpy as np

    from gpu_accelerated_vector_indexing_spark.sources import bin_datasource

    bin_datasource.register(spark)
    rng = np.random.default_rng(7)
    a = rng.random((3, 4), dtype=np.float32)
    b = rng.random((2, 4), dtype=np.float32)
    a.tofile(str(tmp_path / "part_a.bin"))

    stream = spark.readStream.format("float32bin").option("dim", 4).load(str(tmp_path))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("binstream_inc")
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.table("binstream_inc").collect()
        assert sorted(r.vec_id for r in first) == [0, 1, 2]
        b.tofile(str(tmp_path / "part_b.bin"))
        q.processAllAvailable()
        both = spark.table("binstream_inc").collect()
    finally:
        q.stop()
    assert sorted(r.vec_id for r in both) == [0, 1, 2, 3, 4]
    got = {r.vec_id: list(r.embedding) for r in both}
    np.testing.assert_allclose(np.array([got[3], got[4]], dtype=np.float32), b)


def test_write_float32_bin_clustered_matches_driver_export(spark, tmp_path):
    """The executor-side per-cluster exporter must produce byte-identical
    files to a driver-side reference export: one
    cluster_embeddings_{label:03d}.bin per label, rows in vec_id order."""
    import os

    from gpu_accelerated_vector_indexing_spark.sources.binary import (
        write_float32_bin_clustered,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("label", "vec_id", "embedding")
    out = tmp_path / "clustered"
    out.mkdir()
    write_float32_bin_clustered(emb, str(out))

    rows = emb.collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    assert sorted(os.listdir(out)) == [
        f"cluster_embeddings_{label:03d}.bin" for label in sorted(by_label)
    ]
    for label, rs in by_label.items():
        want = np.array(
            [r.embedding for r in sorted(rs, key=lambda r: r.vec_id)], dtype="<f4"
        ).tobytes()
        got = (out / f"cluster_embeddings_{label:03d}.bin").read_bytes()
        assert got == want


def test_float32bin_stream_replay_uses_recorded_counts(tmp_path):
    """Exactly-once recovery contract of the PARTITIONED stream reader
    (r11 — executor-side decode): partitions(start, end) derives each
    new file's base deterministically from the offsets alone and the
    RECORDED row counts, decode happens per partition, and a file that
    changed after commit is refused (rather than silently re-basing
    vec_ids)."""
    from gpu_accelerated_vector_indexing_spark.sources.bin_datasource import (
        Float32BinStreamReader,
    )

    rng = np.random.default_rng(11)
    a = rng.random((3, 4), dtype=np.float32)
    b = rng.random((2, 4), dtype=np.float32)
    a.tofile(str(tmp_path / "part_a.bin"))
    b.tofile(str(tmp_path / "part_b.bin"))

    reader = Float32BinStreamReader({"path": str(tmp_path), "dim": "4"})
    start = reader.initialOffset()
    end = reader.latestOffset()
    # offsets record (path, row_count) pairs — replay needs no stat()
    assert sorted(n for _, n in end["seen"]) == [2, 3]
    assert end["base"] == 5

    parts = list(reader.partitions(start, end))
    assert [(p.base, p.n_rows) for p in parts] == [(0, 3), (3, 2)]
    batch = [r for p in parts for r in reader.read(p)]
    assert [r[0] for r in batch] == [0, 1, 2, 3, 4]

    # a second listing with no new files plans an empty range
    assert reader.latestOffset() == end
    assert list(reader.partitions(end, end)) == []

    # replay of the committed range is identical
    replay = [r for p in reader.partitions(start, end) for r in reader.read(p)]
    assert [(r[0], r[3]) for r in replay] == [(r[0], r[3]) for r in batch]

    # grow a committed file: replay must fail loudly, not shift ids
    np.concatenate([a, a]).tofile(str(tmp_path / "part_a.bin"))
    with pytest.raises(ValueError, match="changed since commit"):
        list(reader.partitions(start, end))


def test_write_npy_clustered_matches_reference_layout(spark, tmp_path):
    """Per-cluster .npy export must be byte-identical to the reference
    build pipeline's np.save of the vec_id-sorted cluster matrix
    (clusters.py:32-35)."""
    import io
    import os

    from gpu_accelerated_vector_indexing_spark.sources.binary import write_npy_clustered
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("label", "vec_id", "embedding")
    out = tmp_path / "npy"
    out.mkdir()
    write_npy_clustered(emb, str(out))

    rows = emb.collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    assert sorted(os.listdir(out)) == [
        f"cluster_embeddings_{label:03d}.npy" for label in sorted(by_label)
    ]
    for label, rs in by_label.items():
        mat = np.asarray(
            [r.embedding for r in sorted(rs, key=lambda r: r.vec_id)], dtype=np.float32
        )
        buf = io.BytesIO()
        np.save(buf, mat)
        assert (out / f"cluster_embeddings_{label:03d}.npy").read_bytes() == buf.getvalue()


def test_write_article_dir_roundtrips_ids_and_text(spark, tmp_path):
    """The article-JSON export must re-ingest through read_article_dir
    with positional ids equal to the original doc_ids and texts intact,
    including across file boundaries."""
    from gpu_accelerated_vector_indexing_spark.sources.articles import (
        read_article_dir,
        write_article_dir,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = tmp_path / "articles"
    out.mkdir()
    write_article_dir(docs, str(out), docs_per_file=64)  # force several files

    back = {r.doc_id: r.text for r in read_article_dir(spark, str(out)).collect()}
    want = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert back == want


def test_jsonl_shard_layout_on_disk(spark):
    """The sink must actually produce shard=<i> directories of .json.gz
    members (the layout a plain-file training loader consumes), and the
    gzip members must decode to one JSON object per line."""
    import glob
    import gzip
    import json
    import tempfile

    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from gpu_accelerated_vector_indexing_spark.sources.formats import SHARD_JSONL_N

    docs = load_table(spark, SF_SMOKE, "documents")
    out = tempfile.mkdtemp(prefix="gpu_accelerated_vector_indexing_jsonl_test_")
    (
        docs.withColumn("shard", F.col("doc_id") % SHARD_JSONL_N)
        .repartition(SHARD_JSONL_N, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .json(out)
    )
    shard_dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(shard_dirs) == SHARD_JSONL_N
    files = glob.glob(f"{out}/shard=*/part-*.json.gz")
    assert files, "expected gzip JSONL members"
    with gzip.open(files[0], "rt") as fh:
        first = json.loads(fh.readline())
    assert {"doc_id", "text", "lang", "source"} <= set(first)
