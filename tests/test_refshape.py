"""Reference-shape (128 clusters × 384 dims) coverage.

The reference's constants (IVF.cpp:13-14) never matched the 10 × 64
fixtures, so constants-driven bugs — multi-word sign-bit packing, probe
lists over 128 labels, 384-element folds — had no test until this file:
parity vs the DuckDB oracle at two SFs, NumPy cross-checks of the
multi-word codes, the BQ candidate-margin pin, and the CLI end-to-end
on a REAL MLlib KMeans 128 × 384 index.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.parity import assert_parity


def _names():
    from gpu_accelerated_vector_indexing_spark.queries import refshape_q

    return sorted(refshape_q.ORACLES)


@pytest.mark.parametrize("name", _names())
def test_refshape_parity_smoke(spark, duck, name):
    assert_parity(spark, duck, name, SF_SMOKE)


@pytest.mark.parametrize("name", _names())
def test_refshape_parity_sf001(spark, duck, name):
    assert_parity(spark, duck, name, SF_CORRECT)


def test_bq_codes_multiword_matches_numpy(spark):
    """384-dim sign codes pack into exactly 6 BIGINT words, bit-for-bit
    equal to a NumPy packing and to the driver-side query packer
    (bq_query_words); word 0 at dim=64 equals the one-word bq_code;
    multi-word Hamming equals NumPy popcount of the XOR."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.quantize import (
        bq_code,
        bq_codes,
        bq_hamming,
        bq_query_words,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((8, 384))

    def pack(v):
        words = []
        for w0 in range(0, len(v), 64):
            bits = np.uint64(0)
            for j, x in enumerate(v[w0 : w0 + 64]):
                if x > 0:
                    bits |= np.uint64(1) << np.uint64(j)
            words.append(int(np.int64(bits)))
        return words

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "i INT, v ARRAY<DOUBLE>"
    )
    got = {
        r.i: (list(r.codes), r.word0)
        for r in df.select(
            "i",
            bq_codes(F.col("v"), 384).alias("codes"),
            bq_code(F.slice("v", 1, 64), 64).alias("word0"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        want = pack(v)
        assert len(got[i][0]) == 6
        assert got[i][0] == want
        assert got[i][1] == want[0]  # one-word compatibility
        assert bq_query_words([float(x) for x in v]) == want

    # pairwise Hamming vs NumPy popcount
    a = df.select(F.col("i").alias("ia"), bq_codes(F.col("v"), 384).alias("ca"))
    b = df.select(F.col("i").alias("ib"), bq_codes(F.col("v"), 384).alias("cb"))
    ham = {
        (r.ia, r.ib): r.h
        for r in a.join(b).select(
            "ia", "ib", bq_hamming(F.col("ca"), F.col("cb")).alias("h")
        ).collect()
    }
    for i in range(len(vecs)):
        for j in range(len(vecs)):
            want = sum(
                bin((x ^ y) & (2**64 - 1)).count("1")
                for x, y in zip(pack(vecs[i]), pack(vecs[j]))
            )
            assert ham[(i, j)] == want


def test_refshape_bq_margin(spark):
    """The candidate-margin contract behind the shared oracle: the BQ
    candidate scan + exact rescore equals the exact fine search at the
    production margin, and the margin is LOAD-BEARING (a margin of k
    degrades recall — the approximation is real, not vacuous)."""
    from gpu_accelerated_vector_indexing_spark.operators.refshape import (
        refshape_search_bq,
        refshape_search_cli,
    )

    exact = [(r.vec_id, r.score) for r in refshape_search_cli(spark, SF_CORRECT).collect()]
    bq = [(r.vec_id, r.score) for r in refshape_search_bq(spark, SF_CORRECT).collect()]
    assert bq == exact

    starved = {
        r.vec_id for r in refshape_search_bq(spark, SF_CORRECT, n_candidates=5).collect()
    }
    assert starved != {v for v, _ in exact}


def test_refshape_cli_end_to_end(spark, tmp_path, capsys):
    """The CLI (engine.main) at the reference's true shape: MLlib KMeans
    k=128 over a 384-dim corpus, cluster-partitioned write, query read
    from a raw float32 .bin, timed (score, id) output — and at full
    probe the printed ids must equal brute force over the same corpus."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.engine import main
    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        build_partitioned_index,
    )
    from gpu_accelerated_vector_indexing_spark.operators.refshape import (
        REF_CLUSTERS,
        REF_DIM,
        ref_corpus,
    )

    # a reference-shape corpus dir: 384-dim embeddings.parquet
    sf384 = tmp_path / "sf384"
    sf384.mkdir()
    ref_corpus(spark, SF_SMOKE).select("vec_id", "embedding").write.parquet(
        str(sf384 / "embeddings.parquet")
    )

    idx = tmp_path / "index"
    build_partitioned_index(spark, str(sf384), str(idx), k=REF_CLUSTERS, seed=42)
    # 128 cluster partition directories on disk, as the reference lays out
    n_dirs = len(list((idx / "embeddings_indexed").glob("cluster=*")))
    assert n_dirs == REF_CLUSTERS

    # query = corpus vector 0, exported through the reference .bin format
    qvec = np.asarray(
        spark.read.parquet(str(sf384 / "embeddings.parquet"))
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding,
        dtype=np.float32,
    )
    qbin = tmp_path / "query.bin"
    qvec.tofile(str(qbin))

    main(
        [
            "--index_dir", str(idx),
            "--query_bin", str(qbin),
            "--dim", str(REF_DIM),
            "--k", "5",
            "--n_probe", str(REF_CLUSTERS),  # full probe ≡ brute force
        ]
    )
    out = capsys.readouterr().out
    assert "Search Time:" in out
    printed = [
        int(line.rsplit(",", 1)[1].strip(" ()"))
        for line in out.splitlines()
        if line.startswith("(")
    ]
    assert len(printed) == 5

    # brute force over the same corpus with the same float32-rounded query
    emb = spark.read.parquet(str(sf384 / "embeddings.parquet"))
    q = F.lit([float(x) for x in qvec]).cast("array<double>")
    brute = (
        emb.select(
            "vec_id",
            F.round(cosine_similarity(as_double_array("embedding"), q), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.desc("vec_id"))
        .limit(5)
        .collect()
    )
    assert printed == [r.vec_id for r in brute]


def test_refshape_search_reads_the_128_cell_pin(spark):
    """At reference shape the engine serves a REAL 128-directory layout
    from its pin: the 20-probe list filters the ``InMemoryTableScan``
    below the score projection, so only probed rows are scored, and no
    directory is opened per query (the layout's own pruning is pinned
    by ``test_engine_partition_pruning``)."""
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.operators.refshape import (
        REF_N_PROBE,
        ref_qvec,
        refshape_index,
    )
    from tests.conftest import assert_pinned_point_search

    idx = refshape_index(spark, SF_SMOKE)
    qvec = ref_qvec(spark, SF_SMOKE, 0)
    eng = IVFEngine.from_pretrained(spark, idx, n_probe=REF_N_PROBE)
    assert len(eng._coarse(qvec, REF_N_PROBE)) == REF_N_PROBE
    assert_pinned_point_search(eng.search(qvec, k=5))


def test_ref_qvec_is_the_derived_corpus_row(spark):
    """``ref_qvec`` derives the 384-dim query on the driver from the
    memoized fixture vector; power-of-two scalings are exact, so it is
    bit-for-bit the derived corpus row the oracle replays."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.refshape import ref_corpus, ref_qvec

    for qid in (0, 7, 499):
        row = ref_corpus(spark, SF_SMOKE).filter(F.col("vec_id") == qid).first()
        assert ref_qvec(spark, SF_SMOKE, qid) == [float(x) for x in row.embedding]
