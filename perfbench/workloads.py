"""The benchmark's workloads, driving the engine through public functions.

Each workload writes its seeded input files and computes their ground
truth in ``prepare``, makes its index servable in ``setup`` and then
serves operations from ``op``. ``op`` only sends the request and waits
for the whole answer; the ``verify`` it returns checks the answer
against NumPy afterwards, outside the timed span. Spans name the layer
called: ``sources``, ``index_build``, ``engine``, ``ivf`` and
``graph_ann``.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from checks import check_topk, recall

K = 10
N_PROBE = 20


def tree_bytes_and_files(path: str) -> tuple[int, int]:
    """(bytes of every regular file under path, number of parquet files)."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def write_parquet(path: str, **columns) -> None:
    """One parquet file; a 2-D array becomes a list column of its dtype."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def column(a):
        a = np.asarray(a)
        if a.ndim == 1:
            return pa.array(a)
        flat = pa.array(np.ascontiguousarray(a).reshape(-1))
        return pa.FixedSizeListArray.from_arrays(flat, a.shape[1]).cast(pa.list_(flat.type))

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({k: column(v) for k, v in columns.items()}), path)


def reachable(vectors: np.ndarray, cells: np.ndarray, centroids: np.ndarray) -> int:
    """Index of the first row whose cell is among its N_PROBE // 2 best
    centroids by cosine, so its own search surely probes it."""
    v = vectors.astype(np.float64)
    cos = (v @ centroids.T) / (np.linalg.norm(centroids, axis=1)[None, :] + gen.EPSILON)
    top = np.argsort(-cos, axis=1)[:, : N_PROBE // 2]
    return int(np.flatnonzero((top == cells[:, None]).any(axis=1))[0])


def l2_cells(vectors: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """The L2-nearest centroid of every row: ``append_to_index``'s rule."""
    v = vectors.astype(np.float64)
    d2 = (v * v).sum(axis=1)[:, None] - 2 * v @ centroids.T + (centroids * centroids).sum(axis=1)[None, :]
    return d2.argmin(axis=1)


def write_fixture(sf: str, mix: gen.Mixture) -> None:
    """The corpus as a fixture directory: ``embeddings.parquet`` with
    ``vec_id``, the generating cluster ``label`` and ``embedding``."""
    write_parquet(
        f"{sf}/embeddings.parquet/part-0.parquet",
        vec_id=np.arange(len(mix.vectors), dtype=np.int64),
        label=mix.labels,
        embedding=mix.vectors,
    )


def group_rows(rows, rank: str | None = None) -> dict[int, list[tuple[int, int, float]]]:
    """Batch answer rows → {query_id: [(rank, vec_id, score)]}, sorted by
    rank when the API returns one, else by (score desc, vec_id desc)."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        rk = int(r[rank]) if rank else 0
        out.setdefault(int(r.query_id), []).append((rk, int(r.vec_id), float(r.score)))
    for lst in out.values():
        lst.sort(key=(lambda t: t[0]) if rank else (lambda t: (-t[2], -t[1])))
    return out


def check_batch(by_q, queries: dict[int, np.ndarray], truth: dict[int, np.ndarray], vectors, ranked: bool):
    """Check every query of one batch answer: (problems, recalls)."""
    problems, recalls = [], []
    for qid, q in queries.items():
        ans = by_q.get(qid, [])
        if ranked and [rk for rk, _, _ in ans] != list(range(1, len(ans) + 1)):
            problems.append(f"query {qid}: ranks not 1..k")
        pairs = [(vid, s) for _, vid, s in ans]
        problems += check_topk(pairs, vectors, q, K, ordered=ranked)
        recalls.append(recall([vid for vid, _ in pairs], truth[qid]))
    return problems, recalls


class IvfPoint:
    """Single fresh queries through a warm ``IVFEngine`` — the
    reference's own query path: coarse centroid search, pruned scan,
    top-k.

    Setup lays the corpus out as a fixture directory (the rows with
    their cluster ``label``) and has the engine build the IVF index from
    it (``ivf.merged_ivf_index``: per-shard centroid statistics, merged
    into 128 centroids, and a cluster-partitioned write). The first
    query, sent in setup, is a corpus row that must come back at rank 1.

    The traced run also ingests more rows the way the reference ships
    them (``probe``): reference-format ``.bin`` shards read by
    ``read_float32_bin`` and written into their cells by
    ``append_to_index``."""

    N_ROWS = 1024
    N_POINT = 64
    N_APPEND = 256  # rows the traced ingest probe appends
    N_SHARDS = 4
    WARM = 3  # untimed operations after setup
    MIN_OPS = 5  # recall is taken over the setup query, WARM and these

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.mix = gen.mixture(seed, self.N_ROWS, self.N_POINT + self.N_APPEND)

    def prepare(self) -> None:
        self.sf = os.path.join(self.work, "fixture")
        write_fixture(self.sf, self.mix)
        vectors = self.mix.vectors
        self.queries = self.mix.queries[: self.N_POINT]
        self.centroids = gen.label_means(vectors, self.mix.labels)
        # the setup query: the first row whose own cell is well inside
        # its probes (probes rank centroids by cosine, so a row's own
        # cell can fall outside them)
        self.own = reachable(vectors, self.mix.labels, self.centroids)
        self.points = np.concatenate([vectors[self.own][None, :], self.queries])
        self.truth = gen.exact_topk(vectors, self.points, K)

    def setup(self) -> None:
        from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
        from gpu_accelerated_vector_indexing_spark.operators import ivf

        with self.tr.span("ivf.build", jobs=True):
            self.idx = ivf.merged_ivf_index(self.spark, self.sf)
        with self.tr.span("engine.load"):
            self.engine = IVFEngine.from_pretrained(self.spark, self.idx, n_probe=N_PROBE)
        if self.tr.enabled:
            self.centroid_rows = [(c, [float(x) for x in row]) for c, row in enumerate(self.centroids)]
            self.candidates: list[int] = []

    def op(self, i: int):
        j = i % len(self.points)
        q = self.points[j]
        qlist = [float(x) for x in q]
        with self.tr.span("engine.search_call", qid=i, jobs=True):
            df = self.engine.search(qlist, k=K)
        with self.tr.span("engine.collect", qid=i, jobs=True):
            rows = df.collect()

        def verify():
            answer = [(int(r.vec_id), float(r.score)) for r in rows]
            if self.tr.enabled:
                # candidates: the rows of the probed cells, recounted
                from gpu_accelerated_vector_indexing_spark.operators.ivf import probe_labels

                probes = probe_labels(self.centroid_rows, qlist, N_PROBE)
                self.candidates.append(int(np.isin(self.mix.labels, probes).sum()))
            found = [vid for vid, _ in answer]
            problems = check_topk(answer, self.mix.vectors, q, K)
            if j == 0 and found[:1] != [self.own]:
                problems.append(f"corpus row {self.own} not at rank 1")
            return problems, [recall(found, self.truth[j])]

        return "point", 1, verify

    def probe(self) -> list[str]:
        """Traced runs only: ingest N_APPEND more rows (vec_ids from
        N_ROWS on) from ``.bin`` shards into the index, then search a
        fresh engine for one of them, which must come back at rank 1.
        Returns the problems found in that answer."""
        from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
        from gpu_accelerated_vector_indexing_spark.operators.index_build import append_to_index
        from gpu_accelerated_vector_indexing_spark.sources.binary import read_float32_bin

        from pyspark.sql import functions as F

        new = self.mix.queries[self.N_POINT :]
        shards = os.path.join(self.work, "shards")
        gen.write_shards(new, shards, self.N_SHARDS)
        with self.tr.span("sources.read", jobs=True):
            vecs = read_float32_bin(self.spark, shards, gen.DIM)
        with self.tr.span("sources.decode", jobs=True):
            rows = vecs.select((F.col("vec_id") + self.N_ROWS).alias("vec_id"), "embedding").cache()
            rows.count()
        with self.tr.span("index_build.append", jobs=True):
            append_to_index(self.spark, self.idx, rows)
        rows.unpersist()
        self.index_bytes, self.files = tree_bytes_and_files(f"{self.idx}/embeddings_indexed")
        self.input_bytes = (self.N_ROWS + len(new)) * gen.DIM * 4
        # the appended row to look for: append_to_index puts each row in
        # its L2-nearest cell, which its cosine probes may miss
        pick = reachable(new, l2_cells(new, self.centroids), self.centroids)
        with self.tr.span("engine.load"):
            engine = IVFEngine.from_pretrained(self.spark, self.idx, n_probe=N_PROBE)
        answer = [(int(r.vec_id), float(r.score)) for r in engine.search([float(x) for x in new[pick]], k=K).collect()]
        problems = check_topk(answer, np.concatenate([self.mix.vectors, new]), new[pick], K)
        if [vid for vid, _ in answer[:1]] != [self.N_ROWS + pick]:
            problems.append(f"appended row {self.N_ROWS + pick} not at rank 1")
        return problems


class IvfBatch:
    """Batches of corpus-row query ids through ``ivf.multi_query_knn_ivf``
    over a fixture directory (the corpus with its cluster ``label``):
    per-query cost is amortised over the batch. Setup fills the
    program's centroid and query-vector memos for the query pool; the
    first batch, sent in setup, warms the plan."""

    N_ROWS = 2048
    BATCH = 8
    N_POOL = 16 * BATCH
    WARM = 2  # untimed operations after setup
    MIN_OPS = 2  # recall is taken over the setup batch, WARM and these
    GRAPH_ROWS = 1024  # corpus rows the traced graph probe indexes

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.work = spark, tracer, work
        # the queries are only for the traced graph probe
        self.mix = gen.mixture(seed, self.N_ROWS, 2 * self.BATCH)
        order = np.random.default_rng(seed + 1).permutation(self.N_ROWS)
        self.pool = [int(x) for x in order[: self.N_POOL]]

    def prepare(self) -> None:
        self.sf = os.path.join(self.work, "fixture")
        write_fixture(self.sf, self.mix)
        vectors = self.mix.vectors
        self.truth = dict(zip(self.pool, gen.exact_topk(vectors, vectors[self.pool], K)))

    def setup(self) -> None:
        from gpu_accelerated_vector_indexing_spark.operators import ivf

        with self.tr.span("ivf.memo", jobs=True):
            ivf.fixture_centroid_rows(self.spark, self.sf)
            ivf.fixture_qvecs(self.spark, self.sf, tuple(self.pool))

    def op(self, b: int):
        from gpu_accelerated_vector_indexing_spark.operators import ivf

        lo = b % (self.N_POOL // self.BATCH) * self.BATCH
        ids = self.pool[lo : lo + self.BATCH]
        with self.tr.span("ivf.plan", qid=b, jobs=True):
            df = ivf.multi_query_knn_ivf(self.spark, self.sf, ids, k=K, n_probe=N_PROBE)
        with self.tr.span("ivf.exec", qid=b, jobs=True):
            rows = df.collect()

        def verify():
            queries = {qid: self.mix.vectors[qid] for qid in ids}
            return check_batch(group_rows(rows, rank="rn"), queries, self.truth, self.mix.vectors, True)

        return "batch", len(ids), verify

    def probe(self) -> list[str]:
        """Traced runs only: the graph index class over the first
        GRAPH_ROWS corpus rows. The exact GRAPH_K-nearest-neighbour graph
        is computed in NumPy (the engine's NN-descent build is far too
        slow for a run) and written by the engine with its normed corpus
        (``graph_ann.write_graph_index``); one warm-up batch and one timed
        batch of fresh queries then go through ``GraphEngine.search_batch``
        with one hop. Returns the problems found in the timed answer."""
        import pandas as pd

        from gpu_accelerated_vector_indexing_spark.engine import GraphEngine
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import write_graph_index

        corpus = self.mix.vectors[: self.GRAPH_ROWS]
        v = corpus.astype(np.float64)
        edges = pd.DataFrame(exact_knn_graph(corpus, GRAPH_K))
        normed = pd.DataFrame(
            {
                "vec_id": np.arange(len(v), dtype=np.int64),
                "label": self.mix.labels[: self.GRAPH_ROWS],
                "v": list(v),
                "nrm": np.sqrt((v * v).sum(axis=1)),
            }
        )
        gidx = os.path.join(self.work, "graph_index")
        with self.tr.span("graph_ann.write", jobs=True):
            write_graph_index(
                self.spark.createDataFrame(edges, "node long, nbr long, score double, rk int"),
                self.spark.createDataFrame(normed, "vec_id long, label int, v array<double>, nrm double"),
                gidx,
            )
        graph = GraphEngine.from_pretrained(self.spark, gidx, hops=GRAPH_HOPS)
        warm, timed = (
            [(q, [float(x) for x in self.mix.queries[b * self.BATCH + q]]) for q in range(self.BATCH)]
            for b in range(2)
        )
        graph.search_batch(warm, k=K).collect()
        with self.tr.span("engine.graph_walk", qid=0, jobs=True):
            df = graph.search_batch(timed, k=K)
        with self.tr.span("engine.graph_collect", qid=0, jobs=True):
            rows = df.collect()
        queries = {qid: np.asarray(q) for qid, q in timed}
        truth = dict(zip(queries, gen.exact_topk(corpus, np.stack(list(queries.values())), K)))
        return check_batch(group_rows(rows), queries, truth, corpus, False)[0]


GRAPH_K = 8  # neighbours per node, the engine's K_GRAPH
# One hop from the entry points (the engine default is 3): each hop is two
# driver round trips.
GRAPH_HOPS = 1


def exact_knn_graph(vectors: np.ndarray, k: int) -> dict[str, np.ndarray]:
    """Exact k-nearest-neighbour graph in the engine's edge layout
    (node, nbr, score, rk): cosine rounded to 6 places, ranked by
    (score desc, nbr asc), self excluded."""
    v = vectors.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    n = len(v)
    nbrs = np.empty((n, k), dtype=np.int64)
    scores = np.empty((n, k))
    for lo in range(0, n, 512):
        hi = min(n, lo + 512)
        s = np.round((v[lo:hi] @ v.T) / (norms[lo:hi, None] * norms[None, :] + gen.EPSILON), 6)
        s[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf
        top = np.argpartition(-s, k, axis=1)[:, :k]
        top_s = np.take_along_axis(s, top, axis=1)
        order = np.lexsort((top, -top_s), axis=1)
        nbrs[lo:hi] = np.take_along_axis(top, order, axis=1)
        scores[lo:hi] = np.take_along_axis(top_s, order, axis=1)
    return {
        "node": np.repeat(np.arange(n, dtype=np.int64), k),
        "nbr": nbrs.reshape(-1),
        "score": scores.reshape(-1),
        "rk": np.tile(np.arange(1, k + 1, dtype=np.int32), n),
    }


WORKLOADS = {"ivf_point": IvfPoint, "ivf_batch": IvfBatch}
