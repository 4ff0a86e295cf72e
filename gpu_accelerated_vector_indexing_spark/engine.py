"""End-user engine facade + CLI — drop-in surface for reference users.

≙ reference ``./IVF --flags`` (SURVEY.md §3.1): load a pretrained IVF
index, run one query, print (score, id) rows, optionally mapped back to
article text. Every CLI flag of IVF.cpp:558-635 is accepted with the
same name, type, and default (IVF.cpp:549-555); GPU-only knobs
(``--mode``, ``--threadsperBlock``, ``--use_cuda_coarse/fine``) are
validated exactly like the reference (mode ∈ {Atomic, NonAtomic};
threadsperBlock a positive multiple of 32, IVF.cpp:604-619) and are
otherwise inert — the "kernel choice" is Spark's task parallelism
(SURVEY.md §4 P9).

Where the reference eagerly loads ALL 128 cluster files at startup
(IVF.cpp:456-486 — §4 P10's anti-optimization), this engine is lazy:
``from_pretrained`` only binds the table paths, and a search with
``cluster IN (probes)`` opens just the probed partition directories
(Parquet partition pruning) — the property that holds at 100 TB.

The coarse stage runs on the driver, as the reference's does
(IVF.cpp:271-282): the first search collects the tiny centroid table
(≤ a few hundred rows) once and keeps it on the engine, and every
search ranks it with ``ivf.probe_labels``. A warm search is then ONE
Spark job — the pruned fine scan and its top-k — with the query
shipped as one parsed literal and its norm hoisted to a scalar.
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import (
    as_double_array,
    cosine_similarity_hoisted,
    lit_double_array,
    seq_l2_norm,
)
from gpu_accelerated_vector_indexing_spark.memo import session_state
from gpu_accelerated_vector_indexing_spark.operators.ivf import probe_labels
from gpu_accelerated_vector_indexing_spark.operators.knn import SCORE_SCALE

VALID_MODES = ("Atomic", "NonAtomic")  # IVF.cpp:583-588


@dataclass
class SearchConfig:
    """≙ the reference's parsed flag set (IVF.cpp:549-555 defaults)."""

    n_probe: int = 20
    mode: str = "NonAtomic"
    # accepted, inert: orderBy(...).limit(k) plans as
    # TakeOrderedAndProject, which already runs a per-partition partial
    # top-k and then merges — the reference's sequential strategy
    # (IVF.cpp:286-342) — so both flag values share one plan
    sequential_fine_search: bool = True
    use_cuda_coarse: bool = False  # accepted, inert (SURVEY.md §4 P9)
    use_cuda_fine: bool = False  # accepted, inert
    threadsperBlock: int = 256  # accepted, inert
    print_results: bool = False

    def validate(self) -> None:
        if self.mode not in VALID_MODES:  # IVF.cpp:585-588
            raise ValueError(f"--mode must be one of {VALID_MODES}, got {self.mode!r}")
        if self.threadsperBlock <= 0 or self.threadsperBlock % 32 != 0:  # IVF.cpp:604-619
            raise ValueError("--threadsperBlock must be a positive multiple of 32")
        if self.n_probe <= 0:
            raise ValueError("--n_probe must be positive")


class IVFEngine:
    """Online query engine over a prebuilt cluster-partitioned index.

    Index layout = ``operators.index_build.build_partitioned_index``
    output: ``{index_dir}/embeddings_indexed`` (partitioned by
    ``cluster``) + ``{index_dir}/centroids``.
    """

    def __init__(
        self,
        spark: SparkSession,
        emb_path: str,
        cent_path: str,
        config: SearchConfig,
        tombstones: DataFrame | None = None,
    ):
        config.validate()
        self.spark = spark
        self.config = config
        # lazy relations — nothing is read until a search runs (vs IVF.cpp:456-486)
        self.embeddings = spark.read.parquet(emb_path)
        self.centroids = spark.read.parquet(cent_path)
        # (cluster, centroid) rows, collected by the first search; the
        # relation above already snapshots its file listing, and every
        # centroid writer builds into a fresh directory
        self._centroid_rows: list[tuple[int, list[float]]] | None = None
        # masked reads (r9): a CDC-refreshed layout ships a tombstone
        # list beside the index; searches anti-join it so retired base
        # rows never score. None ⇒ the classic immutable-index path.
        self.tombstones = tombstones

    @classmethod
    def from_pretrained(
        cls, spark: SparkSession, index_dir: str, n_probe: int = 20, **flags
    ) -> "IVFEngine":
        """≙ ``IVFIndex::from_pretrained(dir, n_probe)`` (IVF.cpp:439-524).

        Layouts maintained by the CDC refresh carry a ``tombstones``
        table beside the index — when present it is bound so the facade
        serves the LIVE rows (the reference class cannot do this at
        all: its per-cluster .bin files are immutable monoliths)."""
        cfg = SearchConfig(n_probe=n_probe, **flags)
        # silent, FS-agnostic existence probe (local, HDFS, S3A alike);
        # a read-then-catch would spew the AnalysisException's JVM
        # stack into every classic-layout construction. The Py4J
        # internals don't exist on Spark Connect sessions (ADVICE r9),
        # so that path degrades to a guarded read probe — Connect
        # raises clean client-side AnalysisExceptions, so the original
        # stack-spew concern doesn't apply there.
        tomb_path = f"{index_dir}/tombstones"
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(tomb_path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            tombs = spark.read.parquet(tomb_path) if fs.exists(jpath) else None
        except AttributeError:
            from pyspark.errors import AnalysisException

            try:
                tombs = spark.read.parquet(tomb_path)
                tombs.columns  # Connect reads are LAZY — force analysis
                # here so a missing path surfaces now, not at first search
            except AnalysisException:
                tombs = None
        return cls(
            spark,
            f"{index_dir}/embeddings_indexed",
            f"{index_dir}/centroids",
            cfg,
            tombstones=tombs,
        )

    def _coarse(self, qvec: list[float], n_probe: int) -> list[int]:
        """Top-n_probe clusters by cosine(query, centroid), ranked on the
        driver over the engine-held centroid rows (≙ IVF.cpp:271-282) —
        the one coarse definition every fixture IVF query uses. Only the
        first call runs a job: the collect of ≤ a few hundred rows."""
        if self._centroid_rows is None:
            self._centroid_rows = [
                (int(r.cluster), [float(x) for x in r.centroid])
                for r in self.centroids.collect()
            ]
        return probe_labels(self._centroid_rows, qvec, n_probe)

    def search(self, qvec: list[float], k: int = 5) -> DataFrame:
        """IVF-pruned top-k cosine search → ``(score, vec_id)`` desc.

        ≙ ``IVFIndex::search`` (IVF.cpp:267-436): driver-side coarse
        stage, then ONE pruned fine scan whose top-k runs as
        TakeOrderedAndProject (partial top-k per partition, then merge —
        the reference's sequential strategy, for either flag value).
        A NaN/Inf query component raises ``ValueError`` before any job.
        """
        qvec = [float(x) for x in qvec]
        q = lit_double_array(qvec)  # fails loud on NaN/Inf, before any job
        probes = self._coarse(qvec, self.config.n_probe)
        emb = self.embeddings
        if self.tombstones is not None:
            # delta-sized list → broadcast anti-join. A generation-
            # stamped layout retires rows written at or before the
            # tombstone's dead-gen (index_build.TOMBSTONE_SCHEMA — the
            # multi-cycle rule: an edited doc's LATEST re-embedding
            # survives every earlier retirement); a gen-less tombstone
            # list against a gen-stamped index retires base rows only
            # (the r9 single-cycle layout); a fully classic layout
            # retires by vec_id alone.
            tombs = self.tombstones.withColumnRenamed(
                "vec_id", "t_vec_id"
            ).withColumnRenamed("gen", "t_gen")
            cond = emb.vec_id == tombs.t_vec_id
            if "gen" in emb.columns:
                cond = cond & (
                    (emb.gen <= tombs.t_gen)
                    if "t_gen" in tombs.columns
                    else (emb.gen == 0)
                )
            emb = emb.join(F.broadcast(tombs), cond, "left_anti")
        # one parse for the probe IN-list (Column.isin pays a py4j call
        # per element); an empty centroid table probes nothing
        pruned = F.expr(f"cluster IN ({','.join(map(str, probes))})") if probes else F.lit(False)
        score = cosine_similarity_hoisted(
            as_double_array("embedding"), q, F.lit(seq_l2_norm(qvec))
        )
        return (
            emb.filter(pruned)
            .select(F.round(score, SCORE_SCALE).alias("score"), "vec_id")
            .orderBy(F.desc("score"), F.desc("vec_id"))
            .limit(k)
        )

    def search_with_docs(self, qvec: list[float], documents: DataFrame, k: int = 5) -> DataFrame:
        """Top-k + article snippet (≙ print_results path, IVF.cpp:688-710)
        — the shared ``knn.map_to_docs`` recipe over this engine's search."""
        from gpu_accelerated_vector_indexing_spark.operators.knn import map_to_docs

        return map_to_docs(self.search(qvec, k), documents)


# GraphEngine serving state, memoized per (session, index_dir): the
# engine PINS its index hot — edges + normed corpus cached
# (MEMORY_AND_DISK, so an index bigger than executor memory spills
# instead of failing), entry points collected once. This is what an
# online ANN server does (the reference loads the full index into
# device/host memory before serving, IVF.cpp load path); before this
# memo every search re-scanned the index parquet per hop and re-ran the
# entry-point groupBy — the job-overhead drift VERDICT r8 wrong #1
# flagged. Evictable via memo.clear_session_caches (the cached
# relations unpersist).
# CONTRACT: a served index directory is IMMUTABLE — every writer in
# this repo builds into a fresh state_dir and in-place maintenance
# (compaction) runs BEFORE serving; rewriting a directory an engine
# has already served would leave this state (and the memoized entry
# ids) stale. To re-serve a rewritten dir, evict first
# (memo.clear_session_caches) or write to a new directory.
@session_state
def _graph_relations(spark: SparkSession, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(edges, corpus_normed)`` — lazy cached relations, like
    IVFEngine: nothing reads until a search materializes the cache."""
    return (
        spark.read.parquet(f"{index_dir}/edges").cache(),
        spark.read.parquet(f"{index_dir}/corpus_normed").cache(),
    )


@session_state
def _graph_entry_ids(spark: SparkSession, index_dir: str) -> list[int]:
    """The index's entry points (one per cell — min vec_id), collected
    on the first search: index-derived, so fixed for a pretrained
    index."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import _entry_points

    corpus = _graph_relations(spark, index_dir)[1]
    return sorted(
        r.vec_id
        for r in _entry_points(corpus.select("vec_id", "label"))
        .select("vec_id")
        .collect()
    )


class GraphEngine:
    """Online query engine over a prebuilt kNN-graph index — the second
    index class behind the SAME facade posture as :class:`IVFEngine`
    (the reference's mode-switch control flow, IVF.cpp:558-635, extended
    to the index family the reference doesn't ship).

    Index layout = ``operators.graph_ann.write_graph_index`` output:
    ``{index_dir}/edges`` (node, nbr, score, rk) +
    ``{index_dir}/corpus_normed`` (vec_id, label, v, nrm — norms
    persisted at build time, never recomputed at query time).
    """

    def __init__(self, spark: SparkSession, index_dir: str, beam: int, hops: int):
        if beam <= 0 or hops <= 0:
            raise ValueError("--beam_width and --hops must be positive")
        self.spark = spark
        self.beam = beam
        self.hops = hops
        self.index_dir = index_dir
        self.edges, self.corpus = _graph_relations(spark, index_dir)

    def _entry_ids(self) -> list[int]:
        return _graph_entry_ids(self.spark, self.index_dir)

    @classmethod
    def from_pretrained(
        cls, spark: SparkSession, index_dir: str, beam: int | None = None,
        hops: int | None = None,
    ) -> "GraphEngine":
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import BEAM_HOPS, BEAM_WIDTH

        return cls(
            spark,
            index_dir,
            beam if beam is not None else BEAM_WIDTH,
            hops if hops is not None else BEAM_HOPS,
        )

    def search(self, qvec: list[float], k: int = 5) -> DataFrame:
        """Bounded beam walk → top-k ``(score, vec_id)`` desc — the ONE
        walk definition (``graph_ann.beam_visited_over``) over the
        persisted adjacency + normed corpus."""
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import beam_visited_over

        visited = beam_visited_over(
            self.edges.select("node", "nbr"),
            self.corpus.select("vec_id", "label"),
            self.corpus.select("vec_id", "v", "nrm"),
            [float(x) for x in qvec],
            self.beam,
            self.hops,
            entry_ids=self._entry_ids(),
        )
        return (
            visited.orderBy(F.desc("score"), F.desc("vec_id"))
            .limit(k)
            .select("score", "vec_id")
        )

    def search_with_docs(self, qvec: list[float], documents: DataFrame, k: int = 5) -> DataFrame:
        """Top-k + article snippet through the index-agnostic sink."""
        from gpu_accelerated_vector_indexing_spark.operators.knn import map_to_docs

        return map_to_docs(self.search(qvec, k), documents)

    # Driver memory per walk is |chunk|·(entries + hops·beam·K) visited
    # floats (the per-query dicts of multi_beam_visited_over live on the
    # driver); chunking caps that at a CONSTANT regardless of |Q|
    # (VERDICT r6 #3). 64 queries × ~(128 + 3·24·8) ≈ 45k entries per
    # chunk — trivially driver-resident; a 10⁴-query batch runs ⌈|Q|/64⌉
    # independent walks instead of one unbounded dict.
    BATCH_CHUNK = 64

    def search_batch(
        self, queries: list[tuple[int, list[float]]], k: int = 5
    ) -> DataFrame:
        """Batched retrieval: ONE walk serves every query per hop
        (``graph_ann.multi_beam_visited_over`` — query_id travels in the
        frontier, jobs per batch independent of |Q| within a chunk),
        cut to top-k per query as (query_id, vec_id, score). Batches
        larger than ``BATCH_CHUNK`` split into fixed-size chunks whose
        visited unions feed ONE final cut — value-identical to the
        unchunked walk (each query's walk dataflow is independent:
        entries, frontier cut, expansion and fold all key on query_id,
        so chunk membership cannot change any query's visited set;
        pinned in tests), while bounding driver state per walk. The
        serving endpoint shape a batched retrieval API runs over the
        persisted index."""
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
            multi_beam_visited_over,
            topk_per_query,
        )

        # [[]] for an empty batch: one walk over zero queries returns
        # the empty visited relation (schema'd), so an empty request
        # yields an empty result instead of an error
        chunks = [
            queries[i : i + self.BATCH_CHUNK]
            for i in range(0, len(queries), self.BATCH_CHUNK)
        ] or [[]]
        parts = [
            multi_beam_visited_over(
                self.edges.select("node", "nbr"),
                self.corpus.select("vec_id", "label"),
                self.corpus.select("vec_id", "v", "nrm"),
                chunk,
                self.beam,
                self.hops,
                entry_ids=self._entry_ids(),
            )
            for chunk in chunks
        ]
        visited = parts[0]
        for p in parts[1:]:
            visited = visited.unionByName(p)
        if len(parts) > 1:
            # a query_id duplicated ACROSS chunks emits its (identical,
            # deterministic) visited rows once per chunk — collapse them
            # so the per-query cut counts each vec_id once, exactly like
            # the unchunked walk's (query_id, vec_id)-keyed fold; the
            # single-chunk plan stays byte-identical to pre-chunking
            visited = visited.distinct()
        return topk_per_query(visited, k)


def main(argv: list[str] | None = None) -> None:
    """CLI mirroring the reference binary's flags (IVF.cpp:558-635),
    extended with ``--index {ivf,graph}`` so the mode-switch posture
    covers both index classes.

    Reads the query from a raw float32 ``.bin`` (≙ IVF.cpp:650-672) and
    prints timed (score, id) rows like IVF.cpp:679-710.
    """
    p = argparse.ArgumentParser(description="ANN cosine top-k search (Spark)")
    p.add_argument("--index_dir", required=True)
    p.add_argument("--index", choices=("ivf", "graph"), default="ivf")
    p.add_argument("--beam_width", type=int, default=None, help="graph index: beam width")
    p.add_argument("--hops", type=int, default=None, help="graph index: walk hops")
    p.add_argument("--query_bin", required=True, help="raw float32 query vector file")
    p.add_argument("--dim", type=int, default=384)
    p.add_argument("--k", type=int, default=5)  # IVF.cpp:679
    p.add_argument("--n_probe", type=int, default=20)
    p.add_argument("--mode", default="NonAtomic")
    p.add_argument("--sequential_fine_search", default="true")
    p.add_argument("--use_cuda_coarse", default="false")
    p.add_argument("--use_cuda_fine", default="false")
    p.add_argument("--threadsperBlock", type=int, default=256)
    p.add_argument("--print_results", default="false")
    p.add_argument("--docs_dir", default=None, help="JSON article dir for --print_results")
    args = p.parse_args(argv)

    def boolean(s: str) -> bool:
        return str(s).lower() in ("true", "1", "yes")

    from gpu_accelerated_vector_indexing_spark.session import get_spark
    from gpu_accelerated_vector_indexing_spark.sources.binary import read_float32_bin

    spark = get_spark("gpu_accelerated_vector_indexing_spark-cli")
    if args.index == "graph":
        engine = GraphEngine.from_pretrained(
            spark, args.index_dir, beam=args.beam_width, hops=args.hops
        )
    else:
        engine = IVFEngine.from_pretrained(
            spark,
            args.index_dir,
            n_probe=args.n_probe,
            mode=args.mode,
            sequential_fine_search=boolean(args.sequential_fine_search),
            use_cuda_coarse=boolean(args.use_cuda_coarse),
            use_cuda_fine=boolean(args.use_cuda_fine),
            threadsperBlock=args.threadsperBlock,
            print_results=boolean(args.print_results),
        )
    qvec = [
        float(x)
        for x in read_float32_bin(spark, args.query_bin, args.dim).orderBy("vec_id").first().embedding
    ]
    t0 = time.time()
    rows = engine.search(qvec, k=args.k).collect()
    elapsed_ms = (time.time() - t0) * 1000.0
    print(f"Search Time: {elapsed_ms:.0f} ms")  # parsed by run_multiple_configs.sh:93
    for r in rows:
        print(f"({r.score:.6f}, {r.vec_id})")
    if boolean(args.print_results) and args.docs_dir:
        from gpu_accelerated_vector_indexing_spark.sources.articles import lookup_texts, read_article_dir

        ids = spark.createDataFrame([(r.vec_id,) for r in rows], "doc_id BIGINT")
        for row in lookup_texts(read_article_dir(spark, args.docs_dir), ids).collect():
            print(f"[{row.doc_id}] {row.snippet}")


if __name__ == "__main__":
    main()
