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

The engine loads its index once, as the reference does
(IVF.cpp:456-486), but lazily: ``from_pretrained`` only binds the
table paths, and the first search fills one pinned serving relation,
the layout's LIVE rows as ``(vec_id, cluster, v ARRAY<DOUBLE>, nrm)``
(tombstones applied, float→double widened and ‖v‖ folded once). The
pin is cached (MEMORY_AND_DISK: an index bigger than executor memory
spills instead of failing) and shared by every engine over the same
snapshot of the layout.

The coarse stage runs on the driver, as the reference's does
(IVF.cpp:271-282): the first search collects the tiny centroid table
(≤ a few hundred rows) once and keeps it on the engine, and every
search ranks it with ``ivf.probe_labels``. A warm search is then ONE
Spark job over the pin — the probe filter, the score of the probed
rows and their top-k (≙ IVF.cpp:286-435 scoring only the probed
clusters in memory) — with the query shipped as one JVM-built literal
and its norm hoisted to a scalar. Neither value, nor the probe list,
is inlined into generated code, so a warm search reuses the classes
the previous one compiled: it opens no file and compiles nothing.

Trade-off: every warm query filters ALL pinned rows (a columnar scan
of the cached batches) and scores only the probed ones, where a search
over the parquet layout opened just the probed partition directories —
and paid, per query, the scan planning, about 20 file opens, the
widening and a ‖v‖ fold per candidate row. The layout stays
cluster-partitioned for its other readers (``append_to_index`` writes
into cells, the CDC refreshes read it, ``IVFEngine.embeddings`` still
prunes); an index larger than one session can hold calls for one local
index per shard and a global top-k merge, not a bigger pin.
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass, field
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import finite_doubles, lit_long_array
from gpu_accelerated_vector_indexing_spark.memo import session_state
from gpu_accelerated_vector_indexing_spark.operators.index_build import live_rows
from gpu_accelerated_vector_indexing_spark.operators.ivf import probe_labels
from gpu_accelerated_vector_indexing_spark.operators.knn import normed_corpus, normed_score, top_k, with_query
from gpu_accelerated_vector_indexing_spark.session import tune_session

VALID_MODES = ("Atomic", "NonAtomic")  # IVF.cpp:583-588


@dataclass
class SearchConfig:
    """≙ the reference's parsed flag set (IVF.cpp:549-555 defaults)."""

    n_probe: int = 20
    mode: str = "NonAtomic"
    # accepted, inert: every search cuts through knn.top_k, whose
    # orderBy(...).limit(k) plans as TakeOrderedAndProject — a partial
    # top-k per partition, then one merge: the reference's sequential
    # strategy (IVF.cpp:286-342), with the combined strategy's rows — so
    # both flag values share one plan, as do the fixture rows
    # knn_ivf_sequential and knn_ivf_combined
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


@dataclass(frozen=True)
class LayoutSnapshot:
    """What an engine's relations listed when they were opened: the
    files under the layout ``root`` and those of its tombstone list
    (``None`` for a classic layout). Spark writers never reuse a file
    name, so equal listings hold equal live rows: equality and hash
    read the listings only, and the relations ride along for their
    schemas."""

    root: str
    files: tuple[str, ...]
    tomb_files: tuple[str, ...] | None
    embeddings: DataFrame = field(compare=False, repr=False)
    tombstones: DataFrame | None = field(compare=False, repr=False)

    def rows(self) -> DataFrame:
        """The snapshot's live rows, read from the listed files only.
        Spark re-lists a cached relation that reads a DIRECTORY when a
        write lands under it (``append_to_index``), which would move an
        already-open engine onto the new files; a relation over named
        files re-lists just those."""

        def listed(rel: DataFrame, files: tuple[str, ...], **options: str) -> DataFrame:
            return rel.sparkSession.read.schema(rel.schema).options(**options).parquet(*files)

        emb = listed(self.embeddings, self.files, basePath=self.root)
        # an empty tombstone list retires nothing
        return live_rows(emb, listed(self.tombstones, self.tomb_files) if self.tomb_files else None)


# IVFEngine serving state, memoized per (session, layout snapshot): the
# live rows normed once and cached, like the reference loading its index
# before any query (IVF.cpp:456-486). Engines over the same snapshot
# share one pin; an engine opened after ``append_to_index`` lists the
# new files, so it pins the appended rows, while an engine opened before
# keeps its own snapshot. The pin fills inside the first search's job
# (an eager count would cost that search one more job), and
# memo.clear_session_caches unpersists it.
@session_state
def _ivf_pin(spark: SparkSession, snapshot: LayoutSnapshot) -> DataFrame:
    return normed_corpus(snapshot.rows(), "cluster").cache()


class IVFEngine:
    """Online query engine over a prebuilt cluster-partitioned index.

    Index layout = ``operators.index_build.build_partitioned_index``
    output: ``{index_dir}/embeddings_indexed`` (partitioned by
    ``cluster``) + ``{index_dir}/centroids``. Searches read the pinned
    live rows of the layout (see the module docstring for the
    trade-off against per-query partition pruning); ``embeddings``
    stays the raw, prunable layout relation.
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
        # the engine's session settings (UTC, AQE, by-reference IN-lists)
        # on any session, not only one that get_spark built
        self.spark = tune_session(spark)
        self.config = config
        # lazy relations — nothing is read until a search runs (vs
        # IVF.cpp:456-486); each snapshots its file listing here
        self._emb_path = emb_path
        self.embeddings = spark.read.parquet(emb_path)
        self.centroids = spark.read.parquet(cent_path)
        # (cluster, centroid) rows, collected by the first search; every
        # centroid writer builds into a fresh directory
        self._centroid_rows: list[tuple[int, list[float]]] | None = None
        # masked reads (r9): a CDC-refreshed layout ships a tombstone
        # list beside the index (see live_rows). None ⇒ the classic
        # immutable-index path.
        self.tombstones = tombstones
        self._snapshot: LayoutSnapshot | None = None

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

    def _pin(self) -> DataFrame:
        """The pinned live rows of this engine's snapshot (``_ivf_pin``),
        looked up per search, so a search after a cache clear pins
        again. Listing the relations' files runs no job."""
        if self._snapshot is None:
            tombs = self.tombstones

            def listing(rel: DataFrame) -> tuple[str, ...]:
                # inputFiles() gives escaped URIs; a reader takes paths
                return tuple(sorted(unquote(f) for f in rel.inputFiles()))

            self._snapshot = LayoutSnapshot(
                self._emb_path,
                listing(self.embeddings),
                None if tombs is None else listing(tombs),
                self.embeddings,
                tombs,
            )
        return _ivf_pin(self.spark, self._snapshot)

    def search(self, qvec: list[float], k: int = 5) -> DataFrame:
        """IVF top-k cosine search → ``(score, vec_id)`` desc.

        ≙ ``IVFIndex::search`` (IVF.cpp:267-436): driver-side coarse
        stage, then ONE fine stage over the pinned live rows — the probe
        filter, the score of the probed rows, and the top-k cut like
        ``knn.cosine_topk`` as TakeOrderedAndProject (partial top-k per
        partition, then merge — the reference's sequential strategy,
        for either flag value).
        A NaN/Inf query component raises ``ValueError`` before any job.
        """
        qvec = finite_doubles(qvec)  # fails loud on NaN/Inf, before any job
        probes = self._coarse(qvec, self.config.n_probe)
        # the probes as one by-reference array literal: a parsed IN-list
        # of one value would become `cluster = v`, inlined into generated
        # code and compiled again for every fresh cluster
        probed = self._pin().filter(F.array_contains(lit_long_array(probes), F.col("cluster")))
        return top_k(with_query(probed, qvec).select(normed_score().alias("score"), "vec_id"), k)

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
        float walk (``graph_ann.beam_visited_over``) over the persisted
        adjacency + normed corpus. A NaN/±Inf component raises
        ``ValueError`` before any job."""
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import beam_visited_over

        visited = beam_visited_over(
            self.edges.select("node", "nbr"),
            self.corpus.select("vec_id", "v", "nrm"),
            finite_doubles(qvec),
            self.beam,
            self.hops,
            entry_ids=self._entry_ids(),
        )
        return top_k(visited, k).select("score", "vec_id")

    def search_with_docs(self, qvec: list[float], documents: DataFrame, k: int = 5) -> DataFrame:
        """Top-k + article snippet through the index-agnostic sink."""
        from gpu_accelerated_vector_indexing_spark.operators.knn import map_to_docs

        return map_to_docs(self.search(qvec, k), documents)

    # Driver memory per walk is |chunk|·(entries + hops·beam·K) visited
    # floats (one visited dict per query, driver-side); chunking caps
    # that at a CONSTANT regardless of |Q|. 64 queries × ~(128 + 3·24·8)
    # ≈ 45k entries per chunk — trivially driver-resident; a 10⁴-query
    # batch runs ⌈|Q|/64⌉ independent walks instead of one unbounded dict.
    BATCH_CHUNK = 64

    def search_batch(
        self, queries: list[tuple[int, list[float]]], k: int = 5
    ) -> DataFrame:
        """Batched retrieval: ONE walk serves every query per hop
        (``graph_ann.multi_beam_visited_over`` — jobs per batch
        independent of |Q| within a chunk), cut to top-k per query as
        (query_id, vec_id, score). The batch is checked first
        (``graph_ann.batch_members``: a repeated id is answered once, a
        repeat with a different vector or a NaN/±Inf component raises
        ``ValueError`` before any job), then split into fixed-size
        chunks of distinct ids whose visited unions feed ONE final cut —
        value-identical to the unchunked walk (each query's walk is
        independent, pinned in tests) while bounding driver state per
        walk. The serving endpoint shape a batched retrieval API runs
        over the persisted index."""
        from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
            batch_members,
            multi_beam_visited_over,
            topk_per_query,
        )

        members = list(batch_members(queries).items())
        # [[]] for an empty batch: one walk over zero queries returns
        # the empty visited relation (schema'd), so an empty request
        # yields an empty result instead of an error
        chunks = [
            members[i : i + self.BATCH_CHUNK]
            for i in range(0, len(members), self.BATCH_CHUNK)
        ] or [[]]
        parts = [
            multi_beam_visited_over(
                self.edges.select("node", "nbr"),
                self.corpus.select("vec_id", "v", "nrm"),
                chunk,
                self.beam,
                self.hops,
                entry_ids=self._entry_ids(),
            )
            for chunk in chunks
        ]
        return topk_per_query(reduce(DataFrame.unionByName, parts), k)


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
