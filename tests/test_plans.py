"""Plan-quality contract tests (SURVEY.md §4).

The scale story rests on specific physical strategies — these tests pin
them so a refactor that silently degrades a plan (lost pushdown, a
broadcast that became a shuffle, a top-k that became a full sort) fails
CI, not a 100 TB run.
"""

from __future__ import annotations

from gpu_accelerated_vector_indexing_spark.plans.inspect import (
    assert_plan,
    codegen_span_count,
    physical_plan,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_CORRECT


def _q(spark, name):
    from gpu_accelerated_vector_indexing_spark.queries import merged

    return merged()[0][name](spark, SF_CORRECT)


def test_topk_is_bounded_heap_not_full_sort(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject
    (≙ reference bounded min-heap, IVF.cpp:185-191) — never Sort+Limit
    over the full corpus."""
    df = _q(spark, "knn_bruteforce")
    plan = assert_plan(df, contains=("TakeOrderedAndProject",))
    assert "Sort " not in plan  # no global sort node


def test_scan_pushdown_and_column_pruning(spark):
    """Predicates reach the Parquet reader; the scan reads only the
    projected columns (SURVEY.md §4: 'a scan that reads all columns for
    a 2-column projection is wrong')."""
    df = _q(spark, "filtered_scan")
    pushed = pushed_filters(df)
    assert any("o_orderdate" in f for f in pushed), pushed
    (cols,) = read_schema_columns(df)
    assert "o_comment" not in cols  # widest column not read
    assert len(cols) <= 5


def test_doc_mapback_is_broadcast_join(spark):
    """Top-k ⋈ documents must broadcast the k-row side — the document
    store is never shuffled (≙ mapBack lookup, IVF.cpp:104-118)."""
    assert_plan(
        _q(spark, "knn_with_docs"),
        contains=("BroadcastHashJoin", "TakeOrderedAndProject"),
        absent=("SortMergeJoin",),
    )


def test_multiway_join_broadcasts_small_dims(spark):
    """region/nation/customer dims broadcast; only the fact side
    streams. A SortMergeJoin against nation (25 rows) would be a
    planning failure."""
    df = _q(spark, "join_multiway")
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # every scan is column-pruned
    for cols in read_schema_columns(df):
        assert len(cols) <= 4


def test_knn_scoring_reads_only_needed_columns(spark):
    """The KNN scan reads (vec_id, embedding) — label and any other
    payload columns are pruned even though the table carries them."""
    for cols in read_schema_columns(_q(spark, "knn_bruteforce")):
        assert set(cols) <= {"vec_id", "embedding"}


def test_aggregation_is_partial_final_with_codegen(spark):
    """Hash aggregation runs map-side partial + final (≙ the Atomic
    kernel's two-phase accumulate/finalize, SURVEY.md §4 P6) inside
    WholeStageCodegen."""
    df = _q(spark, "pricing_summary")
    df.collect()  # AQE: codegen markers exist only in the final plan
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert codegen_span_count(df) >= 1


def test_ivf_fine_search_prunes_partitions(spark, tmp_path):
    """cluster IN (probes) against the partitioned index layout must
    show PartitionFilters — the engine's entire IVF claim (§4 P1)."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.index_build import build_partitioned_index

    out = str(tmp_path / "idx")
    emb_path, _ = build_partitioned_index(spark, SF_CORRECT, out, k=4, seed=42)
    pruned = spark.read.parquet(emb_path).filter(F.col("cluster").isin([0, 1]))
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_shipping_priority_topn_and_pushdown(spark):
    """TPC-H Q3 shape: both fact filters reach the scans, the dimension
    join broadcasts, and the top-10 is a bounded heap — the plan that
    survives a 100× fact-table scale-up."""
    df = _q(spark, "shipping_priority")
    plan = assert_plan(
        df, contains=("TakeOrderedAndProject", "BroadcastHashJoin")
    )
    pushed = [f for scan in pushed_filters(df) for f in [scan]]
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "o_orderdate" in joined, pushed


def test_sq8_candidate_scan_and_rescore_shapes(spark):
    """SQ8 path: candidate selection is a bounded heap over the
    compressed scan; the rescore joins a BROADCAST candidate list (never
    a shuffle of the corpus); the scan reads only (vec_id, embedding)."""
    df = _q(spark, "knn_sq8")
    assert_plan(
        df,
        contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
        absent=("SortMergeJoin",),
    )
    for cols in read_schema_columns(df):
        assert set(cols) <= {"vec_id", "embedding"}


def test_corpus_pipeline_partial_aggregation(spark):
    """The dedup group-by and shard aggregate both run partial+final
    (map-side combine) — shuffle cardinality is distinct docs, not rows."""
    df = _q(spark, "corpus_pipeline")
    df.collect()
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 4, plan


def test_large_volume_orders_broadcasts_qualifying_keys(spark):
    """Q18 shape: the grouped-HAVING qualifying set must broadcast back
    into the orders join, never shuffle the fact side twice."""
    assert_plan(
        _q(spark, "large_volume_orders"),
        contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
    )


def test_bucketed_join_has_no_input_exchange(spark):
    """Matching bucket layouts on the join key ⇒ the SortMergeJoin reads
    co-located buckets with ZERO exchange below it — the write-once
    layout that removes the recurring fact⋈fact shuffle at 100 TB."""
    df = _q(spark, "join_bucketed_colocate")
    df.collect()  # AQE final plan
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final
    below_join = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, below_join
    assert "Bucketed: true" in final


def test_exists_semi_join_uses_equi_key(spark):
    """The correlated EXISTS decorrelates to a LeftSemi hash join keyed
    on the equi predicate; the date inequality is a residual condition,
    not a nested-loop driver."""
    df = _q(spark, "exists_late_shipment")
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_revenue_forecast_single_stage_pushdown(spark):
    """TPC-H Q6 shape: every predicate reaches the scan, the read schema
    prunes to the three referenced columns, and there is no join or
    data-row shuffle — only the partial/final scalar aggregate."""
    df = _q(spark, "revenue_forecast")
    plan = assert_plan(df, contains=("HashAggregate",), absent=("Join",))
    joined = " ".join(pushed_filters(df))
    assert "l_shipdate" in joined and "l_discount" in joined and "l_quantity" in joined, joined
    cols = read_schema_columns(df)
    assert set().union(*cols) <= {"l_extendedprice", "l_discount", "l_shipdate", "l_quantity"}, cols


def test_knn_filtered_semi_join_before_score(spark):
    """Filtered ANN: the language predicate becomes a semi join against
    the documents id-set BEFORE scoring (never score-then-discard), the
    lang filter is pushed to the documents scan, and the final top-k is
    a bounded heap."""
    df = _q(spark, "knn_filtered")
    plan = assert_plan(df, contains=("TakeOrderedAndProject",))
    assert "LeftSemi" in plan or "Semi" in plan, plan
    joined = " ".join(pushed_filters(df))
    assert "lang" in joined, joined


def test_local_supplier_volume_broadcasts_dims(spark):
    """Q5 shape: supplier/nation/region ride broadcast joins; the date
    filter reaches the orders scan."""
    df = _q(spark, "local_supplier_volume")
    plan = assert_plan(df, contains=("BroadcastHashJoin",))
    joined = " ".join(pushed_filters(df))
    assert "o_orderdate" in joined, joined


def test_interval_join_is_equi_keyed_not_cartesian(spark):
    """The event-time interval join must hash on user_id with the time
    bound as a post-join filter — never a cartesian / nested-loop plan
    (the difference between per-key fan-out and corpus² at 100 TB)."""
    assert_plan(
        _q(spark, "join_interval"),
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_q15_max_join_broadcasts_singleton(spark):
    """Q15's scalar-max comparison joins a one-row relation back to the
    per-supplier revenue — both the max frame and the supplier dim must
    broadcast; nothing shuffles on the singleton side."""
    assert_plan(
        _q(spark, "top_revenue_suppliers"),
        contains=("BroadcastHashJoin",),
        absent=("SortMergeJoin",),
    )


def test_tfidf_df_table_broadcasts(spark):
    """TF-IDF joins the vocabulary-bounded df table and the one-row
    corpus count back to the doc-term stream via broadcast — the
    corpus-sized side must never shuffle for the join."""
    plan = physical_plan(_q(spark, "text_tfidf_top"))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the deliberate 1-row n_docs join


def test_zscore_moments_broadcast_back(spark):
    """Per-type moments (5 rows) broadcast onto the event stream."""
    assert_plan(
        _q(spark, "events_zscore_outliers"),
        contains=("BroadcastHashJoin",),
        absent=("SortMergeJoin", "CartesianProduct"),
    )


def test_merge_upsert_single_shuffle(spark):
    """The CDC latest-wins upsert is union + one per-key window: exactly
    one exchange over the merge key feeds the row_number filter."""
    plan = physical_plan(_q(spark, "merge_upsert_latest"))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_dynamic_partition_pruning_on_index_join(spark, tmp_path_factory):
    """SURVEY §4 P1's in-plan alternative to driver-side probe lists:
    joining the cluster-partitioned index against a FILTERED tiny
    centroid relation must trigger dynamic partition pruning — the scan
    carries a dynamicpruning subquery on the partition column instead of
    reading all clusters."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        build_partitioned_index,
    )

    out = str(tmp_path_factory.mktemp("dpp_index"))
    emb_path, cent_path = build_partitioned_index(spark, SF_CORRECT, out, k=10, seed=42)
    index = spark.read.parquet(emb_path)
    probes = spark.read.parquet(cent_path).filter(F.col("cluster") < 3).select("cluster")
    joined = index.join(probes, "cluster").groupBy("cluster").count()
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    got = {r.cluster for r in joined.collect()}
    assert got == {0, 1, 2}


def test_market_share_broadcasts_all_dims(spark):
    """Q8: part/supplier/nation/region lookups all ride broadcast hash
    joins; only the fact joins shuffle. A lost broadcast here becomes a
    corpus-sized shuffle at 100 TB."""
    df = _q(spark, "market_share")
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_copurchase_topn_is_bounded(spark):
    """Market-basket top-N must be TakeOrderedAndProject over the pair
    counts — never a global sort of the whole pair space."""
    df = _q(spark, "copurchase_part_pairs")
    plan = assert_plan(df, contains=("TakeOrderedAndProject",))
    assert "Sort " not in plan


def test_decontaminate_shingle_sides_pre_aggregated(spark):
    """Both shingle sides dedupe per-doc BEFORE the join exchange (the
    array_distinct lives scan-side), and the final distinct-count agg is
    partial/final."""
    df = _q(spark, "curation_decontaminate")
    plan = physical_plan(df)
    assert "array_distinct" in plan
    assert plan.count("HashAggregate") >= 2


def test_ivf_pq_residual_scan_is_codes_only_broadcast_bounded(spark):
    """IVFADC residual path: the candidate stage must be a bounded
    TakeOrderedAndProject over the codes scan with the per-label
    precomputed tables riding a BROADCAST join — a sort-merge join or
    global sort here would shuffle the whole codes table at 100 TB."""
    df = _q(spark, "knn_ivf_pq_residual")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantiles_histogram_aggregates_before_window(spark):
    """The quantile window must sort the HISTOGRAM relation (post-
    aggregation), never the raw rows: partial+final HashAggregate
    upstream of the Window's sort, and no TakeOrdered/global sort of
    the fact table."""
    df = _q(spark, "quantiles_histogram")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2  # map-side partials exist
    assert "Window" in plan
    # the scan feeds an aggregate first — a Sort directly over the
    # parquet scan would mean the raw rows are being sorted
    assert plan.index("HashAggregate") < plan.index("Window")


def test_hll_registers_are_partial_aggregated(spark):
    """The HLL register build must be a two-level hash aggregate
    (mergeable map-side partials — the property that makes the sketch
    a one-shuffle distinct-count at 100 TB)."""
    df = _q(spark, "sketch_hll_distinct")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 4  # registers + estimate, partial/final each
    assert "CartesianProduct" not in plan


def test_triangle_fast_path_is_adjacency_broadcast_no_wedge_shuffle(spark):
    """Below the size gate, triangle counting must use the
    adjacency-intersection form: the oriented adjacency lists BROADCAST
    onto the edge stream and array_intersect finds every apex — the
    Σoutdeg² wedge relation is never materialized, so no SortMergeJoin
    and no shuffle carries more than |E| rows."""
    df = _q(spark, "copurchase_triangles")
    plan = assert_plan(
        df,
        contains=("array_intersect", "BroadcastHashJoin"),
        absent=("SortMergeJoin",),
    )
    # three Generates: the (u, v, nu) stream exploded from the
    # adjacency itself (r10 — replaces the second broadcast join that
    # re-attached nu to the edge stream), the apex explode over the
    # intersect, and the corner explode feeding the final aggregate.
    # The wedge path's failure mode stays guarded by the joins above
    # (no SortMergeJoin; nothing shuffles more than |E| rows).
    assert plan.count("Generate") <= 3


def test_zipf_window_ranks_counts_not_raw_tokens(spark):
    """The head-share rank window must consume the (source, token)
    COUNT aggregate, never raw token occurrences — the plan has
    HashAggregate below Window (domain-bounded window input, the
    quantiles_histogram posture), and the final per-source rollup
    re-aggregates above it."""
    plan = physical_plan(_q(spark, "text_zipf_profile"))
    assert "Window" in plan
    # the window's input is the count aggregate: Spark prints children
    # below their parent, so the feeding agg appears AFTER the Window
    # line in the plan text (checking plan[:win_pos] would match the
    # per-source rollup ABOVE the window and prove nothing)
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], plan[:400]
    assert plan.count("Exchange") <= 3  # count agg, rank partition, final rollup


def test_sequence_dataset_single_user_exchange(spark):
    """The training-pair builder is ONE user_id exchange feeding lag
    windows — any self-join or explode in this plan would be a scale
    regression."""
    plan = physical_plan(_q(spark, "events_sequence_dataset"))
    assert "Window" in plan
    assert plan.count("Exchange") == 1, plan
    for bad in ("Join", "Generate", "CartesianProduct"):
        assert bad not in plan, bad


def test_corpus_overlap_signatures_read_cached_state(spark):
    """The overlap ESTIMATE tier must read the memoized signature state
    (InMemoryTableScan), and the pair join of per-source signatures is
    a tiny non-equi join — never a SortMergeJoin of corpus-scale
    relations."""
    plan = physical_plan(_q(spark, "dedup_corpus_overlap"))
    assert "InMemoryTableScan" in plan  # sigs/grams index state, not a re-derive
    assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def test_multimodal_decode_is_shuffle_free(spark):
    """The real-codec decode lane is embarrassingly parallel: one
    documents scan through ArrowEvalPython/mapInPandas, ZERO exchanges
    — a shuffle here would mean the decode path stopped being a narrow
    map."""
    plan = physical_plan(_q(spark, "multimodal_decode"))
    assert "Exchange" not in plan, plan
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, bad


def test_compression_audit_single_corpus_scan(spark):
    """The one-pass audit (r5): ONE aggregation over ONE joined corpus
    pass — the r4 form paid three scans and three aggregates. (Raw
    FileScan counting is misleading here: InMemoryTableScan nodes print
    their ORIGINAL build plan beneath them, but execute from the cache.)
    Exactly one data-moving exchange (the final SinglePartition agg);
    all joins broadcast; codes come from the memoized index state."""
    plan = physical_plan(_q(spark, "ann_compression_error"))
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Generate stack" in plan  # 3 rows pivot AFTER the single agg
    assert "InMemoryTableScan" in plan


def test_embedding_lsh_reads_cached_signature_state(spark):
    """The banded-signature state is memoized (write-time index state):
    the pair query must read InMemoryTableScan, never recompute the
    32-plane signature fold over the corpus."""
    plan = physical_plan(_q(spark, "dedup_embedding_lsh"))
    assert "InMemoryTableScan" in plan
    assert "TakeOrderedAndProject" in plan  # top-k pairs, not a full sort
    assert "CartesianProduct" not in plan


def test_graph_engine_scorer_pushes_walk_id_inset(spark, built_graph_index_plans):
    """The persisted-index scorer probes the parquet corpus with the
    walk-bounded id set as a PUSHED InSet predicate (PushedFilters:
    In(vec_id, …)) — the id set reaches the scan for partition/row-group
    pruning; no join of any kind appears in the probe, so the 100 TB
    sort-merge regression is structurally impossible. The walk state
    itself is driver-resident (the probe_labels posture), so the final
    search plan is TakeOrdered over a local relation — pinned too: no
    Sort, no residual join."""
    from gpu_accelerated_vector_indexing_spark.engine import GraphEngine
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import BEAM_WIDTH

    corpus = spark.read.parquet(f"{built_graph_index_plans}/corpus_normed")
    # probe at the REAL walk cardinality (≥ the In→InSet conversion
    # threshold of 10): the pin must hold where the walk actually runs,
    # not only in the sub-threshold regime
    probe = corpus.select("vec_id", "v", "nrm").filter(
        F.col("vec_id").isin(list(range(BEAM_WIDTH)))
    )
    plan = physical_plan(probe)
    assert "PushedFilters: [In(vec_id" in plan, plan
    assert "Join" not in plan, plan

    qvec = [
        float(x)
        for x in load_table(spark, SF_CORRECT, "embeddings")
        .filter("vec_id = 0")
        .first()
        .embedding
    ]
    eng = GraphEngine.from_pretrained(spark, built_graph_index_plans, beam=8, hops=2)
    final = physical_plan(eng.search(qvec, k=5))
    assert "TakeOrderedAndProject" in final
    assert "Sort " not in final and "Join" not in final, final


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def built_graph_index_plans(spark, tmp_path_factory):
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        fixture_graph,
        write_graph_index,
    )
    from gpu_accelerated_vector_indexing_spark.operators.knn import fixture_normed

    out = str(tmp_path_factory.mktemp("graph_index_plans"))
    write_graph_index(fixture_graph(spark, SF_CORRECT), fixture_normed(spark, SF_CORRECT), out)
    return out


def test_fuzzy_pairs_is_deletion_variant_shuffle_join(spark):
    """The edit-distance pair join must be the deletion-neighborhood
    shape (VERDICT r6 #2): candidates meet on the data-growing
    (variant, nation) key through a SHUFFLE hash join — never a
    broadcast of an exploded side (Catalyst's pre-explode size
    estimate would pick one; at corpus scale that's a driver OOM) and
    never a plan whose only join key is the fixed-cardinality
    nation. r10: the exploded stream carries ids ONLY (names re-attach
    after the candidate distinct), so broadcasts MAY appear — but only
    for the post-candidate name dimension join (keyed id_a/id_b),
    never on the variant key; and the variant travels as its xxhash64
    (``vh`` — 8 fixed bytes through the fan-out; collisions only add
    candidates the exact levenshtein verify rejects)."""
    df = _q(spark, "fuzzy_customer_pairs")
    plan = assert_plan(
        df,
        contains=("ShuffledHashJoin",),
        absent=("SortMergeJoin", "CartesianProduct"),
    )
    assert "vh" in plan.split("ShuffledHashJoin", 1)[1].splitlines()[0], plan
    for seg in plan.split("BroadcastHashJoin")[1:]:
        first = seg.splitlines()[0]
        assert ("id_a" in first or "id_b" in first) and "vh" not in first, plan


def test_typo_pairs_is_shuffle_join_like_fuzzy(spark):
    """The vocabulary typo-pair join carries the same load-bearing
    SHUFFLE_HASH hint as fuzzy_customer_pairs (both sides are exploded
    variant relations whose pre-explode size estimate would pick a
    broadcast) — pin the strategy so a dropped hint can't regress
    silently while fixture-scale oracles stay green."""
    df = _q(spark, "text_typo_pairs")
    plan = assert_plan(
        df,
        contains=("ShuffledHashJoin",),
        absent=("BroadcastHashJoin", "SortMergeJoin", "CartesianProduct"),
    )
    assert "variant" in plan.split("ShuffledHashJoin", 1)[1].splitlines()[0], plan


def test_shard_stats_merge_is_two_partial_aggregates(spark):
    """The shard-build statistics path must stay mergeable map-side
    state: both aggregations (per-shard partials, cross-shard merge)
    carry partial HashAggregates, and the whole derivation costs
    exactly TWO exchanges — at 1000 executors the shuffles move
    (sum, count) stat rows, never vectors."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.ivf import shard_centroid_stats
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    merged = (
        shard_centroid_stats(load_table(spark, SF_CORRECT, "embeddings"))
        .groupBy("label", "pos")
        .agg(F.round(F.sum("s") / F.sum("n"), 8).alias("v"))
    )
    plan = physical_plan(merged)
    assert plan.count("Exchange") == 2, plan
    assert plan.count("HashAggregate") == 4, plan  # partial+final × 2 stages


def test_merged_ivf_serve_reads_the_engine_pin(spark):
    """Serving through the MERGED shard layout goes through the engine's
    pinned live rows: a bounded top-k over the scored probe filter on
    the ``InMemoryTableScan``, with no exchange and no file scan outside
    the pin's build."""
    from tests.conftest import assert_pinned_point_search

    df = _q(spark, "engine_ivf_merge_serve")
    df.collect()
    assert_pinned_point_search(df)


def test_pagerank_round_is_single_shuffle(spark):
    """One ``pagerank_round`` plan (r8 rewrite): the contribution sum's
    dst exchange is the ONLY shuffle — the |E| side reads the cached
    src-hashed state (InMemoryTableScan directly under the join, no
    exchange above it) and the tiny rank side broadcasts. Counted on
    the round plan proper (the text above the first InMemoryRelation,
    whose nested build-plan printout carries its own exchanges)."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.operators.graph import (
        DAMPING,
        _pagerank_edges,
        pagerank_round,
    )

    ce = _pagerank_edges(spark, SF_CORRECT)
    ranks = (
        ce.select(F.col("src").alias("part"))
        .distinct()
        .withColumn("rank", F.lit(1.0))
        .localCheckpoint(eager=True)
    )
    plan = physical_plan(pagerank_round(ce, ranks, DAMPING))
    round_plan = plan.split("InMemoryRelation", 1)[0]
    assert round_plan.count("Exchange") == 1, round_plan
    assert "hashpartitioning(dst" in round_plan, round_plan
    assert "InMemoryTableScan" in round_plan, round_plan


def test_pack_shuffled_windows_are_range_partitioned(spark):
    """The epoch-shuffled packing manifest must contain NO
    corpus-wide ordered window: every windowspecdefinition in the plan
    partitions by the hash-range pid (the chunk rollup and subtotal
    agg are hash aggregates, not windows)."""
    import re

    plan = physical_plan(_q(spark, "corpus_pack_shuffled"))
    specs = re.findall(r"windowspecdefinition\((.{0,60})", plan)
    assert specs, plan  # the per-range running sum must exist
    for s in specs:
        assert s.lstrip().startswith("pid"), (s, specs)


def test_cogroup_asof_shuffles_on_bucket_only(spark):
    """The bucketed cogroup as-of (r8): both sides exchange on the
    user-hash BUCKET key (not user_id) into one
    FlatMapCoGroupsInPandas — the plan shape that pays pandas
    per-group overhead per bucket, not per user."""
    plan = physical_plan(_q(spark, "join_asof_cogroup"))
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert plan.count("Exchange") == 2, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_curriculum_single_corpus_shuffle(spark):
    """corpus_curriculum_plan's only corpus-wide movement is the ONE
    shuffle down to the ≤1001-row quality-bucket relation; the ordered
    cumulative/rollup stages run over that bounded relation (a second
    exchange to a single partition). A corpus-wide ordered window would
    show as a Sort over the scan side — pinned absent by the exchange
    count."""
    plan = physical_plan(_q(spark, "corpus_curriculum_plan"))
    assert plan.count("Exchange") == 2, plan


def test_gen2_serve_masked_read_is_broadcast_anti_with_pruning(spark):
    """The twice-refreshed serve keeps the masked-read scale posture:
    the tombstone retirement is a BROADCAST anti-join (the list is
    delta-sized — a shuffled anti here would move the corpus), composed
    with the gen-aware rule across TWO tombstone generations. It runs
    once, in the build of the engine's pin (below its
    ``InMemoryRelation``); the serve itself filters the pin by the
    probes, with no join, exchange or file scan per query."""
    from tests.conftest import assert_pinned_point_search

    plan = assert_pinned_point_search(_q(spark, "index_refresh_cdc_gen2"))
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines, plan
    assert all("BroadcastHashJoin" in ln for ln in anti_lines), plan
    assert "LeftAnti" not in plan.split("InMemoryRelation", 1)[0], plan


# --- r10 cont.: plan pins for the new lifecycle operators --------------------


def test_asof_read_pushes_gen_windows_and_broadcasts_tombstones(spark):
    """Time travel is a scan-with-predicates, not a replay: both gen
    windows reach the parquet scans as PushedFilters, the tombstone
    side is a broadcast anti-join, and the slice ends in a bounded
    top-k."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        _live_index_rows_asof,
        cdc_refreshed_index_gen2,
    )

    idx_dir = cdc_refreshed_index_gen2(spark, SF_CORRECT)
    df = _live_index_rows_asof(spark, idx_dir, 1)
    plan = assert_plan(df, contains=("BroadcastHashJoin",))
    assert "LeftAnti" in plan, plan
    assert "LessThanOrEqual(gen,1)" in plan, plan  # index-side window
    assert "LessThanOrEqual(gen,0)" in plan, plan  # tombstone-side window


def test_planner_prefilter_scans_only_needed_columns(spark):
    """The pre-filter branch must not read the label column (no probe
    structure involved) and must semi-join the predicate before
    scoring."""
    df = _q(spark, "knn_filtered_planned_narrow")
    assert_plan(
        df, contains=("TakeOrderedAndProject", "LeftSemi"), absent=("SortMergeJoin",)
    )
    cols = read_schema_columns(df)
    assert any(c == ["vec_id", "embedding"] for c in cols), cols


def test_planner_postfilter_pushes_probe_inlist(spark):
    """The post-filter branch keeps the IVF probes: the label IN-list
    reaches the embeddings scan as a pushed filter."""
    df = _q(spark, "knn_filtered_planned_broad")
    plan = assert_plan(df, contains=("TakeOrderedAndProject", "LeftSemi"))
    assert "In(label" in plan, plan


def test_delete_where_serve_masks_via_broadcast_antijoin(spark):
    """The predicate delete serves through the standard masked read:
    delta-sized tombstones broadcast, anti-joined, no shuffle of the
    index side."""
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        index_delete_where,
    )

    df = index_delete_where(spark, SF_CORRECT)
    plan = assert_plan(df, contains=("BroadcastHashJoin",))
    assert "LeftAnti" in plan, plan


def test_warm_engine_point_search_is_one_stage_topk(spark, tmp_path):
    """A warm ``IVFEngine.search`` is one stage over the engine's pin:
    TakeOrderedAndProject (partial top-k per partition, then merge) over
    the score projection of the probe-filtered ``InMemoryTableScan``,
    with no Window, no Exchange and no file scan outside the pin's
    build — the coarse stage ran on the driver, and both
    ``sequential_fine_search`` values share this plan."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.operators.index_build import build_partitioned_index
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
    from tests.conftest import assert_pinned_point_search

    out = str(tmp_path / "idx")
    build_partitioned_index(spark, SF_CORRECT, out, k=4, seed=42)
    row = load_table(spark, SF_CORRECT, "embeddings").filter(F.col("vec_id") == 0).first()
    qvec = [float(x) for x in row.embedding]
    for sequential in (True, False):
        eng = IVFEngine.from_pretrained(
            spark, out, n_probe=2, sequential_fine_search=sequential
        )
        eng.search(qvec, k=5).collect()  # warm: centroid rows held, pin filled
        assert_pinned_point_search(eng.search(qvec, k=5))


def test_warm_multi_query_batch_scans_the_pinned_corpus_once(spark):
    """A warm ``multi_query_knn_ivf`` batch reads the pinned normed
    corpus (one ``InMemoryTableScan``; its one ``FileScan`` is the pin's
    own build) and generates its (query, row) pairs in the scan stage:
    no ``BroadcastExchange``, no join, and no second scan that fetches
    query vectors by ``vec_id``."""
    from gpu_accelerated_vector_indexing_spark.operators.ivf import fixture_qvecs, multi_query_knn_ivf

    fixture_qvecs(spark, SF_CORRECT, (1, 4, 9))
    df = multi_query_knn_ivf(spark, SF_CORRECT, query_ids=(1, 4, 9), k=5, n_probe=3)
    plan = assert_plan(df, contains=("InMemoryTableScan", "Generate"), absent=("BroadcastExchange", "Join"))
    assert plan.count("FileScan") == 1, plan
    assert not any("vec_id" in f for f in pushed_filters(df)), plan


def test_single_query_search_is_one_scan_without_query_broadcast(spark):
    """A single-query search reads the corpus once: the query arrives as
    one literal (``knn.with_query``), so there is no second scan that
    fetches the query row by ``vec_id`` and no ``BroadcastExchange`` of
    it — brute force and IVF alike."""
    for name in ("knn_bruteforce", "knn_ivf_combined"):
        df = _q(spark, name)
        plan = assert_plan(df, contains=("TakeOrderedAndProject",), absent=("BroadcastExchange",))
        assert plan.count("FileScan") == 1, plan
        assert not any("EqualTo(vec_id" in f for f in pushed_filters(df)), plan
