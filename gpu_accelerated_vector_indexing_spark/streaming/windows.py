"""Event-time windowing: batch-checkable first, Structured Streaming on top.

EXT surface (SURVEY.md §2.3, M5): tumbling/sliding window aggregates
and sessionization over ``events``, each with a batch twin the DuckDB
oracle can verify; plus true ``readStream`` wrappers (memory sink) —
the streaming tumbling query is run in ``complete`` output mode so a
single micro-batch over static fixture data emits every window and
matches the batch oracle exactly. Watermark/late-data append-mode
semantics are exercised in tests with a two-chunk feed.

Numeric policy: ``value`` sums go through DECIMAL(18,2) like every
money column (see operators/relational.py).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.memo import state_dir
from gpu_accelerated_vector_indexing_spark.operators.relational import dec
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table
from gpu_accelerated_vector_indexing_spark.streaming._drain import (
    scoped_stream_partitions,
)

_memory_sink_counter = threading.Lock()
_sink_id = [0]


class _no_trailing_batch:
    """Skip the trailing NO-DATA micro-batch for drain-and-stop queries
    whose output is fully emitted by data batches.

    After the last data batch advances the watermark, Structured
    Streaming runs one more (empty) micro-batch purely to evict expired
    state — a full state-store commit cycle across every store instance
    (measured: the interval join pays 128 instance commits ≈ half its
    total wall time for a batch that emits ZERO rows). A query that
    drains a bounded source and immediately stops never reads that
    state again, so the eviction pass is pure overhead — at any scale,
    not just locally. Only safe when emission does not DEPEND on the
    watermark: complete-mode aggregations re-emit their whole state
    every data batch, and ``dropDuplicatesWithinWatermark`` survivors /
    stream-stream INNER join matches are emitted in the batch they
    arrive. Append-mode windowed aggregations (which emit ONLY when the
    watermark closes a window) must never use this; complete-mode
    drains need no wrapper at all (measured: they run a single batch —
    the trailing no-data batch is a stateful-append/join artifact).

    Scoped via session conf because the flag is read once at
    ``start()``; restored on exit so long-lived sessions (and any
    append-mode stream started later) see the default again.
    """

    _KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark

    def __enter__(self) -> None:
        self._old = self._spark.conf.get(self._KEY, "true")
        self._spark.conf.set(self._KEY, "false")

    def __exit__(self, *exc) -> None:
        self._spark.conf.set(self._KEY, self._old)


def tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "5 minutes") -> DataFrame:
    """Tumbling event-time windows: count + value sum per (window, type)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    spark: SparkSession, sf_dir: str, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def sessionize(spark: SparkSession, sf_dir: str, gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization: per-user sessions split on inactivity gaps.

    lag + cumulative-sum-of-gap-flags — the classic windowed form, and
    the batch twin of ``session_window`` streaming aggregation.
    """
    events = load_table(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = events.select(
        "user_id",
        "event_id",
        "ts",
        (
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(order)) > gap_seconds)
            | F.lag("ts", 1).over(order).isNull()
        )
        .cast("long")
        .alias("is_new"),
    )
    with_session = with_gap.withColumn(
        "session_id", F.sum("is_new").over(order.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", F.col("session_id").cast("int").alias("session_id"), "n_events", "session_start", "session_end")
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream, with the same nanos→seconds
    canonicalization as the batch loader (fixtures._load_events).

    The glob keeps basePath = sf_dir (the streaming file source requires
    a directory base), and the raw schema reads the nano timestamps as
    longs under the legacy conf.
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Probe the physical type once via the batch reader (footer-only, lazy):
    # older driver testdata stores TIMESTAMP(NANOS) (read as long), current
    # testdata stores TIMESTAMP[us] (read natively).
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    nanos = isinstance(probe.schema["ts"].dataType, LongType)
    ts_sql = "timestamp" if not nanos else "long"
    raw_schema = f"event_id long, ts {ts_sql}, user_id long, event_type string, value double, props string"
    raw = spark.readStream.schema(raw_schema).parquet(os.path.join(sf_dir, "events.parque*"))
    ts = (
        F.timestamp_seconds(F.expr("ts div 1000000000"))
        if nanos
        else F.date_trunc("second", F.col("ts"))
    )
    return raw.select(
        "event_id",
        ts.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def streaming_tumbling(spark: SparkSession, sf_dir: str, width: str = "5 minutes") -> DataFrame:
    """TRUE Structured Streaming tumbling aggregation over the fixture.

    readStream → window agg → memory sink (complete mode), drained
    synchronously with processAllAvailable. Complete mode emits every
    window regardless of watermark, so the result equals the batch
    tumbling query — giving the streaming engine a full value oracle.
    """
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_stream_{_sink_id[0]}"
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_sliding(
    spark: SparkSession, sf_dir: str, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """TRUE Structured Streaming sliding-window aggregation: each event
    contributes to width/slide overlapping windows.

    Same complete-mode memory-sink drain as ``streaming_tumbling``; over
    static fixture data the drained result equals the batch sliding
    query, so the overlapping-window state machinery sits under the full
    value oracle. State per key is bounded by width/slide live windows —
    the watermark closes them at event-time + width + watermark delay.
    """
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_stream_{_sink_id[0]}"
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_session_window(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Structured Streaming native session windows (complete mode).

    ``session_window`` is the stateful operator the batch ``sessionize``
    mirrors; complete-mode drain over static data gives deterministic
    output (rows-only check — DuckDB has no session_window twin).
    """
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_sess_{_sink_id[0]}"
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw survivors of ``dropDuplicatesWithinWatermark`` on the
    (user_id, event_type) key — the stateful streaming twin of the batch
    keep-first dedup (state is bounded by the watermark horizon instead
    of growing forever, the only honest contract for an unbounded
    stream).

    Which physical row survives per key depends on micro-batch arrival
    order, so THIS relation is not value-checkable; the registered query
    (``streaming_dedup``) value-checks the deterministic contract
    instead.
    """
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_dedup_{_sink_id[0]}"
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts", "value")
    )
    with _no_trailing_batch(spark), scoped_stream_partitions(spark, sf_dir, "events"):
        # survivors are emitted in the batch they arrive
        q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checkable contract of the streaming dedup (same move as
    ``kmeans_invariants``): the REAL ``dropDuplicatesWithinWatermark``
    query runs and drains, then the survivors are verified in-plan —
    exactly one survivor per (user_id, event_type) key present in the
    source, and the surviving (event_id, ts, value) payload is a genuine
    event of that key. Both facts are deterministic even though WHICH
    row survives is arrival-order dependent, so the result carries a
    full DuckDB oracle (one all-true row per distinct key).
    """
    survivors = streaming_dedup_survivors(spark, sf_dir)
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    matched = survivors.join(
        events.withColumn("in_source", F.lit(True)),
        ["user_id", "event_type", "event_id", "ts", "value"],
        "left",
    )
    return matched.groupBy("user_id", "event_type").agg(
        F.count("*").alias("survivors"),
        F.bool_and(F.coalesce("in_source", F.lit(False))).alias("survivor_is_real"),
    )


def streaming_interval_join(
    spark: SparkSession, sf_dir: str, horizon_s: int = 1800
) -> DataFrame:
    """TRUE stream-stream interval join: views ⋈ purchases per user with
    the purchase inside a 30-minute horizon after the view.

    Both sides are watermarked and the join condition carries the time
    bound — the two things Structured Streaming needs to bound join
    state (view rows older than the horizon + watermark are evicted
    instead of accumulating forever). Inner-join matches are emitted in
    the micro-batch they occur, so draining the static fixture yields
    exactly the batch interval join — the oracle is the batch twin's SQL
    (operators/temporal.interval_join_view_purchase).
    """
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_ssjoin_{_sink_id[0]}"
    src = _events_stream(spark, sf_dir)
    views = (
        src.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")),
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts"))
        .cast("long")
        .alias("secs_to_purchase"),
    )
    with _no_trailing_batch(spark), scoped_stream_partitions(spark, sf_dir, "events"):
        # inner-join matches are emitted in the batch they occur
        q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_profile_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running profile through the Spark 4
    ``transformWithStateInPandas`` API (see streaming/stateful.py),
    drained over the static fixture.

    The fixture is one parquet file → one micro-batch → each user emits
    exactly one row holding its full totals, which must equal the batch
    groupBy — a complete value oracle for the new stateful API.
    """
    from gpu_accelerated_vector_indexing_spark.streaming.stateful import (
        HAS_TWS,
        user_profile_tws,
    )

    if not HAS_TWS:  # pragma: no cover
        raise NotImplementedError("transformWithStateInPandas unavailable")
    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_tws_{_sink_id[0]}"
    out = user_profile_tws(_events_stream(spark, sf_dir))
    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-static join: the events stream enriched against the
    static ``customer`` dimension, aggregated per market segment.

    The static side needs no watermark and is re-read (or broadcast)
    per micro-batch — the canonical dimension-enrichment shape of a
    production pipeline (at 100 TB: a broadcast hash join per batch;
    the stream side never shuffles for the join). Complete-mode drain
    over the static fixture equals the batch join+agg, so the query
    carries a full DuckDB oracle.
    """
    import os as _os

    with _memory_sink_counter:
        _sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_sstatic_{_sink_id[0]}"
    customer = spark.read.parquet(_os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )
    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def streaming_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink maintaining a latest-wins per-user state
    table — the production "merge into target per micro-batch" pattern
    (the closest open-surface analog of MERGE INTO a lakehouse table).

    Each micro-batch is reduced to its per-user latest row, merged with
    the running state via union + per-key window, and the state is
    ``localCheckpoint``-ed to truncate lineage (without it the plan
    grows per batch — the classic foreachBatch leak). Latest-wins under
    the total (ts DESC, event_id DESC) order is associative across any
    batching, so the drained result equals the batch "latest event per
    user" query — a full DuckDB oracle despite the incremental path.
    """
    state: dict[str, DataFrame] = {}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(F.desc("last_ts"), F.desc("last_event_id"))
        reduced = batch_df.select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
        )
        merged = state["df"].unionByName(reduced) if "df" in state else reduced
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        state["df"] = latest.localCheckpoint(eager=True)

    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.outputMode("update")
            .option("checkpointLocation", state_dir("fb"))
            .foreachBatch(upsert)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return state["df"].select("user_id", "last_type", "last_value", "last_ts")


def streaming_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time distinct-count sketch: each micro-batch of the event
    stream folds into a running 256-register HLL state by register-wise
    MAX inside ``foreachBatch`` — the production cardinality dashboard
    shape (state is 256 rows FOREVER, regardless of stream volume; no
    distinct-set shuffle ever happens).

    Register-max is associative and commutative, so the drained
    estimate must equal the one-shot batch sketch over the same rows
    under ANY batching — the ``stream_equals_batch`` column pins that
    (the streaming analog of hll_merge's merge_exact). The state is
    localCheckpoint-ed per batch to truncate lineage (the
    streaming_foreach_upsert posture). Full oracle: DuckDB replays the
    batch sketch, which the stream must equal bit-for-bit.
    """
    from gpu_accelerated_vector_indexing_spark.operators.approx import (
        HLL_REL_ERR,
        _hll_estimate,
        _hll_hashed,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    state: dict[str, DataFrame] = {}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        regs = _hll_hashed(batch_df).groupBy("bucket").agg(F.max("rho").alias("reg"))
        merged = (
            state["df"].unionByName(regs).groupBy("bucket").agg(F.max("reg").alias("reg"))
            if "df" in state
            else regs
        )
        state["df"] = merged.localCheckpoint(eager=True)

    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.outputMode("update")
            .option("checkpointLocation", state_dir("hll"))
            .foreachBatch(fold)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if "df" not in state:
        # same contract as _drain.drain_accumulate: a no-file source glob
        # must fail loudly, not as a bare KeyError below
        raise ValueError(
            "stream drained zero micro-batches — the source glob matched no files"
        )

    ev = load_table(spark, sf_dir, "events")
    batch_regs = _hll_hashed(ev).groupBy("bucket").agg(F.max("rho").alias("reg"))
    est_stream = _hll_estimate(state["df"], "est_stream")
    est_batch = _hll_estimate(batch_regs, "est_batch")
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        exact.crossJoin(F.broadcast(est_stream))
        .crossJoin(F.broadcast(est_batch))
        .selectExpr(
            "n_exact",
            "est_stream",
            "est_batch",
            "est_stream = est_batch AS stream_equals_batch",
            "floor(abs(est_stream - n_exact) / n_exact * 1000000) / 1000000 AS rel_err",
            f"abs(est_stream - n_exact) / n_exact <= {HLL_REL_ERR} AS hll_ok",
        )
    )


def streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time frequency sketch: each micro-batch of the event stream
    folds into a running d×w count-min counter table by cell-wise SUM
    inside ``foreachBatch`` — the heavy-hitters dashboard shape (state
    is ≤ d·w rows FOREVER; no per-key shuffle at any stream volume).

    Cell-wise SUM is associative and commutative, so the drained
    counter table must equal the one-shot batch sketch over the same
    rows under ANY batching — pinned per cell by the shared
    ``cms_cell_mismatch`` compare (the CMS analog of
    ``streaming_hll_merge``'s register contract; ``cms_merge`` pins the
    same algebra batch-side by slice). Full oracle: DuckDB replays the
    batch sketch with the portable 2-universal hash family.
    """
    from gpu_accelerated_vector_indexing_spark.operators.approx import (
        _cms_coords,
        cms_cell_mismatch,
        cms_cell_summary,
    )

    state: dict[str, DataFrame] = {}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        part = _cms_coords(batch_df).groupBy("row", "bucket").agg(
            F.count("*").alias("cnt")
        )
        merged = (
            state["df"].unionByName(part).groupBy("row", "bucket").agg(
                F.sum("cnt").alias("cnt")
            )
            if "df" in state
            else part
        )
        state["df"] = merged.localCheckpoint(eager=True)

    with scoped_stream_partitions(spark, sf_dir, "events"):
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.outputMode("update")
            .option("checkpointLocation", state_dir("cmsstream"))
            .foreachBatch(fold)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if "df" not in state:
        raise ValueError(
            "stream drained zero micro-batches — the source glob matched no files"
        )

    stream_sketch = state["df"]
    direct = (
        _cms_coords(load_table(spark, sf_dir, "events"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt_d"))
        .localCheckpoint(eager=True)
    )
    return (
        cms_cell_summary(stream_sketch, "cnt")
        .crossJoin(
            F.broadcast(cms_cell_mismatch(direct, "cnt_d", stream_sketch, "cnt"))
        )
        .selectExpr(
            "n_cells",
            "total_count",
            "cell_checksum",
            "n_mismatch_cells",
            "n_mismatch_cells = 0 AS stream_equals_batch",
        )
    )


def streaming_outlier_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static robust alerting: events arrive as a file stream
    and each micro-batch is flagged against STATIC per-type robust
    bounds (the median/MAD state ``temporal.mad_outliers`` derives —
    trained offline, exactly like the DSIR model or the LSH signatures)
    using the same cross-multiplied integer inequality
    ``6745·|v − med| > 35000·MAD`` — no division, no floats, so the
    flags are engine-exact and stream ≡ batch BY CONSTRUCTION (per-event
    work is batch-local, the bounds side is static). Returns the
    accumulated flagged-event relation. At scale this is the
    monitoring-pipeline shape: bounds refresh on a maintenance cadence;
    every arriving shard flags its own events with one broadcast join,
    zero corpus-wide work per batch.
    """
    from gpu_accelerated_vector_indexing_spark.operators.temporal import (
        MAD_CUT_NUM,
        MAD_Z_NUM,
        mad_outliers,
    )
    from gpu_accelerated_vector_indexing_spark.streaming._drain import (
        drain_accumulate,
        events_stream,
    )

    bounds = mad_outliers(spark, sf_dir).select(
        "event_type",
        F.round(F.col("median_value") * 100).cast("long").alias("med_c"),
        F.round(F.col("mad_value") * 100).cast("long").alias("mad_c"),
    )

    def flag_batch(batch_df: DataFrame) -> DataFrame:
        v = F.round(F.col("value") * 100).cast("long")
        dev = F.abs(F.col("cents") - F.col("med_c"))
        return (
            batch_df.select("event_id", "event_type", v.alias("cents"))
            .join(F.broadcast(bounds), "event_type")
            .select("event_id", "event_type", "cents", dev.alias("dev_c"), "mad_c")
            .filter(F.lit(MAD_Z_NUM) * F.col("dev_c") > F.lit(MAD_CUT_NUM) * F.col("mad_c"))
            .select("event_id", "event_type", "cents", "dev_c")
        )

    with scoped_stream_partitions(spark, sf_dir, "events"):
        return drain_accumulate(
            events_stream(spark, sf_dir),
            flag_batch,
            "salerts",
        )
