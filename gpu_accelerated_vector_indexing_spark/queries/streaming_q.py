"""Streaming/event-window query family (EXT, SURVEY.md §2.3 M5).

Every oracle reads events through the ``ev`` CTE, which truncates the
nanosecond timestamps to whole seconds exactly like the Spark loader
(sources/fixtures.py::_load_events) — bucket membership and min/max
outputs then agree bit-for-bit.

``streaming_tumbling`` runs a REAL Structured Streaming query
(readStream → watermark → window agg → memory sink, complete mode);
over static fixture data its result equals the batch tumbling query,
so even the streaming engine gets a full value oracle.
``streaming_sessions`` (session_window stateful op) is batch-restatable
too — start = min(ts), end = last event + gap — so it carries a full
oracle as well. ``streaming_dedup`` value-checks the deterministic
CONTRACT of the arrival-order-dependent dedup (one genuine survivor per
key), so every entry in this family carries a full oracle.
"""

from __future__ import annotations

from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.streaming import windows as SW

_EV = """
WITH ev AS (
  SELECT event_id, date_trunc('second', ts)::TIMESTAMP AS ts,
         user_id, event_type, value, props
  FROM events
)
"""

_TUMBLING_SQL = (
    _EV
    + """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM ev GROUP BY 1, 2
"""
)

QUERIES = {
    "events_tumbling": SW.tumbling_counts,
    "events_sliding": SW.sliding_counts,
    "events_sessionize": SW.sessionize,
    "streaming_tumbling": SW.streaming_tumbling,
    "streaming_sliding": SW.streaming_sliding,
    "streaming_sessions": SW.streaming_session_window,
    "streaming_dedup": SW.streaming_dedup,
    "streaming_interval_join": SW.streaming_interval_join,
    "streaming_stream_static": SW.streaming_stream_static_join,
    "streaming_foreach_upsert": SW.streaming_foreach_upsert,
    "streaming_hll_merge": SW.streaming_hll_merge,
}

_INTERVAL_JOIN_SQL = (
    _EV
    + """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(epoch(p.ts) - epoch(v.ts) AS BIGINT) AS secs_to_purchase
FROM ev v JOIN ev p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND epoch(p.ts) <= epoch(v.ts) + 1800
"""
)

ORACLES = {
    "events_tumbling": _TUMBLING_SQL,
    "streaming_tumbling": _TUMBLING_SQL,
    "events_sliding": _EV
    + """
SELECT time_bucket(INTERVAL '5 minutes', ts) - k.i * INTERVAL '5 minutes' AS window_start,
       count(*) AS n_events,
       CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM ev CROSS JOIN range(0, 2) k(i)
GROUP BY 1
""",
    # complete-mode drain over static data ≡ the batch sliding query
    "streaming_sliding": _EV
    + """
SELECT time_bucket(INTERVAL '5 minutes', ts) - k.i * INTERVAL '5 minutes' AS window_start,
       count(*) AS n_events,
       CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM ev CROSS JOIN range(0, 2) k(i)
GROUP BY 1
""",
    "events_sessionize": _EV
    + """,
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS INT) AS session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
""",
    # stream-stream inner-join matches are emitted in the micro-batch they
    # occur (watermark eviction only bounds state), so the drained result
    # over static data equals the batch interval join
    "streaming_interval_join": _INTERVAL_JOIN_SQL,
    # the dedup contract: every (user_id, event_type) key in the source
    # yields exactly one survivor, and that survivor is a genuine event
    "streaming_dedup": _EV
    + """
SELECT user_id, event_type,
       1::BIGINT AS survivors,
       TRUE AS survivor_is_real
FROM ev GROUP BY user_id, event_type
""",
}


def _roundtrip(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.sources.formats import roundtrip_check

    return roundtrip_check(spark, sf_dir)


QUERIES["sources_roundtrip"] = _roundtrip


def _embeddings_fingerprint(sf_dir):
    """Content fingerprint of the source parquet: (name, size, mtime)
    of every file."""
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    items = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                items.append((os.path.relpath(p, src), st.st_size, st.st_mtime_ns))
    elif os.path.exists(src):
        st = os.stat(src)
        items.append((src, st.st_size, st.st_mtime_ns))
    return tuple(items)


# The exported .bin layout is INDEX STATE: written once per (session,
# corpus), so warm calls stream+decode+aggregate against the persisted
# layout instead of re-running the export write job per call (the
# engine_full_probe build-once/serve-many posture); the stream itself
# re-reads and re-decodes every file every call. The value carries the
# source's content fingerprint: regenerating the fixture in place
# mid-session releases the superseded export and re-exports, instead of
# streaming the stale layout or leaving it on disk.
@session_state
def _bin_export(spark, sf_dir):
    """``(export_dir, fingerprint)`` — the corpus as per-cluster ``.bin``
    files, exported executor-side, one task per cluster file (the
    reference's unsplittable format) — no driver collect."""
    from gpu_accelerated_vector_indexing_spark.sources.binary import (
        write_float32_bin_clustered,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    fingerprint = _embeddings_fingerprint(sf_dir)
    out = state_dir("binstream")
    write_float32_bin_clustered(
        load_table(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding"),
        out,
    )
    return out, fingerprint


def _bin_export_dir(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    held = _bin_export.lookup(spark, sf_dir)
    if held is not None and held[1] != _embeddings_fingerprint(sf_dir):
        _bin_export.evict(spark, sf_dir)
        load_table.evict(spark, sf_dir, "embeddings")  # its file listing is stale too
    return _bin_export(spark, sf_dir)[0]


def _bin_stream(spark, sf_dir):
    """STREAMING read through the float32bin Python DataSource: export
    the corpus to per-cluster raw ``.bin`` files (the reference's own
    layout, clusters.py:32-35), stream them back via the connector's
    partitioned DataSourceStreamReader (file-arrival semantics, one
    executor decode task per file — r11), drain to a memory sink, and
    aggregate — count, id checksum and a decimal-exact component sum
    must match the parquet source, so the whole export→stream→decode
    path sits under the value-hash gate.

    vec_ids are reassigned 0..N-1 in sorted-file order (the reference's
    sorted-filename convention, embedding.py:26), so the id checksum is
    N(N-1)/2 — restated arithmetically in the oracle.
    """
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.sources.bin_datasource import register

    out = _bin_export_dir(spark, sf_dir)

    register(spark)
    with SW._memory_sink_counter:
        SW._sink_id[0] += 1
        name = f"gpu_accelerated_vector_indexing_binstream_{SW._sink_id[0]}"
    stream = spark.readStream.format("float32bin").option("dim", 64).load(out)
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row_sum = F.aggregate(
        F.transform("embedding", lambda v: F.round(v.cast("double"), 6)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return spark.table(name).agg(
        F.count("*").alias("n_rows"),
        F.sum("vec_id").cast("bigint").alias("sum_ids"),
        F.sum(row_sum.cast("decimal(18,6)")).cast("double").alias("sum_components"),
    )


QUERIES["sources_bin_stream"] = _bin_stream

# the stream re-reads what the export wrote: row count and the decimal
# component checksum come straight from the parquet source; sum of the
# reassigned 0..N-1 ids is N(N-1)/2
ORACLES["sources_bin_stream"] = """
SELECT count(*) AS n_rows,
       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS sum_ids,
       CAST(sum(CAST(list_sum(list_transform(embedding, v -> round(CAST(v AS DOUBLE), 6)))
                AS DECIMAL(18,6))) AS DOUBLE) AS sum_components
FROM embeddings
"""

def _npy_roundtrip(spark, sf_dir):
    """O24's input side under the value gate: export the corpus to the
    reference build pipeline's per-cluster ``.npy`` layout
    (clusters.py:32-35) via the distributed writer, read it back with
    ``read_npy`` (self-describing header parse), and checksum — count,
    reassigned-id sum and decimal component sum must match the parquet
    source (same contract as ``sources_bin_stream``)."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.sources.binary import (
        read_npy,
        write_npy_clustered,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    out = state_dir("npy")
    write_npy_clustered(
        load_table(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding"),
        out,
    )
    back = read_npy(spark, f"{out}/*.npy")
    row_sum = F.aggregate(
        F.transform("embedding", lambda v: F.round(v.cast("double"), 6)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("vec_id").cast("bigint").alias("sum_ids"),
        F.sum(row_sum.cast("decimal(18,6)")).cast("double").alias("sum_components"),
    )


QUERIES["sources_npy_roundtrip"] = _npy_roundtrip

ORACLES["sources_npy_roundtrip"] = """
SELECT count(*) AS n_rows,
       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS sum_ids,
       CAST(sum(CAST(list_sum(list_transform(embedding, v -> round(CAST(v AS DOUBLE), 6)))
                AS DECIMAL(18,6))) AS DOUBLE) AS sum_components
FROM embeddings
"""


def _articles_roundtrip(spark, sf_dir):
    """O4/O5 under the value gate: export documents to the reference's
    article-JSON directory layout, re-ingest through
    ``read_article_dir`` (whole-file JSON array parse + positional
    global ids), and checksum. ``sum_pos_weighted`` couples each
    re-derived positional id to its text length, so any id↔content
    misalignment (wrong file order, wrong in-file order) breaks the
    hash, not just lost rows."""
    from pyspark.sql import functions as F

    from gpu_accelerated_vector_indexing_spark.sources.articles import (
        read_article_dir,
        write_article_dir,
    )
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    out = state_dir("articles")
    write_article_dir(load_table(spark, sf_dir, "documents"), out)
    arts = read_article_dir(spark, out)
    return arts.agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_ids"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.sum(F.col("doc_id") * F.length("text")).cast("bigint").alias("sum_pos_weighted"),
        F.count_distinct(F.md5(F.col("text"))).alias("n_distinct_texts"),
    )


QUERIES["sources_articles_roundtrip"] = _articles_roundtrip

# positional ids are re-derived by the reader; fixture doc_ids are the
# same 0..N-1 sequence, so position == doc_id and the alignment checksum
# restates directly over the source table
ORACLES["sources_articles_roundtrip"] = """
SELECT count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_pos_weighted,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
FROM documents
"""


# each format's round trip must reproduce the aggregates computed
# directly on the parquet source — one UNION ALL branch per format
_RT_AGG = """
SELECT '{fmt}' AS fmt, count(*) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS sum_ids,
       CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM events
"""
ORACLES["sources_roundtrip"] = " UNION ALL ".join(
    _RT_AGG.format(fmt=f) for f in ("csv", "json", "orc")
)

def _streaming_knn(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.queries import knn_q
    from gpu_accelerated_vector_indexing_spark.streaming.vector_stream import streaming_knn

    return streaming_knn(spark, sf_dir, query_ids=knn_q.MULTI_QUERY_IDS, k=knn_q.K)


QUERIES["streaming_knn"] = _streaming_knn

# the drained stream-of-queries search equals the batch multi-query
# search (static corpus ⇒ per-query top-k is batching-invariant), so it
# shares multi_query_knn's full oracle verbatim
def _multi_query_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries import knn_q

    return knn_q.ORACLES["multi_query_knn"]


ORACLES["streaming_knn"] = _multi_query_oracle()

# streaming_profile_tws (transformWithStateInPandas) is implemented in
# streaming/stateful.py but NOT registered: the API's state-server
# protocol needs a working google.protobuf, absent in this runtime.
# tests/test_text_multimodal_streaming.py gates it on the dependency;
# applyInPandasWithState (streaming_sessions path) covers arbitrary
# state in the driver contract.

# session_window semantics are batch-restatable exactly: sessions split
# on >30min inactivity; window start = min(ts), end = LAST event + gap
# (complete-mode drain over static data emits every closed session once)
ORACLES["streaming_sessions"] = _EV + """,
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 1800 SECONDS AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


ORACLES["streaming_stream_static"] = (
    _EV
    + """
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events,
       CAST(sum(e.value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM ev e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""
)


ORACLES["streaming_foreach_upsert"] = (
    _EV
    + """
SELECT user_id, event_type AS last_type, value AS last_value, ts AS last_ts
FROM (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
) WHERE rn = 1
"""
)


def _streaming_incremental_dedup(spark, sf_dir):
    """Streaming twin of dedup_incremental_batch: the new-doc stream is
    banded against the STATIC archive signature state per micro-batch;
    complete-mode drain equals the batch incremental query restricted
    to docs with ≥1 band collision (the left-join spine has no
    streaming analog — absence of a row IS the 'clean' verdict)."""
    from gpu_accelerated_vector_indexing_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    return streaming_incremental_dedup(spark, sf_dir)


QUERIES["streaming_incremental_dedup"] = _streaming_incremental_dedup

from gpu_accelerated_vector_indexing_spark.operators.dedup import (  # noqa: E402
    HASH_MOD as _D_HASH_MOD,
    INCR_BATCH_MOD as _D_MOD,
    INCR_BATCH_REM as _D_REM,
    INCR_THRESHOLD as _D_THRESH,
    MINHASH_AS as _D_AS,
    MINHASH_BS as _D_BS,
    MINHASH_PRIME as _D_PRIME,
    N_BANDS as _D_NB,
    ROWS_PER_BAND as _D_RPB,
    SHINGLE_LEN as _D_SLEN,
)

_D_POLY = " + ".join(
    f"ascii(substr(s, {i}, 1))::BIGINT * {31 ** (_D_SLEN - i)}"
    for i in range(1, _D_SLEN + 1)
)
_D_GH_POLY = " + ".join(
    f"ascii(substr(text, i + {j - 1}, 1))::BIGINT * {31 ** (_D_SLEN - j)}"
    for j in range(1, _D_SLEN + 1)
)
_D_SIG_COLS = ", ".join(
    f"min(({a}::BIGINT * h + {b}) % {_D_PRIME}) AS m{i}"
    for i, (a, b) in enumerate(zip(_D_AS, _D_BS))
)
_D_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS key FROM sig".format(
        b=b, cols=", ".join(f"m{b * _D_RPB + r}" for r in range(_D_RPB))
    )
    for b in range(_D_NB)
)

ORACLES["streaming_incremental_dedup"] = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) - {_D_SLEN - 1} + 1),
                               i -> substr(text, i, {_D_SLEN}))) AS s
  FROM documents WHERE length(text) >= {_D_SLEN}
),
h AS (SELECT doc_id, ({_D_POLY}) % {_D_HASH_MOD} AS h FROM sh),
sig AS (SELECT doc_id, {_D_SIG_COLS} FROM h GROUP BY doc_id),
bands AS ({_D_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT x.doc_id AS new_doc_id, y.doc_id AS corpus_doc_id
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id % {_D_MOD} = {_D_REM} AND y.doc_id % {_D_MOD} <> {_D_REM}
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - {_D_SLEN - 1}, 1) + 1),
                                      i -> {_D_GH_POLY})) AS gh
  FROM documents WHERE length(text) >= {_D_SLEN}
),
verified AS (
  SELECT c.new_doc_id, c.corpus_doc_id,
         round(len(list_intersect(a.gh, b.gh)) /
               (len(a.gh) + len(b.gh) - len(list_intersect(a.gh, b.gh))), 6) AS jaccard
  FROM cand c JOIN grams a ON a.doc_id = c.new_doc_id
              JOIN grams b ON b.doc_id = c.corpus_doc_id
)
SELECT new_doc_id, jaccard AS best_jaccard, corpus_doc_id AS best_match_doc_id,
       jaccard >= {_D_THRESH} AS is_duplicate
FROM (
  SELECT *, row_number() OVER (PARTITION BY new_doc_id
                               ORDER BY jaccard DESC, corpus_doc_id DESC) AS rn
  FROM verified
) WHERE rn = 1
"""


def _jsonl_shards(spark, sf_dir):
    from gpu_accelerated_vector_indexing_spark.sources.formats import jsonl_shards_roundtrip

    return jsonl_shards_roundtrip(spark, sf_dir)


QUERIES["sources_jsonl_shards"] = _jsonl_shards

# per-shard checksums restate directly over the source table (shard key
# is doc_id % n, deterministic); sum_keyed_len couples id↔content so a
# row in the wrong shard breaks the hash
ORACLES["sources_jsonl_shards"] = """
SELECT CAST(doc_id % 4 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_keyed_len,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
FROM documents GROUP BY 1
"""

# the streaming sketch must equal the one-shot batch sketch by register-
# max associativity; DuckDB replays the batch sketch (the sketch_hll_merge
# estimator fragment with the direct registers only)
from gpu_accelerated_vector_indexing_spark.operators import approx as _AP  # noqa: E402
from gpu_accelerated_vector_indexing_spark.queries.approx_q import (  # noqa: E402
    _HLL_ALPHA,
    _RHO,
)

ORACLES["streaming_hll_merge"] = f"""
WITH h1 AS (
  SELECT ((user_id % {_AP.CMS_P}) * {_AP.HLL_A} + {_AP.HLL_B}) % {_AP.CMS_P} AS h1
  FROM events
),
h2 AS (
  SELECT (((h1 * h1) % {_AP.CMS_P}) * {_AP.HLL_A2} + {_AP.HLL_B2}) % {_AP.CMS_P} AS h
  FROM h1
),
hashed AS (
  SELECT h % {_AP.HLL_M} AS bucket, ({_RHO}) + 1 AS rho
  FROM (SELECT h, h // {_AP.HLL_M} AS rest FROM h2)
),
direct AS (SELECT bucket, max(rho) AS reg FROM hashed GROUP BY bucket),
est AS (
  SELECT count(*) AS n_buckets, sum(1.0 / (1::BIGINT << reg)) AS s FROM direct
),
fin AS (
  SELECT CASE WHEN raw <= 2.5 * {_AP.HLL_M} AND zeros > 0
              THEN ([{_AP.HLL_LC_VALUES}]::DOUBLE[])[CAST(zeros AS INT)]
              ELSE floor(raw * 10000) / 10000 END AS est_batch
  FROM (SELECT CAST({_AP.HLL_M} - n_buckets AS DOUBLE) AS zeros,
               ({_HLL_ALPHA}) * {_AP.HLL_M} * {_AP.HLL_M} / (s + ({_AP.HLL_M} - n_buckets)) AS raw
        FROM est)
),
exact AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT x.n_exact, f.est_batch AS est_stream, f.est_batch,
       true AS stream_equals_batch,
       floor(abs(f.est_batch - x.n_exact) / x.n_exact * 1000000) / 1000000 AS rel_err,
       abs(f.est_batch - x.n_exact) / x.n_exact <= {_AP.HLL_REL_ERR} AS hll_ok
FROM exact x, fin f
"""


def _streaming_graph_attach(spark, sf_dir):
    """Streaming twin of graph_ann_insert: new vectors attach to the
    masked live adjacency per micro-batch; every candidate for a node
    is generated in that node's own batch, so the drained digest is
    value-identical to the one-shot batch attach (same oracle)."""
    from gpu_accelerated_vector_indexing_spark.streaming.graph_stream import (
        streaming_graph_attach,
    )

    return streaming_graph_attach(spark, sf_dir)


QUERIES["streaming_graph_attach"] = _streaming_graph_attach

from gpu_accelerated_vector_indexing_spark.queries._graph_ann_oracle import (  # noqa: E402
    insert_digest_sql as _insert_digest_sql,
)

# stream ≡ batch by construction (see streaming/graph_stream.py) — the
# oracle IS the batch twin's staged-CTE replay
ORACLES["streaming_graph_attach"] = _insert_digest_sql()


# cell-wise SUM is associative/commutative, so the drained counter
# table ≡ the one-shot batch sketch under any batching — the oracle
# replays the batch sketch with the portable 2-universal family and
# expects zero mismatching cells
QUERIES["streaming_cms_merge"] = SW.streaming_cms_merge

from gpu_accelerated_vector_indexing_spark.queries.approx_q import _CMS_D  # noqa: E402

ORACLES["streaming_cms_merge"] = f"""
WITH hashes(row, a, b) AS (VALUES {_CMS_D}),
coords AS (
  SELECT h.row,
         ((e.user_id % {_AP.CMS_P}) * h.a + h.b) % {_AP.CMS_P} % {_AP.CMS_WIDTH} AS bucket
  FROM events e CROSS JOIN hashes h
),
direct AS (SELECT row, bucket, count(*) AS cnt FROM coords GROUP BY row, bucket)
SELECT count(*) AS n_cells,
       CAST(sum(cnt) AS BIGINT) AS total_count,
       CAST(sum((row * {_AP.CMS_WIDTH} + bucket + 1) * cnt) AS BIGINT) AS cell_checksum,
       CAST(0 AS BIGINT) AS n_mismatch_cells,
       true AS stream_equals_batch
FROM direct
"""


# --- r6: streaming DSIR scoring against the static importance model -----------
from gpu_accelerated_vector_indexing_spark.streaming.curation_stream import (  # noqa: E402
    streaming_dsir_score as _sdsir,
)

QUERIES["streaming_dsir_score"] = _sdsir
# stream ≡ batch by construction (per-doc projection is batch-local,
# model sides static) — shares the batch operator's full oracle
from gpu_accelerated_vector_indexing_spark.queries import curation_q as _cq  # noqa: E402

ORACLES["streaming_dsir_score"] = _cq.ORACLES["curation_dsir_sample"]


# --- r7: stream-static robust alerting ---------------------------------------


def _salerts(spark, sf_dir):
    """Events stream flagged per micro-batch against static median/MAD
    bounds — stream ≡ batch by construction; the oracle recomputes the
    bounds and the integer flag inequality over the full corpus."""
    from gpu_accelerated_vector_indexing_spark.streaming.windows import (
        streaming_outlier_alerts,
    )

    return streaming_outlier_alerts(spark, sf_dir)


QUERIES["streaming_outlier_alerts"] = _salerts

from gpu_accelerated_vector_indexing_spark.operators.temporal import (  # noqa: E402
    MAD_CUT_NUM,
    MAD_Z_NUM,
)

ORACLES["streaming_outlier_alerts"] = f"""
WITH vals AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
h1 AS (SELECT event_type, v, count(*) AS cnt FROM vals GROUP BY event_type, v),
c1 AS (
  SELECT event_type, v,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM h1
),
med AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS med_c
  FROM c1 GROUP BY event_type
),
devs AS (
  SELECT va.event_type, abs(va.v - m.med_c) AS dev
  FROM vals va JOIN med m USING (event_type)
),
h2 AS (SELECT event_type, dev, count(*) AS cnt FROM devs GROUP BY event_type, dev),
c2 AS (
  SELECT event_type, dev,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM h2
),
mad AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(0.5 * n) THEN dev END) AS mad_c
  FROM c2 GROUP BY event_type
)
SELECT va.event_id, va.event_type, va.v AS cents, abs(va.v - m.med_c) AS dev_c
FROM vals va JOIN med m USING (event_type) JOIN mad d USING (event_type)
WHERE {MAD_Z_NUM} * abs(va.v - m.med_c) > {MAD_CUT_NUM} * d.mad_c
"""


# --- r9: streaming CDC index refresh -----------------------------------------


def _streaming_index_refresh(spark, sf_dir):
    """The change feed as a stream, folded micro-batch by micro-batch
    into the persisted index (tombstones + nearest-stored-centroid
    appends), then served — must hit the batch refresh's full oracle
    exactly (streaming/index_stream.py: batching invariance is
    structural because every row's fate is row-local)."""
    from gpu_accelerated_vector_indexing_spark.streaming.index_stream import (
        streaming_index_refresh,
    )

    return streaming_index_refresh(spark, sf_dir)


QUERIES["streaming_index_refresh"] = _streaming_index_refresh


def _streaming_index_refresh_oracle() -> str:
    # the SAME oracle as the batch refresh: both serve the new
    # snapshot's exact top-k through the one serve definition
    from gpu_accelerated_vector_indexing_spark.queries.ivf_q import ORACLES as IVF_ORACLES

    return IVF_ORACLES["index_refresh_cdc"]


ORACLES["streaming_index_refresh"] = _streaming_index_refresh_oracle()


# --- r10: streaming CDC refresh across snapshot VERSIONS ----------------------


def _streaming_index_refresh_gen2(spark, sf_dir):
    """Two change feeds (v1→v2, then v2→v3) drained into ONE persisted
    layout — the CDC bus across generations: cycle-keyed batch
    directories (idempotent overwrites), tombstones at dead-gen g-1,
    appends at gen g. Must hit the batch gen-2 oracle exactly."""
    from gpu_accelerated_vector_indexing_spark.streaming.index_stream import (
        streaming_index_refresh_gen2,
    )

    return streaming_index_refresh_gen2(spark, sf_dir)


QUERIES["streaming_index_refresh_gen2"] = _streaming_index_refresh_gen2


def _streaming_index_refresh_gen2_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries.ivf_q import ORACLES as IVF_ORACLES

    return IVF_ORACLES["index_refresh_cdc_gen2"]


ORACLES["streaming_index_refresh_gen2"] = _streaming_index_refresh_gen2_oracle()


# --- r10 cont.: streaming predicate deletes ----------------------------------


def _streaming_index_delete_where(spark, sf_dir):
    """The purge feed as a stream: each micro-batch folds its victims'
    tombstones idempotently (tombstone-ONLY folds — deletes never touch
    index files), then serve — must hit the batch DELETE WHERE's full
    oracle exactly."""
    from gpu_accelerated_vector_indexing_spark.streaming.index_stream import (
        streaming_index_delete_where,
    )

    return streaming_index_delete_where(spark, sf_dir)


QUERIES["streaming_index_delete_where"] = _streaming_index_delete_where


def _streaming_index_delete_where_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries import ivf_q

    return ivf_q.ORACLES["index_delete_where"]


ORACLES["streaming_index_delete_where"] = _streaming_index_delete_where_oracle()


def _streaming_index_read_asof(spark, sf_dir):
    """Time travel over the stream-folded multi-gen layout — shares the
    batch asof oracle: the fold's generation metadata is real."""
    from gpu_accelerated_vector_indexing_spark.streaming.index_stream import (
        streaming_index_read_asof,
    )

    return streaming_index_read_asof(spark, sf_dir)


QUERIES["streaming_index_read_asof"] = _streaming_index_read_asof


def _streaming_index_read_asof_oracle() -> str:
    from gpu_accelerated_vector_indexing_spark.queries import ivf_q

    return ivf_q.ORACLES["index_read_asof_gen"]


ORACLES["streaming_index_read_asof"] = _streaming_index_read_asof_oracle()
