"""Interchange-format sinks/sources: CSV, JSON-lines, ORC.

The reference's only interchange formats are raw float32 ``.bin`` and
JSON article files (SURVEY.md §2.2 "Scans" row — no Parquet/CSV/ORC);
the engine standardizes on Parquet and treats the text formats as
ingestion/export utilities. ``roundtrip_check`` puts each sink+source
pair under the driver's value-hash gate: write the events fact table
out, read it back with an explicit schema (never inferSchema — at
100 TB schema inference is an extra full scan), and aggregate — the
result must match the same aggregate computed directly on the parquet
source, or the format pair corrupted data.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.memo import state_dir
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

_SCHEMA = "event_id long, user_id long, event_type string, value double"
FORMATS = ("csv", "json", "orc")


def roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per format: ``(fmt, n_rows, sum_ids, sum_value)`` after a
    write→read round trip of events (ts/props excluded: CSV has no
    lossless nanosecond-timestamp contract and that's a format property,
    not an engine one).

    Aggregates are decimal-exact, so any row lost or value mangled by a
    format pair breaks the oracle hash.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frames = []
    tmp = state_dir("fmt")
    try:
        for fmt in FORMATS:
            path = f"{tmp}/{fmt}"
            writer = ev.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.save(path)
            reader = spark.read.format(fmt).schema(_SCHEMA)
            if fmt == "csv":
                reader = reader.option("header", "true")
            back = reader.load(path)
            frames.append(
                back.agg(
                    F.lit(fmt).alias("fmt"),
                    F.count("*").alias("n_rows"),
                    F.sum("event_id").alias("sum_ids"),
                    F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        # materialize before the temp dirs disappear; rebuild as a
        # JVM-literal frame (createDataFrame from a Python list spins a
        # Python worker — see index_build.kmeans_assign)
        rows = out.collect()
        structs = [
            F.struct(
                F.lit(r.fmt).alias("fmt"),
                F.lit(r.n_rows).cast("long").alias("n_rows"),
                F.lit(r.sum_ids).cast("long").alias("sum_ids"),
                F.lit(float(r.sum_value)).alias("sum_value"),
            )
            for r in rows
        ]
        return (
            spark.range(1)
            .select(F.explode(F.array(*structs)).alias("s"))
            .select("s.fmt", "s.n_rows", "s.sum_ids", "s.sum_value")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- training-shard JSONL sink -------------------------------------------------

SHARD_JSONL_N = 4
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def jsonl_shards_roundtrip(
    spark: SparkSession, sf_dir: str, n_shards: int = SHARD_JSONL_N
) -> DataFrame:
    """Export ``documents`` as the gzip-JSONL training shards an LLM
    data pipeline hands to the tokenizer/loader (one directory per
    shard, ``shard=<i>/part-*.json.gz``), re-read them with an explicit
    schema, and per-shard checksum the round trip.

    Sink design for 100 TB: ``partitionBy(shard)`` routes rows to shard
    directories in ONE distributed write (no driver involvement);
    ``maxRecordsPerFile`` bounds individual .gz members so downstream
    loaders stream them; gzip (not snappy) because training-shard
    consumers are plain-file readers, not Spark. The shard key is
    ``doc_id % n`` — deterministic, restated by the oracle, and at real
    scale it would be a content hash for hot-spot-free routing.

    The read-back aggregates couple id↔content per shard
    (``sum_keyed_len`` = Σ doc_id·len(text)), so a row landing in the
    wrong shard — not just a lost row — breaks the value hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = state_dir("jsonl")
    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", 100_000)
        .json(out)
    )
    back = spark.read.schema(_DOC_SCHEMA + ", shard int").json(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            F.sum(F.col("doc_id") * F.length("text")).cast("bigint").alias("sum_keyed_len"),
            F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
        )
        .select("shard", "n_docs", "sum_ids", "sum_text_len", "sum_keyed_len", "n_distinct_texts")
    )
