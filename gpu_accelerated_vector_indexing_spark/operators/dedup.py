"""Deduplication operators for large-scale training-data pipelines.

EXT surface (SURVEY.md §2.3): exact dedup, MinHash-LSH, SimHash,
n-gram Jaccard, and embedding-cosine near-dup over ``documents`` /
``embeddings``.

Scale design: every variant is blocked/bucketed so the candidate set is
a fraction of the n² pair space —
  - exact: hash group-by (one shuffle on the content hash)
  - MinHash: signature agg (one shuffle) + band-bucket equi-join
  - SimHash: byte-band equi-join + popcount verify
  - n-gram Jaccard: (lang, length-bucket) blocking
  - embedding: cluster blocking (reuses the IVF partitioning idea)
Nothing ever materializes the full cross product, so the same plans
hold when documents is 100 TB: the joins shuffle on bucket keys, and
skewed buckets are AQE-split.

Cross-engine portability: shingle hashing is plain integer arithmetic
over code points (no engine hash builtins), so DuckDB can replicate
signatures bit-for-bit — see ``queries/dedup_q.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.functions.vector import lit_long_array
from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

SHINGLE_LEN = 5
HASH_MOD = 1_000_003  # shingle-hash modulus (keeps a*h+b inside int64)
MINHASH_PRIME = 2_147_483_647
N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
# fixed affine hash family (aᵢ·h + bᵢ) mod P — constants shared with the oracle
MINHASH_AS = [7919, 104729, 224737, 350377, 479909, 611953, 746773, 882377,
              15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939]
MINHASH_BS = [104723, 1299709, 2750159, 4256233, 5800079, 7368787, 8960453, 10570841,
              12195257, 13834103, 15485857, 17144507, 18815231, 20495843, 22182343, 23879519]
SIMHASH_BITS = 64
# multiply-shift bit family: bit_j(h) = ((h · A_j) >> 30) & 1. The shingle
# hash has only ~20 bits (mod 1_000_003), so raw bit extraction would leave
# high fingerprint bits constant (universal band collisions — every pair a
# candidate). Each A_j is an odd <2^40 constant ⇒ h·A_j < 2^60 fits int64 in
# BOTH engines (DuckDB BIGINT raises on overflow; no wrap allowed).
import random as _random

_rng = _random.Random(42)
SIMHASH_AS = [(_rng.randrange(1, 2**40) | 1) for _ in range(SIMHASH_BITS)]
SIMHASH_SHIFT = 30
SIMHASH_BAND_BITS = 16  # 4 bands × 16 bits; hamming ≤ 3 ⇒ ≥1 clean band


def char_shingles(text: Column, n: int = SHINGLE_LEN) -> Column:
    """All n-char shingles of a string as ``ARRAY<STRING>``.

    Definitional form (with :func:`shingle_hash`) — the hot path
    (`_doc_shingle_hashes`) hashes straight from character positions
    without materializing these strings; tests pin the two routes equal.
    """
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(n)),
    )


def shingle_hash(sh: Column, n: int = SHINGLE_LEN) -> Column:
    """Portable polynomial hash: Σ code(sᵢ)·31^(n-i), then mod HASH_MOD.

    Uses only ascii/substring/integer math so any SQL engine reproduces
    it exactly (no engine-specific hash functions).
    """
    total = F.lit(0).cast("long")
    for i in range(1, n + 1):
        total = total + F.ascii(F.substring(sh, i, 1)).cast("long") * F.lit(31 ** (n - i)).cast("long")
    return total % F.lit(HASH_MOD)


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin repartition ahead of expensive per-row compute.

    Small fixture tables arrive as ONE input split, which would serialize
    the shingle-hash projection onto a single core. At production scale
    the scan already has many splits and this shuffle moves only the raw
    text (cheap relative to the hashing it unlocks).
    """
    sc = docs.sparkSession.sparkContext
    return docs.repartition(sc.defaultParallelism)


def _doc_shingle_hashes(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, h) — one row per shingle occurrence, hashed.

    Hashes straight from character positions (same polynomial as
    ``shingle_hash``) WITHOUT materializing shingle strings: exploding
    1M+ five-char strings just to re-substring them is ~30% slower than
    folding ``ascii(substr(text, pos+j, 1))`` directly. Values are
    bit-identical to the string route (tests pin this). ``keep``
    carries payload columns through (the DSIR bucket-stats pass needs
    ``lang`` alongside each gram occurrence).

    Documents shorter than one shingle are excluded (their hash would
    depend on engine-specific ascii('') behavior).
    """
    text = F.col("text")

    def poly(i: Column) -> Column:
        total = F.lit(0).cast("long")
        for j in range(1, SHINGLE_LEN + 1):
            total = total + F.ascii(text.substr(i + (j - 1), F.lit(1))).cast("long") * F.lit(
                31 ** (SHINGLE_LEN - j)
            ).cast("long")
        return total % F.lit(HASH_MOD)

    return (
        _spread(docs.filter(F.length("text") >= SHINGLE_LEN))
        .select(
            "doc_id",
            *keep,
            F.explode(
                F.transform(F.sequence(F.lit(1), F.length(text) - (SHINGLE_LEN - 1)), poly)
            ).alias("h"),
        )
    )


# --- exact dedup -------------------------------------------------------------


def exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-duplicate stats via content-hash group-by."""
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.count("*").alias("n_copies")
    )
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("n_copies") > 1).cast("long")).alias("n_dup_groups"),
    )


def exact_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list: lowest doc_id per distinct content (the dedup survivor
    set a pipeline would write back out)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
    )


# --- MinHash + LSH -----------------------------------------------------------


def minhash_from_grams(grams: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """16-component MinHash signature from a precomputed shingle-hash
    array column ``gh``: the array folds into a 16-long min-accumulator
    via zip_with/least — no explode, no shuffle; the signature
    components fan out of the accumulator at the end (whole-stage
    codegen CSEs the shared fold). ``keep`` carries payload columns
    through (the streaming path needs gh alongside the signature —
    a streaming DF cannot re-join itself to fetch it back)."""
    # one py4j round-trip per constant array (r11), not one per element
    a_consts = lit_long_array(MINHASH_AS)
    b_consts = lit_long_array(MINHASH_BS)
    init = lit_long_array([MINHASH_PRIME] * N_MINHASH)

    def step(acc: Column, h: Column) -> Column:
        vals = F.zip_with(a_consts, b_consts, lambda a, b: (a * h + b) % F.lit(MINHASH_PRIME))
        return F.zip_with(acc, vals, lambda m, v: F.least(m, v))

    acc = F.aggregate(F.col("gh"), init, step)
    return grams.select(
        "doc_id", *keep, *[acc[i].alias(f"m{i}") for i in range(N_MINHASH)]
    )


def band_keys(sigs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """``(doc_id, *keep, band, key)`` — the N_BANDS × ROWS_PER_BAND
    banding of an m0..m15 signature relation. THE single banding
    definition: every LSH path (pair self-join, verified-LSH,
    incremental batch-vs-archive, and the streaming twin) reads it, so
    a band-parameter or key-format change cannot silently diverge
    between paths."""
    return sigs.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "-",
                        *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                    ).alias("key"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", *keep, "bk.band", "bk.key")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """16-component MinHash signature per document.

    Computed per-document in ONE projection (same device as
    ``simhash_docs``): shingle hashes straight from character positions,
    then the :func:`minhash_from_grams` fold. ~3× faster than the
    16-way min-agg over exploded shingles it replaces, bit-identical.
    """
    text = F.col("text")

    def poly(i: Column) -> Column:
        total = F.lit(0).cast("long")
        for j in range(1, SHINGLE_LEN + 1):
            total = total + F.ascii(text.substr(i + (j - 1), F.lit(1))).cast("long") * F.lit(
                31 ** (SHINGLE_LEN - j)
            ).cast("long")
        return total % F.lit(HASH_MOD)

    gh = F.transform(F.sequence(F.lit(1), F.length(text) - (SHINGLE_LEN - 1)), poly)
    return minhash_from_grams(
        _spread(docs.filter(F.length("text") >= SHINGLE_LEN)).select(
            "doc_id", gh.alias("gh")
        )
    )


# Shingle arrays and MinHash signatures are DEDUP INDEX STATE: a
# production pipeline materializes them once per corpus snapshot (one
# tokenize/hash pass) and every dedup job reads the materialized form.
# Memoized per (session, corpus dir) and cache()d — also fixes the
# per-call cache() leak the previous shape had (each invocation
# re-cached a fresh identical relation).
@session_state
def grams_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, lang, len_chars, gh, n)`` — distinct raw shingle
    hashes per document, computed once per (session, corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    df = (
        _spread(docs)
        .select(
            "doc_id",
            "lang",
            F.length("text").alias("len_chars"),
            raw_shingle_hashes(F.col("text")).alias("gh"),
        )
        .withColumn("n", F.size("gh"))
        .cache()
    )
    df.count()
    return df


@session_state
def sigs_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures derived from the SAME cached shingle arrays
    (minhash modulus re-applied — min over the distinct mod-set equals
    min over the raw multiset, so values are bit-identical to
    ``minhash_signatures``; parity pinned by the oracle gate)."""
    grams = grams_state(spark, sf_dir).filter(F.col("len_chars") >= SHINGLE_LEN)
    df = minhash_from_grams(
        grams.select(
            "doc_id", F.transform("gh", lambda h: h % F.lit(HASH_MOD)).alias("gh")
        )
    ).cache()
    df.count()
    return df


def signature_agreement(fmt_a: str, fmt_b: str) -> Column:
    """Number of agreeing MinHash components between two signature
    column families — THE single agreement definition (≙ the shared
    ``_AGREE`` SQL fragment in queries/dedup_q.py), so a signature-width
    or semantics change cannot diverge between the pair scorer and the
    corpus-overlap estimator. Formats receive the component index
    (e.g. ``"a{i}"``, ``"a.m{i}"``)."""
    return sum(
        (F.col(fmt_a.format(i=i)) == F.col(fmt_b.format(i=i))).cast("int")
        for i in range(N_MINHASH)
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Near-dup candidate pairs via banded LSH, scored by signature agreement.

    shingle→minhash→band→bucket-join: docs sharing ANY of the 4 bands
    become candidates; estimated Jaccard = fraction of agreeing
    signature components; pairs ≥ threshold survive.
    """
    sigs = sigs_state(spark, sf_dir)
    bands = band_keys(sigs)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_MINHASH)])
    b = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_MINHASH)])
    agree = signature_agreement("a{i}", "b{i}")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (agree / F.lit(float(N_MINHASH))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# --- SimHash -----------------------------------------------------------------


def simhash_docs(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash per document.

    Bit j of the fingerprint is the sign of Σ±1 over the multiply-shift
    bit ``((h·A_j) >> 30) & 1`` of each shingle hash (the two-phase
    accumulate/finalize shape of the reference's Atomic kernel,
    cosine_similarity.cu:247-276). Bit 63 is encoded via two's
    complement (−2^63) so the fingerprint stays a plain BIGINT in every
    engine.

    Computed per-document in ONE projection: the shingle-hash array
    folds into a 64-long accumulator (zip_with add per shingle), then a
    second fold packs the signs. No explode, no shuffle — a 64-wide
    multi-agg over exploded shingles was 4-5× slower and its 64-column
    expression tree dominated analysis time.
    """
    text = F.col("text")

    def poly(i: Column) -> Column:
        total = F.lit(0).cast("long")
        for j in range(1, SHINGLE_LEN + 1):
            total = total + F.ascii(text.substr(i + (j - 1), F.lit(1))).cast("long") * F.lit(
                31 ** (SHINGLE_LEN - j)
            ).cast("long")
        return total % F.lit(HASH_MOD)

    a_consts = lit_long_array(SIMHASH_AS[:bits])
    weights = F.array(
        *[F.lit(2**j if j < 63 else -(2**63)).cast("long") for j in range(bits)]
    )
    zero = lit_long_array([0] * bits)
    gh = F.transform(F.sequence(F.lit(1), F.length(text) - (SHINGLE_LEN - 1)), poly)

    def step(acc: Column, h: Column) -> Column:
        bit_signs = F.transform(
            a_consts,
            lambda a: F.shiftright(h * a, SIMHASH_SHIFT).bitwiseAND(F.lit(1)) * 2 - 1,
        )
        return F.zip_with(acc, bit_signs, lambda s, b: s + b)

    acc = F.aggregate(F.col("gh"), zero, step)
    fp = F.aggregate(
        F.zip_with(acc, weights, lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        _spread(docs.filter(F.length("text") >= SHINGLE_LEN))
        .select("doc_id", gh.alias("gh"))
        .select("doc_id", fp.alias("simhash"))
    )


def simhash_pairs(spark: SparkSession, sf_dir: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs: 16-bit-band LSH over SimHash + popcount verify.

    Candidates share at least one of the 4 16-bit slices of the
    fingerprint at the same position (any pair within hamming ≤ 3 must
    agree on ≥1 whole band — pigeonhole), then exact Hamming distance
    filters. Arithmetic-shift sign extension on the top band is masked
    off by the &0xFFFF, identically in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_docs(docs).cache()
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bpos"),
                    F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * i)
                    .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                    .alias("bval"),
                )
                for i in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", "b.bpos", "b.bval")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["bpos", "bval"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --- n-gram Jaccard ----------------------------------------------------------


def raw_shingle_hashes(text: Column, n: int = SHINGLE_LEN) -> Column:
    """Distinct shingle hashes straight from character positions.

    Same polynomial as ``shingle_hash`` but WITHOUT materializing the
    shingle strings (and without the minhash modulus): int64 set ops
    downstream are ~10× cheaper than string-array ops.
    """
    def poly(i: Column) -> Column:
        total = F.lit(0).cast("long")
        for j in range(1, n + 1):
            total = total + F.ascii(text.substr(i + (j - 1), F.lit(1))).cast("long") * F.lit(
                31 ** (n - j)
            ).cast("long")
        return total

    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))), poly)
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6, length_bucket: int = 64
) -> DataFrame:
    """Exact Jaccard over distinct 5-gram sets, (lang, length-bucket) blocked.

    Performance shape: shingles are hashed to int64 ONCE per document
    (not per pair), |union| is derived as |A|+|B|−|I| (halves the set
    work), and a size-ratio prefilter (J ≥ τ ⇒ |A|/|B| ∈ [τ, 1/τ])
    drops most candidate pairs before any intersection is computed.
    """
    docs = grams_state(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("len_chars") / length_bucket).cast("long").alias("lbucket"),
        "gh",
        "n",
    )
    x, y = docs.alias("x"), docs.alias("y")
    inter = F.size(F.array_intersect(F.col("x.gh"), F.col("y.gh")))
    union = F.col("na") + F.col("nb") - F.col("inter")
    pairs = (
        x.join(y, ["lang", "lbucket"])
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.n") >= threshold * F.col("y.n"))
            & (F.col("y.n") >= threshold * F.col("x.n"))
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            inter.alias("inter"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
        .select("doc_a", "doc_b", (F.col("inter") / union).alias("jaccard"))
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def jaccard_verified_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6
) -> DataFrame:
    """The 100 TB Jaccard path: LSH candidates, EXACT verification.

    ``ngram_jaccard_pairs`` compares all pairs within (lang, length)
    blocks — O(block²), fine as a verifier, wrong as the generator at
    scale. Here candidate pairs come from MinHash band buckets (linear
    shuffle in corpus size), and only those pairs get the exact
    distinct-shingle intersection — the composition SCALE.md documents.

    Output = candidates' exact Jaccard ≥ threshold. Subset semantics vs
    the exhaustive variant: a true pair missed by every band is absent
    (the standard LSH recall trade; band parameters set the curve).

    Compute-once shape: the shingle-hash projection is the dominant
    cost and this plan needs it FOUR times (both sides of the band
    self-join, both sides of the verify join) — both it and the
    signature fold read the memoized dedup index state
    (``grams_state`` / ``sigs_state``; a materialized table at cluster
    scale), so the text is hashed once per corpus, not per query.
    """
    grams = grams_state(spark, sf_dir).filter(
        F.col("len_chars") >= SHINGLE_LEN
    ).select("doc_id", "gh", "n")
    sigs = sigs_state(spark, sf_dir)
    bands = band_keys(sigs)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("gh").alias("gha"), F.col("n").alias("na"))
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("gh").alias("ghb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect(F.col("gha"), F.col("ghb")))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter"), "na", "nb")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# --- embedding cosine near-dup ----------------------------------------------


def _neardup_pair_scores(pdf):
    """One cluster's within-block pair scores as a fold-exact NumPy
    kernel (see ``functions.vector.np_dot_seq`` for the load-bearing
    float-association invariant shared with the JVM fold and DuckDB's
    ``list_dot_product``). Emits RAW cosines; rounding and the global
    top-k stay in-plan so decimal semantics are Spark's."""
    import numpy as np
    import pandas as pd

    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        EPSILON,
        np_dot_seq,
    )

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cos_raw": "float64"}
        )
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.sqrt(np_dot_seq(mat, mat))
    iu, ju = np.triu_indices(n, 1)
    dots = np_dot_seq(mat[iu], mat[ju])
    vid = pdf["vec_id"].to_numpy()
    return pd.DataFrame(
        {
            "vec_a": vid[iu],
            "vec_b": vid[ju],
            "cos_raw": dots / (norms[iu] * norms[ju] + EPSILON),
        }
    )


def embedding_neardup_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k most-similar embedding pairs within each IVF cluster.

    Cluster blocking ≙ the IVF insight (SURVEY.md §4 P1): near-dups land
    in the same coarse cell, so pair generation is per-cluster, not n².

    The pair scoring runs as a per-cluster Arrow kernel
    (``applyInPandas`` over the label block): only the |block| vectors
    cross the Python boundary — never the |block|² pair stream — and
    the O(pairs·dim) arithmetic is vectorized NumPy instead of the
    interpreted per-element JVM fold the r1 self-join paid per pair
    (guide-§4 shape; measured 5.5 s → sub-second at sf0.1). Norms are
    computed once per VECTOR, not once per pair. ``np_dot_seq`` pins
    the exact sequential float association of the JVM fold / DuckDB
    ``list_dot_product``, and rounding + the global bounded-heap top-k
    (TakeOrderedAndProject) stay in-plan, so the result is
    bit-identical to the r1 join form and the DuckDB oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    pairs = emb.groupBy("label").applyInPandas(
        _neardup_pair_scores, "vec_a long, vec_b long, cos_raw double"
    )
    return (
        pairs.select(
            "vec_a", "vec_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.desc("vec_a"), F.desc("vec_b"))
        .limit(k)
    )


# Banded hyperplane signatures are INDEX STATE (computed at write time
# in production) — memoized per (session, corpus) like lsh_ann._signed.

EMB_LSH_BANDS = 4
EMB_LSH_ROWS = 8  # planes per band


@session_state
def _banded_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, bucket): one row per (vector, band) — band b's
    bucket is the ``lsh_ann.signature`` over planes [b·r, (b+1)·r)."""
    from gpu_accelerated_vector_indexing_spark.functions.vector import as_double_array
    from gpu_accelerated_vector_indexing_spark.operators.lsh_ann import (
        hyperplanes,
        signature,
    )

    planes = hyperplanes(EMB_LSH_BANDS * EMB_LSH_ROWS)
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    df = (
        emb.select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        signature(
                            v, planes[b * EMB_LSH_ROWS : (b + 1) * EMB_LSH_ROWS]
                        ).alias("bucket"),
                    )
                    for b in range(EMB_LSH_BANDS)
                ])
            ).alias("s"),
        )
        .select("vec_id", "s.band", "s.bucket")
        .cache()
    )
    df.count()
    return df


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane LSH — the
    SCALE twin of :func:`embedding_neardup_topk`: candidates come from
    same-(band, bucket) collisions (4 bands × 8-bit signatures, OR-ed
    across bands), then ONE exact cosine verification per candidate
    pair and the top-k pairs return.

    This is the embedding-side MinHash-LSH shape: cluster blocking
    (the _topk form) needs a trained coarse quantizer and pays
    per-cell all-pairs; banding needs only the memoized signature
    state, collision volume concentrates on genuinely-similar pairs
    (P[band collision] = (1 − θ/π)^r per band), and the verify stage
    is linear in candidates. Signatures use the engine-portable
    quantized-integer recipe, so the WHOLE pipeline — buckets,
    candidates, scores — replays in SQL under the value gate.
    """
    from gpu_accelerated_vector_indexing_spark.functions.vector import (
        EPSILON,
        as_double_array,
        dot_product,
        l2_norm,
    )

    sigs = _banded_signatures(spark, sf_dir)
    cand = (
        sigs.alias("x")
        .join(sigs.alias("y"), ["band", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    # norms hoisted out of the pair verify (SURVEY §4 P4): computed once
    # per VECTOR here instead of twice per candidate PAIR — the inline
    # cosine ran three interpreted folds per pair; same doubles, same
    # order (sqrt and * round once each in both forms)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_product(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb") + F.lit(EPSILON)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.desc("vec_a"), F.desc("vec_b"))
        .limit(k)
    )


# Finished component labels — the dedup DECISION — memoized like every
# other index-state table (see duplicate_components' docstring). The
# key carries EVERY parameter that changes the result (threshold AND
# max_iters), so an unconverged low-iteration call can never poison the
# default consumers.
@session_state
def duplicate_components(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6, max_iters: int = 25
) -> DataFrame:
    """Connected components over the exact near-duplicate pair graph:
    each document maps to the MINIMUM doc_id reachable through
    Jaccard ≥ threshold edges — the canonical-representative step a
    training pipeline runs after pair generation (keep one doc per
    component, drop the rest).

    The component structure is inherently iterative (transitive
    closure), so this is the engine's iterative-algorithm surface:
    driver-controlled min-label propagation to fixpoint, one
    hash-join + min-agg per round, converging in graph-diameter rounds
    (near-dup clusters are shallow — a handful of rounds in practice).
    Each round shuffles only the (node, label) pairs of NON-singleton
    docs (the edge list is tiny relative to the corpus at any scale);
    the fixpoint check is a scalar count, not a data collect.

    The finished labels are DEDUP-DECISION STATE, memoized per
    (session, corpus, threshold): a pipeline materializes the component
    map once and every consumer (keep-list, leakage-safe split, audits)
    reads it — three queries re-running the pair join + propagation
    loop (~150 s each at sf0.1) was exactly the recompute-what-an-index-
    persists anti-pattern the memoization rule exists for.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=threshold).select("doc_a", "doc_b")
    # undirected: propagate in both directions; the fixpoint kernel is
    # shared with semantic_graph_components (min_label_fixpoint — one
    # loop to maintain, loud on non-convergence instead of silently
    # returning split components after max_iters)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    # materialize BEFORE the kernel: its checkpoint id-diff must not
    # capture (and later free) this cache's first-job registration
    edges.count()
    und = edges.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr"))
    try:
        labels = min_label_fixpoint(und, max_rounds=max_iters)
    finally:
        # release even on the kernel's loud non-convergence raise
        edges.unpersist()
    # min_label_fixpoint already localCheckpointed — safe to memoize
    return labels.select(F.col("node").alias("doc_id"), "component")


def dedup_keep_canonical(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6
) -> DataFrame:
    """The dedup DECISION: per near-dup component, keep the minimum
    doc_id and count what gets dropped; singleton documents (no edges)
    survive untouched. Output: one row per component with its size and
    the surviving representative — the shape a pipeline joins back
    against the corpus as a keep-list.
    """
    comp = duplicate_components(spark, sf_dir, threshold=threshold)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .select(
            "component",
            "n_docs",
            "keep_doc",
            (F.col("n_docs") - F.lit(1)).cast("long").alias("n_dropped"),
        )
    )


def dedup_pack_manifest(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int | None = None,
    threshold: float = 0.6,
    n_ranges: int | None = None,
) -> DataFrame:
    """Dedup → packing: pack ONLY the surviving documents — the
    standard preprocessing order (near-dup removal BEFORE sequence
    packing, so duplicated text cannot occupy training tokens). The
    keep-list is ``dedup_keep_canonical``'s decision (each component's
    min doc_id survives; singletons untouched); the manifest is
    ``text_analysis.chunk_manifest`` over the kept stream in doc_id
    order (r8 composition — the dedup twin of the curriculum × packing
    pairing).

    Scale shape: the component state is the memoized fixpoint result
    (bounded by documents WITH near-dup edges, typically ≪ corpus);
    the drop-list anti-join keys on doc_id (data-growing); the prefix
    sum is the shared two-pass ``range_prefix_sum``. Dropping a doc
    shifts every later offset — exactly the recompute a real pipeline
    pays, and why the manifest is derived state, not stored truth.
    """
    from gpu_accelerated_vector_indexing_spark.operators.text_analysis import (
        PACK_SEQ_LEN,
        _pack_counts_state,
        chunk_manifest,
        range_prefix_sum,
    )

    if seq_len is None:
        seq_len = PACK_SEQ_LEN
    comp = duplicate_components(spark, sf_dir, threshold=threshold)
    keepers = (
        comp.groupBy("component").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    dropped = comp.select("doc_id").join(keepers, "doc_id", "left_anti")
    kept = _pack_counts_state(spark, sf_dir).join(dropped, "doc_id", "left_anti")
    return chunk_manifest(range_prefix_sum(spark, kept, "n_toks", n_ranges), seq_len)


# incremental dedup parameters: deterministic ~10% "today's crawl" slice
INCR_BATCH_MOD = 10
INCR_BATCH_REM = 7
INCR_THRESHOLD = 0.6


def incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    batch_mod: int = INCR_BATCH_MOD,
    batch_rem: int = INCR_BATCH_REM,
    threshold: float = INCR_THRESHOLD,
) -> DataFrame:
    """New-batch-vs-archive dedup — the shape a CONTINUOUSLY INGESTING
    100 TB corpus actually runs: today's crawl (here the deterministic
    ``doc_id % batch_mod == batch_rem`` slice) is checked against the
    already-indexed archive (the rest), never archive-vs-archive.

    Mechanics: MinHash band buckets joined batch×archive (no self-join
    — candidate volume scales with the BATCH, not the corpus), exact
    distinct-shingle Jaccard verification on candidates only, then one
    row per new document: its best archive match by
    ``(jaccard DESC, doc_id DESC)`` and the ``is_duplicate`` verdict.
    New docs with no colliding band appear with ``best_jaccard = 0``
    and a NULL match — the batch spine is a left join.

    Both sides read the memoized dedup index state
    (``grams_state`` / ``sigs_state``): in production the archive side
    IS the materialized signature table and only the new batch is
    signed fresh; the values are identical either way.
    """
    sigs = sigs_state(spark, sf_dir)
    bands = band_keys(sigs)
    is_batch = F.col("doc_id") % batch_mod == batch_rem
    cand = (
        bands.filter(is_batch)
        .select(F.col("doc_id").alias("new_doc_id"), "band", "key")
        .join(
            bands.filter(~is_batch).select(
                F.col("doc_id").alias("corpus_doc_id"), "band", "key"
            ),
            ["band", "key"],
        )
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    grams = grams_state(spark, sf_dir).filter(F.col("len_chars") >= SHINGLE_LEN)
    a = grams.select(F.col("doc_id").alias("new_doc_id"), F.col("gh").alias("gha"), F.col("n").alias("na"))
    b = grams.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("gh").alias("ghb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("gha"), F.col("ghb")))
    verified = (
        cand.join(a, "new_doc_id")
        .join(b, "corpus_doc_id")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6).alias("jaccard"),
        )
    )
    best = (
        verified.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("new_doc_id").orderBy(
                    F.desc("jaccard"), F.desc("corpus_doc_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    spine = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % batch_mod == batch_rem)
        .select(F.col("doc_id").alias("new_doc_id"))
    )
    return spine.join(best, "new_doc_id", "left").select(
        "new_doc_id",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("best_jaccard"),
        F.col("corpus_doc_id").alias("best_match_doc_id"),
        (F.coalesce(F.col("jaccard"), F.lit(0.0)) >= threshold).alias("is_duplicate"),
    )


# one materialized state dir per (session, corpus): the roundtrip query
# is gate-checked and benched at N-run means — without the memo every
# invocation left another full state copy on disk
@session_state
def dedup_state_dir(spark: SparkSession, sf_dir: str) -> str:
    out = state_dir("dedupstate")
    write_dedup_state(spark, sf_dir, out)
    return out


def write_dedup_state(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the dedup index state to parquet — the production
    form of ``grams_state`` / ``sigs_state``: a 100 TB pipeline hashes
    the corpus ONCE per snapshot and every dedup job (batch, and the
    incremental batch-vs-archive path) reads the materialized tables
    instead of re-shingling text."""
    grams_state(spark, sf_dir).write.mode("overwrite").parquet(f"{out_dir}/grams")
    sigs_state(spark, sf_dir).write.mode("overwrite").parquet(f"{out_dir}/sigs")


def dedup_state_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the dedup index state, read it back, and value-summarize
    it — pinning that what lands on disk is EXACTLY the in-session
    state (the oracle recomputes the same sums straight from the text):
    signature component sums over three spread-out components, doc
    counts, and the total distinct-shingle count."""
    out = dedup_state_dir(spark, sf_dir)
    sigs = spark.read.parquet(f"{out}/sigs")
    grams = spark.read.parquet(f"{out}/grams").filter(
        F.col("len_chars") >= SHINGLE_LEN
    )
    s = sigs.agg(
        F.count("*").alias("n_sig_docs"),
        F.sum("m0").alias("sum_m0"),
        F.sum("m7").alias("sum_m7"),
        F.sum("m15").alias("sum_m15"),
    )
    g = grams.agg(
        F.count("*").alias("n_gram_docs"), F.sum("n").alias("total_grams")
    )
    return s.crossJoin(F.broadcast(g))


# --- exact substring-span dedup (Lee et al. 2021 style) ----------------------

def _span_dup_profile(per_doc: DataFrame, key: str) -> DataFrame:
    """Per-document duplicated-window profile shared by
    ``substring_spans`` and ``substring_spans_hashed``: attach each
    window's document frequency, then ONE per-doc aggregate computes
    both the window total and the duplicated-window count. Replaces
    the r3 three-aggregate/two-join tail (window df, per-doc totals,
    per-doc dup counts, totals⋈dup_counts) — the inner-join semantics
    (only docs with ≥1 duplicated window appear) survive as the
    ``n_dup_windows >= 1`` filter, and every value is computed
    identically."""
    wc = per_doc.groupBy(key).agg(F.count("*").alias("n_docs"))
    return (
        per_doc.join(wc, key)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count(F.when(F.col("n_docs") >= 2, F.lit(1))).alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") >= 1)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            # floor-scaling, not round(): exact on identical doubles in
            # any engine (memory recipe — round() splits at half-way
            # digits because Spark rounds via BigDecimal while DuckDB
            # rounds the double)
            (
                F.floor(
                    F.col("n_dup_windows").cast("double")
                    / F.col("n_windows").cast("double")
                    * F.lit(1000000.0)
                )
                / F.lit(1000000.0)
            ).alias("dup_ratio"),
        )
    )


SPAN_K = 8  # tokens per window; ≈ the 50-token spans of the paper, scaled
# to the ~50-token fixture documents so spans are discriminative yet common
SPAN_TOKEN_RE = "[A-Za-z0-9]+"


def substring_spans(spark: SparkSession, sf_dir: str, k: int = SPAN_K) -> DataFrame:
    """Exact duplicated-substring detection: every ``k``-token window
    (stride 1) shared verbatim by ≥2 documents, reported per document as
    the fraction of its windows that also occur elsewhere.

    The training-data counterpart of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2021): suffix-array exact
    substring dedup, re-expressed as a rolling-window equi-join — the
    only formulation that distributes. Relation to the reference: the
    same shared-content question its MinHash family answers
    probabilistically, answered exactly for fixed-length spans.

    Plan shape: one scan builds each doc's window array JVM-side
    (``transform`` over ``sequence`` — no Python), one explode fans out
    ~n_tokens rows per doc, and everything after is a window-df
    aggregate, one equi-join on the window key, and ONE per-doc
    aggregate (see ``_span_dup_profile``). Nothing is quadratic: the join
    key is the window itself, so only *actually duplicated* spans meet.
    At 100 TB the window string would be replaced by ``xxhash64(win)``
    (8 bytes instead of ~50) and the stride raised — same plan, smaller
    shuffle; that scale form ships as ``substring_spans_hashed`` (r4),
    while the string key is kept here for oracle bit-parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(SPAN_TOKEN_RE), F.lit(0))
    n = F.size(F.col("toks"))
    windows = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, k)),
    )
    per_doc = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(n >= k)
        .select("doc_id", F.explode(windows).alias("win"))
        .distinct()  # a span repeated WITHIN one doc counts once
    )
    return _span_dup_profile(per_doc, "win")


SPAN_STRIDE = 2  # scale form: sample every 2nd window start


def substring_spans_hashed(
    spark: SparkSession, sf_dir: str, k: int = SPAN_K, stride: int = SPAN_STRIDE
) -> DataFrame:
    """Scale-path twin of ``substring_spans`` (the form a 100 TB run
    would use, VERDICT r3 Missing #3): the shuffle key is
    ``xxhash64(window)`` — 8 bytes instead of the ~50-byte span string
    — and window starts are sampled at ``stride``, cutting both the
    explode fan-out and the shuffle volume by the stride factor.

    Same template as ``curation.decontaminate_hashed``: hashing only
    changes the SHUFFLE KEY, so every per-doc count is identical to the
    string-keyed computation absent xxhash64 collisions (odds
    ≈ |windows|²/2⁶⁴ — negligible, and deterministic at a fixed sf;
    stride=1 equality with ``substring_spans`` is pinned in tests).
    The oracle is therefore the string-keyed SQL with the same stride —
    DuckDB never needs Spark's hash function.

    Stride semantics (documented trade-off, Lee et al. 2021 §4 use
    stride 1 over suffix arrays): two documents sharing a span detect
    it only when their window grids align on it, so stride>1 trades a
    bounded miss rate on SHORT duplicated spans for a stride-factor
    cost cut; spans ≥ k+stride-1 tokens always produce at least one
    aligned window in every document containing them.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(SPAN_TOKEN_RE), F.lit(0))
    n = F.size(F.col("toks"))
    windows = F.transform(
        F.sequence(F.lit(1), n - k + 1, F.lit(stride)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
    )
    per_doc = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(n >= k)
        .select("doc_id", F.explode(windows).alias("win_key"))
        .distinct()  # a span repeated WITHIN one doc counts once
    )
    return _span_dup_profile(per_doc, "win_key")


# --- corpus-level MinHash overlap (source × source) ---------------------------
@session_state
def _source_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, h): per-source distinct shingle hashes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    df = (
        grams_state(spark, sf_dir)
        .filter(F.col("len_chars") >= SHINGLE_LEN)
        .join(docs, "doc_id")
        .select(
            "source",
            F.explode(F.transform("gh", lambda h: h % F.lit(HASH_MOD))).alias("h"),
        )
        .distinct()
        .cache()
    )
    df.count()
    return df


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap between source corpora: the MinHash ESTIMATE
    next to the exact shingle-set Jaccard it approximates.

    The estimate is the 100 TB path: a corpus-level MinHash signature
    is the component-wise MIN of the per-document signatures — one tiny
    aggregate over the memoized dedup index state (:func:`sigs_state`),
    so comparing two billion-document sources costs one pass over
    already-materialized 16-int rows plus a |sources|² join of
    |sources| signature rows. This is how a pipeline decides whether
    two crawls are worth cross-deduplicating BEFORE paying for it.
    The exact Jaccard (distinct-shingle intersection over union, same
    mod-hash domain the signatures minimize over) is the audit twin: a
    (source, h)-distinct shuffle bounded by |sources|·HASH_MOD rows —
    affordable as a periodic audit, not per-decision.

    Estimator quality is data-dependent (k = 16 → σ ≈ 0.125 at J = 0.5)
    so the contract columns are the deterministic values themselves,
    not a pass flag; every hash replays bit-for-bit in the oracle.

    Contract edges: a source whose every document is shorter than
    SHINGLE_LEN has no shingle set and is absent from the output (both
    engines filter identically); pair orientation is ``src_a < src_b``
    under ASCII source names — the repo's other oriented pairs compare
    integers, and string `<` collates differently across engines only
    for non-BMP code points, which source identifiers here never carry.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        sigs_state(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(*[F.min(f"m{i}").alias(f"m{i}") for i in range(N_MINHASH)])
    )
    # exact distinct-shingle sets per source over the signatures' domain
    # — (session, corpus) index state like grams_state/sigs_state it
    # derives from: memoized+cached so the explode+distinct shuffle runs
    # once per corpus, not once per call, and the cache covers all three
    # consumers per call (sizes + both self-join sides — the job the
    # per-call localCheckpoint used to do)
    sh = _source_shingles(spark, sf_dir)
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.h") == F.col("y.h")) & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    n_match = signature_agreement("a.m{i}", "b.m{i}").cast("long")
    pairs = (
        per_src.alias("a")
        .join(per_src.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            n_match.alias("n_match"),
        )
    )
    return (
        pairs.join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n_sh", "n_sh_a")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n_sh", "n_sh_b")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_match",
            (F.col("n_match").cast("double") / F.lit(float(N_MINHASH))).alias("est_jaccard"),
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
            (
                F.floor(
                    F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                    / (F.col("n_sh_a") + F.col("n_sh_b") - F.coalesce(F.col("n_inter"), F.lit(0))).cast("double")
                    * F.lit(1000000.0)
                )
                / F.lit(1000000.0)
            ).alias("jac_exact"),
        )
    )


def train_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents can
    NEVER straddle a split boundary.

    The classic eval-contamination failure is a test document whose
    near-duplicate sits in train. Fix: assign splits by hashing the
    near-dup COMPONENT representative (min reachable doc_id through
    Jaccard ≥ 0.6 edges, ``duplicate_components``) instead of the
    document id — every member of a component shares the group key, so
    the whole cluster lands in one split; singletons (the overwhelming
    majority at any scale) hash their own id. Same bucket thresholds
    and portable hash as ``approx.sample_train_split``, so the two
    splits are directly comparable. The component relation is the tiny
    non-singleton set — the left join adds one broadcast-sized probe to
    the corpus-linear split scan.
    """
    from gpu_accelerated_vector_indexing_spark.operators.approx import (
        TRAIN_FRAC,
        VAL_FRAC,
        portable_hash_unit,
    )

    comp = duplicate_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    group_key = F.coalesce(F.col("component"), F.col("doc_id"))
    u = portable_hash_unit(group_key)
    split = (
        F.when(u < TRAIN_FRAC, "train")
        .when(u < TRAIN_FRAC + VAL_FRAC, "val")
        .otherwise("test")
    )
    return docs.join(comp, "doc_id", "left").select(
        "doc_id", "lang", group_key.alias("group_key"), split.alias("split")
    )


# serializes the (registry-snapshot, checkpoint, registry-snapshot)
# critical section below so concurrent kernel invocations (e.g. two
# component queries on different threads of one session) can never
# attribute each other's snapshot blocks and free them
import threading as _threading

_FIXPOINT_LOCK = _threading.Lock()


def min_label_fixpoint(und: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Min-label propagation over a symmetric (undirected, both
    directions materialized) edge relation ``(node, nbr)`` to FIXPOINT:
    every node ends labeled with the minimum node id of its connected
    component. This is the engine's ONE iterative-fixpoint kernel —
    ``duplicate_components`` and ``semantic_graph_components`` both run
    through it (two hand-maintained copies of the loop had already
    drifted on exhaustion behavior and cache hygiene — r6 review).

    Each round is a one-hop neighbor min (hash-join + min-agg)
    followed by a SHORTCUT join (pointer doubling): the candidate
    label ``c`` is replaced by the previous snapshot's label of node
    ``c``. Labels are node ids of the same component and never rise, so
    the jump is value-safe and the fixpoint is the plain kernel's
    (min id per component). Rounds: where ids ascend along a chain the
    label-chase distance doubles every round, so a diameter-d chain
    converges in O(log d) rounds (≈ log2(d) + 2 — a simulated 2048-node
    path takes 13); with ids in arbitrary order the gain is only a
    constant factor, and since the jump only ever lowers a label the
    one-hop bound — d changing rounds plus the zero-change confirmation
    — stays the guarantee. Size ``max_rounds`` by that guarantee, not
    by the doubling: the loop runs up to ``max_rounds + 1`` times and
    converges for every diameter ≤ ``max_rounds``; deeper components
    converge only if the shortcut happens to reach them. Raises if the
    graph has not converged within the budget — a loud guard against
    silent under-merging, instead of returning split components. Each
    round is ONE job: the changed flag travels in the snapshot,
    so the count that materializes the lazy checkpoint is also the
    convergence check — no separate old-vs-new join pass.

    Cache hygiene: each round's labels are localCheckpointed
    (lineage truncation — a cache-only loop grows the logical plan
    exponentially in the round count and OOMs the driver building
    explain strings past ~20 rounds) and the SUPERSEDED round's
    checkpoint blocks are freed via the persistent-RDD registry — peak
    storage is two label snapshots regardless of round count. The id
    diff around each eager checkpoint is serialized by a module-level
    lock (``_FIXPOINT_LOCK``) so two kernel invocations on concurrent
    threads can never free each other's blocks; an RDD some OTHER
    concurrent query registers during a checkpoint job is excluded by
    filtering the diff to localCheckpoint-produced RDDs (their
    callSite marks them) — the residual assumption is only that no
    other code localCheckpoints concurrently in the same session (the
    engine's sessions execute queries sequentially — driver contract).
    Callers must MATERIALIZE any cache feeding ``und`` before calling
    (a lazy cache registering its blocks inside the kernel's first
    checkpoint job would otherwise block-register mid-diff; the
    callSite filter makes this a belt-and-braces rule rather than a
    correctness cliff). The returned labels keep their checkpoint
    (callers may memoize the result).
    """
    spark = und.sparkSession

    def _is_local_ckpt(jrdd) -> bool:
        # a localCheckpoint RDD renders as "MapPartitionsRDD[n] at
        # localCheckpoint at ..."; a cached query relation renders as
        # its plan string ("*(1) Range ...") — so the callSite cleanly
        # separates this kernel's snapshots from any cache a concurrent
        # query registers mid-job
        s = jrdd.toString()
        return s.startswith("MapPartitionsRDD") and " at localCheckpoint at " in s

    def ckpt(df: DataFrame) -> tuple[DataFrame, set]:
        with _FIXPOINT_LOCK:
            before = set(spark._jsc.getPersistentRDDs())
            out = df.localCheckpoint(eager=True)
            after = dict(spark._jsc.getPersistentRDDs())
        raw = set(after) - before
        new_ids = {i for i in raw if _is_local_ckpt(after[i])}
        if raw and not new_ids:
            # the callSite filter matched nothing although the eager
            # checkpoint must have registered blocks — the toString
            # format drifted (Spark upgrade). Fall back to the raw diff
            # (the lock already serializes kernel invocations; only a
            # concurrent OTHER query's cache could now be misattributed
            # — the pre-r7 exposure) rather than silently freeing
            # nothing and leaking one snapshot per round forever.
            new_ids = raw
        return out, new_ids

    def ckpt_count(df: DataFrame, pred) -> tuple[DataFrame, set, int]:
        """Lazy localCheckpoint materialized THROUGH the round's scalar
        count action: ONE job persists the snapshot AND returns the
        changed count (the r6-r9 form paid two jobs per round — an
        eager checkpoint, then a separate old-vs-new join + count).
        Block registration happens during the count, so the
        persistent-RDD diff wraps the whole action."""
        with _FIXPOINT_LOCK:
            before = set(spark._jsc.getPersistentRDDs())
            out = df.localCheckpoint(eager=False)
            n = out.filter(pred).count()
            after = dict(spark._jsc.getPersistentRDDs())
        raw = set(after) - before
        new_ids = {i for i in raw if _is_local_ckpt(after[i])}
        if raw and not new_ids:
            new_ids = raw
        return out, new_ids, n

    def free(ids: set) -> None:
        m = dict(spark._jsc.getPersistentRDDs())
        for i in ids:
            if i in m:
                m[i].unpersist(False)

    labels, held = ckpt(
        und.select("node").distinct().withColumn("component", F.col("node"))
    )
    for _ in range(max_rounds + 1):
        neigh = (
            und.join(labels.withColumnRenamed("node", "n2"), und.nbr == F.col("n2"))
            .groupBy("node")
            .agg(F.min("component").alias("ncomp"))
        )
        # a node changes iff this round's label beats its current one —
        # carrying that flag in the snapshot lets the changed count run
        # off the NEW snapshot alone (no old-vs-new join), fused with
        # the checkpoint materialization into one job per round.
        #
        # POINTER DOUBLING (r11, guide §2 — fewer synchronized rounds):
        # after the one-hop neighbor min, each candidate label is
        # SHORTCUT through the previous snapshot (component ←
        # labels_prev[candidate]): label values are always node ids of
        # the same component with labels_prev[v] ≤ v, so the jump is
        # value-safe and contracts label-chase chains exponentially —
        # an ascending-id chain of diameter d converges in O(log d)
        # rounds instead of d (see the docstring for the general bound;
        # Kiveris et al.'s star-contraction idea applied to the
        # min-label kernel). The FIXPOINT is unchanged: at convergence
        # neither the neighbor min nor the jump moves any label, which
        # is exactly the plain kernel's termination state (constant
        # min-id per component — the transitive-closure oracle's
        # answer). One extra hash join per round against the already-
        # checkpointed snapshot; still ONE job per round.
        cand = F.least(F.col("component"), F.coalesce("ncomp", F.col("component")))
        new_labels, new_held, changed = ckpt_count(
            labels.join(neigh, "node", "left")
            .select("node", "component", cand.alias("cand"))
            .join(
                labels.select(
                    F.col("node").alias("cand"), F.col("component").alias("jump")
                ),
                "cand",
                "left",
            )
            .select(
                "node",
                # jump ≤ cand and rides the same component; coalesce is
                # belt-and-braces (label values are always present as
                # nodes, so the left join cannot actually miss)
                F.coalesce("jump", F.col("cand")).alias("component"),
                (F.coalesce("jump", F.col("cand")) < F.col("component")).alias("chg"),
            ),
            F.col("chg"),
        )
        free(held)  # superseded snapshot — the round's join was its last read
        labels, held = new_labels, new_held
        if changed == 0:
            return labels.select("node", "component")
    free(held)
    raise RuntimeError(
        f"min_label_fixpoint: not converged after {max_rounds + 1} rounds — "
        f"component diameter exceeds {max_rounds}; raise max_rounds"
    )


@session_state
def semantic_graph_components(
    spark: SparkSession, sf_dir: str, tau: float = 0.42, max_rounds: int = 50
) -> DataFrame:
    """Semantic (embedding-space) near-dup components mined from the
    ANN GRAPH INDEX — the SemDeDup posture (Abbas et al. 2023) done the
    way a production store does it: the NN-descent build already
    materialized every vector's nearest neighbors, so near-duplicate
    candidate pairs are FREE — they are the graph edges with cosine ≥
    τ. No extra pair generation of any kind runs; min-label components
    over that (tiny) edge set give the semantic keep/drop decision.
    τ is corpus-calibrated exactly as SemDeDup calibrates its per-
    cluster threshold: the synthetic fixture's near-neighbor scores top
    out near 0.5 (real MiniLM near-dups sit at 0.9+), so the fixture
    default 0.42 selects the top ~1%% of graph edges — the same
    selectivity regime the real threshold would.

    Returns (vec_id, component) for every vector incident to a ≥τ edge
    — full row-level oracle. Propagation runs to FIXPOINT via
    ``min_label_fixpoint`` (one hop of reach per round, scalar
    changed-count break, loud failure past ``max_rounds``), matching
    the ``duplicate_components`` posture; the SQL twin is a recursive-
    CTE transitive closure, so both engines compute the exact
    min-reachable-id regardless of chain depth — no fixed round count
    to outgrow at 100× scale.

    Scale shape: the candidate volume is ≤ n·K edges FILTERED by τ
    (metadata-priced — the threshold pushes into the cached edge scan);
    each round is one join + one aggregate over the non-singleton
    node set, exactly the ``duplicate_components`` shuffle posture.
    Labels are memoized dedup-decision state per (session, corpus,
    τ) — the ``duplicate_components`` posture — and the symmetric edge
    relation is cached only for the kernel's lifetime.
    """
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import fixture_graph

    edges = (
        fixture_graph(spark, sf_dir)
        .filter(F.col("score") >= tau)
        .select("node", "nbr")
    )
    und = edges.union(
        edges.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    ).distinct().cache()
    und.count()  # materialize before the kernel (see min_label_fixpoint)
    try:
        labels = min_label_fixpoint(und, max_rounds=max_rounds)
    finally:
        und.unpersist()
    return labels.select(F.col("node").alias("vec_id"), "component")


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (r7)
# ---------------------------------------------------------------------------

CONTAIN_TAU = 0.8  # |A∩B| / min(|A|,|B|) — containment of the smaller set
CONTAIN_DF_CAP = 50  # shingles in more docs than this generate no candidates


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CONTAIN_TAU,
    df_cap: int = CONTAIN_DF_CAP,
) -> DataFrame:
    """Asymmetric near-dup mining: pairs where the SMALLER document's
    shingle set is mostly inside the larger's —
    ``|A∩B| / min(|A|,|B|) ≥ τ``. Jaccard misses exactly these (a
    quote or boilerplate block inside a much longer doc divides by the
    big union); containment is the standard complement (Broder 1997's
    two resemblance measures).

    Candidates come from the inverted index: explode distinct shingle
    hashes, drop shingles with document frequency > ``df_cap`` (hot
    boilerplate shingles would pair everything with everything — the
    df cap bounds per-shingle fan-out to ``df_cap²`` pairs, the
    posting-list analog of the LSH band bound), group postings per
    hash, emit the i<j bucket pairs, distinct. Verification is EXACT set intersection
    over the memoized ``grams_state`` arrays — the LSH-verified
    composition's shape with a df-capped generator. Subset semantics
    like every candidate generator here: a pair sharing only capped
    shingles is absent in BOTH engines (the oracle applies the same
    cap), and the verify stage computes true containment over the FULL
    shingle sets.
    """
    from gpu_accelerated_vector_indexing_spark.operators.relational import (
        bucket_pair_structs,
    )

    g = grams_state(spark, sf_dir)
    posts = g.select("doc_id", F.explode("gh").alias("h"))
    # ONE groupBy replaces the r5 df-count + semi-join + posting
    # self-join pipeline: the bucket array's length IS the document
    # frequency (gh holds distinct hashes per doc), so the df cap is a
    # size filter on the grouped postings, and the i<j bucket pairs are
    # the identical candidate set the self-join produced — one shuffle
    # of the posting stream instead of three passes over it. Fan-out
    # stays bounded by df_cap² per shingle exactly as before.
    buckets = (
        posts.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") <= df_cap) & (F.size("ids") >= 2))
    )
    cand = (
        buckets.select(F.explode(bucket_pair_structs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a").alias("doc_a"), F.col("p.id_b").alias("doc_b"))
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("gh").alias("gha"), F.col("n").alias("na"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("gh").alias("ghb"), F.col("n").alias("nb"))
    shared = F.size(F.array_intersect(F.col("gha"), F.col("ghb")))
    verified = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            shared.alias("shared"),
            F.least(F.col("na"), F.col("nb")).alias("m"),
        )
        .filter(F.col("shared") / F.col("m") >= threshold)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "shared",
        F.round(F.col("shared") / F.col("m"), 6).alias("containment"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct shingles that appear NOWHERE else in the corpus
    (document frequency 1) — the diversity/value signal dual to the
    dedup family (a doc whose shingles are all shared is boilerplate;
    one whose shingles are mostly unique contributes new text).

    One posting-list aggregate (shingle → df, map-side combined) joined
    back onto the postings and rolled up per doc — two shuffles, both
    keyed on data-growing columns (hash, doc_id), never pair-space.
    The ratio is exact-integer-derived and rounded at 6 d.p.
    """
    g = grams_state(spark, sf_dir)
    posts = g.select("doc_id", F.explode("gh").alias("h"))
    df_ = posts.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        posts.join(df_, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        F.round(F.col("n_unique") / F.col("n_shingles"), 6).alias("novelty"),
    )
