"""Text analysis for training-data pipelines (EXT, SURVEY.md §2.3).

Language-ID (stopword-hit heuristic), quality scoring, token counting,
corpus vocabulary stats, and document fingerprinting — all as native
column expressions over ``documents`` (JVM-side, codegen'd; the only
Python in this module is the winnowing fingerprint, which is a
deliberate ``mapInPandas`` showcase with a rows-only check).

The reference's only text handling is projection + truncation
(embedding.py:31; IVF.cpp:698); this family is the pipeline breadth a
100 TB corpus needs before embedding/indexing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gpu_accelerated_vector_indexing_spark.memo import session_state, state_dir
from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

TOKEN_RE = "[A-Za-z0-9]+"
# winnowing parameters (Schleimer et al., SIGMOD'03): k-gram size, window, base
WINNOW_K = 5
WINNOW_W = 4
WINNOW_B = 131
PUNCT_CLASS = "[.,!?;:]"

# tiny per-language stopword sets for the n-gram/stopword-hit heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
    "it": ["il", "la", "gli", "e", "di"],
}


def tokens(text: Column) -> Column:
    """Word tokens via regex extraction (BPE-ish boundary: alnum runs)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics + a composite quality score.

    Staged projections: the token array and each interpreted HOF over
    it (length fold, stopword filter) are named once and referenced by
    column — interpreted higher-order expressions get no codegen CSE,
    so a flat select would re-tokenize per referencing output column
    (~1.7× slower here; 85× on the fold-heavy repetition operator).
    """
    docs = load_table(spark, sf_dir, "documents")
    n, stop = F.col("n"), F.col("stop")
    return (
        docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "text",
            F.size("toks").alias("n"),
            F.aggregate(
                F.transform(F.col("toks"), lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("tc"),
            _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]).alias("stop"),
        )
        .select(
            "doc_id",
            F.length("text").alias("len_chars"),
            n.alias("n_tokens"),
            (F.col("tc") / n).alias("avg_token_len"),
            (
                (F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, "")))
                / F.length("text")
            ).alias("punct_ratio"),
            stop.alias("n_stopwords"),
            (stop / n).alias("stopword_ratio"),
            # composite quality: long enough, words not too long, some stopwords
            (
                F.least(n / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
                + F.least(stop / F.greatest(n, F.lit(1)) * F.lit(10.0), F.lit(1.0))
                * F.lit(0.5)
            ).alias("quality_score"),
        )
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits.

    Deterministic tie-break: first language in fixed order wins.
    """
    docs = load_table(spark, sf_dir, "documents")
    langs = list(LANG_STOPWORDS)
    # stage: tokenize once, then one interpreted stopword-filter HOF per
    # language (a flat select would re-run each filter 3× — hits column,
    # greatest, argmax chain — with no codegen CSE for interpreted HOFs)
    staged = docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "lang",
        *[
            _stopword_hits(F.col("toks"), ws).alias(f"hits_{lg}")
            for lg, ws in LANG_STOPWORDS.items()
        ],
    )
    hit_cols = {lg: F.col(f"hits_{lg}") for lg in langs}
    max_hits = F.greatest(*[hit_cols[lg] for lg in langs])
    # argmax with deterministic tie-break: first language (in fixed order)
    # whose hit count equals the maximum
    guess = F.when(hit_cols[langs[0]] == max_hits, F.lit(langs[0]))
    for lg in langs[1:]:
        guess = guess.when(hit_cols[lg] == max_hits, F.lit(lg))
    return staged.select(
        "doc_id",
        "lang",
        *[hit_cols[lg].alias(f"hits_{lg}") for lg in langs],
        guess.alias("lang_guess"),
    )


def vocab_top_tokens(spark: SparkSession, sf_dir: str, top_n: int = 20) -> DataFrame:
    """Corpus-level vocabulary: top-N tokens by frequency.

    explode → groupBy benefits from map-side partial aggregation; at
    100 TB this is the canonical word-count shuffle, bounded by
    vocabulary size, not corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_n)
    )


# BPE-ish pre-tokenizer (GPT-2 style, lookahead-free so the Java regex
# and the oracle's RE2 agree): contraction suffixes, space-prefixed
# letter/digit runs, punctuation runs, whitespace runs.
BPE_RE = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: BPE-ish pre-token count (the
    training-cost estimator), whitespace token count, and mean chars
    per BPE token — all as native regexp expressions (JVM-side, no UDF).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
    n_ws = F.size(F.regexp_extract_all(F.col("text"), F.lit("\\S+"), 0))
    return docs.select(
        "doc_id",
        n_bpe.cast("int").alias("n_bpe_tokens"),
        n_ws.cast("int").alias("n_ws_tokens"),
        F.when(n_bpe > 0, F.round(F.length("text") / n_bpe, 6)).alias("chars_per_token"),
    )


def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-shard prep: filter → dedup → token accounting.

    The composition a 100 TB corpus actually runs before embedding:
      1. language filter (declared ``lang`` column)
      2. quality gate (same composite score as :func:`text_stats`)
      3. exact dedup — keep the lowest doc_id per normalized content hash
      4. per-(lang, source) shard stats: docs kept, BPE-token budget,
         mean quality
    One narrow scan feeds everything; the only shuffles are the dedup
    group-by (content-hash cardinality) and the tiny final aggregate —
    the plan shape is corpus-size-linear.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop = _stopword_hits(toks, LANG_STOPWORDS["en"])
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + F.least(stop / F.greatest(n_tokens, F.lit(1)) * F.lit(10.0), F.lit(1.0)) * F.lit(0.5)
    )
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    scored = docs.select(
        "doc_id", "lang", "source",
        # 6-dp DECIMAL so the cross-shard mean is an EXACT sum in any
        # engine (float averaging is summation-order-dependent)
        F.round(quality, 6).cast("decimal(18,6)").alias("quality_score"),
        n_bpe.alias("n_bpe_tokens"),
        F.md5(norm).alias("content_hash"),
    ).filter((F.col("lang") == "en") & (quality >= 0.5))
    survivors = scored.groupBy("content_hash").agg(
        F.min_by(F.struct("lang", "source", "quality_score", "n_bpe_tokens"), "doc_id").alias("s"),
    )
    return (
        survivors.select("s.lang", "s.source", "s.quality_score", "s.n_bpe_tokens")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            # DOUBLE division + floor-scaling, NOT round: the exact
            # decimal sums are bit-identical across engines, but Spark
            # divides decimals exactly while DuckDB divides as DOUBLE —
            # at a half-way 7th digit (hit at sf0.1) round() then splits.
            # Casting the sum to DOUBLE first makes both engines fold
            # the identical (sum, count) doubles; floor is exact.
            (
                F.floor(F.sum("quality_score").cast("double") / F.count("*") * 1e6) / 1e6
            ).alias("avg_quality"),
        )
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of the whitespace-normalized text plus
    a 64-bit prefix as a numeric key (join-friendly)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    fp = F.md5(norm)
    # numeric key as portable code-point polynomial over the first 8 hex
    # chars (base 31) — any SQL engine reproduces it without a conv() builtin
    fp_key = sum(
        F.ascii(F.substring(fp, i, 1)).cast("long") * F.lit(31 ** (i - 1)).cast("long")
        for i in range(1, 9)
    )
    return docs.select("doc_id", fp.alias("fingerprint"), fp_key.alias("fp_key"))


def winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = WINNOW_K, window: int = WINNOW_W
) -> DataFrame:
    """Winnowing fingerprints (rolling-hash min-sampling) via mapInPandas.

    The classic local-minimum document fingerprint (Schleimer et al.,
    SIGMOD'03 'Winnowing: Local Algorithms for Document Fingerprinting'
    — public algorithm): k-gram rolling hashes, minimum per sliding
    window, deduplicated. Python-side by design: a showcase of the
    Arrow-batched escape hatch for operators outside SQL semantics
    (rows-only correctness check per driver contract).
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def compute(batches):
        B = WINNOW_B
        MOD = (1 << 61) - 1  # > max poly value, so hashes are EXACT ints
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = " ".join(str(text).lower().split())
                if len(t) < k:
                    out.append((doc_id, []))
                    continue
                hs, h, power = [], 0, pow(B, k - 1, MOD)
                for i, ch in enumerate(t):
                    h = (h * B + ord(ch)) % MOD
                    if i >= k:
                        h = (h - ord(t[i - k]) * power * B) % MOD
                    if i >= k - 1:
                        hs.append(h)
                fps = sorted({min(hs[i : i + window]) for i in range(max(len(hs) - window + 1, 1))})
                out.append((doc_id, fps))
            yield pd.DataFrame(out, columns=["doc_id", "fingerprints"])

    fp = docs.mapInPandas(compute, schema="doc_id long, fingerprints array<long>")
    return fp.select("doc_id", F.size("fingerprints").alias("n_fingerprints"))


def tfidf_top_terms(spark: SparkSession, sf_dir: str, top_n: int = 3) -> DataFrame:
    """TF-IDF: the per-document top-N distinguishing terms.

    Three aggregations sharing one tokenized explode: term frequency per
    (doc, token), document frequency per token (bounded by vocabulary,
    broadcast back), and the corpus size (one-row broadcast). The final
    per-doc top-N is a window over tf·idf. Cross-engine determinism:
    idf = ln(N/df) is a transcendental, so it is rounded to 6 d.p.
    before the multiply (the repo-wide policy for ln/exp), and ties
    break on token ascending.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n))
        .withColumn("idf", F.round(F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("doc_id", "token", "tf", "tfidf", F.col("rn").cast("int").alias("rn"))
    )


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-style fluency score: mean token-bigram log
    probability per document under the corpus's own bigram counts
    (the perplexity-filter of a training-data pipeline, with the corpus
    itself as the model).

    P(t2|t1) = count(t1 t2) / count(t1 ·) over all documents; a
    document's score is the mean of ln P over its bigrams. One explode
    produces the bigram stream; counts are two aggregations on it; the
    per-doc mean joins bigram probabilities back via broadcast (the
    bigram vocabulary is bounded, corpus-size-independent).
    Determinism: ln is rounded to 6 d.p. per bigram (repo transcendental
    policy) and the mean goes through a DECIMAL(18,6) sum.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    pair_counts = bigrams.groupBy("t1", "t2").agg(F.count("*").alias("n_pair"))
    head_counts = bigrams.groupBy("t1").agg(F.count("*").alias("n_head"))
    probs = pair_counts.join(head_counts, "t1").select(
        "t1",
        "t2",
        F.round(F.log(F.col("n_pair") / F.col("n_head")), 6).alias("lp"),
    )
    return (
        bigrams.join(F.broadcast(probs), ["t1", "t2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.col("lp").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("mean_logprob"),
        )
    )


CHUNK_WIDTH = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width character chunking — the context-window
    splitter every training/RAG pipeline runs before embedding.

    ``sequence(1, len, stride)`` + explode generates chunk start
    positions in-plan (no UDF, no driver loop); each chunk is a
    substring projection. The chunk text is pinned by md5 rather than
    shipped wholesale through the comparison harness. Scale: a narrow
    map over documents — fan-out is len/stride rows per doc, no
    shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("doc_chars"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE))
            ).alias("pos"),
            F.col("text"),
        )
        .select(
            "doc_id",
            ((F.col("pos") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.length(F.expr(f"substring(text, pos, {CHUNK_WIDTH})")).alias("chunk_chars"),
            F.md5(F.expr(f"substring(text, pos, {CHUNK_WIDTH})")).alias("chunk_md5"),
        )
    )


PACK_SEQ_LEN = 512  # fixture-sized training sequences (2048-8192 at prod)


# The BPE-ish token counts are reused by BOTH prefix-sum passes (the
# per-range subtotal collect and the main windowed pass) plus the
# id-span probe — memoized per (session, corpus) so the regex token
# counting runs once, not three times per call (and not once per call
# across the gate + N bench runs).
@session_state
def _pack_counts_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpu_accelerated_vector_indexing_spark.operators.dedup import _spread

    df = (
        _spread(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
            .cast("long")
            .alias("n_toks"),
        )
        .cache()
    )
    df.count()
    return df


def range_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    val_col: str,
    n_ranges: int | None = None,
    order_col: str = "doc_id",
    domain: tuple[int, int] | None = None,
) -> DataFrame:
    """Two-pass distributed prefix sum in ``order_col`` order (doc_id
    breaks ties when ``order_col`` is not unique): returns the input
    plus ``pid`` (fixed-width range of the order domain) and ``s``
    (exact running total of ``val_col`` BEFORE this row).

    A naive global window (``Window.orderBy(...)``) serializes the
    corpus through ONE task. Instead: bucket the order key into
    FIXED-width ranges (an explicit, recomputation-stable partitioner —
    ``repartitionByRange`` was tried first and its SAMPLED boundaries
    can differ between the subtotal pass and the main pass, silently
    shifting every offset after the first divergent boundary), collect
    the per-range subtotals (ONE tiny row per range), cumulate on the
    driver, broadcast the bases back as a literal map — the classic
    two-pass distributed prefix sum; the only window is per-range.
    ``domain`` supplies a statically-known (lo, hi) of the order key
    (e.g. a hash domain), skipping the min/max pass. Shared by
    ``pack_sequences``, ``pack_sequences_shuffled`` (order_col = the
    permutation hash), ``dedup.dedup_pack_manifest`` and
    ``compaction_plan`` — the recipe is ORDER-GENERIC: any total order
    with a computable range key fits.
    """
    n_ranges = n_ranges or spark.sparkContext.defaultParallelism
    if domain is None:
        lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
        if hi is None:  # empty input: no ranges to cumulate — stay total
            return df.withColumn("pid", F.lit(0).cast("long")).withColumn(
                "s", F.lit(0).cast("long")
            )
        lo, hi = int(lo), int(hi)
    else:
        lo, hi = domain
    span = max((hi - lo) // n_ranges + 1, 1)
    parted = df.withColumn("pid", F.expr(f"({order_col} - {lo}) div {span}"))
    psums = parted.groupBy("pid").agg(F.sum(val_col).alias("pv")).collect()
    base, bases = 0, {}
    for r in sorted(psums, key=lambda r: r.pid):
        bases[int(r.pid)] = base
        base += int(r.pv)
    base_map = F.create_map(*[F.lit(x) for pid_base in bases.items() for x in pid_base])
    order = [order_col] if order_col == "doc_id" else [order_col, "doc_id"]
    w = W.partitionBy("pid").orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return parted.withColumn(
        "s", base_map[F.col("pid")] + F.sum(val_col).over(w) - F.col(val_col)
    )


def pack_sequences(
    spark: SparkSession, sf_dir: str, seq_len: int = PACK_SEQ_LEN,
    n_ranges: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing manifest.

    Documents concatenate in ``doc_id`` order into one global token
    stream (BPE-ish counts, same regex as ``token_count``); the stream
    cuts into fixed ``seq_len`` chunks; a document spanning a boundary
    contributes one SEGMENT per chunk it touches. Output: one row per
    chunk — segment/doc counts, token total (= seq_len everywhere but
    the final chunk) and the doc-id span — the manifest a training
    loader needs to materialize packed sequences.

    Scale shape — the prefix sum is the shared two-pass
    ``range_prefix_sum`` (see its docstring for why not a global window
    or repartitionByRange). The chunk fan-out is ``⌈tokens/seq_len⌉``
    rows, never quadratic.
    """
    docs = _pack_counts_state(spark, sf_dir)
    with_s = range_prefix_sum(spark, docs, "n_toks", n_ranges)
    return chunk_manifest(with_s, seq_len)


def chunk_manifest(
    with_s: DataFrame, seq_len: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Chunk-and-rollup over a prefix-summed token relation
    ``(doc_id, n_toks, s, ...)`` — the shared back half of EVERY
    packing manifest (doc_id-order, dedup-filtered, epoch-shuffled,
    and — via ``group_cols=("phase",)`` — the per-phase curriculum
    form, whose streams are independently prefix-summed per group):
    segment explode (⌈tokens/seq_len⌉ rows, never quadratic) + one
    (group, chunk_id)-keyed rollup with map-side partials. Factored
    out in r8 so the packing front-ends cannot drift in chunk
    semantics."""
    segs = (
        with_s.filter(F.col("n_toks") > 0)
        .select(
            *group_cols,
            "doc_id",
            "n_toks",
            "s",
            F.explode(
                F.sequence(
                    F.expr(f"s div {seq_len}"),
                    F.expr(f"(s + n_toks - 1) div {seq_len}"),
                )
            ).alias("chunk_id"),
        )
        .withColumn(
            "seg_len",
            F.least(F.lit(seq_len) * (F.col("chunk_id") + 1), F.col("s") + F.col("n_toks"))
            - F.greatest(F.lit(seq_len) * F.col("chunk_id"), F.col("s")),
        )
    )
    return segs.groupBy(*group_cols, "chunk_id").agg(
        F.count("*").alias("n_segments"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("seg_len").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


PACK_SHUFFLE_SEED = 20260816
_SHUF_A = 1103515245  # LCG multiplier < 2^31: (2^30)·A + seed stays in int64
_SHUF_M = 1_073_741_824  # 2^30


def pack_sequences_shuffled(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = PACK_SEQ_LEN,
    seed: int = PACK_SHUFFLE_SEED,
    n_ranges: int | None = None,
) -> DataFrame:
    """Epoch-shuffled packing manifest: documents concatenate in a
    SEEDED PSEUDO-RANDOM order — ``h = (doc_id mod 2³⁰ · A + seed)
    mod 2³⁰``, ties by doc_id — instead of doc_id order. This is how
    production packing actually runs per epoch (a fresh seed gives a
    fresh permutation, so chunk neighbors differ across epochs while
    every engine replays the SAME permutation for the same seed — no
    RNG state, just arithmetic both engines evaluate identically;
    all operands stay far inside int64).

    Scale shape — the point of the query: ``range_prefix_sum``'s
    two-pass recipe IS order-generic, so this is one call with
    ``order_col="h"`` and the statically-known hash domain (no min/max
    pass). Ranges are fixed-width slices of the hash domain, subtotals
    aggregate per range (bounded relation, driver-cumulated bases
    exactly like the doc_id form), and the only windows run per-range
    ordered by (h, doc_id). The chunk back half is the shared
    :func:`chunk_manifest`.
    """
    docs = _pack_counts_state(spark, sf_dir).withColumn(
        "h", ((F.col("doc_id") % _SHUF_M) * _SHUF_A + F.lit(seed)) % _SHUF_M
    )
    with_s = range_prefix_sum(
        spark, docs, "n_toks", n_ranges, order_col="h", domain=(0, _SHUF_M - 1)
    )
    return chunk_manifest(with_s, seq_len)


BPE_MERGE_TOP_N = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str, top_n: int = BPE_MERGE_TOP_N) -> DataFrame:
    """Corpus-wide adjacent-symbol-pair counts — the FIRST iteration of
    BPE tokenizer training (Sennrich et al. 2016): the pair with the
    highest count is the next merge rule. Full training iterates
    (re-segment, re-count); one distributed iteration is the building
    block, and its counts are exact, so the query carries a full value
    oracle.

    Shape: token explode → in-token pair explode (both narrow maps) →
    groupBy(pair) with map-side partial counts — the canonical
    word-count shuffle, bounded by |symbol-pair vocabulary|, not corpus
    size. Ties broken pair ASC for determinism.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.length("tok") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_n)
    )


BPE_TRAIN_ROUNDS = 4


# The character-level base segmentation is TOKENIZER-TRAINING STATE:
# every round of every BPE query re-reads it, so it is tokenized,
# spread across cores (fixture single-split pathology), and cache()d
# once per (session, corpus) — without this each round re-ran the
# tokenize+explode chain on ONE task and the trainer measured 10-20 s
# at sf0.1 (now ~1 s/round).
#
# Representation: every symbol is wrapped in its OWN delimiter pair
# ("|b||a||n|" for "ban"), so applying merge rule (l, r) is the literal
# replace("|l||r|", "|lr|") — and because adjacent rule occurrences no
# longer share a character, SQL replace's non-overlapping left→right
# substitution is EXACTLY BPE's symbol-level greedy pass (including
# self-pair runs: "aaaa" → (aa)(aa), "aaa" → (aa)(a); the earlier
# single-delimiter form silently skipped back-to-back occurrences).
# Symbols never contain the delimiter, and "||" occurs only between
# adjacent symbols, so cross-boundary false matches are impossible.
#
# r10 (optimization): the state is the DISTINCT segmented word with its
# occurrence count (seg, cnt) — the representation BPE trainers
# actually iterate (Sennrich et al. 2016 work on a word-frequency
# dict). Every downstream quantity is a per-word count times cnt, so
# pair counts, winners and symbol totals are INTEGER-IDENTICAL to the
# per-occurrence form while each round's pair explode + replace touch
# |vocabulary| rows instead of |token occurrences| (~40× fewer at
# sf0.1; the ratio grows with corpus size since vocabulary saturates).
@session_state
def _bpe_words_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gpu_accelerated_vector_indexing_spark.operators.dedup import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    seg0 = F.regexp_replace(F.col("tok"), "(.)", "|$1|")
    df = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy(seg0.alias("seg"))
        .agg(F.count("*").alias("cnt"))
        .cache()
    )
    df.count()
    return df


def _bpe_syms() -> Column:
    # built lazily: creating Columns at import time needs an active
    # session (driver import order is not guaranteed)
    return F.filter(F.split(F.col("seg"), "\\|"), lambda x: x != "")


def _bpe_top_pair(df: DataFrame) -> tuple[str, str, int] | None:
    """One BPE round's winning rule: the most frequent adjacent symbol
    pair over the current segmentation (count DESC, pair ASC), via one
    pair-vocabulary-bounded shuffle + a ≤1-row driver collect. Pair
    occurrences are the per-distinct-word pair list weighted by the
    word's corpus count — sum(cnt) over words ≡ count(*) over
    occurrences, integer-exact."""
    syms = _bpe_syms()
    pair = F.explode(
        F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(syms, i), F.element_at(syms, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    top = (
        df.select(pair.alias("p"), "cnt")
        .groupBy("p")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.desc("c"), F.asc("p"))
        .limit(1)
        .collect()
    )
    if not top:
        return None
    left, right = top[0]["p"].split(" ")
    return left, right, top[0]["c"]


def _bpe_apply(df: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one merge rule in-plan: a codegen'd literal replace whose
    non-overlapping left→right substitution IS the greedy BPE pass
    under the double-delimiter representation. Non-``seg`` columns
    (the word count under the (seg, cnt) state) pass through."""
    return df.select(
        F.replace(
            F.col("seg"), F.lit(f"|{left}||{right}|"), F.lit(f"|{left}{right}|")
        ).alias("seg"),
        *[c for c in df.columns if c != "seg"],
    )


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_TRAIN_ROUNDS
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): the
    first ``n_rounds`` greedy merge rules learned from the corpus, with
    the re-segmentation between rounds done IN-PLAN (see the
    representation note above `_bpe_words_state`). Per round: pair
    counts are a word-count-shaped shuffle bounded by pair vocabulary;
    the winning rule is a ≤1-row driver collect (same device as the
    IVF coarse probes); the rewrite is a codegen'd projection. No
    per-round corpus materialization.
    """
    merges: list[tuple[int, str, str, int]] = []
    df = _bpe_words_state(spark, sf_dir)
    for step in range(1, n_rounds + 1):
        top = _bpe_top_pair(df)
        if top is None:
            break
        left, right, c = top
        merges.append((step, left, right, c))
        df = _bpe_apply(df, left, right)
    return spark.createDataFrame(
        merges, "step int, left_sym string, right_sym string, n_occurrences bigint"
    )


def bpe_compression_curve(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_TRAIN_ROUNDS
) -> DataFrame:
    """Tokenizer compression curve: corpus symbol count after each BPE
    merge round (round 0 = character baseline) — the objective
    tokenizer training actually optimizes. Shares the per-round helpers
    with :func:`bpe_train_merges`; each round's symbol drop equals the
    number of merges replace actually applied (≤ the adjacent-pair
    count, which also counts overlapping occurrences inside self-pair
    runs), and the oracle replays every round independently.
    """
    words = _bpe_words_state(spark, sf_dir)

    def total(df: DataFrame) -> int:
        return df.select(
            F.sum(F.size(_bpe_syms()) * F.col("cnt")).alias("t")
        ).collect()[0]["t"]

    rows: list[tuple[int, int]] = [(0, total(words))]
    df = words
    for step in range(1, n_rounds + 1):
        top = _bpe_top_pair(df)
        if top is None:
            break
        df = _bpe_apply(df, top[0], top[1])
        rows.append((step, total(df)))
    return spark.createDataFrame(rows, "step int, total_symbols bigint")


# Learned merge rules are TOKENIZER STATE: trained once per (session,
# corpus) — the production posture (a tokenizer trains once and every
# encode job loads the rule list), and what keeps the encode query from
# paying 4 training rounds of driver round-trips per run.
@session_state
def bpe_rules(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    rows = bpe_train_merges(spark, sf_dir).orderBy("step").collect()
    return [(r.left_sym, r.right_sym) for r in rows]


@session_state
def tokenizer_state_dir(spark: SparkSession, sf_dir: str) -> str:
    """The trained merge rules persisted once per (session, corpus)."""
    out = state_dir("tokenizer")
    bpe_train_merges(spark, sf_dir).write.mode("overwrite").parquet(f"{out}/merges")
    return out


def tokenizer_state_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the trained tokenizer (the merge-rule list) to parquet,
    read it back, and return the rules — pinning that what lands on
    disk is EXACTLY the trained state (the tokenizer analog of
    ``quantize.pq_state_roundtrip`` / ``dedup.write_dedup_state``: a
    production pipeline trains the tokenizer once, ships the rule file,
    and every encode job loads it). The oracle replays the training
    from raw documents, so a single flipped rule, reordered step, or
    perturbed count anywhere in the persisted file fails the hash."""
    return spark.read.parquet(f"{tokenizer_state_dir(spark, sf_dir)}/merges").select(
        "step", "left_sym", "right_sym", "n_occurrences"
    )


def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained BPE merges — the tokenizer
    APPLICATION path (the half a training pipeline runs on every
    ingest batch, vs ``bpe_train_merges``' train-once half): per doc,
    words segment to delimiter-wrapped characters and each learned rule
    applies as the same greedy literal replace the trainer used, then
    (n_words, n_char_symbols, n_bpe_tokens) aggregate per doc.

    Scale shape: tokenizer state is |rules| driver-side strings; the
    encode itself is ONE narrow projection chain (a codegen'd literal
    replace per rule — no UDF, no shuffle) + one doc_id aggregate.
    Full oracle: the training replay CTEs (queries/text_q) derive the
    same rules and the same replaces re-apply doc-keyed in SQL.
    """
    rules = bpe_rules(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    seg0 = F.regexp_replace(F.col("tok"), "(.)", "|$1|")
    df = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select("doc_id", F.length("tok").alias("n_chars"), seg0.alias("seg"))
    for left, right in rules:
        df = df.select(
            "doc_id",
            "n_chars",
            F.replace(
                F.col("seg"), F.lit(f"|{left}||{right}|"), F.lit(f"|{left}{right}|")
            ).alias("seg"),
        )
    return df.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_chars").alias("n_char_symbols"),
        F.sum(F.size(_bpe_syms())).alias("n_bpe_tokens"),
    )


ZIPF_TOP = 10  # head tokens per source for the concentration share


def zipf_profile(spark: SparkSession, sf_dir: str, top: int = ZIPF_TOP) -> DataFrame:
    """Per-source vocabulary-concentration profile — the corpus-health
    diagnostic a curation pipeline runs before training: natural text
    follows Zipf's law, so a source whose head share or hapax fraction
    is far off the corpus norm is boilerplate-heavy (head too fat) or
    OCR/garbage (hapax too high).

    Columns: total token count, vocabulary size, type-token ratio,
    hapax fraction (share of the VOCABULARY occurring exactly once),
    and head share (fraction of all OCCURRENCES covered by the ``top``
    most frequent tokens, ties broken by token string so both engines
    pick the same head set).

    Plan: one explode → (source, token) count aggregate — the shuffle
    is vocabulary-bounded, never corpus-bounded — then per-source
    aggregates and one window over the COUNT relation (same
    domain-bounded-window posture as quantiles_histogram). No logs, no
    curve fitting: every output is an integer ratio floor-scaled at
    6 d.p.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok_counts = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    rank = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    )
    ranked = tok_counts.withColumn("rk", rank)
    per_src = ranked.groupBy("source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
        F.sum(F.when(F.col("rk") <= top, F.col("cnt")).otherwise(0)).alias("head_occ"),
    )

    def ratio(num: Column, den: Column) -> Column:
        return F.floor(num.cast("double") / den.cast("double") * F.lit(1000000.0)) / F.lit(
            1000000.0
        )

    return per_src.select(
        "source",
        "n_tokens",
        "vocab_size",
        ratio(F.col("vocab_size"), F.col("n_tokens")).alias("type_token_ratio"),
        ratio(F.col("n_hapax"), F.col("vocab_size")).alias("hapax_frac"),
        ratio(F.col("head_occ"), F.col("n_tokens")).alias("head_share"),
    )


COMPACT_TARGET = 25_000  # target output-shard size (text units)


def compaction_plan(
    spark: SparkSession, sf_dir: str, target: int = COMPACT_TARGET
) -> DataFrame:
    """Small-file compaction plan: assign documents to target-size
    output shards by next-fit over the exact corpus prefix sum.

    The lakehouse maintenance op a 100 TB document store runs
    continuously: many small inputs → ~``target``-sized outputs. A doc
    lands in the bin where its start offset falls (``s div target``),
    so bins fill to the target and overflow only by the one straddling
    document — the standard next-fit compaction contract. Output: one
    manifest row per planned shard (doc count, exact size, id span —
    contiguous in doc_id order by construction, so every planned shard
    is also a clustered id range).

    Shape: the shared two-pass ``range_prefix_sum`` (no global-window
    sort, no collect beyond one row per id range), then one group-by
    over ``⌈corpus/target⌉`` bins.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("sz")
    )
    with_s = range_prefix_sum(spark, docs, "sz")
    return (
        with_s.withColumn("bin_id", F.expr(f"s div {target}"))
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("sz").alias("total_units"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


def text_typo_pairs(
    spark: SparkSession, sf_dir: str, max_dist: int = 2, min_len: int = 3
) -> DataFrame:
    """Typo-pair mining over the corpus VOCABULARY: distinct token
    pairs within levenshtein ≤ ``max_dist``, with each side's
    occurrence count — the vocabulary-normalization primitive of a
    training-data pipeline (OCR/typo noise profiling, spell-cluster
    canonicalization; the SymSpell posture the fuzzy record-linkage
    query applies to names, applied to tokens).

    Candidates meet on the shared ≤``max_dist``-deletion variant
    (``relational.deletion_variants`` — exact for the matching
    distance by the alignment argument there), verified by the JVM
    ``levenshtein``. Tokens shorter than ``min_len`` are excluded:
    every pair of 1-2 char tokens is within distance 2 of each other,
    which is noise, and the cut keeps the relation corpus-meaningful.

    Scale shape: both join sides are VOCABULARY-sized (the one
    token-count aggregate every text op here shares), fan-out is
    1+L+C(L,2) variants per DISTINCT token, and the join key grows
    with the vocabulary — corpus size only enters through the one
    count aggregate. Tokens are ASCII by construction (TOKEN_RE), so
    the ``token_a < token_b`` orientation collates identically in both
    engines (the dedup_corpus_overlap ASCII-identifier contract).
    """
    from gpu_accelerated_vector_indexing_spark.operators.relational import (
        deletion_variants,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.length("token") >= min_len)
    )
    v = vocab.select(
        "token",
        "n",
        F.explode(deletion_variants(F.col("token"), max_del=max_dist)).alias("variant"),
    )
    a = v.select(
        F.col("variant"),
        F.col("token").alias("token_a"),
        F.col("n").alias("n_a"),
    )
    b = v.select(
        F.col("variant"),
        F.col("token").alias("token_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b.hint("shuffle_hash"), "variant")
        .filter(F.col("token_a") < F.col("token_b"))
        .select("token_a", "token_b", "n_a", "n_b")
        .distinct()
        .withColumn("dist", F.levenshtein("token_a", "token_b").cast("int"))
        .filter(F.col("dist") <= max_dist)
    )


def text_typo_clusters(
    spark: SparkSession, sf_dir: str, max_dist: int = 2, min_len: int = 3
) -> DataFrame:
    """Spell-cluster canonicalization: connected components over the
    typo-pair graph (``text_typo_pairs``), each token labeled with its
    cluster's canonical spelling = the minimum member (ASCII order —
    the same orientation contract as the pair join). The vocabulary-
    normalization DECISION step after pair mining, exactly the
    ``dedup.duplicate_components`` posture applied to tokens — and the
    THIRD consumer of the ONE shared ``min_label_fixpoint`` kernel
    (n-gram dedup components, SemDeDup semantic components, and now
    spell clusters all run through the same loud-on-non-convergence
    loop).

    Output: (token, n, component) for every token participating in at
    least one typo pair — row-per-member like ``dedup_components``, so
    the oracle value-checks every membership, not just cluster counts.

    Scale shape: the pair graph is VOCABULARY-bounded (never
    corpus-sized), components converge in cluster-diameter rounds, and
    each round is one hash-join + min-agg over the non-singleton
    tokens only.
    """
    from gpu_accelerated_vector_indexing_spark.operators.dedup import (
        min_label_fixpoint,
    )

    pairs = text_typo_pairs(spark, sf_dir, max_dist=max_dist, min_len=min_len)
    p = pairs.select(F.col("token_a").alias("node"), F.col("token_b").alias("nbr"))
    und = p.union(
        p.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    ).distinct()
    labels = min_label_fixpoint(und)
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return labels.select(F.col("node").alias("token"), "component").join(
        vocab, "token"
    ).select("token", "n", "component")
