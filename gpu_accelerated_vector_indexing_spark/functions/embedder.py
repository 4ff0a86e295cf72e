"""Text → embedding generation (the reference's index-build model step).

≙ reference O20/O25: ``SentenceTransformer('all-MiniLM-L6-v2').encode``
over article text in batches of 1024 (reference embedding.py:16, 32) and
over ad-hoc query strings (reference test.py:13-25). In Spark the model
call is exactly a batch scalar UDF: a scalar-iterator ``pandas_udf``
loads the model once per executor and scores Arrow batches.

This container has no ML model libraries, so the DEFAULT featurizer is a
deterministic hashing-trick embedder (token → signed bucket, L2
normalized) — same signature, same batch shape, hermetically
reproducible across engines and runs. The real sentence-transformers
path is wired but import-gated; calling it without the library raises
``NotImplementedError`` naming the dependency.

Scale notes: per-executor model load happens inside the UDF closure
(once per Python worker, not per row); Arrow batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (≙ the reference's
batch_size=1024).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64  # fixture embedding dim (TESTDATA.md); reference uses 384


# per-process token → (bucket, sign) memo: md5 is the portability
# device, not a security boundary, and natural-language token streams
# are extremely repetitive (Zipf) — memoizing turns the per-token cost
# into a dict hit without changing a single output bit. Bounded: a
# crawled vocabulary is effectively unbounded (URLs, hex ids, typos),
# so past the cap the memo resets rather than growing without limit —
# Zipf means the refilled head recovers the hit rate immediately.
# Not session state (memo.session_state): the memo runs inside
# executor-side UDF workers, depends on no session or corpus, and its
# values are pure functions of the key — nothing to evict or release.
_TOKEN_MEMO: dict[tuple[str, int, str], tuple[int, float]] = {}
_TOKEN_MEMO_MAX = 1 << 20


def _hash_embed_batch(texts: pd.Series, dim: int, salt: str = "") -> pd.Series:
    """Hashing-trick featurizer: md5(salt + token) → (bucket, sign), L2
    norm.

    md5 (not Python ``hash``) so results are stable across processes,
    seeds, and engines — determinism is the fixture contract
    (SURVEY.md §5.3). ``salt`` models the EMBEDDER VERSION: a non-empty
    salt is "a different model" (every vector changes), which is what
    the migration lifecycle exercises; the default "" keeps every
    existing output bit-identical.
    """
    import numpy as np

    memo = _TOKEN_MEMO
    out = []
    for text in texts:
        vec = np.zeros(dim, dtype=np.float64)
        for tok in (text or "").lower().split():
            key = (tok, dim, salt)
            hit = memo.get(key)
            if hit is None:
                h = int.from_bytes(
                    hashlib.md5((salt + tok).encode()).digest()[:8], "big"
                )
                hit = (h % dim, 1.0 if (h >> 63) & 1 else -1.0)
                if len(memo) >= _TOKEN_MEMO_MAX:
                    memo.clear()
                memo[key] = hit
            vec[hit[0]] += hit[1]
        n = np.linalg.norm(vec)
        out.append((vec / n if n > 0 else vec).astype(np.float32))
    return pd.Series(out)


def hash_embedder(dim: int = DEFAULT_DIM, salt: str = "") -> Column:
    """Column function: ``text`` → ``ARRAY<FLOAT>`` embedding."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # scalar-iterator form: per-worker setup would go here (≙ model load)
        for texts in it:
            yield _hash_embed_batch(texts, dim, salt)

    return embed


def sentence_transformer_embedder(model_name: str = "all-MiniLM-L6-v2") -> Column:
    """Real-model embedding UDF (reference embedding.py:16) — import-gated."""
    try:
        from sentence_transformers import SentenceTransformer  # noqa: F401
    except ImportError as exc:  # pragma: no cover - library absent by design
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment; "
            "use hash_embedder() (deterministic stand-in) or install the "
            "library to enable model inference"
        ) from exc

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:  # pragma: no cover
        model = SentenceTransformer(model_name)  # once per Python worker
        for texts in it:
            yield pd.Series(list(model.encode(list(texts), batch_size=1024)))

    return embed


def embed_documents(
    docs: DataFrame, dim: int = DEFAULT_DIM, salt: str = ""
) -> DataFrame:
    """Corpus → ``(doc_id, embedding)`` (≙ reference embedding.py:26-36)."""
    return docs.select(
        "doc_id", hash_embedder(dim, salt)(F.col("text")).alias("embedding")
    )


def embed_queries(
    spark: SparkSession, texts: list[str], dim: int = DEFAULT_DIM, salt: str = ""
) -> DataFrame:
    """Query strings → ``(query_id, qvec)`` (≙ reference test.py:13-25,
    and the ``--query`` flag README.md:45-48 documents but never
    implemented — here it exists)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "query_id INT, text STRING"
    )
    return df.select(
        "query_id",
        hash_embedder(dim, salt)(F.col("text")).cast("array<double>").alias("qvec"),
    )
