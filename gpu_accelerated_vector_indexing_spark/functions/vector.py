"""Vector math as native Spark column expressions.

Replaces the reference's cosine-similarity CPU function and CUDA kernels
(reference IVF.cpp:122-152; cosine_similarity.cu:144-180, 247-276) with
JVM-side higher-order array functions — these stay inside whole-stage
codegen, so the "kernel" is Tungsten-generated bytecode and the
parallelization strategy is Spark task parallelism (SURVEY.md §4 P4-P6).

Numeric policy (SURVEY.md §7.3): storage is ``ARRAY<FLOAT>`` (float32,
matching the reference's on-disk format, IVF.cpp:14); all score math is
carried out in float64 after an exact float32→float64 widening, and the
reference's ``+ 1e-8`` denominator guard (IVF.cpp:150) is preserved so
scores are oracle-comparable at 1e-6 (check_cos_sim.cpp:72 uses 1e-5).

The Pandas-UDF variant is the explicit "kernel switch" analog of the
reference's CPU/CUDA dispatch (IVF.cpp:201-235): same semantics, NumPy
BLAS execution, Arrow-batched.
"""

from __future__ import annotations

import functools
import json

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EPSILON = 1e-8  # denominator guard, reference IVF.cpp:150


def as_double_array(col: Column | str) -> Column:
    """Exact float32→float64 widening for score math."""
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential fold (deterministic summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def seq_l2_norm(vals) -> float:
    """Driver-side twin of :func:`l2_norm`: the same sequential float64
    fold of x·x from 0.0, then a correctly rounded sqrt — bit-identical
    to the JVM value, so it can be passed as a hoisted norm literal."""
    import math

    acc = 0.0
    for x in vals:
        acc += x * x
    return math.sqrt(acc)


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (‖a‖·‖b‖ + 1e-8), float64 (reference IVF.cpp:122-152)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b) + F.lit(EPSILON))


def hoisted_quotient(
    terms: Column, vnorm: Column, qnorm: Column, offset: Column | None = None
) -> Column:
    """``(offset +) Σ terms / (vnorm·qnorm + 1e-8)``: a sequential fold of
    the ``terms`` array from 0.0, divided in the fold's finish lambda.

    Higher-order functions are interpreted, not code-generated, so a
    literal ``qnorm`` (or a literal lookup table inside ``terms``) stays
    in the expression tree instead of being inlined into generated Java
    — queries that differ only in their constants share one compiled
    class. The ops and their order are those of the inline expression
    ``offset + (0.0 + t₀ + t₁ + …)`` over ``vnorm * qnorm + 1e-8``."""

    def finish(total: Column) -> Column:
        num = total if offset is None else offset + total
        return num / (vnorm * qnorm + F.lit(EPSILON))

    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x, finish)


def cosine_similarity_hoisted(
    v: Column, q: Column, qnorm: Column, vnorm: Column | None = None
) -> Column:
    """Cosine with the query norm HOISTED to a precomputed column.

    ≙ the reference computing ‖q‖ once per batch instead of per row
    (IVF.cpp:130-136; SURVEY.md §4 P4). When ``q`` arrives via a join
    (multi-query), Catalyst cannot constant-fold ‖q‖ — carrying it as a
    column on the tiny broadcast side removes a per-row O(dim) fold.
    ``vnorm`` hoists ‖v‖ the same way when the rows carry it (the
    pinned normed corpus, ``knn.fixture_normed``). Numerically identical
    to :func:`cosine_similarity` (same float64 ops, same order; ‖v‖ is
    the same sequential fold wherever it is computed). The division runs
    in the fold's finish lambda (:func:`hoisted_quotient`).
    """
    return hoisted_quotient(
        F.zip_with(v, q, lambda x, y: x * y), l2_norm(v) if vnorm is None else vnorm, qnorm
    )


@functools.lru_cache(maxsize=32)
def _named_cosine(v: str, q: str, qnorm: str, vnorm: str | None, gateway: int | None) -> Column:
    if vnorm is None:
        return cosine_similarity_hoisted(as_double_array(v), F.col(q), F.col(qnorm))
    return cosine_similarity_hoisted(F.col(v), F.col(q), F.col(qnorm), F.col(vnorm))


def named_cosine(v: str, q: str, qnorm: str, vnorm: str | None = None) -> Column:
    """:func:`cosine_similarity_hoisted` over NAMED columns, built once
    per process: ``v`` is widened by :func:`as_double_array`, or, with
    ``vnorm``, is an ``ARRAY<DOUBLE>`` whose hoisted norm column is
    ``vnorm`` (the normed corpus: one fold per scored pair, not two).

    pyspark builds a higher-order function with ~100 py4j round trips
    (one per lambda variable, operator and argument list) — ~250 for
    this score, more than the rest of a warm query. The expression is
    unresolved and holds no per-query value, so every later query reuses
    the same Column; a query's constants come in as the named columns.
    Keyed on the py4j gateway (``None`` on Spark Connect, whose Columns
    are client-side), so a Column never outlives the JVM it lives in."""
    from pyspark import SparkContext
    from pyspark.sql.utils import is_remote

    gateway = None if is_remote() else id(SparkContext._gateway)
    return _named_cosine(v, q, qnorm, vnorm, gateway)


def l2_normalize(a: Column) -> Column:
    """Unit-normalize a vector; with pre-normalized storage, cosine ≡ dot
    (SURVEY.md §4 P4 — strictly stronger loop-invariant hoisting)."""
    return F.zip_with(a, F.array_repeat(l2_norm(a) + F.lit(EPSILON), F.size(a)), lambda x, n: x / n)


# DataType instance (not a DDL string): parsing a string return type
# requires an active SparkSession, which must not be an import-time need.
@F.pandas_udf(T.DoubleType())
def _cosine_batch(v: pd.Series, q: pd.Series) -> pd.Series:
    """Arrow-batched NumPy scoring — the engine's 'GPU kernel' analog."""
    import numpy as np

    mat = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
    qm = np.asarray([np.asarray(x, dtype=np.float64) for x in q])
    dots = (mat * qm).sum(axis=1)
    denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(qm, axis=1) + EPSILON
    return pd.Series(dots / denom)


def cosine_similarity_pandas(a: Column, b: Column) -> Column:
    return _cosine_batch(a, b)


def np_dot_seq(x, y):
    """(n, d) × (n, d) → (n,) dot products with the EXACT sequential
    float association of the JVM fold / DuckDB ``list_dot_product``:
    each product and each add rounds separately, accumulated column by
    column. Operands that broadcast, e.g. (1, c, d) × (q, 1, d) → (q, c),
    fold along their last axis the same way. The ONE definition of this
    load-bearing invariant — shared by :func:`_dot_seq_batch`, the
    compression-audit kernel (operators/quantize.raw_terms) and the IVF
    coarse stage (operators/ivf.coarse_scores), so an association change
    cannot leave the kernels silently diverging."""
    import numpy as np

    prod = x * y
    acc = np.zeros(prod.shape[:-1], dtype=np.float64)
    for j in range(prod.shape[-1]):
        acc += prod[..., j]
    return acc


@F.pandas_udf(T.DoubleType())
def _dot_seq_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched dot product with EXACT sequential association.

    Unlike ``_cosine_batch`` (whose ``.sum(axis=1)`` uses NumPy's
    pairwise summation — last-ulp different from a left-to-right fold),
    this kernel accumulates column-by-column: ``acc += x[:,j]·y[:,j]``
    for j = 0..dim-1 — bit-identical to ``dot_product``'s sequential
    ``aggregate`` fold and to DuckDB's ``list_dot_product``, so results
    feed value-hash oracles safely. Vectorization is across ROWS
    (one multiply + one add sweep per dimension — deliberately NOT
    fused: each product and each add must round separately or the
    association diverges from the JVM/DuckDB folds), so it keeps
    NumPy throughput while pinning the float association. Requires equal
    dims within a batch (true for any embedding column).
    """
    import numpy as np

    if len(a) == 0:  # empty Arrow batch: stack/axis ops would raise
        return pd.Series([], dtype="float64")
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in a])
    y = np.asarray([np.asarray(v, dtype=np.float64) for v in b])
    return pd.Series(np_dot_seq(x, y))


def dot_product_seq_pandas(a: Column, b: Column) -> Column:
    """Fold-exact Arrow dot kernel — the 'kernel switch' analog for
    bulk pair scoring (graph-ANN build): ~the throughput of the NumPy
    path with the float association of the JVM fold."""
    return _dot_seq_batch(a, b)


# --- literal-array construction ---------------------------------------------
#
# A per-query constant must reach Spark as DATA, never as SQL text to
# parse and never as a value inlined into generated Java:
# - ``F.array(*[F.lit(x) ...])`` pays one py4j round trip per element
#   (~0.5 ms each; 24.9 s for a 128×384 codebook);
# - parsed SQL text (``array(0.1D, ...)``) is one round trip, but the
#   parser and every analyzer/optimizer rule then walk a ``CreateArray``
#   with one child per element, on every query (warm: ~47 ms for one
#   384-d vector, ~266 ms for an 8×384 batch).
# So the builders pack the values on the driver into the binary image
# of Spark's ``UnsafeArrayData`` — element count, null bits, the values;
# a nested array holds one ``offset << 32 | size`` word per child, then
# the children — and hand that ``bytes`` to the JVM, which points an
# ``UnsafeArrayData`` at it and wraps it in ONE ``Literal``: a constant
# number of py4j calls whatever the length. Generated code holds a
# non-primitive literal by reference (``references[i]``), so queries
# that differ only in their vectors compile to the same Java and hit
# Spark's codegen cache.
#
# Value identity: the image carries the float64 bits themselves, so the
# literal is bit-identical to ``F.lit(x)``'s, and its type is the one
# the SQL parse produced (``array<double>``, containsNull=false). Pinned
# by tests/test_properties.py::test_lit_array_helpers_match_per_element.
#
# Spark Connect has no py4j gateway; there the builders fall back to the
# one-parse SQL text, which is bit-identical too: ``repr()`` of a finite
# float round-trips and ``Double.parseDouble`` is correctly rounded.

_LONG_MIN = -(2**63)


def _sql_double(x: float) -> str:
    return repr(float(x)) + "D"


def _sql_long(x: int) -> str:
    v = int(x)
    if v == _LONG_MIN:  # -(2^63) cannot parse as a negated positive literal
        return "(-9223372036854775807L - 1L)"
    return f"{v}L"


# Spark JSON type name → (NumPy storage dtype, SQL text of one element)
_ELEMENTS = {
    "double": (np.float64, _sql_double),
    "long": (np.int64, _sql_long),
    "integer": (np.int32, lambda x: str(int(x))),
}


def _packed(vals, elem: str) -> np.ndarray:
    """``vals`` as a 1-D array of ``elem``'s storage dtype. Fails loud: a
    NaN or ±Inf double raises ``ValueError`` here, on the driver, so no
    job ever runs with a non-finite constant (per-element ``F.lit``
    would accept it and score rows NaN, which Spark orders FIRST under
    ``desc`` — a silently wrong top-k)."""
    arr = np.asarray(vals if isinstance(vals, np.ndarray) else list(vals), dtype=_ELEMENTS[elem][0])
    if arr.ndim != 1:
        raise ValueError(f"array literal must be one-dimensional, got shape {arr.shape}")
    if elem == "double" and not np.isfinite(arr).all():
        raise ValueError(f"non-finite array literal: {float(arr[~np.isfinite(arr)][0])!r}")
    return arr


def _header(n: int) -> bytes:
    """``UnsafeArrayData`` header: the element count, then one null-bit
    word per 64 elements (all clear)."""
    return np.int64(n).tobytes() + bytes((n + 63) // 64 * 8)


def _image(arr: np.ndarray) -> bytes:
    body = arr.tobytes()
    return _header(len(arr)) + body + bytes(-len(body) % 8)  # word-aligned


def _nested_image(children: list[bytes]) -> bytes:
    pos = len(_header(len(children))) + 8 * len(children)
    words = []
    for child in children:
        words.append(pos << 32 | len(child))
        pos += len(child)
    return _header(len(children)) + np.asarray(words, dtype=np.int64).tobytes() + b"".join(children)


def _array_literal(parts: list[np.ndarray], elem: str, nested: bool) -> Column:
    """ONE ``ARRAY<elem>`` literal of ``parts[0]`` or, when ``nested``,
    one ``ARRAY<ARRAY<elem>>`` literal of ``parts`` (see above)."""
    from py4j.java_gateway import JavaClass
    from pyspark import SparkContext
    from pyspark.sql.utils import is_remote

    sc = SparkContext._active_spark_context
    if sc is None or is_remote():  # Spark Connect: one parse of SQL text
        if not parts or (not nested and not len(parts[0])):  # no element to type the parse
            return F.array().cast(f"array<array<{elem}>>" if nested else f"array<{elem}>")
        sql = _ELEMENTS[elem][1]
        texts = ["array(" + ",".join(sql(x) for x in p) + ")" for p in parts]
        return F.expr("array(" + ",".join(texts) + ")" if nested else texts[0])
    dtype: object = elem
    for _ in range(2 if nested else 1):
        dtype = {"type": "array", "elementType": dtype, "containsNull": False}
    image = _nested_image([_image(p) for p in parts]) if nested else _image(parts[0])

    # classes by full name: a ``sc._jvm.org.apache...`` walk costs one
    # py4j round trip per package segment
    def jclass(name: str):
        return JavaClass(f"org.apache.spark.{name}", sc._gateway._gateway_client)

    value = jclass("sql.catalyst.expressions.UnsafeArrayData")()
    value.pointTo(image, jclass("unsafe.Platform").BYTE_ARRAY_OFFSET, len(image))
    literal = jclass("sql.catalyst.expressions.Literal")(
        value, jclass("sql.types.DataType").fromJson(json.dumps(dtype))
    )
    node = jclass("sql.classic.ExpressionColumnNode").apply(literal)
    return Column(jclass("sql.Column")(node))


def finite_doubles(vals) -> list[float]:
    """``vals`` as Python floats, failing loud like
    :func:`lit_double_array`: a NaN or ±Inf raises the same
    ``ValueError`` on the driver — for vectors that travel in a local
    relation instead of a literal, which would accept them and score
    rows NaN."""
    return _packed(vals, "double").tolist()


def lit_double_array(vals) -> Column:
    """``ARRAY<DOUBLE>`` literal in O(1) py4j calls (see above); a NaN or
    ±Inf component raises ``ValueError`` before any job."""
    return _array_literal([_packed(vals, "double")], "double", nested=False)


def lit_double_array2(rows) -> Column:
    """``ARRAY<ARRAY<DOUBLE>>`` literal (codebooks, query batches; rows
    may differ in length) in O(1) py4j calls."""
    return _array_literal([_packed(r, "double") for r in rows], "double", nested=True)


def lit_long_array(vals) -> Column:
    """``ARRAY<BIGINT>`` literal in O(1) py4j calls."""
    return _array_literal([_packed(vals, "long")], "long", nested=False)


def lit_int_array2(rows) -> Column:
    """``ARRAY<ARRAY<INT>>`` literal (per-query probe lists) in O(1)
    py4j calls."""
    return _array_literal([_packed(r, "integer") for r in rows], "integer", nested=True)
