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


def cosine_similarity_hoisted(v: Column, q: Column, qnorm: Column) -> Column:
    """Cosine with the query norm HOISTED to a precomputed column.

    ≙ the reference computing ‖q‖ once per batch instead of per row
    (IVF.cpp:130-136; SURVEY.md §4 P4). When ``q`` arrives via a join
    (multi-query), Catalyst cannot constant-fold ‖q‖ — carrying it as a
    column on the tiny broadcast side removes a per-row O(dim) fold.
    Numerically identical to :func:`cosine_similarity` (same float64
    ops, same order).
    """
    return dot_product(v, q) / (l2_norm(v) * qnorm + F.lit(EPSILON))


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
    column. The ONE definition of this load-bearing invariant — shared
    by :func:`_dot_seq_batch` and the compression-audit kernel
    (operators/quantize.raw_terms), so an association change cannot
    leave the two kernels silently diverging."""
    import numpy as np

    prod = x * y
    acc = np.zeros(x.shape[0], dtype=np.float64)
    for j in range(prod.shape[1]):
        acc += prod[:, j]
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


# --- literal-array construction (r11, guide §5 driver work) -----------------
#
# ``F.array(*[F.lit(float(x)) for x in vals])`` pays one py4j
# driver→JVM round-trip PER ELEMENT (~0.5 ms each — measured 24.9 s for
# a 128×384 codebook in operators/index_build.py): for a 64-dim query
# vector that is ~65 round-trips per query CONSTRUCTION, and the
# comparison harnesses construct dozens of such arrays per call.
# Parsing the equivalent SQL text builds the same
# ``CreateArray(Literal, ...)`` tree in ONE round-trip.
#
# Value identity: ``repr()`` of a finite Python float is the shortest
# string that round-trips to the same IEEE-754 bits, and the SQL
# parser's ``Double.parseDouble`` is correctly rounded — so the parsed
# Literal is bit-identical to ``F.lit(x)``'s. Pinned by
# tests/test_properties.py::test_lit_array_helpers_match_per_element.

_LONG_MIN = -(2**63)


def _sql_double(x: float) -> str:
    v = float(x)
    r = repr(v)
    if "inf" in r or "nan" in r:
        raise ValueError(f"non-finite array literal: {x!r}")
    return r + "D"


def lit_double_array(vals) -> Column:
    """``ARRAY<DOUBLE>`` literal in one py4j round-trip (see above).

    Fails loud: a NaN or ±Inf component raises ``ValueError`` (from
    ``_sql_double``) while the literal is built on the driver, so no job
    ever runs with a non-finite constant. Per-element ``F.lit`` would
    accept it and score rows NaN, which Spark orders FIRST under
    ``desc`` — a silently wrong top-k."""
    vals = list(vals)
    if not vals:
        return F.array().cast("array<double>")
    return F.expr("array(" + ",".join(_sql_double(x) for x in vals) + ")")


def lit_double_array2(rows) -> Column:
    """``ARRAY<ARRAY<DOUBLE>>`` literal (codebooks) in one round-trip."""
    inner = [
        "array(" + ",".join(_sql_double(x) for x in row) + ")" for row in rows
    ]
    return F.expr("array(" + ",".join(inner) + ")")


def _sql_long(x: int) -> str:
    v = int(x)
    if v == _LONG_MIN:  # -(2^63) cannot parse as a negated positive literal
        return "(-9223372036854775807L - 1L)"
    return f"{v}L"


def lit_long_array(vals) -> Column:
    """``ARRAY<BIGINT>`` literal in one py4j round-trip."""
    vals = list(vals)
    if not vals:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(_sql_long(x) for x in vals) + ")")
