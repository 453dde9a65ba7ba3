"""Vector distance expressions over ``array<float|double>`` columns.

Reference parity: risinglight's VECTOR(n) type with the pgvector
operators ``<->`` (L2), ``<#>`` (negative inner product) and ``<=>``
(cosine distance) — src/types/vector.rs:79-99, src/array/ops.rs:655-719,
planner/mod.rs:74-76.

Implemented as ``F.zip_with`` / ``F.aggregate`` higher-order functions:
these execute JVM-side inside whole-stage codegen (no Python round
trip), so a brute-force scan over billions of embeddings stays a single
codegen'd stage that parallelizes linearly with partitions.

``fold_sqdist`` / ``fold_dot`` are the numpy form of the same folds, for
collected assets and Arrow batches; they return the same doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dsum(pairs: Column) -> Column:
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _dsum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_distance(a: Column, b: Column) -> Column:
    """``a <-> b`` — Euclidean distance (reference vector.rs:81-87).
    (x-y)*(x-y) rather than pow(x-y, 2) so the oracle's expanded SQL is
    bit-identical."""

    def sq(x: Column, y: Column) -> Column:
        d = x.cast("double") - y.cast("double")
        return d * d

    return F.sqrt(_dsum(F.zip_with(a, b, sq)))


def neg_inner_product(a: Column, b: Column) -> Column:
    """``a <#> b`` — negative dot product (reference vector.rs:96-98)."""
    return -dot(a, b)


def norm(a: Column) -> Column:
    return F.sqrt(
        _dsum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    """``a <=> b`` — 1 - cosine similarity (reference vector.rs:89-94)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def lit_vector(values: list[float]) -> Column:
    """A constant query vector as an array<double> literal."""
    return F.array(*[F.lit(float(v)) for v in values])


def sql_list_literal(values: list[float]) -> str:
    """The same constant vector as a DuckDB list literal."""
    return "[" + ", ".join(repr(float(v)) for v in values) + "]"


# Scratch cap, in float64 elements (x8 bytes, ~128 MB), for one row
# block of a numpy caller's cross matrix (the GEMM bounds of the kNN and
# semdedup kernels): callers size blocks as SCRATCH_ELEMS // columns.
# Read as ``vector.SCRATCH_ELEMS`` at call time, so a test can shrink it.
SCRATCH_ELEMS = 16_000_000


def fold_sqdist(a, b, rows=None, cols=None):
    """Squared L2 distances as the float64 left fold of ``l2_distance``
    and the oracles' ``sqrt(0.0 + d0*d0 + d1*d1 + ...)``: one IEEE
    rounding per op in index order, so ``np.sqrt`` of the result is
    bit-identical to both engines.  ``a`` (n, dim) and ``b`` (m, dim)
    widen to float64.  Without ``rows``/``cols`` the result is the (n, m)
    cross matrix; with them it is one value per pair
    ``(a[rows[p]], b[cols[p]])``, never gathering (pairs, dim) blocks."""
    return _fold(a, b, rows, cols, square=True)


def fold_dot(a, b, rows=None, cols=None):
    """Dot products as the left fold of ``dot`` (0.0 + a0*b0 + ...);
    same forms as ``fold_sqdist``."""
    return _fold(a, b, rows, cols, square=False)


def _fold(a, b, rows, cols, square):
    import numpy as np

    op = np.subtract if square else np.multiply
    # column-major copies: each step reads one contiguous dimension
    at = np.asarray(a, dtype=np.float64).T.copy()
    bt = np.asarray(b, dtype=np.float64).T.copy()
    if rows is None:
        acc = np.zeros((at.shape[1], bt.shape[1]))
    else:
        acc = np.zeros(len(rows))
    t = np.empty_like(acc)
    for ad, bd in zip(at, bt, strict=True):
        if rows is None:
            op(ad[:, None], bd, out=t)
        else:
            op(ad[rows], bd[cols], out=t)
        if square:
            np.multiply(t, t, out=t)
        acc += t
    return acc
