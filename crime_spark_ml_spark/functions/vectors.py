"""Vector column expressions over ``array<float>`` embeddings, and the
one numpy boundary every vector kernel crosses.

Arithmetic is sequential in DOUBLE, which is bit-reproducible and
matches DuckDB's ``list_dot_product(CAST(... AS DOUBLE[]))`` (verified
bit-for-bit), so cosine results are oracle-checkable. Two equivalent
dot-product forms exist: ``dot`` (Catalyst zip_with/aggregate fold —
fine when evaluated once per row) and ``dot_arrow`` (vectorized numpy
twin behind one ArrowEvalPython — the bulk-scoring path; the HOF fold
is CodegenFallback and interpreted per element, which dominates when a
join produces millions of scored pairs). Both fold in the same index
order with the same float64 ops, pinned bit-identical in
tests/test_datapipe.py.

The numpy kernels (``dot_arrow`` here, the LSH and near-dup kernels in
operators/similarity, the PQ/IVF encoders in ml/) read vector columns
through ``_decode_vec_column`` (Arrow buffers, no per-row Python) and
fold row-wise through ``seq_dot``, the numpy form of the expressions'
``acc + x * y`` fold.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module-level: arrow_udf type hints must resolve
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType


def dot(a: str, b: str) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (n, d) float64 matrices, folded one
    dimension at a time from a 0.0 seed (``acc += a_d * b_d``) — the
    order and ops of ``dot`` and ``norm``, signed zeros included, not
    numpy's pairwise ``(A * B).sum(1)``. A norm is
    ``sqrt(seq_dot(X, X))``."""
    acc = np.zeros(len(A), dtype=np.float64)
    for col in range(A.shape[1]):
        acc += A[:, col] * B[:, col]
    return acc


def _decode_vec_column(arr) -> tuple[np.ndarray, dict]:
    """Split an Arrow list<float|double> column into dense length groups.

    Returns (lens, groups): lens[i] is row i's vector length, with -1
    for a NULL vector and -2 for a vector holding a NULL element (dot
    and norm of either are NULL, as in the expression forms). groups
    maps each stored length d > 0 to (row indices, (n_d, d) float64
    block) over the non-NULL vectors of that length, NULL elements
    read as NaN; float32 → float64 is exact, like the JVM
    ``CAST(x AS DOUBLE)``. The common shape — one length, no nulls —
    is a zero-copy reshape of the values buffer (guide §4.2); any other
    is one gather per length group."""
    import pyarrow.compute as pc

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    n = len(arr)
    flat = arr.flatten()  # a NULL vector occupies no values
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    stored = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    if arr.null_count == 0 and flat.null_count == 0:
        d0 = int(stored[0]) if n else 0
        if d0 > 0 and (stored == d0).all():
            return stored, {d0: (np.arange(n), vals.reshape(n, d0))}
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(stored, out=starts[1:])
    present = ~np.asarray(arr.is_null())
    lens = np.where(present, stored, -1)
    if flat.null_count:
        # map flat-buffer null positions back to their rows
        null_pos = np.flatnonzero(np.asarray(flat.is_null()))
        lens[np.searchsorted(starts, null_pos, side="right") - 1] = -2
    groups: dict[int, tuple] = {}
    for d in np.unique(stored[present]):
        if d > 0:
            idx = np.flatnonzero(present & (stored == d))
            groups[int(d)] = (idx, vals[starts[idx, None] + np.arange(d)])
    return lens, groups


def _list_array(M: np.ndarray, null=None) -> pa.ListArray:
    """Arrow list array holding the rows of the (n, d) matrix ``M`` —
    the encode half of ``_decode_vec_column``; rows where the Arrow
    boolean array ``null`` is True are NULL. NaN elements are written
    as NULL, the stored form of a NaN IVF residual, which train_pq's
    xxhash64 sampler keys on."""
    n, d = M.shape
    values = pa.array(M.reshape(-1), from_pandas=True)
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * d), values, mask=null
    )


@arrow_udf(DoubleType())  # a DDL string would need a live session at import
def _dot_seq_arrow(a: pa.Array, b: pa.Array) -> pa.Array:
    """Vectorized twin of ``dot``: ``seq_dot`` per length group, so
    results are bit-identical to the expression, NaN elements
    included. NULL vectors, NULL elements and length-mismatched pairs
    yield NULL (zip_with pads the short side with NULLs, nulling the
    fold); two empty vectors fold to the 0.0 seed."""
    la, ga = _decode_vec_column(a)
    lb, gb = _decode_vec_column(b)
    out = np.zeros(len(la), dtype=np.float64)
    for d, (ia, A) in ga.items():
        if d in gb:
            ib, B = gb[d]
            rows = np.flatnonzero((la == d) & (lb == d))
            out[rows] = seq_dot(
                A[np.searchsorted(ia, rows)], B[np.searchsorted(ib, rows)]
            )
    return pa.array(out, mask=(la < 0) | (la != lb))


# deterministic in fact, but marked otherwise so the optimizer cannot
# clone the evaluation below a pushed filter (guide §4.4: one
# ArrowEvalPython, not one per consumer of the cos column)
_dot_seq_arrow_once = _dot_seq_arrow.asNondeterministic()


def dot_arrow(a: str, b: str) -> Column:
    """``dot`` computed in one ArrowEvalPython batch pass — use for
    bulk pair scoring (candidate joins); see ``_dot_seq_arrow``."""
    return _dot_seq_arrow_once(F.col(a), F.col(b))


def norm(a: str) -> Column:
    return F.expr(
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def l2_normalize(a: str) -> Column:
    """Unit-L2 copy of a float/double array (array<double> out).

    Zero-norm vectors pass through unchanged (an all-zero embedding
    stays all-zero instead of NaN-ing), NULL stays NULL. The norm is
    bound ONCE via the one-element-array transform idiom (the
    build_ivfpq residual-binding pattern) — a bare
    ``transform(a, v -> v / sqrt(aggregate(a, ...)))`` re-evaluates
    the aggregate subtree per element, dim× row work."""
    n = (
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return F.expr(
        f"element_at(transform(array({n}), "
        f"n -> CASE WHEN n = 0.0 THEN transform({a}, v -> CAST(v AS DOUBLE)) "
        f"ELSE transform({a}, v -> CAST(v AS DOUBLE) / n) END), 1)"
    )


def cosine(a: str, b: str) -> Column:
    """NULL (never ANSI DIVIDE_BY_ZERO) for zero-norm vectors."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine`` — same sequential double arithmetic."""
    da, db = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (
        f"(list_dot_product({da}, {db}) / "
        f"(sqrt(list_dot_product({da}, {da})) * sqrt(list_dot_product({db}, {db}))))"
    )
