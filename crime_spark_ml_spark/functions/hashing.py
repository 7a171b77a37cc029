"""Hash-based signature expressions: shingles, LSH bands, SimHash.

Everything is built from JVM-side ``xxhash64``/``md5`` inside
higher-order functions — vectorized, codegen-friendly, zero Python.
Signatures are deterministic across runs and partitionings (seeded by
literal strings), which is what makes LSH reproducible at scale.

ANSI note: Spark 4 runs ANSI mode by default (arithmetic overflow
throws), so SimHash packs 48 bits — the packed value stays positive
in a LONG.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIMHASH_BITS = 48

# XXH64 primes (public spec, xxhash.com; same algorithm Spark's
# xxhash64 expression implements with seed 42)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """Pure-python XXH64 over a byte string, returned as Spark's SIGNED
    long — bit-identical to ``xxhash64(string)`` (seed 42), pinned
    against the JVM expression in tests/test_datapipe.py. Exists so
    DATA-INDEPENDENT hash-derived constants (the SRP-LSH hyperplane
    weights) can be computed driver-side and folded into the plan as
    literals instead of being re-derived per row in interpreted HOFs."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h = ((_rotl(h ^ ((_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64), 27) * _P1) + _P4) & _M64
        i += 8
    if i <= n - 4:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _np_rotl(x, r: int):
    """uint64 rotate-left, vectorized."""
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _np_avalanche(h):
    import numpy as np

    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    h = h ^ (h >> np.uint64(32))
    return h


def xxh64_long_np(v, seed):
    """Vectorized twin of the JVM ``xxhash64`` over ONE LongType value
    (the 8-byte little-endian branch of ``xxh64``), uint64 in/out;
    ``seed`` may be a scalar or a per-row array (hash chaining).
    Pinned bit-identical to the JVM expression in
    tests/test_datapipe.py — exists so fixed-width hash chains (MinHash
    permutations, band hashes) can run as a handful of numpy vector
    ops per batch instead of per-row JVM evaluations."""
    import numpy as np

    # errstate: the wraparound IS the algorithm (mod-2^64 arithmetic);
    # numpy warns on scalar/0-d overflow where arrays wrap silently
    with np.errstate(over="ignore"):
        h = seed + np.uint64((_P5 + 8) & _M64)
        k = _np_rotl(v * np.uint64(_P2), 31) * np.uint64(_P1)
        h = _np_rotl(h ^ k, 27) * np.uint64(_P1) + np.uint64(_P4)
        return _np_avalanche(h)


def xxh64_int_np(i: int, seed):
    """Vectorized twin of the JVM ``xxhash64`` over ONE IntegerType
    value (the 4-byte branch): scalar int ``i``, per-row ``seed``."""
    import numpy as np

    with np.errstate(over="ignore"):  # mod-2^64 wraparound is the algorithm
        h = seed + np.uint64((_P5 + 4) & _M64)
        k = np.uint64(((i & 0xFFFFFFFF) * _P1) & _M64)
        h = _np_rotl(h ^ k, 23) * np.uint64(_P2) + np.uint64(_P3)
        return _np_avalanche(h)


def shingles_expr(text_col: str, n: int = 3) -> str:
    """Word n-gram shingle set (SQL expression string, distinct).

    Shingling before MinHash is what makes LSH buckets selective:
    documents sharing a small vocabulary still differ in word ORDER,
    so their shingle sets diverge even when their word sets are
    identical — without it, same-vocabulary corpora collapse into a
    few giant buckets and the candidate join goes quadratic."""
    # NULL text yields an EMPTY shingle set, not ['']: without the
    # guard, slice(NULL, ...) is NULL and concat_ws swallows it to ''
    # (concat_ws never returns NULL), so a NULL-text doc would grow a
    # phantom '' shingle that survives explode — while SQL engines
    # (and the DuckDB oracles) drop the row via UNNEST(NULL)
    #
    # The word array is BOUND ONCE via the one-element-array transform
    # idiom (the build_ivfpq residual-binding pattern): higher-order
    # functions evaluate their lambda body per element INTERPRETED, so
    # an inlined split() re-tokenizes the document for every shingle —
    # O(words²) work per row (r9 measured: the dominant cost of every
    # shingle consumer). Same per-shingle ops, identical output values.
    return (
        f"CASE WHEN {text_col} IS NULL THEN array() "
        f"ELSE element_at(transform(array(split({text_col}, ' ')), ws -> "
        f"array_distinct(transform(sequence(0, greatest(size(ws) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(ws, i + 1, {n}))))), 1) END"
    )


def band_hashes(sig_expr: str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each ``rows_per_band``-slice of the signature
    (chain-hash over the longs — no string materialization). Two docs
    collide in band b iff their signature slices are equal."""
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> "
        f"aggregate(slice({sig_expr}, b * {rows_per_band} + 1, {rows_per_band}), "
        f"42L, (acc, v) -> xxhash64(acc, v)))"
    )


def simhash(words_expr: str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash: per bit j, sign of Σ_tokens (±1 from bit j of the token
    hash); packed big-endian into a LONG (≤48 bits, ANSI-safe)."""
    bit_j = (
        f"j -> CASE WHEN aggregate({words_expr}, 0L, (acc, w) -> "
        f"acc + IF((shiftright(xxhash64(w), j) & 1) = 1, 1L, -1L)) >= 0 THEN 1L ELSE 0L END"
    )
    return F.expr(
        f"aggregate(transform(sequence({bits - 1}, 0, -1), {bit_j}), 0L, (acc, b) -> acc * 2 + b)"
    )
