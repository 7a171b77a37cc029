"""Product quantization (PQ) ANN — the compressed-codes scale path.

IVF (ml/ivf.py) prunes WHICH vectors a query scores; PQ shrinks WHAT
is stored and scored: each d-dim vector becomes ``m`` uint8-sized
codes (one per d/m-dim subspace, each quantized against its own
k-centroid codebook), so a 64-dim float corpus (256 B/row) becomes
m=8 codes (8 B/row) — a 100 TB embedding store fits hot in ~3 TB of
executor memory. Search is asymmetric distance computation (ADC,
Jégou et al., TPAMI 2011): per query, precompute an m×k lookup table
of exact subspace distances, then every corpus row scores with m
table lookups summed in double — m adds per candidate, no distance
math.

Spark mapping (numpy where a fold per element would dominate, JVM
expressions elsewhere):
- **train**: m seeded Lloyd's fits on a BOUNDED driver-side sample
  (numpy) — the codebook is m×k×(d/m) doubles, kilobytes; training
  it distributed would be pure scheduler overhead (the PCA-eigensolve
  split: Spark bounds the sample, the driver fits the tiny model).
- **encode**: a pure narrow map — per subspace, an argmin over k
  codebook distances, one numpy pass per Arrow batch (pq_codes_udf).
  Zero shuffles; the 100 TB encode is scan → project → write.
- **search**: the query-side LUT is built driver-side in numpy
  (tiny), then corpus_codes ⋈ broadcast(LUT) scores via a pure JVM
  zip_with/aggregate expression over the code array. The corpus never
  shuffles; per-query top-k is a partitioned window.

The numpy encode and assignment kernels are pinned bit-identical to
the Catalyst expressions they replaced; those expressions are test
code (tests/expression_refs.py).

At 100 TB: encode once, store ``(id, codes)`` bucketed by id
(sources/writers.write_bucketed); combine with IVF cell assignment so
a probe scans nprobe/k of the code table with LUT scoring.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa  # module-level: arrow_udf type hints must resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import _decode_vec_column, _list_array, seq_dot
from ..sources.readers import local_frame


@dataclass
class PqModel:
    codebooks: DataFrame  # sub int, code int, cvec array<double>
    m: int
    k: int
    sub_dim: int
    # (m, k, sub_dim) float64 codebook array, carried so hot paths
    # (encode UDF, driver-side LUTs) never re-collect the kilobyte
    # codebooks relation — a LOCAL-relation collect still costs a full
    # py4j/analysis round-trip (~0.4 s measured). None on models built
    # by hand; _codebook_np falls back to one collect then.
    cb_np: object = None


_MAX_TRAIN_ROWS = 200_000  # ~100 MB of float64 at dim 64
_SAMPLE_BUCKETS = 1_000_000  # hash-sampling granularity


def _collect_train_sample_info(
    df: DataFrame, col: str, fraction: float | None, seed: int
) -> tuple[list, bool]:
    """(rows, covers_all): `_collect_train_sample` plus a flag that is
    True only when the returned rows PROVABLY are the whole input (the
    under-cap limit-probe, or an explicit fraction that keeps every
    hash bucket). build_ivfpq uses the flag to derive the PQ residual
    training set driver-side instead of re-running the assignment
    subplan as a second corpus pass."""
    rows, covers_all = _collect_train_sample_impl(df, col, fraction, seed)
    return rows, covers_all


def _collect_train_sample(
    df: DataFrame, col: str, fraction: float | None, seed: int
) -> list:
    """Collect the single-column training sample, bounded at
    _MAX_TRAIN_ROWS whichever path is taken — the quantizer-training
    contract is 'works at any corpus size with bounded driver memory'.

    Sampling is HASH-based (keep iff xxhash64(value, seed) mod 1e6
    lands under the keep fraction), not ``DataFrame.sample``: the RDD
    sampler seeds per partition, so its sampled SET depends on split
    layout — the fitted centroids would differ between an 8-core and a
    32-core run of the same corpus. Content hashing is deterministic
    across layouts, engines, and runs (same property the md5 samplers
    in plans/datapipe rely on).

    An explicit ``fraction`` that still exceeds the cap fails loudly
    (a silent multi-GB collect would OOM the driver); with none given,
    the under-cap fast path is a single limit-probe job, and only an
    over-cap corpus pays the extra count to derive the auto fraction."""
    return _collect_train_sample_impl(df, col, fraction, seed)[0]


def _collect_train_sample_impl(
    df: DataFrame, col: str, fraction: float | None, seed: int
) -> tuple[list, bool]:
    if fraction is not None:
        if not 0.0 < fraction <= 1.0:
            raise ValueError(f"sample_fraction must be in (0, 1], got {fraction}")
        keep = max(1, int(_SAMPLE_BUCKETS * fraction))
        rows = (
            df.where(F.pmod(F.xxhash64(F.col(col), F.lit(seed)), _SAMPLE_BUCKETS) < keep)
            .limit(_MAX_TRAIN_ROWS + 1)
            .collect()
        )
        if len(rows) > _MAX_TRAIN_ROWS:
            raise ValueError(
                f"training sample exceeds {_MAX_TRAIN_ROWS} rows at "
                f"sample_fraction={fraction}; pass a smaller fraction"
            )
        # keep >= bucket count means the hash filter kept everything
        return rows, keep >= _SAMPLE_BUCKETS
    rows = df.limit(_MAX_TRAIN_ROWS + 1).collect()
    if len(rows) <= _MAX_TRAIN_ROWS:
        return rows, True  # limit-probe returned the whole input
    n = df.count()
    keep = max(1, int(_SAMPLE_BUCKETS * (_MAX_TRAIN_ROWS / n) * 0.95))
    # if the 0.95-headroom hash sample still overshoots the cap, keep
    # the cap-many SMALLEST full hashes (TakeOrderedAndProject — the
    # driver never holds more than the cap): content-determined, so the
    # truncated set is layout-independent like the filter itself. Ties
    # need a full 64-bit collision, i.e. (in practice) equal vectors —
    # interchangeable under the caller's sort-before-fit.
    h = F.xxhash64(F.col(col), F.lit(seed))
    return (
        df.where(F.pmod(h, _SAMPLE_BUCKETS) < keep)
        .orderBy(h)
        .limit(_MAX_TRAIN_ROWS)
        .collect()
    ), False


def _chunked_argmin(X, C, chunk: int = 8192):
    """Nearest-center index per row via explicit diff-square distances,
    processed in row blocks so peak memory is O(chunk·k·d) instead of
    O(n·k·d) (~1.6 GB at the 200k-row cap). Same arithmetic per
    element as the unchunked form — assignments are bit-identical."""
    out = np.empty(len(X), dtype=np.int64)
    for s in range(0, len(X), chunk):
        blk = X[s : s + chunk]
        out[s : s + chunk] = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    return out


def _lloyd(X, k: int, seed: int, iters: int = 25):
    """Seeded k-means++ + Lloyd's on a driver-side sample (numpy).
    Deterministic for a given (X, k, seed); X is pre-sorted by the
    caller so the result is independent of Spark partition order.
    Seeding keeps a running min-d2 vector (distance only to the newest
    center per step — O(n·d), not O(n·k·d) with a giant temporary);
    the probabilities, and therefore the drawn centers, are identical
    to the recompute-everything form."""
    rng = np.random.RandomState(seed)
    n = len(X)
    centers = [X[rng.randint(n)]]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for _ in range(min(k, n) - 1):
        total = d2.sum()
        p = d2 / total if total > 0 else np.full(n, 1.0 / n)
        c = X[rng.choice(n, p=p)]
        centers.append(c)
        d2 = np.minimum(d2, ((X - c) ** 2).sum(1))
    while len(centers) < k:  # degenerate: fewer points than centroids
        centers.append(centers[0])
    C = np.asarray(centers, dtype=np.float64)
    for _ in range(iters):
        assign = _chunked_argmin(X, C)
        newC = np.vstack(
            [X[assign == c].mean(0) if (assign == c).any() else C[c] for c in range(k)]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


# ----------------------------------------------------------- numpy twins
# Vectorized (Arrow UDF / mapInArrow) twins of the Catalyst HOF
# expressions (kept as test references in tests/expression_refs.py).
# The JVM higher-order functions (zip_with/aggregate/transform) are
# CodegenFallback — every element op is an interpreted, boxed lambda
# call, which makes the O(k_cells·dim) assignment and O(m·k·sub_dim)
# encode folds THE dominant per-row cost of an index build (guide §4.2:
# hand whole batches to vectorized native code). Each numpy helper
# reproduces its JVM twin's arithmetic ELEMENT-FOR-ELEMENT in the same
# order — every step is one correctly-rounded IEEE-754 double op in
# both engines — so assignments, residuals, codes and LUT entries are
# bit-identical to the expression references (pinned in
# tests/test_pq.py).


def _dense_vectors(arr):
    """(row indices, (n, dim) float64 matrix) of the non-NULL vectors of
    an Arrow vector column — the input of every PQ/IVF kernel, read
    through functions.vectors._decode_vec_column. NULL elements read as
    NaN; vectors of different lengths in one batch raise ValueError."""
    lens, groups = _decode_vec_column(arr)
    if len(groups) > 1 or (groups and (lens == 0).any()):
        raise ValueError("vectors of different lengths in one batch")
    if groups:
        return next(iter(groups.values()))
    idx = np.flatnonzero(lens == 0)  # only empty (or no) vectors
    return idx, np.zeros((len(idx), 0))


def _np_l2_normalize(X):
    """numpy twin of functions.vectors.l2_normalize: sequential double
    fold for the norm (seq_dot), sqrt, elementwise divide; zero-norm
    rows pass through unchanged. Bit-identical."""
    n = np.sqrt(seq_dot(X, X))
    out = X.copy()
    nz = n != 0.0  # NaN norms divide (NaN != 0.0), like the JVM CASE
    out[nz] = X[nz] / n[nz, None]
    return out


def _np_sq_dists_seq(X, C):
    """(n, k) squared-L2 matrix via the SAME sequential per-dimension
    fold as the zip_with/aggregate distance of the expression
    references — acc += (x_i − c_i)² one dimension at a time, each
    step a correctly-rounded double multiply + add — so distances are
    bit-identical to the JVM zip_with/aggregate fold. (Distinct from
    _chunked_argmin, whose pairwise-summed distances define the
    TRAINING math inside _lloyd and must stay as they are.)"""
    acc = np.zeros((X.shape[0], C.shape[0]))
    for i in range(X.shape[1]):
        d = X[:, i, None] - C[None, :, i]
        acc += d * d
    return acc


def _codebook_np(model: PqModel):
    """model.codebooks as an (m, k, sub_dim) float64 array: the cached
    ``cb_np`` when the model carries one (train/_fit/load paths), else
    one collect of the kilobyte local relation."""
    if model.cb_np is not None:
        return model.cb_np
    cb: dict[int, list] = {}
    for r in model.codebooks.collect():  # bounded: m*k rows
        cb.setdefault(r.sub, [None] * model.k)[r.code] = [float(x) for x in r.cvec]
    return np.asarray(
        [[cb[j][c] for c in range(model.k)] for j in range(model.m)], dtype=np.float64
    )


def _np_pq_codes(R, CB):
    """(n, m) int32 code matrix: per subspace, argmin over the k
    codebook entries by the sequential fold — first minimum wins =
    lowest code on ties, the same contract as the reference
    pq_code_expr's array_min over (d, code) structs."""
    m, _, sub_dim = CB.shape
    codes = np.empty((len(R), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _np_sq_dists_seq(
            R[:, j * sub_dim : (j + 1) * sub_dim], CB[j]
        ).argmin(1)
    return codes


def pq_codes_udf(model: PqModel):
    """Arrow UDF twin of the ``pq_code_expr`` reference
    (tests/expression_refs.py): vec → array<int> of
    m codes, bit-identical (same sequential fold, same lowest-code tie
    break), but evaluated as one numpy pass per Arrow batch instead of
    m·k interpreted HOF folds per row. NULL vectors yield NULL codes
    (the expression reference gives them code 0)."""
    from pyspark.sql.functions import arrow_udf

    CB = _codebook_np(model)

    @arrow_udf("array<int>")
    def _codes(vec: pa.Array) -> pa.Array:
        idx, X = _dense_vectors(vec)
        codes = np.zeros((len(vec), CB.shape[0]), dtype=np.int32)
        codes[idx] = _np_pq_codes(X, CB)
        return _list_array(codes, null=vec.is_null())

    return _codes


def argmin_cid_udf(pairs: list[tuple[int, list[float]]]):
    """Arrow UDF twin of the ``argmin_cid_expr`` reference
    (tests/expression_refs.py): vec → nearest
    centroid id, bit-identical (sequential fold distances; ties fall
    to the smaller cid — centroids are sorted by cid and argmin keeps
    the first minimum). NULL vectors yield NULL (the expression
    reference gives them the first cid)."""
    from pyspark.sql.functions import arrow_udf

    srt = sorted(pairs)
    cids = np.asarray([int(c) for c, _ in srt], dtype=np.int32)
    C = np.asarray([[float(x) for x in cv] for _, cv in srt], dtype=np.float64)

    @arrow_udf("int")
    def _assign(vec: pa.Array) -> pa.Array:
        idx, X = _dense_vectors(vec)
        out = np.zeros(len(vec), dtype=np.int32)
        out[idx] = cids[_np_sq_dists_seq(X, C).argmin(1)]
        return pa.array(out, mask=np.asarray(vec.is_null()))

    return _assign


def _fit_codebooks(spark, X, m: int, k: int, seed: int) -> PqModel:
    """m seeded per-subspace Lloyd's fits on a SORTED (n, dim) float64
    sample — the driver-side half of train_pq, callable directly when
    the caller already holds the training matrix (build_ivfpq's
    driver-side residual shortcut)."""
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    rows: list[tuple[int, int, list[float]]] = []
    subs = []
    for j in range(m):
        C = _lloyd(X[:, j * sub_dim : (j + 1) * sub_dim], k, seed + j)
        subs.append(C)
        rows.extend((j, code, [float(x) for x in C[code]]) for code in range(k))
    codebooks = local_frame(spark, rows, "sub int, code int, cvec array<double>")
    return PqModel(
        codebooks=codebooks,
        m=m,
        k=k,
        sub_dim=sub_dim,
        cb_np=np.asarray(subs, dtype=np.float64),
    )


def train_pq(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 0,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> PqModel:
    """Fit m per-subspace codebooks on a DRIVER-SIDE sample.

    The codebook is m×k×(d/m) doubles — kilobytes — so training it
    with distributed KMeans would spend hundreds of scheduler jobs on
    a model that fits in a page; like the PCA eigensolve
    (plans/mlplans.py), the right split is: Spark bounds the sample
    (``sample_fraction``), numpy fits the tiny model, Spark applies
    it everywhere (pq_encode is a narrow map). The collected sample
    is sorted before fitting, so codebooks do not depend on partition
    order; with no ``sample_fraction`` given, a corpus above the row
    cap is automatically down-sampled to it (bounded driver memory at
    any corpus size).

    The dimension check runs on the collected sample — the former
    separate ``.first()`` probe was a full extra execution of the
    upstream plan whenever an exchange sat between source and sample
    (measured: one whole assignment pass of the IVFPQ build)."""
    rows = _collect_train_sample(corpus.select(vec_col), vec_col, sample_fraction, seed)
    if not rows:
        raise ValueError("train_pq: empty training sample (empty corpus?)")
    X = np.asarray(sorted(tuple(r[0]) for r in rows), dtype=np.float64)
    return _fit_codebooks(corpus.sparkSession, X, m=m, k=k, seed=seed)


def pq_encode(
    corpus: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> length m): a PURE NARROW MAP — zero
    shuffles, encoding 100 TB is scan → vectorized encode → write.

    The per-row math is ONE numpy pass per Arrow batch (pq_codes_udf,
    guide §4.2) instead of the m·k boxed zip_with/aggregate folds per
    row of the Catalyst form it replaced. Codes are bit-identical to
    that form (same sequential fold, same lowest-code tie break — the
    reference is tests/expression_refs.pq_code_expr, the pin
    tests/test_pq.py); only the two projected columns cross the
    Python boundary."""
    return corpus.select(
        F.col(id_col).alias("id"), pq_codes_udf(model)(F.col(vec_col)).alias("codes")
    )


def _pq_luts_local(
    queries: DataFrame, model: PqModel, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, lut array<array<double>>) as a LOCAL relation: per
    query, the m×k table of exact subspace distances, computed on the
    driver. Bounded by the ADC broadcast contract — the nq·m·k-double
    LUT table must broadcast anyway, and the collected query vectors
    are strictly smaller than it (k ≥ 1 codebook entries per
    sub-vector). Each pd entry is the same sequential double fold as
    the former zip_with/aggregate expression, so values are
    bit-identical. NULL
    query vectors are skipped (they can never rank: every lookup
    against them is undefined)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    CB = _codebook_np(model)
    m, _, sub_dim = CB.shape
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    out = []
    for r in q_rows:
        if r.qv is None:
            continue
        qv = np.asarray([float(x) for x in r.qv], dtype=np.float64)
        lut = [
            [
                float(d)
                for d in _np_sq_dists_seq(
                    qv[None, j * sub_dim : (j + 1) * sub_dim], CB[j]
                )[0]
            ]
            for j in range(m)
        ]
        out.append((r.query_id, lut))
    schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("lut", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    return local_frame(queries.sparkSession, out, schema)


def pq_topk(
    corpus_codes: DataFrame,
    model: PqModel,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, cand_id, adist, rank), rank 1 = nearest
    (smallest approximate squared L2). The corpus side is the code
    table only; each row costs m integer lookups into the broadcast
    per-query LUT.

    r9: the LUT is computed DRIVER-SIDE (_pq_luts_local) — it is a
    kilobyte model-sized table by the broadcast contract, and the
    former posexplode → broadcast-join → two collect_list groupBys
    spent three tiny shuffle stages per probe on data the driver can
    produce in microseconds. Values are bit-identical (same sequential
    fold per (sub, code) entry)."""
    lut_rows = _pq_luts_local(queries, model, id_col, vec_col)
    scored = (
        corpus_codes.crossJoin(F.broadcast(lut_rows))
        .where(F.col("id") != F.col("query_id"))
        .withColumn(
            "adist",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "codes",
                        "lut",
                        lambda c, row: F.element_at(row, c.cast("int") + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("cand_id"), "adist", "rank")
    )
