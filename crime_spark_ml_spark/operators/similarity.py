"""Similarity search over embedding columns (``array<float>``).

- **brute_force_topk**: exact cosine top-k of a (small, broadcast)
  query set against the full corpus — the correctness baseline. One
  scan, no shuffle of the corpus side; per-query top-k via a
  partitioned window.
- **lsh_topk / embedding_near_dups**: random-hyperplane (SRP) LSH —
  the scale path. Hyperplane weights are ±1 derived from
  xxhash64(table, plane, dim): deterministic, no stored model.
  Bucketing is one narrow numpy pass behind Arrow
  (_lsh_bucketize_explode); candidates come from bucket equality over
  L tables, and exact cosine re-ranks candidates only, so only
  (bucket, id) rows shuffle. The JVM expression the kernel is pinned
  bit-identical to is test code (tests/expression_refs.py).

At 100 TB the brute-force path is a deliberate full-scan benchmark;
LSH (or the IVF variant in ml/ivf.py) is what runs in production —
both return the same schema so they're swappable.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.vectors import _decode_vec_column, cosine, dot, dot_arrow, norm, seq_dot


@lru_cache(maxsize=16)
def _srp_weights(tables: int, planes: int, dim: int) -> "np.ndarray":
    """±1 hyperplane weight tensor (tables, planes, dim), float64 —
    weight[t, p, d] = +1 iff xxh64(f"{t}#{p}#{d}") is even, the exact
    family the JVM ``xxhash64`` reference in tests/expression_refs.py
    derives per row (pinned bit-identical in tests/test_datapipe.py).
    lru_cache + executor worker reuse make this a once-per-process
    cost."""
    from ..functions.hashing import xxh64

    W = np.empty((tables, planes, dim), dtype=np.float64)
    for t in range(tables):
        for p in range(planes):
            for d in range(dim):
                W[t, p, d] = 1.0 if xxh64(f"{t}#{p}#{d}".encode()) & 1 == 0 else -1.0
    return W


def _np_srp_fold(X64: "np.ndarray", tables: int, planes: int) -> "np.ndarray":
    """Bucket ids (rows, tables) int64 for a dense (rows, dim) float64
    block: per (table, plane), acc_d += w_d * x_d accumulated one
    dimension at a time — the same sequential left fold (seed 0.0) as
    the zip_with/aggregate expression, vectorized across rows. Bit b_p
    = (acc >= 0); bucket = fold_p (acc*2 + b), p ascending."""
    rows, d = X64.shape
    W = _srp_weights(tables, planes, d).reshape(tables * planes, d)
    acc = np.zeros((tables * planes, rows), dtype=np.float64)
    for col in range(d):
        acc += W[:, col, None] * X64[None, :, col]
    bits = (acc >= 0).astype(np.int64).reshape(tables, planes, rows)
    buckets = np.zeros((tables, rows), dtype=np.int64)
    for p in range(planes):
        buckets = buckets * 2 + bits[:, p, :]
    return buckets.T  # (rows, tables)


def _cos_from_norms(a: str, b: str, an: str, bn: str) -> F.Column:
    """cosine(a, b) with the two norms read from precomputed columns —
    bit-identical to functions.vectors.cosine (same folds, same
    product, same try_divide), but each row's norm is computed ONCE
    instead of once per pair (r9: 3 interpreted HOF folds per scored
    pair → 1)."""
    return F.try_divide(dot(a, b), F.col(an) * F.col(bn))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k cosine neighbors (excluding self) per query.

    ``match_cols`` turns this into *filtered* search: a candidate
    scores only when it agrees with the query on every listed metadata
    column (the production "search within tenant/label/language"
    constraint). The filter becomes part of the join condition — an
    equi-join key instead of a post-filter — so with a partitioned
    corpus the non-matching slices are never scanned, and the
    broadcast stays queries-sized either way."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qe"),
        norm(vec_col).alias("qn"),
        *[F.col(c).alias(f"q_{c}") for c in match_cols],
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("ce"),
        norm(vec_col).alias("cn"),
        *[F.col(col) for col in match_cols],
    )
    if match_cols:
        cond = [F.col(col) == F.col(f"q_{col}") for col in match_cols]
        joined = c.join(F.broadcast(q), cond)
    else:
        joined = c.crossJoin(F.broadcast(q))
    # expression dot, deliberately: at this path's pair counts
    # (corpus × a broadcast-small query set, ~10k at sf0.1) the
    # ArrowEvalPython boundary's fixed cost measures LARGER than the
    # interpreted fold it replaces (0.372 vs 0.509 s full-query A/B,
    # r10); the scale paths (lsh_topk, embedding_near_dups) score via
    # Arrow where pair volume pays for the boundary
    scored = (
        joined.where(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", F.round(_cos_from_norms("qe", "ce", "qn", "cn"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def _lsh_bucketize_explode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int,
    tables: int,
) -> DataFrame:
    """(id, e, n, t, bucket): SRP buckets for all L tables plus the L2
    norm in ONE vectorized Arrow pass, pre-exploded to a row per
    (input row, table). Bit-identical to the reference expression
    (tests/expression_refs.sign_lsh_buckets) + norm + posexplode —
    same hyperplane weights (xxh64 twin), same sequential
    per-dimension folds (_np_srp_fold, functions.vectors.seq_dot), pinned in
    tests/test_datapipe.py — with the interpreted-HOF per-element cost
    (tables·planes·dim CodegenFallback ops per row, the measured
    dominant cost of every LSH consumer) replaced by ~dim numpy vector
    ops per batch (guide §4.2). Known deviation, unreachable from the
    declared queries (well_formed_embeddings pre-filters): a NaN
    *element* gives plane bit 0 here where the expression gives bit 1
    (SQL orders NaN greatest, numpy NaN-compares false)."""
    import pyarrow as pa

    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("e", df.schema[vec_col].dataType),
            StructField("n", DoubleType()),
            StructField("t", IntegerType(), False),
            StructField("bucket", LongType(), False),
        ]
    )

    def fn(batches):
        for batch in batches:
            ids, evs = batch.column(0), batch.column(1)
            m = len(ids)
            if m == 0:
                continue
            lens, groups = _decode_vec_column(evs)
            norms = np.full(m, np.nan, dtype=np.float64)
            buckets = np.zeros((m, tables), dtype=np.int64)
            for d, (idx, X) in groups.items():
                norms[idx] = np.sqrt(seq_dot(X, X))
                buckets[idx] = _np_srp_fold(X, tables, planes)
            # lens == 0: the size<1 guard buckets to 0; norm folds to 0.0.
            # lens == -2 (null element): its NaN makes every plane's
            # fold NaN → bit 0 → bucket 0, as every plane's CASE WHEN
            # NULL falls to ELSE 0; the norm is masked NULL below.
            # lens == -1 (NULL vector): bucket 0 (zeros) / NULL norm.
            norms[lens == 0] = 0.0
            rep = pa.array(np.repeat(np.arange(m), tables))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(rep),
                    evs.take(rep),
                    pa.array(
                        np.repeat(norms, tables),
                        mask=np.repeat(lens < 0, tables),
                    ),
                    pa.array(np.tile(np.arange(tables, dtype=np.int32), m)),
                    pa.array(buckets.reshape(-1)),
                ],
                names=["id", "e", "n", "t", "bucket"],
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(fn, out_schema)


def _cap_buckets(df: DataFrame, max_bucket: int) -> DataFrame:
    """Skew guard (ported from dedup.minhash_lsh_candidates, which
    solved the same problem at operators/dedup.py:153-158): a bucket of
    b members yields O(b²) join pairs, so one degenerate bucket — e.g.
    zero/constant embeddings that land in bucket 0 of EVERY table —
    goes quadratic at scale. Buckets above the cap are dropped via a
    count window over the bucket key; the window's shuffle partitioning
    is reused by the equality join that follows, so the guard costs no
    extra shuffle. Dropped members still meet through their other,
    non-degenerate tables."""
    w = Window.partitionBy("t", "bucket")
    return (
        df.withColumn("__bucket_n", F.count("*").over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any table,
    re-ranked by exact cosine. Recall grows with ``tables`` and falls
    with ``planes`` (tested ≥0.5@k=5 vs brute force on the fixture,
    whose vectors are near-uniform random — the hardest case for LSH;
    clustered real-world embeddings bucket far better). Corpus buckets
    above ``max_bucket`` are dropped before the candidate join (see
    ``_cap_buckets``) — queries whose only collisions sat in a dropped
    bucket lose those candidates, which is the standard LSH trade: a
    bucket that large is not discriminative anyway."""
    # buckets + norms from the one-pass Arrow kernel (bit-identical to
    # the expression references — see _lsh_bucketize_explode); norms ride
    # from before the table explode, so distinct() gains only
    # functionally-dependent columns and its row set is unchanged
    cb = _cap_buckets(
        _lsh_bucketize_explode(corpus, id_col, vec_col, planes, tables).select(
            F.col("id").alias("cand_id"),
            F.col("e").alias("ce"),
            F.col("n").alias("cn"),
            "t",
            "bucket",
        ),
        max_bucket,
    )
    qb = _lsh_bucketize_explode(queries, id_col, vec_col, planes, tables).select(
        F.col("id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
        "t",
        "bucket",
    )
    # cosine is scored BEFORE the duplicate-collision dedup: cos is a
    # pure function of the pair, so distinct() over (ids, cos) yields
    # exactly the rows the former distinct-then-score produced — but
    # the dedup exchange now carries 3 narrow columns instead of two
    # embedding payloads per row (guide §2.3: shuffle keys and
    # metadata, not payloads). The dot runs vectorized behind one
    # ArrowEvalPython (guide §4.2), not as a per-pair interpreted fold.
    cands = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                F.try_divide(dot_arrow("qe", "ce"), F.col("qn") * F.col("cn")), 6
            ),
        )
        .select("query_id", "cand_id", "cos")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


# candidate pairs scored per gathered slice in the near-dup kernel: a
# capped bucket has up to max_bucket²/2 pairs, too many to gather as two
# (pairs, d) float64 copies at once; a slice is 64 MiB at d = 64
_PAIR_SLICE = 1 << 16


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidates +
    exact-cosine threshold (id_a < id_b). Buckets above ``max_bucket``
    emit no pairs (the ``_cap_buckets`` semantics, now enforced inside
    the group kernel) — without the cap one degenerate bucket makes
    the b²/2 pair expansion quadratic at scale. Members of a dropped
    bucket still pair through their other tables; bit-identical
    embeddings (which collide in ALL tables) belong to the exact-dedup
    path, not this one.

    Shape (r10, guide §8): bucketize+explode in one mapInArrow numpy
    pass, shuffle the exploded rows once by (t, bucket), and generate
    + score each bucket's i<j pairs inside applyInArrow — the former
    self-join evaluated an interpreted 64-element zip_with fold per
    collision pair inside the join CONDITION and rebuilt the whole
    bucketing subplan on both join sides (10 Exchanges → 3). cos stays
    a JVM round(try_divide(dot, n_a·n_b), 6) over the kernel's
    sequential-fold dot, so results are bit-identical (pinned in
    tests/test_datapipe.py)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    b = _lsh_bucketize_explode(corpus, id_col, vec_col, planes, tables)
    id_type = corpus.schema[id_col].dataType
    pa_id = to_arrow_type(id_type)
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("dot", DoubleType()),
            StructField("nprod", DoubleType()),
        ]
    )
    empty = pa.table(
        {
            "id_a": pa.array([], type=pa_id),
            "id_b": pa.array([], type=pa_id),
            "dot": pa.array([], type=pa.float64()),
            "nprod": pa.array([], type=pa.float64()),
        }
    )

    def pair_fn(tbl: "pa.Table") -> "pa.Table":
        m = tbl.num_rows
        if m < 2 or m > max_bucket:
            return empty
        ids = tbl.column("id").combine_chunks()
        ids_np = ids.to_numpy(zero_copy_only=False)
        lens, groups = _decode_vec_column(tbl.column("e"))
        ncol = tbl.column("n").combine_chunks()
        n_np = ncol.to_numpy(zero_copy_only=False)
        n_null = np.asarray(ncol.is_null())
        iu, ju = np.triu_indices(m, k=1)
        # an id repeated in a bucket never pairs with itself (the
        # strict id_a < id_b of the pair contract)
        distinct = ids_np[iu] != ids_np[ju]
        iu, ju = iu[distinct], ju[distinct]
        # dot defined only when both sides sit in the same length group
        # (zip_with pads a length mismatch with NULLs → NULL fold)
        dots = np.zeros(len(iu), dtype=np.float64)
        dot_null = np.ones(len(iu), dtype=bool)
        for d, (idx, X) in groups.items():
            both = (lens[iu] == d) & (lens[ju] == d)
            if not both.any():
                continue
            # block rows of the pair ends (idx is ascending)
            bi, bj = np.searchsorted(idx, iu[both]), np.searchsorted(idx, ju[both])
            acc = np.empty(len(bi), dtype=np.float64)
            for s in range(0, len(bi), _PAIR_SLICE):
                sl = slice(s, s + _PAIR_SLICE)
                acc[sl] = seq_dot(X[bi[sl]], X[bj[sl]])
            dots[both] = acc
            dot_null[both] = False
        # two empty vectors: the fold over zero products is its 0.0 seed
        zz = (lens[iu] == 0) & (lens[ju] == 0)
        dot_null[zz] = False
        a_first = ids_np[iu] < ids_np[ju]
        return pa.table(
            {
                "id_a": pa.array(
                    np.where(a_first, ids_np[iu], ids_np[ju]), type=pa_id
                ),
                "id_b": pa.array(
                    np.where(a_first, ids_np[ju], ids_np[iu]), type=pa_id
                ),
                "dot": pa.array(dots, mask=dot_null),
                "nprod": pa.array(
                    n_np[iu] * n_np[ju], mask=n_null[iu] | n_null[ju]
                ),
            }
        )

    pairs = b.groupBy("t", "bucket").applyInArrow(pair_fn, out_schema)
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.try_divide(F.col("dot"), F.col("nprod")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .distinct()
    )


def kcenter_select(corpus: DataFrame, k: int) -> DataFrame:
    """Greedy k-center (Gonzalez maxmin) over (vec_id, embedding):
    seed at MIN(vec_id), then k-1 lazy rounds each picking the point
    with the largest min cosine distance to the selected set (ties by
    vec_id). The selected set stays a <=k-row broadcast; each round
    costs one corpus pass — nothing quadratic ever materializes.
    Returns (round, vec_id, maxmin_dist_r), the radius sequence being
    the standard 2-approximation coverage certificate. Used by
    plans/datapipe.dp_coreset_kcenter and the scale harness."""
    seed_id = corpus.agg(F.min("vec_id")).first()[0]
    sel = corpus.where(F.col("vec_id") == seed_id).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_emb")
    )
    out = [
        corpus.where(F.col("vec_id") == seed_id).select(
            F.lit(1).cast("int").alias("round"),
            "vec_id",
            F.lit(None).cast("double").alias("maxmin_dist_r"),
        )
    ]
    for r in range(1, k):
        dists = corpus.crossJoin(F.broadcast(sel)).select(
            "vec_id",
            (F.lit(1.0) - cosine("embedding", "s_emb")).alias("d"),
        )
        best = (
            dists.groupBy("vec_id")
            .agg(F.min("d").alias("md"))
            .orderBy(F.col("md").desc(), "vec_id")
            .limit(1)
        )
        out.append(
            best.select(
                F.lit(r + 1).cast("int").alias("round"),
                "vec_id",
                F.round("md", 6).alias("maxmin_dist_r"),
            )
        )
        sel = sel.unionByName(
            corpus.join(
                F.broadcast(best.select(F.col("vec_id").alias("b_id"))),
                F.col("vec_id") == F.col("b_id"),
            ).select(
                F.col("vec_id").alias("s_id"),
                F.col("embedding").alias("s_emb"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("round")
