"""JVM-expression references for the engine's numpy kernels.

SRP-LSH buckets, MinHash signatures and band hashes, PQ codes and IVF
cell assignment run in numpy behind Arrow
(``operators/similarity._lsh_bucketize_explode``,
``operators/dedup._minhash_arrow_frame``, ``ml/pq.pq_codes_udf`` /
``argmin_cid_udf``, ``ml/ivfpq._coded_frame``). Each kernel is pinned
bit-identical to the Catalyst higher-order-function expression it
replaced; those expressions live here, as test code, because no query
runs them.

Every reference keeps the contract the pins compare: the sequential
left fold per dimension (seed 0.0, one double multiply and one add per
step), the hash family, and the tie-break (equal distances fall to the
smaller id). Plan-size optimisations that only matter at production
scale are left out, so the model tables are plain literal arrays and
the LSH weights are derived per row by the JVM ``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crime_spark_ml_spark.functions.hashing import shingles_expr


def minhash_agg(
    df: DataFrame, text_col: str, num_hashes: int, shingle_n: int, id_col: str
) -> DataFrame:
    """One column per permutation minimum (``__mh{i}``): explode the
    shingles, hash each shingle string once, then permutation i is
    ``min(xxhash64(__h, i))`` per ``id_col``."""
    ex = df.select(
        id_col, F.explode(F.expr(shingles_expr(text_col, shingle_n))).alias("sh")
    ).withColumn("__h", F.xxhash64("sh"))
    return ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__mh{i}")
            for i in range(num_hashes)
        ]
    )


def bucket_expr(vec_col: str, planes: int, table: int) -> F.Column:
    """SRP bucket id of one table: ``planes`` sign bits packed into a
    long, plane p first. The weight of dimension d in plane p is +1
    when ``xxhash64('<table>#<p>#<d>')`` is even, else -1. Empty and
    NULL vectors bucket to 0."""
    proj = (
        f"p -> CASE WHEN aggregate(sequence(0, size({vec_col}) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + IF(pmod(xxhash64(concat('{table}', '#', CAST(p AS STRING), '#', "
        f"CAST(d AS STRING))), 2) = 0, 1.0, -1.0) * CAST(element_at({vec_col}, d + 1) AS DOUBLE)) "
        f">= 0 THEN 1L ELSE 0L END"
    )
    # sequence(0, size - 1) on an empty array yields [0, -1] and
    # element_at(_, 0) throws under ANSI: guard before the projection
    return F.expr(
        f"IF(size({vec_col}) < 1, 0L, "
        f"aggregate(transform(sequence(0, {planes - 1}), {proj}), 0L, (acc, b) -> acc * 2 + b))"
    )


def sign_lsh_buckets(df: DataFrame, vec_col: str, planes: int, tables: int) -> DataFrame:
    """Append bucket ids for L hash tables: array ``lsh_buckets[t]``."""
    buckets = F.array(*[bucket_expr(vec_col, planes, t) for t in range(tables)])
    return df.withColumn("lsh_buckets", buckets)


def sq_l2_cols(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance as a zip_with/aggregate fold in double
    precision, dimension by dimension."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin(col: F.Column, offset: int, table) -> F.Column:
    """Id of the nearest ``(id, vector)`` entry to ``col[offset + 1 ..]``:
    array_min over (distance, id) structs, so equal distances fall to
    the smaller id. A NULL vector has no nearest entry: NULL."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    sq_l2_cols(
                        F.slice(col, offset + 1, len(v)),
                        F.array(*[F.lit(float(x)) for x in v]),
                    ).alias("d"),
                    F.lit(int(i)).alias("c"),
                )
                for i, v in table
            ]
        )
    )
    return F.when(col.isNotNull(), best.getField("c").cast("int"))


def argmin_cid_expr(pairs: list[tuple[int, list[float]]], vec: str | F.Column) -> F.Column:
    """Nearest-centroid id over literal ``(cid, centroid)`` pairs."""
    col = F.col(vec) if isinstance(vec, str) else vec
    return _argmin(col, 0, pairs)


def pq_code_expr(model, vec: str | F.Column) -> F.Column:
    """The m-code array of a ``ml.pq.PqModel``: per subspace, the
    nearest codebook entry, lowest code on ties; NULL for a NULL vector.
    When ``vec`` is a computed expression, bind it once per row with
    ``element_at(transform(array(<expr>), v -> pq_code_expr(m, v)), 1)``."""
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.when(
        col.isNotNull(),
        F.array(
            *[
                _argmin(col, j * model.sub_dim, enumerate(model.CB[j]))
                for j in range(model.m)
            ]
        ),
    )
