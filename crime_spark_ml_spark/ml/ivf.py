"""IVF (inverted-file) approximate nearest neighbor — the
coarse-quantizer scale path promised alongside SRP-LSH
(operators/similarity.py).

Build: k centroids (driver-side seeded Lloyd's on a bounded sample —
the model is kilobytes) partition the corpus into cells; each vector
is assigned once by a zero-shuffle literal-argmin map.
Search: a query scores only the vectors in its ``nprobe`` nearest
cells — corpus scanned ∝ nprobe/k instead of 1.0 — then exact cosine
re-ranks the candidates.

Everything is DataFrame ops: the centroid table is tiny (k×dim) and
broadcast; the candidate join shuffles only (cell_id, vector) pairs.
At 100 TB you'd persist ``assign`` partitioned by cell_id so a probe
prunes partitions instead of scanning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..sources.readers import local_frame


def suggest_k_cells(n_vectors: int, min_cells: int = 16, max_cells: int = 1 << 20) -> int:
    """Coarse-quantizer sizing for an n-row corpus: ~sqrt(n), clamped.

    The r8 `cells` experiment (SCALE.md, SCALE_r08.json) measured the
    failure mode of linear sizing (k_cells = n/constant): once a cell
    straddles more than one modal cluster, PQ spends its codebook
    separating modes instead of ranking within them and raw-ADC recall
    collapses to zero. sqrt(n) keeps cell count AND cell size growing
    as sqrt(n) — the standard IVF balance (probe cost per cell vs
    number of cells scanned) — and at 100 TB is reached with kmeans on
    a bounded sample, never a full pass. Pure arithmetic, no Spark
    action: callers pass a row count they already have."""
    if n_vectors <= 0:
        return min_cells
    return max(min_cells, min(max_cells, int(round(n_vectors ** 0.5))))


@dataclass
class IvfIndex:
    centroids: DataFrame  # cid int, cvec array<double>
    assigned: DataFrame  # id, vec, cid


def build_ivf(
    corpus: DataFrame,
    k: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> IvfIndex:
    """Centroids fit DRIVER-SIDE (seeded Lloyd's on a bounded,
    partition-order-independent sample — the PQ-codebook split: the
    model is k×dim doubles, kilobytes; distributed KMeans would spend
    hundreds of scheduler jobs on it). Assignment covers every row as
    a PURE NARROW MAP — zero shuffles, so indexing 100 TB is scan →
    project → write. r9: the per-row argmin runs as one numpy pass per
    Arrow batch (pq.argmin_cid_udf) instead of k interpreted
    zip_with/aggregate folds (guide §4.2); cids are bit-identical
    (same sequential fold, same smallest-cid tie break).
    ``sample_fraction`` bounds the fit; with none given, corpora above
    the row cap are automatically down-sampled to it."""
    import numpy as np

    from .pq import _collect_train_sample, _lloyd, argmin_cid_udf

    sc = corpus.sparkSession.sparkContext
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # the fixture's single parquet file arrives as ONE input split, which
    # would serialize the per-row assignment math onto one core; real
    # corpora have >= cores splits, so this shuffle only fires in the
    # degenerate case (the single-row-group trap documented in COVERAGE.md)
    if vecs.rdd.getNumPartitions() < sc.defaultParallelism:
        vecs = vecs.repartition(sc.defaultParallelism)
    rows = _collect_train_sample(vecs.select("vec"), "vec", sample_fraction, seed)
    X = np.asarray(sorted(tuple(r.vec) for r in rows), dtype=np.float64)
    C = _lloyd(X, k, seed)
    spark = corpus.sparkSession
    centroids = local_frame(
        spark,
        [(i, [float(x) for x in C[i]]) for i in range(k)],
        "cid int, cvec array<double>",
    )
    assign = argmin_cid_udf([(i, [float(x) for x in C[i]]) for i in range(k)])
    assigned = vecs.withColumn("cid", assign(F.col("vec")))
    return IvfIndex(centroids=centroids, assigned=assigned)


def ivf_topk(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the nprobe closest cells per query,
    exact-cosine re-rank inside them. Same output schema as
    brute_force_topk/lsh_topk — the three are swappable."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"))
    probed = (
        q.crossJoin(F.broadcast(index.centroids))
        .withColumn("sim", cosine("qe", "cvec"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), "cid")
            ),
        )
        .where(F.col("crank") <= nprobe)
        .select("query_id", "qe", "cid")
    )
    cands = (
        index.assigned.join(F.broadcast(probed), "cid")
        .where(F.col("id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine("qe", "vec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("cand_id"), "cos", "rank")
    )


def persist_ivf(index: IvfIndex, path: str) -> None:
    """Write the index with the corpus partitioned BY CELL — the 100 TB
    layout: a probe of nprobe cells then reads nprobe/k of the files
    via partition PRUNING (directory-level skip, visible as
    PartitionFilters in the scan), instead of scanning the corpus and
    filtering. Centroids are a single tiny file next to it."""
    from ..sources.writers import write_sidecar

    index.assigned.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/assigned")
    write_sidecar(index.centroids, f"{path}/centroids")


def load_ivf(spark, path: str) -> IvfIndex:
    """Centroids load driver-side into a LOCAL relation (zero Spark
    jobs for a kilobyte model table — see load_ivfpq); the assigned
    corpus stays a distributed parquet read."""
    from ..sources.writers import read_sidecar_rows

    assigned = spark.read.parquet(f"{path}/assigned").select(
        "id", "vec", F.col("cid").cast("int").alias("cid")
    )
    centroids = local_frame(
        spark,
        [
            (int(r["cid"]), [float(x) for x in r["cvec"]])
            for r in read_sidecar_rows(f"{path}/centroids")
        ],
        "cid int, cvec array<double>",
    )
    return IvfIndex(centroids=centroids, assigned=assigned)

