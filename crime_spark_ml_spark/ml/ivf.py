"""IVF (inverted-file) approximate nearest neighbor — the
coarse-quantizer scale path promised alongside SRP-LSH
(operators/similarity.py).

Build: k centroids (driver-side seeded Lloyd's on a bounded sample —
the model is kilobytes) partition the corpus into cells; each vector
is assigned once by a zero-shuffle narrow map (pq.argmin_cid_udf, one
numpy pass per Arrow batch).
Search: a query scores only the vectors in its ``nprobe`` nearest
cells — corpus scanned ∝ nprobe/k instead of 1.0 — then exact cosine
re-ranks the candidates.

The fitted model is two numpy arrays, ``cids`` and ``C`` (k×dim,
kilobytes); a probe broadcasts them as a local centroid relation, and
the candidate join shuffles only (cell_id, vector) pairs.
At 100 TB you'd persist ``assign`` partitioned by cell_id so a probe
prunes partitions instead of scanning.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
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
    """A fitted IVF index: centroid ``C[i]`` (float64, k×dim) has id
    ``cids[i]`` (int64, ascending), and ``assigned`` is the (id, vec,
    cid) corpus table."""

    cids: np.ndarray
    C: np.ndarray
    assigned: DataFrame


def write_centroids(cids, C, dest: str) -> None:
    """The centroid sidecar of an IVF or IVF×PQ store: one (cid int32,
    cvec list<double>) parquet row per cell, written driver-side
    (sources/writers.write_sidecar_arrow)."""
    from ..sources.writers import write_sidecar_arrow

    write_sidecar_arrow(
        pa.table(
            {
                "cid": pa.array([int(c) for c in cids], pa.int32()),
                "cvec": pa.array(np.asarray(C).tolist(), pa.list_(pa.float64())),
            }
        ),
        dest,
    )


def read_centroids(src: str):
    """(cids int64 ascending, C float64) from a centroid sidecar —
    driver-side pyarrow, no Spark job."""
    from ..sources.writers import read_sidecar_rows

    rows = sorted(read_sidecar_rows(src), key=lambda r: int(r["cid"]))
    return (
        np.asarray([int(r["cid"]) for r in rows], dtype=np.int64),
        np.asarray([[float(x) for x in r["cvec"]] for r in rows], dtype=np.float64),
    )


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
    cids, C = np.arange(k, dtype=np.int64), _lloyd(X, k, seed)
    assigned = vecs.withColumn("cid", argmin_cid_udf(cids, C)(F.col("vec")))
    return IvfIndex(cids=cids, C=C, assigned=assigned)


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
    brute_force_topk/lsh_topk — the three are swappable. The centroid
    arrays broadcast as a local (cid, cvec) relation built here."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"))
    centroids = local_frame(
        queries.sparkSession,
        list(zip(index.cids.tolist(), index.C.tolist())),
        "cid int, cvec array<double>",
    )
    probed = (
        q.crossJoin(F.broadcast(centroids))
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
    index.assigned.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/assigned")
    write_centroids(index.cids, index.C, f"{path}/centroids")


def load_ivf(spark, path: str) -> IvfIndex:
    """Centroids load driver-side (zero Spark jobs for a kilobyte model
    table); the assigned corpus stays a distributed parquet read."""
    assigned = spark.read.parquet(f"{path}/assigned").select(
        "id", "vec", F.col("cid").cast("int").alias("cid")
    )
    cids, C = read_centroids(f"{path}/centroids")
    return IvfIndex(cids=cids, C=C, assigned=assigned)
