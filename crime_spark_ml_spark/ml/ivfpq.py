"""IVF×PQ (IVFADC) — the composed ANN scale path both module headers
promise (ml/ivf.py: "persist ``assign`` partitioned by cell_id";
ml/pq.py: "combine with IVF cell assignment so a probe scans nprobe/k
of the code table with LUT scoring").

The composition is the classic IVFADC layout (Jégou et al., TPAMI
2011): a coarse k-cell quantizer routes every vector to a cell, PQ
quantizes the RESIDUAL (vector − cell centroid) into m codes, and the
store is ``(id, codes)`` parquet partitioned by ``cid``. A probe then

  1. scores the query against the broadcast k×dim centroid table and
     keeps its ``nprobe`` nearest cells,
  2. builds one m×k lookup table PER (query, probed cell) from the
     query's residual against that cell — kilobytes, broadcast,
  3. reads ONLY the probed cells' files: on a persisted store
     (``ivfpq_topk(load_ivfpq(spark, path), ...)``) the ``cid IN``
     filter is directory-level partition pruning — ``PartitionFilters``
     on cid, nprobe/k of the corpus,
  4. scores each code row with m LUT lookups summed in double (pure
     JVM zip_with/aggregate — m adds per candidate, no Python),
  5. takes per-query top-k with a rank window; Spark's
     WindowGroupLimit pushes the ``rank <= k`` limit below the
     exchange, so each scan partition forwards at most k candidate
     rows per query instead of its whole cell.

Why residuals: within a cell, vectors share the centroid's offset, so
quantizing (vec − centroid) spends the codebook's 16 entries per
subspace on LOCAL structure — measurably better recall than coding
absolute vectors with the same bit budget, at zero extra search cost
(the LUT absorbs the centroid shift).

At 100 TB: the corpus never shuffles — encode writes once
(partitionBy cid), and every probe is a pruned scan + broadcast hash
join. The only exchange in the probe plan carries already-scored,
group-limited candidate rows keyed by query_id.

Metric contract (r8): this is a COSINE index — build/append/probe all
L2-normalize, so ADC-L2 is monotone in cosine and the raw shortlist
ranks like the exact-cosine truth (SCALE.md "r8: the metric fix").
Sizing (r9): ``build_ivfpq``'s default ``k_cells=None`` derives
~sqrt(n) via ``ivf.suggest_k_cells`` — linear n/constant sizing lets
a cell straddle modal clusters and collapses raw-ADC recall (the r8
`cells` experiment). Scale ``nprobe`` with the cell count (e.g.
``k_cells // 4`` probes ~25% of the corpus) when overriding.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import _list_array, l2_normalize
from ..sources.readers import local_frame
from .pq import (
    PqModel,
    _codebook_np,
    _dense_vectors,
    _np_l2_normalize,
    _np_pq_codes,
    _np_sq_dists_seq,
    train_pq,
)


@dataclass
class IvfPqIndex:
    centroids: DataFrame  # cid int, cvec array<double>
    pq: PqModel  # codebooks fit on residuals
    coded: DataFrame  # id, codes array<int>, cid
    # numpy mirror of the centroid table (cids sorted ascending, row i
    # of cent_np ↔ cent_cids[i]), carried so probes/appends/splits
    # never re-collect the kilobyte local relation (~0.4 s py4j
    # round-trip each). None on hand-built indexes; _cent_arrays falls
    # back to one collect then.
    cent_cids: object = None
    cent_np: object = None


def _cent_arrays(index: IvfPqIndex):
    """(cids int64 ascending, C float64) for an index — cached numpy
    mirror when present, else one collect of the centroid relation."""
    if index.cent_np is not None:
        return index.cent_cids, index.cent_np
    cents = sorted(index.centroids.collect(), key=lambda r: r.cid)
    if not cents:
        raise ValueError("index has no centroids")
    return (
        np.asarray([int(r.cid) for r in cents], dtype=np.int64),
        np.asarray([[float(x) for x in r.cvec] for r in cents], dtype=np.float64),
    )


# model arrays above this many bytes ship to tasks via sc.broadcast
# (torrent blocks, fetched once per executor/worker) instead of riding
# pickled inside every task closure. sqrt-n cell geometry reaches
# ~0.5 GB of centroids at the 1<<20 k_cells cap × dim 64 — closure
# transport would re-send that per task (guide §5: the driver should
# not be a data plane). 8 MiB keeps every current fixture/test on the
# closure path (plans and pickles unchanged) while making the gate
# automatic rather than a docstring promise.
_MODEL_CLOSURE_CAP_BYTES = 8 << 20


def _model_transport(spark: SparkSession, arrays: tuple):
    """Return (fetch, via_broadcast): ``fetch()`` yields the model
    arrays task-side. Below _MODEL_CLOSURE_CAP_BYTES the arrays ride
    the function closure (zero indirection, same bytes the folded
    literal used to carry); above it they ship ONCE via sc.broadcast
    and every task closure carries only the broadcast handle. The
    arrays themselves are identical either way — bit-identity of the
    encode is transport-independent."""
    total = sum(int(a.nbytes) for a in arrays)
    if total <= _MODEL_CLOSURE_CAP_BYTES:
        return (lambda: arrays), False
    bc = spark.sparkContext.broadcast(arrays)
    return (lambda: bc.value), True


def _coded_frame(
    source: DataFrame, cids, C, CB, id_col: str, vec_col: str, normalize: bool
) -> DataFrame:
    """(id, cid, codes) via ONE vectorized mapInArrow encode —
    (optional L2-normalize) → nearest-cell argmin → residual → m PQ
    codes, all in a single numpy pass per Arrow batch. This is the r9
    replacement for the interpreted Catalyst chain (argmin_cid_expr →
    broadcast-join residual → pq_code_expr, kept as test references
    in tests/expression_refs.py), whose CodegenFallback HOF folds
    were the dominant per-row cost of a build at sqrt-n cell counts
    (O(k_cells·dim) boxed lambda calls per row, guide §4.2). Every
    numpy step reproduces the chain's IEEE-754 double op in the same
    order, so cids, residuals and codes are bit-identical (tie break:
    first minimum = smallest cid / code; ``cids`` must be sorted
    ascending; pinned in tests/test_pq.py). Shared by build / append
    / split so every path stays bit-identical by construction.

    mapInArrow (a plan NODE, not an expression) rather than a
    struct-returning Arrow UDF: projection collapse can fold a struct
    UDF's field accesses into grouping/filter expressions where
    ExtractPythonUDFs cannot place them (INTERNAL_ERROR Cannot
    evaluate). Only the projected (id, vec) columns cross the Python
    boundary (guide §4: select before an opaque op). NULL vectors are
    dropped — the former expression chain dropped them at the residual
    inner join on cid. Model transport is size-gated (r10): below
    _MODEL_CLOSURE_CAP_BYTES the arrays ride the task closure (the
    same bytes the former folded plan literal carried); above it —
    sqrt-n cell counts at large n — they ship once via sc.broadcast
    and the closure carries only the handle."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cids = np.asarray(cids, dtype=np.int64)
    if len(cids) > 1 and not (np.diff(cids) > 0).all():
        raise ValueError("cids must be sorted ascending (argmin tie contract)")
    proj = source.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    schema = StructType(
        [
            StructField("id", proj.schema["id"].dataType),
            StructField("cid", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )
    fetch, _ = _model_transport(source.sparkSession, (cids, C, CB))

    def encode(batches):
        cids_, C_, CB_ = fetch()  # once per task
        for batch in batches:
            idx, X = _dense_vectors(batch.column(1))
            if not len(idx):
                continue
            if normalize:
                X = _np_l2_normalize(X)
            a = _np_sq_dists_seq(X, C_).argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(idx),
                    pa.array(cids_[a].astype(np.int32)),
                    _list_array(_np_pq_codes(X - C_[a], CB_)),
                ],
                names=["id", "cid", "codes"],
            )

    return proj.mapInArrow(encode, schema)


def build_ivfpq(
    corpus: DataFrame,
    k_cells: int | None = None,
    m: int = 8,
    k: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> IvfPqIndex:
    """``train_fraction`` bounds BOTH KMeans fits (coarse cells and
    residual codebooks) at scale — quantizers converge on a sample;
    assignment and encoding still touch every row.

    ``k_cells=None`` (the default) derives ~sqrt(n) cells from one
    corpus count via ``ivf.suggest_k_cells`` — the r8 `cells`
    experiment showed constant/linear sizing lets a cell straddle
    modal clusters and collapses raw-ADC recall (0.000 at 32 cells
    over 64 latent clusters), so the default must not be a small
    constant. The count is metadata-cheap on a parquet source; callers
    that already hold a row count can pass
    ``k_cells=suggest_k_cells(n)`` to skip the extra action.

    The index is a COSINE-metric index: vectors are L2-normalized
    before coarse assignment and residual encoding, so the ADC-L2
    distance is monotone in cosine (||u−v||² = 2−2·cos on the unit
    sphere) and the raw ADC shortlist ranks like the exact-cosine
    truth the recall harness measures against. Without this the ADC
    ordering on an unnormalized corpus tracks magnitude, not angle —
    the r7 recall curve's ~random raw-ADC ranking (SCALE_r07.json).
    exact_rerank is cosine and therefore unaffected.

    r9 shape (guide §1.2/§4.2): ONE sample pass + ONE encode pass over
    the corpus. The coarse sample collects normalized vectors; both
    quantizers fit driver-side; when the sample PROVABLY covers the
    whole corpus (under-cap limit probe) the PQ residual training set
    is derived in numpy from the already-collected vectors —
    bit-identical to re-running the assignment subplan, which the old
    flow executed twice more (train_pq's .first() dim probe + its
    sample collect). The encode is one vectorized Arrow pass
    (_encode_udf) instead of the interpreted argmin/residual/code
    expression chain; cids, residuals and codes are bit-identical."""
    from .ivf import suggest_k_cells
    from .pq import _collect_train_sample_info, _fit_codebooks, _lloyd

    if k_cells is None:
        k_cells = suggest_k_cells(corpus.count())
    spark = corpus.sparkSession
    normed = corpus.select(
        F.col(id_col).alias("id"), l2_normalize(vec_col).alias("vec")
    )
    sample, covers_all = _collect_train_sample_info(
        normed.select("vec"), "vec", train_fraction, seed
    )
    Xs = np.asarray(sorted(tuple(r.vec) for r in sample), dtype=np.float64)
    C = _lloyd(Xs, k_cells, seed)
    centroids = local_frame(
        spark,
        [(i, [float(x) for x in C[i]]) for i in range(k_cells)],
        "cid int, cvec array<double>",
    )
    if covers_all:
        # the sample IS the corpus: residuals for PQ training derive
        # driver-side (same sequential-fold argmin, same subtraction —
        # bit-identical values), saving a full Spark assignment pass
        V = np.asarray([tuple(r.vec) for r in sample], dtype=np.float64)
        a = _np_sq_dists_seq(V, C).argmin(1)
        Xr = np.asarray(sorted(map(tuple, V - C[a])), dtype=np.float64)
        pq = _fit_codebooks(spark, Xr, m=m, k=k, seed=seed)
    else:
        # over-cap corpus: train_pq's hash sampler must see the full
        # residual table (content-keyed on rvec, layout-independent) —
        # one vectorized assignment pass
        res = _assign_residual_frame(normed, C)
        pq = train_pq(
            res, m=m, k=k, seed=seed, vec_col="rvec", sample_fraction=train_fraction
        )
    coded = _coded_frame(
        corpus,
        list(range(k_cells)),
        C,
        _codebook_np(pq),
        id_col,
        vec_col,
        normalize=True,
    )
    return IvfPqIndex(
        centroids=centroids,
        pq=pq,
        coded=coded,
        cent_cids=np.arange(k_cells, dtype=np.int64),
        cent_np=C,
    )


def _assign_residual_frame(normed: DataFrame, C) -> DataFrame:
    """(id, cid, rvec) via one vectorized mapInArrow pass over
    ALREADY-normalized (id, vec) rows — the over-cap training-sample
    source. Residuals are bit-identical to the former JVM
    broadcast-join + zip_with chain, so train_pq's xxhash64(rvec)
    sampler selects the same set. NULL vectors are dropped (the former
    residual inner join on cid did the same). Centroid transport is
    size-gated like _coded_frame's."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", normed.schema["id"].dataType),
            StructField("cid", IntegerType()),
            StructField("rvec", ArrayType(DoubleType())),
        ]
    )
    fetch, _ = _model_transport(normed.sparkSession, (C,))

    def assign(batches):
        (C,) = fetch()  # once per task
        for batch in batches:
            idx, X = _dense_vectors(batch.column(1))
            if not len(idx):
                continue
            a = _np_sq_dists_seq(X, C).argmin(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(idx),
                    pa.array(a.astype(np.int32)),
                    _list_array(X - C[a]),
                ],
                names=["id", "cid", "rvec"],
            )

    return normed.select("id", "vec").mapInArrow(assign, schema)


def persist_ivfpq(index: IvfPqIndex, path: str) -> None:
    """Cell-partitioned code store + tiny sidecar tables. The code
    table is ~m bytes of payload per row (vs 8·dim for floats); the
    centroid/codebook sidecars are kilobytes, written driver-side
    (sources/writers.write_sidecar — a Spark write job on a kilobyte
    local relation costs seconds of pure overhead)."""
    from ..sources.writers import write_sidecar

    # repartition by cid before the partitioned write: without it every
    # input split emits a file into every cell directory — input_splits
    # × k_cells files (measured 64 vs 16 on the fixture; at cluster
    # scale that's millions of tiny files). The ENCODE stays
    # shuffle-free; this one organization shuffle moves the m-byte CODE
    # table (a few % of corpus bytes), not vectors, and caps the layout
    # at one file per cell.
    index.coded.repartition("cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/coded")
    # sidecars straight from the numpy model mirrors when the index
    # carries them (build/load paths) — the DataFrame fallback's
    # toArrow costs a py4j round-trip per kilobyte table; same parquet
    # schema either way (int32 ids, float64 vectors)
    if index.cent_cids is not None:
        from ..sources.writers import write_sidecar_arrow

        write_sidecar_arrow(_centroids_arrow(index.cent_cids, index.cent_np),
                            f"{path}/centroids")
    else:
        write_sidecar(index.centroids, f"{path}/centroids")
    if index.pq.cb_np is not None:
        from ..sources.writers import write_sidecar_arrow

        write_sidecar_arrow(_codebooks_arrow(index.pq.cb_np), f"{path}/codebooks")
    else:
        write_sidecar(index.pq.codebooks, f"{path}/codebooks")
    # staleness bookkeeping: n_base from the written files' parquet
    # FOOTERS, read driver-side via pyarrow — zero Spark jobs (the
    # former Spark read-back count was one scheduler round-trip per
    # persist; Observation-on-the-write would be free but poisons the
    # session for later MLlib closures: registering an observation
    # makes any captured SparkSession non-serializable via its
    # ObservationManager). Local-FS walk only — the same contract the
    # sidecars already carry (write_sidecar).
    spark = index.coded.sparkSession
    _write_stats(spark, path, n_base=_count_parquet_rows(f"{path}/coded"), n_appended=0)


def _centroids_arrow(cids, C):
    """(cid int32, cvec list<double>) pyarrow table — the centroid
    sidecar's exact parquet schema, built driver-side from the numpy
    mirror."""
    return pa.table(
        {
            "cid": pa.array([int(c) for c in cids], pa.int32()),
            "cvec": pa.array(
                [[float(x) for x in row] for row in C], pa.list_(pa.float64())
            ),
        }
    )


def _codebooks_arrow(CB):
    """(sub int32, code int32, cvec list<double>) pyarrow table — the
    codebook sidecar's exact parquet schema, in the same (sub, code)
    row order train_pq's relation carries."""
    m, k, _ = CB.shape
    return pa.table(
        {
            "sub": pa.array([j for j in range(m) for _ in range(k)], pa.int32()),
            "code": pa.array([c for _ in range(m) for c in range(k)], pa.int32()),
            "cvec": pa.array(
                [[float(x) for x in CB[j][c]] for j in range(m) for c in range(k)],
                pa.list_(pa.float64()),
            ),
        }
    )


def _count_parquet_rows(path: str) -> int:
    """Total rows under a (possibly partitioned) parquet directory from
    file FOOTERS, driver-side via pyarrow — milliseconds, no Spark job.
    Mirrors the write_sidecar/read_sidecar_rows local-filesystem
    contract (an IVFPQ store lives on a path both can walk)."""
    import os

    import pyarrow.parquet as pq

    if "://" in path:
        raise ValueError(f"_count_parquet_rows reads the local filesystem only: {path}")
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


_METRIC = "cosine"  # r8 format: vectors/residuals stored L2-normalized


def _write_stats(spark: SparkSession, path: str, n_base: int, n_appended: int) -> None:
    # the metric stamp is the on-disk FORMAT marker: r8 changed the
    # stored bytes (normalized vectors/residuals), so a loader must be
    # able to tell a cosine-format store from a pre-r8 raw-L2 one.
    # Written straight via pyarrow (same bigint/bigint/string schema
    # the former one-row DataFrame carried) — no py4j round-trip.
    from ..sources.writers import write_sidecar_arrow

    write_sidecar_arrow(
        pa.table(
            {
                "n_base": pa.array([int(n_base)], pa.int64()),
                "n_appended": pa.array([int(n_appended)], pa.int64()),
                "metric": pa.array([_METRIC], pa.string()),
            }
        ),
        f"{path}/stats",
    )


def _check_metric(path: str) -> None:
    """Fail loudly on a store whose contents don't match this code's
    metric contract. A pre-r8 index holds UNNORMALIZED vectors; r8+
    code appending to / probing it with normalized vectors returns
    silently wrong rankings — the exact failure a format marker
    exists to prevent. Missing sidecar or missing/mismatched marker →
    rebuild with build_ivfpq + persist_ivfpq."""
    import os

    from ..sources.writers import read_sidecar_rows

    if not os.path.exists(f"{path}/stats"):
        raise ValueError(
            f"no stats sidecar at {path}/stats — index predates the "
            f"metric-stamped format and its vectors are not "
            f"L2-normalized; rebuild it with build_ivfpq/persist_ivfpq"
        )
    metric = read_sidecar_rows(f"{path}/stats")[0].get("metric")
    if metric != _METRIC:
        raise ValueError(
            f"index at {path} was built with metric="
            f"{metric if metric else '<unstamped>'}; this code reads/"
            f"writes {_METRIC}-format stores (L2-normalized) — rebuild "
            f"it with build_ivfpq/persist_ivfpq"
        )


def ivfpq_staleness(spark: SparkSession, path: str) -> dict:
    """{n_base, n_appended, staleness}: how much of the store was coded
    by quantizers that never saw it. Appended vectors are assigned and
    PQ-coded with centroids/codebooks fit before they arrived, so as
    the appended mass grows the codebooks drift off the data
    distribution and recall decays — staleness = n_appended / n_base is
    the retrain signal. Indexes persisted before stats existed read as
    fresh (n_base = current count, n_appended = 0)."""
    import os

    from ..sources.writers import read_sidecar_rows

    if os.path.exists(f"{path}/stats"):
        row = read_sidecar_rows(f"{path}/stats")[0]  # driver-side, no job
        n_base, n_appended = int(row["n_base"]), int(row["n_appended"])
    else:  # pre-stats index: treat current contents as the trained base
        n_base = _count_parquet_rows(f"{path}/coded")
        n_appended = 0
    return {
        "n_base": n_base,
        "n_appended": n_appended,
        "staleness": n_appended / n_base if n_base else float("inf"),
    }


def needs_retrain(spark: SparkSession, path: str, max_staleness: float = 0.25) -> bool:
    """Retrain trigger: True once the appended fraction exceeds
    ``max_staleness``. The caller owns the retrain itself (build_ivfpq
    over the full corpus + persist_ivfpq to a fresh path, then swap) —
    keeping the trigger separate from the act means the expensive
    rebuild can be scheduled, batched, or vetoed."""
    return ivfpq_staleness(spark, path)["staleness"] > max_staleness


def append_ivfpq(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental maintenance — the piece a production 100 TB ANN
    store needs beyond build-once: encode NEW vectors with the
    PERSISTED quantizers (no retrain) and append them to their cells.

    Same shape as the build path: assignment is a zero-shuffle
    literal-argmin over the k collected centroids (kilobytes), the
    residual PQ encode is a narrow map, and the write appends only the
    touched cid partition directories — existing files are never
    rewritten, and probes pick the new rows up on their next pruned
    scan with no index-wide operation. Id uniqueness is the caller's
    contract (append does not dedup against the store). Returns the
    updated staleness dict; check ``needs_retrain`` (or the returned
    staleness) to schedule a full rebuild."""
    index = load_ivfpq(spark, path)
    cids, C = _cent_arrays(index)  # numpy mirror, no local collect
    if len(cids) == 0:
        raise ValueError(f"no centroids at {path}/centroids — not an IVFPQ index")
    before = ivfpq_staleness(spark, path)
    # one vectorized encode pass — same cosine normalization, same
    # argmin/residual/code math as the build path (_coded_frame is the
    # single shared definition), bit-identical to the former
    # expression chain. Non-contiguous cids (post-split stores) map
    # through the sorted cid list, preserving the smallest-cid tie
    # break.
    coded_new = _coded_frame(
        new_vectors,
        cids,
        C,
        _codebook_np(index.pq),
        id_col,
        vec_col,
        normalize=True,
    )
    # same file-per-cell organization shuffle as persist_ivfpq
    coded_new.repartition("cid").write.mode("append").partitionBy("cid").parquet(
        f"{path}/coded"
    )
    # appended count from footer metadata, driver-side (no Spark
    # read-back job): everything beyond n_base is appended mass
    total = _count_parquet_rows(f"{path}/coded")
    _write_stats(
        spark, path, n_base=before["n_base"], n_appended=total - before["n_base"]
    )
    return ivfpq_staleness(spark, path)


def load_ivfpq(spark: SparkSession, path: str) -> IvfPqIndex:
    """Model geometry (m, k, sub_dim) is derived from the codebook
    table itself, so the parquet layout is self-describing.

    The sidecars are read DRIVER-SIDE (read_sidecar_rows — pyarrow,
    milliseconds, zero Spark jobs) and rebuilt as LOCAL relations: a
    probe's latency path pays no scheduler round-trips for kilobyte
    model tables, the geometry derivation is plain Python instead of
    an aggregation job per load, and the explicit python-int/float
    rebuild normalizes any pre-schema-preserving sidecar's widened
    types. Spark's parquet reader still works on the same directories
    for any external consumer."""
    from ..sources.writers import read_sidecar_rows

    _check_metric(path)  # refuse pre-cosine (unnormalized) stores
    # explicit read schema from ONE data file's footer (driver-side
    # pyarrow) — skips Spark's schema-inference pass over the store on
    # every load; the partitioned layout appends cid (declared int, so
    # no cast projection is needed either)
    coded = spark.read.schema(_coded_schema(f"{path}/coded")).parquet(
        f"{path}/coded"
    ).select("id", "codes", "cid")
    cent_rows = read_sidecar_rows(f"{path}/centroids")
    cb_rows = read_sidecar_rows(f"{path}/codebooks")
    if not cent_rows or not cb_rows:
        raise ValueError(f"empty centroid/codebook sidecars at {path}")
    centroids = local_frame(
        spark,
        [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in cent_rows],
        "cid int, cvec array<double>",
    )
    codebooks = local_frame(
        spark,
        [
            (int(r["sub"]), int(r["code"]), [float(x) for x in r["cvec"]])
            for r in cb_rows
        ],
        "sub int, code int, cvec array<double>",
    )
    m = max(r["sub"] for r in cb_rows) + 1
    k = max(r["code"] for r in cb_rows) + 1
    cb: dict[int, list] = {}
    for r in cb_rows:
        cb.setdefault(int(r["sub"]), [None] * k)[int(r["code"])] = [
            float(x) for x in r["cvec"]
        ]
    pq = PqModel(
        codebooks=codebooks,
        m=m,
        k=k,
        sub_dim=max(len(r["cvec"]) for r in cb_rows),
        cb_np=np.asarray(
            [[cb[j][c] for c in range(k)] for j in range(m)], dtype=np.float64
        ),
    )
    srt = sorted(cent_rows, key=lambda r: int(r["cid"]))
    return IvfPqIndex(
        centroids=centroids,
        pq=pq,
        coded=coded,
        cent_cids=np.asarray([int(r["cid"]) for r in srt], dtype=np.int64),
        cent_np=np.asarray(
            [[float(x) for x in r["cvec"]] for r in srt], dtype=np.float64
        ),
    )


def _coded_schema(coded_path: str):
    """Spark read schema for a cell-partitioned code store, derived
    from one part file's parquet footer plus the cid partition column
    — driver-side pyarrow, no Spark inference job."""
    import os

    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import IntegerType, StructField, StructType

    for root, _dirs, files in os.walk(coded_path):
        for name in sorted(files):
            if name.endswith(".parquet"):
                arrow = papq.ParquetFile(os.path.join(root, name)).schema_arrow
                fields = [
                    StructField(f.name, from_arrow_type(f.type), True) for f in arrow
                ]
                return StructType(fields + [StructField("cid", IntegerType(), True)])
    raise FileNotFoundError(f"no parquet data files under {coded_path}")


# the LUT local relation must broadcast (and its query vectors collect
# to the driver first) — cap its payload so an unbounded query frame
# fails loudly at the contract instead of OOMing the driver/broadcast.
# 256 MiB of LUT doubles ≈ 16M (query, cell) m×k tables at m=16,k=16:
# far past any sane probe batch; callers with more must batch queries.
_PROBE_LUT_CAP_BYTES = 256 << 20


def _probe_lut_rows(
    index: IvfPqIndex,
    queries: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[list, "object"]:
    """(python rows, schema) of the (query_id, cid, lut) probe table:
    for each query's nprobe nearest cells, the m×k table of exact
    subspace distances from the query's residual in that cell. Size
    nq·nprobe·m·k doubles — always broadcastable, so it is computed
    DRIVER-SIDE from one collect of the query vectors (strictly smaller
    than the LUT table itself); the rows stay python so ivfpq_topk
    derives the probed-cell IN-list without collecting the local
    relation back. NULL query vectors are skipped: they can never rank.

    r10: one vectorized numpy pass over ALL collected query vectors —
    normalize, cell distances, probed-cell selection and every m×k LUT
    are batched — instead of a pure-python loop per (query, cell, sub).
    Bit-identity is by construction: _np_l2_normalize/_np_sq_dists_seq
    fold per dimension across rows, so batching more rows changes no
    value; the probed-cell ranking keeps the same stable argsort over
    cid-ascending centroids."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cids, C = _cent_arrays(index)
    CB = _codebook_np(index.pq)
    m, kk, sub_dim = CB.shape
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("cid", IntegerType()),
            StructField("lut", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    q_rows = [r for r in q_rows if r.qv is not None]
    if not q_rows:
        return [], schema
    nq = len(q_rows)
    lut_bytes = nq * min(nprobe, len(cids)) * m * kk * 8
    if lut_bytes > _PROBE_LUT_CAP_BYTES:
        raise ValueError(
            f"probe LUT would be {lut_bytes >> 20} MiB "
            f"({nq} queries × nprobe {nprobe} × {m}×{kk} doubles) — over "
            f"the {_PROBE_LUT_CAP_BYTES >> 20} MiB broadcast contract; "
            f"probe in smaller query batches"
        )
    Q = _np_l2_normalize(
        np.asarray([[float(x) for x in r.qv] for r in q_rows], dtype=np.float64)
    )
    cd = _np_sq_dists_seq(Q, C)  # (nq, k_cells)
    # row_number orderBy(cd, cid): stable sort over cid-ascending
    # centroids keeps the smaller cid on equal distances
    npb = min(nprobe, cd.shape[1])
    sel = np.argsort(cd, axis=1, kind="stable")[:, :npb]  # (nq, npb)
    QR = Q[:, None, :] - C[sel]  # (nq, npb, dim) residuals
    flat = QR.reshape(nq * npb, -1)
    # one batched sq-dist fold per subspace: (nq·npb, k) each
    luts = np.stack(
        [
            _np_sq_dists_seq(flat[:, j * sub_dim : (j + 1) * sub_dim], CB[j])
            for j in range(m)
        ],
        axis=1,
    )  # (nq·npb, m, k)
    out = []
    for qi in range(nq):
        qid = q_rows[qi].query_id
        for pi in range(npb):
            out.append(
                (
                    qid,
                    int(cids[sel[qi, pi]]),
                    luts[qi * npb + pi].tolist(),
                )
            )
    return out, schema


def _score_topk(coded: DataFrame, luts: DataFrame, k: int) -> DataFrame:
    """Broadcast-join the (query, cell) LUTs onto the code table on cid
    — the IVF scan — and rank by the ADC distance sum."""
    scored = (
        coded.join(F.broadcast(luts), "cid")
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


def ivfpq_topk(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC probe: same output schema as brute_force_topk / lsh_topk /
    ivf_topk / pq_topk — all five are swappable. The probed cell set
    (at most min(k_cells, nq·nprobe) ints, read off the driver-computed
    LUT rows) becomes a literal ``cid IN (...)`` predicate on the code
    table, so on a persisted store — ``ivfpq_topk(load_ivfpq(spark,
    path), ...)``, the 100 TB path — the scan reads nprobe/k_cells of
    the files via directory-level pruning (``PartitionFilters`` in the
    scan node) instead of scanning the corpus and filtering. The whole
    probe runs as ONE Spark job: pruned scan → broadcast LUT join →
    ADC → group-limited top-k window."""
    rows, schema = _probe_lut_rows(index, queries, nprobe, id_col, vec_col)
    luts = local_frame(queries.sparkSession, rows, schema)
    cells = sorted({int(r[1]) for r in rows})
    return _score_topk(index.coded.where(F.col("cid").isin(cells)), luts, k)


def exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist (the Faiss IndexRefineFlat
    step): fetch the ORIGINAL vectors for the shortlist's candidates
    only and keep the top-k by exact cosine. Output schema matches
    brute_force_topk, so refined probes stay swappable with the rest
    of the ANN family.

    Scale shape: the (query_id, cand_id) shortlist is nq·k·expand rows
    — kilobytes — so it BROADCASTS onto one corpus scan
    (BroadcastHashJoin keyed by id, no corpus shuffle); an id-sorted or
    z-ordered corpus layout (operators/layout.py) additionally turns
    the broadcast id set into row-group pruning. Queries broadcast the
    same way. Recall can only improve: every true neighbor the
    unrefined top-k finds is in the shortlist, and exact-cosine
    ordering never ranks >k items above a true top-k member."""
    from ..functions.vectors import cosine

    cand = shortlist.select("query_id", "cand_id")
    fetched = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("ce")
    ).join(F.broadcast(cand), "cand_id")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"))
    scored = fetched.join(F.broadcast(q), "query_id").withColumn(
        "cos", F.round(cosine("qe", "ce"), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def ivfpq_topk_refined(
    index: IvfPqIndex,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC + exact re-rank: ADC shortlist of k·expand, then
    ``exact_rerank`` on the originals — the standard recall knob that
    costs nq·k·expand exact distances instead of a wider nprobe's
    extra cell scans."""
    shortlist = ivfpq_topk(
        index, queries, k=k * expand, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
    return exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def cell_sizes(spark: SparkSession, path: str) -> dict[int, int]:
    """{cid: rows} for the persisted store — per-cell-directory parquet
    FOOTER sums read driver-side (r9: zero Spark jobs; was a group
    count job over the code table), the imbalance monitor that drives
    ``split_oversized_cells``."""
    import os

    sizes: dict[int, int] = {}
    base = f"{path}/coded"
    for entry in os.listdir(base):
        if entry.startswith("cid="):
            sizes[int(entry.split("=", 1)[1])] = _count_parquet_rows(
                os.path.join(base, entry)
            )
    return sizes


def split_oversized_cells(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    max_rows: int,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Hierarchical-coarse-quantizer maintenance: split every cell
    holding more than ``max_rows`` vectors into two sub-cells — the
    production fix for k-means cell imbalance (SCALE.md measured a
    4x max/p50 tail at 64 cells; a probe landing in a fat cell scans
    that multiple of the median). Each fat cell gets a seeded 2-means
    on a bounded driver-side sample of ITS vectors, its members are
    re-assigned by literal argmin and re-encoded as residuals against
    their new centroid with the UNCHANGED global PQ codebooks, and the
    store gains two fresh cid partitions.

    ``corpus`` is the system of record (id → vector): codes are
    re-derived from source vectors, never round-tripped through the
    lossy PQ decode. Only fat cells' members are touched — the rest of
    the store's files are never rewritten or read beyond the size
    count.

    Commit protocol (ordering matters): (1) append the new cid
    partitions, (2) rewrite the centroids sidecar — the COMMIT POINT,
    since probes route by the centroid table and a cid absent from it
    is never scanned (PartitionFilters prune it), (3) delete the old
    cell directories (bookkeeping GC — required for load_ivfpq /
    staleness counts, unreachable by probes either way). A crash
    before (2) leaves the old index fully intact; between (2) and (3)
    probes are already correct and only the orphan GC remains.

    Splitting iterates: a 2-means halves a fat cell, and a child that
    is still over the cap re-enters the next pass — the hierarchical
    refinement converges in O(log2(n_fat/max_rows)) passes. A cell
    whose 2-means makes no progress (every member lands in one child —
    e.g. more than ``max_rows`` IDENTICAL vectors, which no geometry
    separates) is recorded under ``"unsplittable"`` and left intact
    rather than looping or failing the whole maintenance job.

    Returns {"split": [{cid, n, into}, ...], "unsplittable": [cids],
    "k_cells": new count}.
    """
    import os
    import shutil

    from .pq import _collect_train_sample, _lloyd

    if max_rows < 2:
        raise ValueError(f"max_rows must be >= 2, got {max_rows}")
    index = load_ivfpq(spark, path)
    CB = _codebook_np(index.pq)  # global PQ codebooks, unchanged by splits
    sizes = cell_sizes(spark, path)
    all_cids, all_C = _cent_arrays(index)  # numpy mirror, no local collect
    centroid_map = {
        int(c): [float(x) for x in v] for c, v in zip(all_cids, all_C)
    }
    # same cosine-metric normalization as build/append/probe: split
    # cells get 2-means centroids and PQ residuals on the SAME unit
    # sphere the quantizers were fit on — without this, probes route
    # and score normalized queries against split-cell geometry trained
    # on raw magnitudes (the r7 magnitude-ranking bug, reintroduced
    # only for split cells, with the correctly-coded originals deleted
    # at the commit point)
    vecs = corpus.select(F.col(id_col).alias("id"), l2_normalize(vec_col).alias("vec"))
    # next id from BOTH tables: an empty cell (centroid present, zero
    # coded rows — _lloyd pads degenerate fits with duplicate centers
    # that lose every argmin tie) holds the max cid in centroids only;
    # deriving from sizes alone would hand its cid to a new child and
    # silently overwrite the existing centroid
    next_cid = max(max(sizes), max(centroid_map)) + 1
    split_info: list[dict] = []
    unsplittable: list[int] = []
    gc_dirs: list[int] = []

    fat = sorted(c for c, n in sizes.items() if n > max_rows)
    while fat:
        cid = fat.pop(0)
        coded_store = spark.read.parquet(f"{path}/coded")
        members = coded_store.where(F.col("cid") == cid).select("id")
        cell_vecs = vecs.join(members, "id")
        n_covered = cell_vecs.count()
        if n_covered != sizes[cid]:
            # the old cell directory is DELETED after re-encode — an
            # inner join that silently drops members absent from the
            # corpus (e.g. appended vectors when the caller passes the
            # original source) would be silent data loss
            raise ValueError(
                f"corpus covers {n_covered}/{sizes[cid]} members of cell "
                f"{cid} — pass the full system-of-record (base + appended "
                f"vectors) to split_oversized_cells"
            )
        sample = _collect_train_sample(cell_vecs.select("vec"), "vec", None, seed)
        X = np.asarray(sorted(tuple(r.vec) for r in sample), dtype=np.float64)
        C2 = _lloyd(X, 2, seed)
        cid_a, cid_b = next_cid, next_cid + 1
        next_cid += 2
        pair = [(cid_a, [float(x) for x in C2[0]]), (cid_b, [float(x) for x in C2[1]])]
        # one vectorized re-encode against the two sub-centroids and
        # the UNCHANGED global codebooks (_coded_frame — the same
        # shared definition as build/append, bit-identical to the
        # former argmin/residual/code expression chain). normalize=
        # False: cell_vecs is already on the unit sphere.
        C2f = np.asarray([pair[0][1], pair[1][1]], dtype=np.float64)
        coded_new = _coded_frame(
            cell_vecs, [cid_a, cid_b], C2f, CB, "id", "vec", normalize=False
        )
        child_n = {
            int(r.cid): int(r.n)
            for r in coded_new.groupBy("cid").agg(F.count("*").alias("n")).collect()
        }
        if len(child_n) < 2:  # no geometric progress: all members in one child
            unsplittable.append(int(cid))
            next_cid -= 2
            continue
        coded_new.repartition("cid").write.mode("append").partitionBy("cid").parquet(
            f"{path}/coded"
        )
        del centroid_map[cid]
        centroid_map[cid_a], centroid_map[cid_b] = pair[0][1], pair[1][1]
        split_info.append({"cid": int(cid), "n": sizes[cid], "into": [cid_a, cid_b]})
        gc_dirs.append(int(cid))
        for c in (cid_a, cid_b):  # children over the cap re-enter the queue
            sizes[c] = child_n[c]
            if child_n[c] > max_rows:
                fat.append(c)
    if not split_info:
        return {
            "split": [],
            "unsplittable": unsplittable,
            "k_cells": len(centroid_map),
        }
    # commit point: probes route by this table from here on (pyarrow
    # write, same parquet schema as the former one-row-relation path)
    from ..sources.writers import write_sidecar_arrow

    ordered = sorted(centroid_map.items())
    write_sidecar_arrow(
        _centroids_arrow([c for c, _ in ordered], [v for _, v in ordered]),
        f"{path}/centroids",
    )
    for cid in gc_dirs:  # orphan GC
        shutil.rmtree(os.path.join(path, "coded", f"cid={cid}"))
    return {
        "split": split_info,
        "unsplittable": unsplittable,
        "k_cells": len(centroid_map),
    }
