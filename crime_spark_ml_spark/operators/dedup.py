"""Deduplication operators for the large-scale training-data pipeline:
exact, MinHash-LSH near-dup, SimHash, n-gram Jaccard.

Scale design (the point of each implementation):
- **exact_dedup**: hash-groupBy on md5(text) — one shuffle keyed by a
  16-byte digest instead of the full document payload.
- **minhash_lsh_candidates**: shingle → minhash → band → bucket-join.
  Signatures and band hashes come from one Arrow pass (shingles
  hashed JVM-side, permutation minima and band hashes in numpy, no
  exchange); the only shuffle is the band-bucket self-join, whose
  key cardinality (bands × hash space) spreads uniformly. This is the
  classic sub-quadratic near-dup: candidate pairs ≈ colliding pairs,
  never all-pairs.
- **simhash_signatures**: 48-bit packed signature per doc; exact-match
  or low-Hamming grouping finds near-dups with a single groupBy.
- **jaccard_pairs**: exact token-set Jaccard via explode + count —
  used to verify/threshold LSH candidates (scoped to a partition key
  to stay sub-quadratic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import SIMHASH_BITS, shingles_expr


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct text; count the group size.
    Deterministic winner (vs dropDuplicates' arbitrary row)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def _np_minhash_merge(ids, h_i64, num_hashes: int, acc: dict) -> None:
    """Merge one batch's per-doc permutation minima into ``acc``
    (id → (num_hashes,) int64). Permutation i of shingle hash h is the
    JVM chain xxhash64(h, i) = hashInt(i, hashLong(h, 42)) — computed
    as ~12 uint64 vector ops per permutation via the pinned numpy
    twins, with hashLong(h, 42) shared across all i (the JVM evaluates
    it num_hashes times; same value). Segment minima use contiguous
    change-points (explode emits a doc's shingles consecutively), but
    the dict merge is order-independent, so correctness never relies
    on contiguity."""
    import numpy as np

    from ..functions.hashing import xxh64_int_np, xxh64_long_np

    u = h_i64.view(np.uint64)
    s1 = xxh64_long_np(u, np.uint64(42))
    perm = np.empty((len(u), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        perm[:, i] = xxh64_int_np(i, s1).view(np.int64)
    cut = np.nonzero(np.r_[True, ids[1:] != ids[:-1]])[0]
    mins = np.minimum.reduceat(perm, cut, axis=0)
    for j, pos in enumerate(cut):
        key = ids[pos]
        cur = acc.get(key)
        acc[key] = mins[j] if cur is None else np.minimum(cur, mins[j])


def _np_band_hashes(M, bands: int, rows_per_band: int):
    """(n, bands) int64 band hashes from (n, num_hashes) int64 minima —
    the exact chained-expression value: acc₀=42L, acc = xxhash64(acc,
    mh) = hashLong(mh, hashLong(acc, 42)) per row of the band."""
    import numpy as np

    from ..functions.hashing import xxh64_long_np

    n = M.shape[0]
    B = np.empty((n, bands), dtype=np.int64)
    for b in range(bands):
        a = np.full(n, 42, dtype=np.uint64)
        for r in range(rows_per_band):
            a = xxh64_long_np(
                M[:, b * rows_per_band + r].view(np.uint64),
                xxh64_long_np(a, np.uint64(42)),
            )
        B[:, b] = a.view(np.int64)
    return B


def _minhash_arrow_frame(
    df: DataFrame,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    id_col: str,
    parallelism: int | None,
    bands: int | None = None,
) -> DataFrame:
    """MinHash signatures — (id, minhash_sig) — or banded bucket rows —
    (id, band_pos, band_hash) — via ONE mapInArrow pass over the
    exploded (id, xxhash64(shingle)) rows. Bit-identical to the
    explode→groupBy(min(xxhash64(__h, i)))→band-chain expression form
    (the reference lives in tests/expression_refs.py and the pin in
    tests/test_datapipe.py): the shingle string is still
    hashed once JVM-side; the num_hashes permutation hashes and the
    per-doc minima — formerly the aggregation's dominant per-row cost
    AND a full shuffle of the exploded rows — run vectorized in numpy
    with NO exchange (a doc's shingles never leave its scan task,
    since explode and mapInArrow share the stage; guide §2.4/§4.2).
    Contract: ``id_col`` identifies each input row uniquely (a doc id)
    — duplicate ids across partitions would emit per-partition partial
    signatures where the old groupBy merged them globally.

    ``parallelism``: optional repartition of the *input docs* before
    the explode. The hash work is proportional to shingles × hashes
    and happens inside the scan stage, so a source that yields few
    input splits (the test fixtures are single-row-group parquet →
    ONE task) serializes it; a cheap doc-level shuffle spreads it.
    At 100 TB the scan already yields thousands of splits — leave it
    None there."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    src = df.repartition(parallelism) if parallelism else df
    ex = (
        src.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(shingles_expr(text_col, shingle_n))).alias("sh"),
        )
        .select("id", F.xxhash64("sh").alias("__h"))
    )
    id_type = df.schema[id_col].dataType
    pa_id = to_arrow_type(id_type)
    if bands is None:
        out_schema = StructType(
            [
                StructField("id", id_type),
                StructField("minhash_sig", ArrayType(LongType())),
            ]
        )
    else:
        if num_hashes % bands:
            raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
        out_schema = StructType(
            [
                StructField("id", id_type),
                StructField("band_pos", IntegerType(), False),
                StructField("band_hash", LongType(), False),
            ]
        )
    rows_per_band = num_hashes // bands if bands else 0

    def fn(batches):
        acc: dict = {}
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            h = np.asarray(batch.column(1).to_numpy(zero_copy_only=False), dtype=np.int64)
            _np_minhash_merge(ids, h, num_hashes, acc)
        if not acc:
            return
        keys = list(acc.keys())
        M = np.stack([acc[k] for k in keys])
        if bands is None:
            offs = np.arange(
                0, (len(keys) + 1) * num_hashes, num_hashes, dtype=np.int32
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys, type=pa_id),
                    pa.ListArray.from_arrays(pa.array(offs), pa.array(M.reshape(-1))),
                ],
                names=["id", "minhash_sig"],
            )
        else:
            B = _np_band_hashes(M, bands, rows_per_band)
            n = len(keys)
            rep = pa.array(np.repeat(np.arange(n), bands))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys, type=pa_id).take(rep),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                    pa.array(B.reshape(-1)),
                ],
                names=["id", "band_pos", "band_hash"],
            )

    return ex.mapInArrow(fn, out_schema)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, minhash_sig) only — the hot-path form (no payload re-join).
    One Arrow pass, zero exchanges (see _minhash_arrow_frame).

    Contract: ``id_col`` identifies each input row uniquely. A doc's
    minima are merged within one Arrow task, so an id repeated across
    partitions yields one partial signature per partition."""
    return _minhash_arrow_frame(
        df, text_col, num_hashes, shingle_n, id_col, parallelism
    ).select(F.col("id").alias(id_col), "minhash_sig")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
    parallelism: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_bands collisions).

    bands=8 × rows=4 over 32 hashes ≈ s-curve threshold ~0.59 Jaccard
    (t ≈ (1/b)^(1/r)). Tune bands up for recall, down for precision.

    ``max_bucket`` is the production skew guard: a bucket of b docs
    yields b²/2 pairs, so one degenerate bucket (boilerplate, empty
    strings) can dominate the whole job; buckets above the cap are
    dropped (their members still pair through their other bands).

    Contract: ``id_col`` identifies each input row uniquely, as in
    ``minhash_signatures``: an id repeated across partitions gets band
    rows from each partial signature.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}; trailing hash "
            f"components would be silently dropped and shift the s-curve"
        )
    # signatures + band hashes in one Arrow pass with NO aggregation
    # exchange (r10, guide §2.4/§4.2) — values bit-identical to the
    # former groupBy(min(xxhash64...)) + chained-xxhash64 band columns
    # (pinned in tests/test_datapipe.py)
    banded = _minhash_arrow_frame(
        df, text_col, num_hashes, 3, id_col, parallelism, bands=bands
    ).select(F.col("id").alias(id_col), "band_pos", "band_hash")
    # skew guard via a count window over the bucket key: one shuffle
    # that the self-join below reuses (same partitioning), vs the old
    # groupBy+join-back which shuffled `banded` twice.
    bucket_w = Window.partitionBy("band_pos", "band_hash")
    bounded = (
        banded.withColumn("__bucket_n", F.count("*").over(bucket_w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    left = bounded.alias("l")
    right = bounded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_pos") == F.col("r.band_pos"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash via explode + one groupBy: each distinct token is hashed
    exactly once (materialized column, shared by all bit expressions);
    per bit j the aggregate sums ±1 from bit j of the token hash, and
    the signs pack big-endian into a LONG. The row-local
    higher-order-function form (functions/hashing.simhash) re-evaluates
    split+hash once per output bit under Catalyst project-collapsing —
    ~bits× wasted work, the same trap a nested higher-order-function
    MinHash falls into."""
    toks = (
        df.select(
            id_col,
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("__w"),
        )
        .withColumn("__h", F.xxhash64("__w"))
    )
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(__h, {j}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"__b{j}")
            for j in range(bits)
        ]
    )
    packed_bits = ", ".join(
        f"IF(__b{j} >= 0, 1L, 0L)" for j in range(bits - 1, -1, -1)
    )
    sig = bit_sums.select(
        id_col,
        F.expr(f"aggregate(array({packed_bits}), 0L, (acc, b) -> acc * 2 + b)").alias(
            "simhash"
        ),
    )
    return df.join(sig, on=id_col, how="left")  # NULL-text docs keep NULL signature


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str = "source",
    max_scope: int = 10_000,
) -> DataFrame:
    """Exact distinct-token Jaccard for all pairs within a scope key.
    explode → (scope, token) self-join → |∩| per pair; |∪| from
    broadcast per-doc token counts. All-pairs WITHIN the scope: cost is
    Σ n_scope², so ``max_scope`` guards the degenerate case (one giant
    scope goes quadratic) the same way ``max_bucket`` guards LSH —
    scopes above the cap are dropped entirely (loud in the row count,
    never a silent partial sample). Use LSH candidates + this as the
    verification metric when scopes can exceed the cap."""
    scope_w = Window.partitionBy(scope_col)
    bounded = (
        df.withColumn("__scope_n", F.count("*").over(scope_w))
        .where(F.col("__scope_n") <= max_scope)
        .drop("__scope_n")
    )
    toks = bounded.select(
        id_col,
        scope_col,
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    counts = toks.groupBy(id_col).agg(F.count("*").alias("n_tok"))
    inter = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col(f"a.{scope_col}") == F.col(f"b.{scope_col}"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_clusters(
    pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id", max_iter: int = 10
) -> DataFrame:
    """Connected components over near-dup candidate pairs → cluster ids
    (min member id wins): the step that turns pairwise LSH hits into
    dedup groups ("keep one doc per cluster").

    Iterative min-label propagation with DataFrame joins: each round a
    node adopts the smallest label among itself and its neighbors.
    Duplicate clusters have tiny diameters (usually ≤2-3 hops), so this
    converges in a few rounds; each round is one shuffle join keyed by
    node id — no driver-side graph. Rounds stop early when a round
    changes nothing.

    The iteration runs ONLY over pair-touched nodes: an isolated node
    can never change its label, so looping it through every round just
    scales each join by |corpus| for nothing. Touched nodes are
    2·|pairs| at most — on a deduped web corpus a few percent of
    documents — and every propagated label is itself a touched node,
    so restricting the frontier is exact. Untouched ids rejoin as
    their own singleton cluster at the end (one anti-join, no
    iteration)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        # no .distinct(): min-label propagation is IDEMPOTENT under
        # duplicate edges (min over a multiset equals min over its
        # set), so deduping here bought correctness nothing and cost a
        # full shuffle of the edge set every build (r9). Every in-repo
        # producer (LSH groupBy output) is already pair-unique anyway.
        # materialize ONCE: every round fires 2+ actions that would
        # otherwise re-evaluate the whole upstream candidate pipeline
        # (shingle→minhash→band-join) behind this frame — shuffle-stage
        # reuse absorbs some of that, but not the map-side re-runs
        .localCheckpoint(eager=True)
    )
    touched = edges.select(F.col("src").alias("node")).distinct()
    labels = touched.withColumn("label", F.col("node"))
    converged = False
    prev_ck = None
    for rnd in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # old label rides along so the convergence check is a scan of
        # the checkpointed round, not a join back onto the prior round
        # (r9: one fewer join per round, same one action per round)
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # pointer-shortcut (path halving): adopt the label OF my label —
        # convergence in O(log diameter) rounds instead of O(diameter)
        parents = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        # localCheckpoint TRUNCATES LINEAGE — without it each round's
        # plan nests the previous rounds' joins and the logical plan
        # grows exponentially (analysis OOMs after ~8 rounds). Eager, so
        # the round materializes once; prior round's blocks released.
        new_full = (
            stepped.join(parents, stepped.label == parents.pnode, "left")
            .select(
                "node",
                "old",
                F.least(F.col("label"), F.coalesce("plabel", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if prev_ck is not None:
            prev_ck.unpersist()  # release the superseded round's blocks
        prev_ck = new_full
        labels = new_full.select("node", "label")
        # round 0 never converges when any edge exists (every edge joins
        # two DISTINCT ids, so the larger endpoint adopts the smaller
        # label), and with zero edges every frame is empty and round 1's
        # check costs nothing — so the round-0 convergence job is pure
        # overhead, skipped (r10; one fewer action per build). With
        # max_iter=1 there is no round 1 to check, so keep it.
        if rnd == 0 and max_iter > 1:
            continue
        changed = (
            new_full.where(F.col("label") != F.col("old")).limit(1).count()
        )
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — a "
            f"connected component is deeper than 2^{max_iter}; raise max_iter"
        )
    singletons = (
        ids.select(F.col(id_col).alias("node"))
        .join(touched, "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    return (
        labels.unionByName(singletons)
        .select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Exact duplicated-span detection (substring-level dedup, Lee et
    al. 2022): positioned token n-grams, the cross-document duplicate
    set via one groupBy on the gram, a join back to positions, and the
    islands trick (pos − row_number) merging consecutive duplicated
    grams into maximal spans.

    ``hashed=True`` is the scale path: grams travel as xxhash64 values
    (8 bytes) instead of the n-token text through the groupBy and join
    shuffles — the only change of representation; span output is
    identical because only gram equality is ever used.  The text form
    exists so an ANSI-SQL oracle can reproduce the pipeline
    (plans/datapipe.py::dp_duplicate_spans)."""
    toks = docs.where(F.col(text_col).isNotNull()).select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    ).where(F.size("t") >= n)
    gram = f"concat_ws(' ', slice(t, i, {n}))"
    if hashed:
        gram = f"xxhash64({gram})"
    grams = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t)-{n - 1}),"
                f" i -> struct(i AS pos, {gram} AS g))"
            )
        ).alias("x"),
    ).select(id_col, F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct(id_col).alias("nd"))
        .where(F.col("nd") > 1)
        .select("g")
    )
    hits = grams.join(dup, "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + n - 1).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + n).cast("bigint").alias("span_tokens"),
        )
        .drop("grp")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str = "source",
    max_scope: int = 10_000,
) -> DataFrame:
    """Directed set-CONTAINMENT |A∩B| / min(|A|, |B|) for pairs within
    a scope key — the asymmetric complement of ``jaccard_pairs``:
    Jaccard misses a short document wholly embedded in a long one
    (|∩|/|∪| stays small when |B| ≫ |A|), which is exactly the
    boilerplate/quotation/near-superset case corpus curation needs to
    catch. Same explode→self-join shape and Σ n_scope² bound; the
    ``max_scope`` cap drops oversized scopes loudly (identical
    semantics to jaccard_pairs, so the two metrics compose over the
    same candidate universe)."""
    scope_w = Window.partitionBy(scope_col)
    bounded = (
        df.withColumn("__scope_n", F.count("*").over(scope_w))
        .where(F.col("__scope_n") <= max_scope)
        .drop("__scope_n")
    )
    toks = bounded.select(
        id_col,
        scope_col,
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    counts = toks.groupBy(id_col).agg(F.count("*").alias("n_tok"))
    inter = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col(f"a.{scope_col}") == F.col(f"b.{scope_col}"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 6),
        )
        .select("id_a", "id_b", "containment")
    )


def kcore_peel(edges: DataFrame, k: int = 3, max_rounds: int = 60) -> tuple[DataFrame, int]:
    """Iteratively peel nodes of degree < k from a symmetric directed
    edge relation (u, w) until fixpoint; returns (surviving edges,
    rounds). Each round is one degree aggregation plus two anti-joins
    on the shrinking edge set, with localCheckpoint truncating the
    lineage — the same bounded-iteration discipline as the
    connected-components clustering above. Driver traffic is one
    boolean (low-set emptiness) per round; a loud cap instead of an
    unbounded spin. Converges in O(peeling depth) rounds: log2(n) on
    tree-like graphs, the degeneracy ordering depth in general."""
    edges = edges.localCheckpoint(eager=False)
    for rounds in range(1, max_rounds + 1):
        deg = edges.groupBy("u").agg(F.count("*").alias("d"))
        low = deg.where(F.col("d") < k).select("u").localCheckpoint(eager=False)
        if low.isEmpty():
            return edges, rounds
        edges = (
            edges.join(low, "u", "left_anti")
            .join(low.select(F.col("u").alias("w")), "w", "left_anti")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(f"k-core peeling did not converge in {max_rounds} rounds")
