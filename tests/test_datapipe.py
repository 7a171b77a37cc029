"""Operator tests for dedup / similarity / multimodal — the checks the
DuckDB oracle can't express (hash signatures, LSH recall, Arrow UDFs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crime_spark_ml_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_signatures,
)
from crime_spark_ml_spark.operators.multimodal import (
    decode_image,
    frame_sample,
    resize_plan,
    synthetic_media,
)
from crime_spark_ml_spark.operators.similarity import brute_force_topk, lsh_topk
from crime_spark_ml_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_dir):
    """Fixture docs + injected exact dups (id+10000) and near-dups
    (id+20000, first token dropped)."""
    docs = load_table(spark, sf_dir, "documents").limit(50).cache()
    exact = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup_groups_injected_dups(docs_with_dups):
    out = exact_dedup(docs_with_dups)
    dup_groups = out.where(F.col("n_dups") > 1)
    # the 5 exact dups collapse onto their originals (min doc_id wins)
    assert dup_groups.count() == 5
    assert {r.doc_id for r in dup_groups.collect()} == {0, 1, 2, 3, 4}


def test_minhash_finds_near_dups(docs_with_dups):
    cands = minhash_lsh_candidates(docs_with_dups).collect()
    pairs = {(r.id_a, r.id_b) for r in cands}
    # exact dups always collide in every band
    for i in range(5):
        assert (i, i + 10000) in pairs
    # near-dups (one token dropped → Jaccard ≈ 1) should be candidates
    found_near = sum((i, i + 20000) in pairs for i in range(5))
    assert found_near >= 4, f"minhash missed near-dups: {found_near}/5"


def test_minhash_signature_deterministic(spark, sf_dir):
    a = minhash_lsh_candidates(load_table(spark, sf_dir, "documents")).collect()
    b = minhash_lsh_candidates(load_table(spark, sf_dir, "documents")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_simhash_near_dups_close(docs_with_dups):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs_with_dups).collect()}
    for i in range(5):
        assert sigs[i] == sigs[i + 10000]  # identical text → identical signature
        ham = bin(sigs[i] ^ sigs[i + 20000]).count("1")
        assert ham <= 12, f"near-dup hamming too high: {ham}"


def test_jaccard_matches_injected_similarity(docs_with_dups):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs_with_dups, scope_col="source").collect()
    }
    for i in range(5):
        assert pairs[(i, i + 10000)] == 1.0


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_topk(emb, queries, k=5).collect()
    exact_set = {(r.query_id, r.cand_id) for r in exact}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_lsh_degenerate_bucket_capped(spark):
    """Skew guard: N identical (zero) embeddings land in bucket 0 of
    EVERY table — uncapped, the near-dup self-join would expand to
    ~N^2/2 pairs per table. With max_bucket below N the degenerate
    bucket is dropped entirely, and normal distinct vectors still
    find their planted twins."""
    import random

    from crime_spark_ml_spark.operators.similarity import (
        embedding_near_dups,
        lsh_topk,
    )

    rng = random.Random(7)
    dim = 8
    rows = [(i, [0.0] * dim) for i in range(200)]              # degenerate
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    for j, v in enumerate(base):                               # planted twins
        rows.append((1000 + j, v))
        rows.append((2000 + j, [x * 1.001 for x in v]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    pairs = embedding_near_dups(emb, threshold=0.95, max_bucket=50).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # zero-vector bucket dropped -> no pair touches ids < 1000
    assert not any(a < 1000 or b < 1000 for a, b in got), got
    # every planted twin survives the cap
    for j in range(10):
        assert (1000 + j, 2000 + j) in got, f"twin {j} lost to the cap"

    # lsh_topk: same corpus, twin queries still rank their twin first
    queries = emb.where(F.col("vec_id") >= 2000)
    top = lsh_topk(emb, queries, k=1, max_bucket=50).collect()
    hits = {r.query_id: r.cand_id for r in top}
    assert sum(hits.get(2000 + j) == 1000 + j for j in range(10)) >= 8


def test_multimodal_decode_stub(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = synthetic_media(docs)
    feats = decode_image(media).collect()
    assert len(feats) == 20
    by_id = {r.media_id: r for r in feats}
    sample = docs.select("doc_id", "text").collect()
    for row in sample[:5]:
        payload = row.text.encode()
        r = by_id[row.doc_id]
        assert r.n_bytes == len(payload)
        assert r.mean_byte == pytest.approx(round(sum(payload) / len(payload), 6))
        assert r.phash == int.from_bytes(payload[:6].ljust(6, b"\0"), "big")


def test_multimodal_real_codec_is_stubbed(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    with pytest.raises(NotImplementedError):
        decode_image(synthetic_media(docs), real_codec=True)


def test_multimodal_resize_and_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = frame_sample(resize_plan(synthetic_media(docs)))
    for r in media.collect():
        assert max(r.resize.width, r.resize.height) <= 256
        if r.kind == "video":
            assert r.frame_indices[0] == 0
            assert all(i < r.meta.n_frames for i in r.frame_indices)
        else:
            assert r.frame_indices is None


def test_duplicate_clusters_connected_components(spark):
    """A planted chain a-b, b-c, plus isolated pair d-e: components
    {a,b,c} and {d,e}, min-id labels."""
    from crime_spark_ml_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
    out = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_text_classifier_pipeline(spark, sf_dir):
    from crime_spark_ml_spark.ml.text_pipeline import train_text_classifier
    from crime_spark_ml_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    model, acc = train_text_classifier(docs, num_features=1 << 12, max_iter=5)
    assert 0.0 <= acc <= 1.0
    # 5 languages + the handleInvalid='keep' unseen-label slot
    assert model.stages[-1].numClasses == 6
    indexer = model.stages[-2]
    assert list(indexer.labels) == ["de", "en", "es", "fr", "zh"]
    scored = model.transform(docs)
    assert scored.select("prediction").distinct().count() >= 1


def test_chunk_documents_null_text_fails_loudly(spark):
    """NULL text must raise, not silently yield an all-NULL chunk row
    (split(NULL) is NULL; greatest ignores it so starts becomes [0])."""
    import pytest

    from crime_spark_ml_spark.operators.chunk import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="NULL 'text'"):
        chunk_documents(docs).collect()


def test_chunk_documents_boundaries(spark):
    """Window/stride edge cases: doc shorter than one chunk, exact
    multiple, off-by-one; overlap = chunk_size - stride."""
    from crime_spark_ml_spark.operators.chunk import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                                # < chunk_size -> 1 chunk
            (2, " ".join(f"w{i}" for i in range(20))),   # exactly chunk_size
            (3, " ".join(f"w{i}" for i in range(31))),   # 3 windows (starts 0,15,30)
        ],
        "doc_id int, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): r
        for r in chunk_documents(docs, chunk_size=20, stride=15).collect()
    }
    assert rows[(1, 0)].n_tokens == 3 and rows[(1, 0)].chunk_text == "a b c"
    assert rows[(2, 0)].n_tokens == 20
    # start 15 exists for doc 2 (15 <= 19) -> partial 5-token tail
    assert rows[(2, 1)].n_tokens == 5
    assert rows[(3, 0)].n_tokens == 20 and rows[(3, 1)].n_tokens == 16
    assert rows[(3, 2)].n_tokens == 1 and rows[(3, 2)].chunk_text == "w30"
    # overlap: last 5 tokens of chunk 0 == first 5 of chunk 1
    assert rows[(3, 0)].chunk_text.split()[-5:] == rows[(3, 1)].chunk_text.split()[:5]
    assert len(rows) == 6


def test_dedup_pipeline_removes_planted_dups(spark, sf_dir):
    """End-to-end dedup: every planted near-dup (one appended token)
    should land in its original's cluster and lose representative
    selection to the lower id."""
    from crime_spark_ml_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planteddupmarker")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    pairs = minhash_lsh_candidates(corpus)
    clusters = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(pairs, corpus.select("doc_id")).collect()
    }
    caught = sum(1 for i in range(20) if clusters[i] == clusters[i + 100000])
    assert caught >= 16, f"planted-dup recall {caught}/20"
    # representative selection: the original (lower id) wins its cluster
    survivors = {min(i for i, c in clusters.items() if c == cid) for cid in set(clusters.values())}
    assert all(i + 100000 not in survivors for i in range(20) if clusters[i] == clusters[i + 100000])


def test_bm25_matches_pure_python(spark, sf_dir):
    """Third implementation: compute Okapi BM25 in pure Python over the
    fixture and require the registered top-15 to match rank-for-rank
    (ids and 4-decimal scores). Guards the Spark plan and the DuckDB
    oracle against agreeing on the same mistake."""
    import math

    from crime_spark_ml_spark.plans.datapipe import dp_bm25_rank

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    terms = ("spark", "join", "vector")
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    k1, b = 1.2, 0.75

    def score(toks):
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf:
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        return round(s, 4)

    expected = sorted(
        ((score(toks), doc_id) for doc_id, toks in docs.items() if score(toks) > 0),
        key=lambda p: (-p[0], p[1]),
    )[:15]
    got = [(r.score, r.doc_id) for r in dp_bm25_rank(spark, sf_dir).collect()]
    assert got == expected


def test_duplicate_spans_hashed_equals_text(spark, sf_dir):
    """The hashed-gram scale path must produce byte-identical spans to
    the text-gram oracle path (only gram equality is consumed)."""
    from crime_spark_ml_spark.operators.dedup import duplicate_spans
    from crime_spark_ml_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, duplicate_spans(docs, n=5).collect()))
    b = sorted(map(tuple, duplicate_spans(docs, n=5, hashed=True).collect()))
    assert a == b
    assert len(a) > 0


def test_semdedup_twins_share_cell_and_prune(spark, sf_dir):
    """dp_semdedup's exact-oracle argument rests on every planted twin
    landing in its original's k-means cell (normalized vectors → same
    unit vector up to one ulp). Pin that, plus the prune result: the
    dropped set is exactly the 20 twins, each kept by its original."""
    from crime_spark_ml_spark.functions.vectors import norm
    from crime_spark_ml_spark.ml.ivf import build_ivf
    from crime_spark_ml_spark.plans.datapipe import dp_semdedup
    from crime_spark_ml_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    unit = corpus.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.try_divide(x.cast("double"), norm("embedding"))
        ).alias("unit_vec"),
    )
    idx = build_ivf(unit, k=16, seed=0, vec_col="unit_vec")
    cells = {r.id: r.cid for r in idx.assigned.select("id", "cid").collect()}
    for orig in range(20):
        assert cells[orig] == cells[orig + 1000000], (
            f"twin of {orig} crossed cells: {cells[orig]} vs {cells[orig + 1000000]}"
        )

    rows = dp_semdedup(spark, sf_dir).collect()
    assert [r.dropped_id for r in rows] == [1000000 + i for i in range(20)]
    assert all(r.kept_id == r.dropped_id - 1000000 for r in rows)
    assert all(r.max_cos == 1.0 for r in rows)


def test_tdigest_exact_on_small_input(spark):
    """A digest with more centroids than values reproduces quantiles
    exactly (no compression happened), and merging two partials over
    a split of the same data stays within the band of the exact
    quantile — the mergeability contract."""
    from crime_spark_ml_spark.operators.tdigest import (
        _compress,
        estimate_quantile,
        merge_digests,
        partial_digests,
    )

    vals = [float(v) for v in range(1, 101)]
    m, w = _compress(sorted(vals), [1.0] * len(vals), compression=200)
    assert m == sorted(vals)
    assert estimate_quantile(m, w, 0.5) == 50.0

    df = spark.createDataFrame(
        [("g", v) for v in vals], "source string, v double"
    ).repartition(4)
    merged = merge_digests(
        partial_digests(df, "v", "source", compression=32), "source", compression=32
    ).first()
    est50 = estimate_quantile(list(merged["means"]), list(merged["weights"]), 0.5)
    est90 = estimate_quantile(list(merged["means"]), list(merged["weights"]), 0.9)
    assert abs(est50 - 50.5) <= 5.0, est50   # 10% of range 99
    assert abs(est90 - 90.1) <= 5.0, est90
    assert est50 <= est90
    assert sum(merged["weights"]) == 100.0   # no mass lost in merge


def test_codec_sizes_measured(spark, sf_dir, tmp_path):
    """The size half of dp_codec_roundtrip (kept out of the hash —
    byte counts are a parquet-build property): every codec produces
    nonzero bytes, and the codecs genuinely differ on this data —
    if all three byte counts were equal the option would silently
    not be applied."""
    import os

    from crime_spark_ml_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sizes = {}
    for codec in ("gzip", "snappy", "zstd"):
        path = str(tmp_path / codec)
        docs.write.mode("overwrite").option("compression", codec).parquet(path)
        sizes[codec] = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    assert all(v > 0 for v in sizes.values()), sizes
    assert len(set(sizes.values())) > 1, sizes


def test_observe_metrics_leaves_session_serializable(spark):
    """dp_observe_metrics must not poison the caller's session: the
    Observation API instantiates the JVM-side non-serializable
    ObservationManager, and once non-null it breaks any LATER job
    whose task closure captures the session — e.g. an MLlib model
    carrying its trainingSummary (seen as 'Task not serializable:
    ObservationManager' in streaming scoring). The query therefore
    runs its observed pipeline on a session clone; this pins that a
    logreg fit+transform on the SAME session still works afterwards,
    independent of test-suite ordering."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from crime_spark_ml_spark.plans.registry import all_queries
    from conftest import SF_SMOKE

    all_queries()["dp_observe_metrics"](spark, SF_SMOKE).collect()

    train = spark.createDataFrame(
        [(i / 10.0, j / 10.0, float(i > j)) for i in range(6) for j in range(6)],
        "feature0 double, feature1 double, label double",
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(
                inputCols=["feature0", "feature1"], outputCol="features"
            ),
            LogisticRegression(maxIter=5, labelCol="label"),
        ]
    )
    model = pipe.fit(train)
    # serializes the model closure (trainingSummary -> session) into tasks
    assert model.transform(train).count() == 36


def test_l2_normalize_edge_cases(spark):
    """functions/vectors.l2_normalize: unit norm for regular vectors,
    zero-vector passthrough (no NaNs), NULL propagation, and the
    cosine-metric equivalence build_ivfpq relies on (||u-v||^2
    monotone in cosine on the unit sphere)."""
    import math

    from crime_spark_ml_spark.functions.vectors import l2_normalize

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, None), (3, [-1.0, 0.0])],
        "id bigint, v array<double>",
    ).select("id", l2_normalize("v").alias("u"))
    rows = {r.id: r.u for r in df.collect()}
    assert rows[0] == [0.6, 0.8]
    assert rows[1] == [0.0, 0.0]  # zero norm passes through, not NaN
    assert rows[2] is None
    assert rows[3] == [-1.0, 0.0]
    assert math.isclose(sum(x * x for x in rows[0]), 1.0, rel_tol=1e-12)


def test_python_xxh64_matches_jvm_xxhash64(spark):
    """functions.hashing.xxh64 is the driver-side twin of the JVM
    xxhash64 expression (seed 42) — it exists so data-independent
    hash-derived constants (the SRP-LSH hyperplane weight table) can be
    folded into the plan as literals. Pin bit-identity over the whole
    (table, plane, dim) grid the LSH weights use, every small-length
    byte pattern class (empty, <4, <8, <32, >=32 bytes), and random
    printable strings."""
    import random
    import string

    from crime_spark_ml_spark.functions.hashing import xxh64

    random.seed(7)
    samples = [f"{t}#{p}#{d}" for t in range(8) for p in range(4) for d in range(280)]
    samples += ["", "a", "ab", "abc", "abcd", "abcdefg", "abcde" * 20]
    samples += [
        "".join(random.choices(string.printable, k=random.randint(0, 80)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(s,) for s in set(samples)], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in df.collect():
        assert xxh64(r.s.encode()) == r.h, r.s


@pytest.mark.pins
def test_arrow_lsh_kernel_matches_expressions(spark):
    """r10 pin: _lsh_bucketize_explode (one mapInArrow numpy pass) is
    bit-identical to the reference expression (expression_refs.
    sign_lsh_buckets, per-row JVM xxhash64 weights) + norm +
    posexplode — buckets AND norms — across regular float32 vectors,
    float64 vectors, 7/64/300 dims, empty arrays, NULL arrays, and
    ragged lengths. The numpy twin folds per dimension sequentially,
    never pairwise."""
    import random
    import struct

    from expression_refs import sign_lsh_buckets

    from crime_spark_ml_spark.functions.vectors import norm
    from crime_spark_ml_spark.operators.similarity import _lsh_bucketize_explode

    random.seed(23)
    rows = [(i, [random.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    rows += [(100 + i, [random.uniform(-1, 1) for _ in range(300)]) for i in range(5)]
    rows += [(200, []), (201, None), (202, [random.uniform(-1, 1) for _ in range(7)])]
    for dtype in ("float", "double"):
        df = spark.createDataFrame(rows, f"vec_id long, embedding array<{dtype}>")
        expr = (
            sign_lsh_buckets(df, "embedding", 4, 8)
            .select(
                F.col("vec_id").alias("id"),
                norm("embedding").alias("n"),
                F.posexplode("lsh_buckets").alias("t", "bucket"),
            )
            .collect()
        )
        kern = _lsh_bucketize_explode(df, "vec_id", "embedding", 4, 8).collect()

        def key(rs):
            return sorted(
                (
                    r.id,
                    r.t,
                    r.bucket,
                    struct.pack(">d", r.n) if r.n is not None else None,
                )
                for r in rs
            )

        assert key(expr) == key(kern), dtype


@pytest.mark.pins
def test_dot_arrow_matches_expression_dot(spark):
    """r10 pin: functions.vectors.dot_arrow (vectorized numpy fold
    behind ArrowEvalPython) is bit-identical to the zip_with/aggregate
    expression, NaN elements and signed zeros included, and NULLs out
    the same degenerate pairs (NULL array, NULL element, length
    mismatch)."""
    import random
    import struct

    from crime_spark_ml_spark.functions.vectors import dot, dot_arrow

    random.seed(29)
    rows = []
    for i in range(60):
        d = random.choice([8, 64, 300])
        rows.append(
            (
                i,
                [random.uniform(-2, 2) for _ in range(d)],
                [random.uniform(-2, 2) for _ in range(d)],
            )
        )
    rows += [
        (100, [1.0, 2.0], [1.0]),          # length mismatch -> NULL
        (101, None, [1.0, 2.0]),            # NULL array -> NULL
        (102, [], []),                      # empty fold -> 0.0
        (103, [1.0, float("nan"), 2.0], [1.0, 1.0, 1.0]),  # NaN element -> NaN
        (104, [1.0, None, 2.0], [1.0, 1.0, 1.0]),  # NULL element -> NULL
        (105, [0.0, -0.0], [-0.0, 0.0]),    # signed zeros fold to +0.0
        (106, [-0.0], [0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    got = df.select(
        "id", dot("a", "b").alias("de"), dot_arrow("a", "b").alias("da")
    ).collect()
    for r in got:
        ke = struct.pack(">d", r.de) if r.de is not None else None
        ka = struct.pack(">d", r.da) if r.da is not None else None
        assert ke == ka, (r.id, r.de, r.da)


@pytest.mark.pins
def test_near_dups_group_kernel_matches_legacy_join(spark):
    """r10 pin: embedding_near_dups' applyInArrow pair kernel emits
    exactly the pair set + bit-identical cos of the former
    bucketed-self-join + zip_with scoring, including the max_bucket cap
    semantics, at a threshold low enough that hundreds of non-planted
    pairs survive."""
    import random
    import struct

    from expression_refs import sign_lsh_buckets

    from crime_spark_ml_spark.functions.vectors import norm
    from crime_spark_ml_spark.operators.similarity import (
        _cap_buckets,
        embedding_near_dups,
    )

    random.seed(31)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    rows += [(1000 + i, [x * 1.001 for x in rows[i][1]]) for i in range(10)]
    rows += [(2000 + i, [0.0] * 16) for i in range(80)]  # degenerate bucket
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def legacy(threshold, max_bucket):
        b = _cap_buckets(
            sign_lsh_buckets(corpus, "embedding", 4, 8).select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("e"),
                norm("embedding").alias("n"),
                F.posexplode("lsh_buckets").alias("t", "bucket"),
            ),
            max_bucket,
        )
        return (
            b.alias("a")
            .join(b.alias("b"), ["t", "bucket"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(
                    F.try_divide(
                        F.expr(
                            "aggregate(zip_with(a.e, b.e, (x, y) -> "
                            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                        ),
                        F.col("a.n") * F.col("b.n"),
                    ),
                    6,
                ).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
            .distinct()
        )

    def key(rs):
        return sorted(
            (r.id_a, r.id_b, struct.pack(">d", r.cos) if r.cos is not None else None)
            for r in rs
        )

    for threshold, max_bucket in ((0.9, 50), (0.2, 50), (0.2, 1000)):
        new = key(embedding_near_dups(corpus, threshold, max_bucket=max_bucket).collect())
        old = key(legacy(threshold, max_bucket).collect())
        assert new == old, (threshold, max_bucket, len(new), len(old))
        assert len(new) > 0


def test_near_dups_repeated_id_never_pairs_with_itself(spark):
    """An id that appears twice in one bucket (two rows, near-identical
    embeddings) yields no (id, id) pair, as the strict ``a.id < b.id``
    of the former self-join: only the pairs of distinct ids remain."""
    from crime_spark_ml_spark.operators.similarity import embedding_near_dups

    v = [1.0, 0.5, -0.25, 2.0, 0.75, -1.0, 0.125, 1.5]
    rows = [(7, v), (7, [x * 1.001 for x in v]), (9, [x * 1.002 for x in v])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in embedding_near_dups(corpus, 0.9).collect()}
    assert got == {(7, 9)}


@pytest.mark.pins
def test_minhash_arrow_kernel_matches_expressions(spark, sf_dir):
    """r10 pin: _minhash_arrow_frame (one mapInArrow pass, zero
    exchanges) is bit-identical to the explode → groupBy(min(
    xxhash64(__h, i))) → chained-band expression form
    (expression_refs.minhash_agg) — signatures AND
    banded bucket rows — including the numpy uint64 xxhash64 twins
    (xxh64_long_np / xxh64_int_np) it builds on."""
    import numpy as np
    from expression_refs import minhash_agg

    from crime_spark_ml_spark.functions.hashing import xxh64_int_np, xxh64_long_np
    from crime_spark_ml_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    # twin pins: vector hashes equal the JVM expression on edge values
    vals = np.array([0, 1, -1, 2**63 - 1, -(2**63), 42, -42], dtype=np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    jvm = {
        r.v: (r.h1, r.h2, r.h3)
        for r in df.select(
            "v",
            F.xxhash64("v").alias("h1"),
            F.xxhash64("v", F.lit(5)).alias("h2"),
            F.xxhash64(F.lit(42).cast("long"), F.col("v")).alias("h3"),
        ).collect()
    }
    u = vals.view(np.uint64)
    h1 = xxh64_long_np(u, np.uint64(42)).view(np.int64)
    h2 = xxh64_int_np(5, xxh64_long_np(u, np.uint64(42))).view(np.int64)
    h3 = xxh64_long_np(u, xxh64_long_np(np.uint64(42), np.uint64(42))).view(np.int64)
    for i, v in enumerate(vals):
        assert jvm[int(v)] == (int(h1[i]), int(h2[i]), int(h3[i])), v

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig_new = sorted(
        (r.doc_id, tuple(r.minhash_sig)) for r in minhash_signatures(docs).collect()
    )
    sig_old = sorted(
        (r.doc_id, tuple(r.minhash_sig))
        for r in minhash_agg(docs, "text", 32, 3, "doc_id")
        .select(
            "doc_id", F.array(*[f"__mh{i}" for i in range(32)]).alias("minhash_sig")
        )
        .collect()
    )
    assert sig_new == sig_old and len(sig_new) > 0

    # banded path: band hashes equal the chained-expression band columns
    rows_per_band = 4
    agg = minhash_agg(docs, "text", 32, 3, "doc_id")
    band_cols = []
    for b in range(8):
        acc = F.lit(42).cast("long")
        for r in range(rows_per_band):
            acc = F.xxhash64(acc, F.col(f"__mh{b * rows_per_band + r}"))
        band_cols.append(acc)
    old_banded = sorted(
        map(
            tuple,
            agg.select(
                "doc_id", F.posexplode(F.array(*band_cols)).alias("band_pos", "band_hash")
            ).collect(),
        )
    )
    from crime_spark_ml_spark.operators.dedup import _minhash_arrow_frame

    new_banded = sorted(
        map(
            tuple,
            _minhash_arrow_frame(docs, "text", 32, 3, "doc_id", None, bands=8)
            .select(F.col("id").alias("doc_id"), "band_pos", "band_hash")
            .collect(),
        )
    )
    assert new_banded == old_banded

    # full candidates equal end to end
    cn = sorted(map(tuple, minhash_lsh_candidates(docs).collect()))
    assert len(cn) > 0
