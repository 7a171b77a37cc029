"""Product quantization (ml/pq.py): codes shape, determinism of the
encode/search plans given fixed codebooks, and ADC recall against the
exact brute-force baseline on planted cluster structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crime_spark_ml_spark.ml.pq import PqModel, pq_encode, pq_topk, train_pq
from crime_spark_ml_spark.operators.similarity import brute_force_topk
from crime_spark_ml_spark.sources.catalog import load_table


def _planted_corpus(spark, n_clusters=8, per_cluster=5, dim=16):
    """Deterministic clustered vectors: cluster c lives at one-hot-ish
    corner c, members offset by a tiny per-member epsilon — nearest
    neighbors of any vector are exactly its cluster-mates."""
    rows = []
    for c in range(n_clusters):
        for i in range(per_cluster):
            vec = [0.0] * dim
            vec[c * 2] = 1.0
            vec[c * 2 + 1] = 0.05 * i  # intra-cluster spread
            rows.append((c * per_cluster + i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def planted(spark):
    corpus = _planted_corpus(spark).cache()
    model = train_pq(corpus, m=4, k=8, seed=0)
    codes = pq_encode(corpus, model).cache()
    return corpus, model, codes


def test_pq_codes_shape_and_range(planted):
    corpus, model, codes = planted
    rows = codes.collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert len(r.codes) == model.m
        assert all(0 <= c < model.k for c in r.codes)


def test_pq_cluster_mates_share_codes(planted):
    """Subspaces where cluster-mates are identical must quantize to
    the same code (their subvectors are bit-equal)."""
    corpus, model, codes = planted
    by_id = {r.id: r.codes for r in codes.collect()}
    # members of cluster 0 differ only inside subspace 0 (dims 0-3)
    for i in range(1, 5):
        assert by_id[0][1:] == by_id[i][1:]


def test_pq_topk_recall_vs_bruteforce(planted):
    """ADC top-(per_cluster-1) must recover cluster-mates: exact
    nearest neighbors are in-cluster, and PQ preserves the cluster
    separation (inter-cluster ADC distance ≥ 1 vs intra ≤ 0.05²·16)."""
    corpus, model, codes = planted
    queries = corpus.where(F.col("vec_id") < 10)
    exact = brute_force_topk(corpus, queries, k=4).collect()
    approx = pq_topk(codes, model, queries, k=4).collect()
    exact_set = {(r.query_id, r.cand_id) for r in exact}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"PQ recall too low: {recall:.2f}"
    # and every query's candidate set stays inside its own cluster
    for r in approx:
        assert r.cand_id // 5 == r.query_id // 5, r


def test_pq_encode_search_deterministic_given_codebooks(spark):
    """With a FIXED codebook, encode and search are pure DataFrame
    plans — two runs are identical (argmin ties broken by code)."""
    import numpy as np

    corpus = _planted_corpus(spark)
    model = PqModel(np.tile(np.eye(4), (4, 1, 1)))  # code c = one-hot c
    assert (model.m, model.k, model.sub_dim) == (4, 4, 4)
    a = sorted(map(tuple, pq_encode(corpus, model).collect()))
    b = sorted(map(tuple, pq_encode(corpus, model).collect()))
    assert a == b
    q = corpus.where(F.col("vec_id") < 3)
    ta = sorted(map(tuple, pq_topk(pq_encode(corpus, model), model, q, k=3).collect()))
    tb = sorted(map(tuple, pq_topk(pq_encode(corpus, model), model, q, k=3).collect()))
    assert ta == tb


def test_pq_on_fixture_embeddings(spark, sf_dir):
    """End-to-end on the real embeddings table: 64-dim → m=8 codes,
    top-5 per query, every query answered with k distinct ranked
    candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = train_pq(emb, m=8, k=16, seed=0)
    codes = pq_encode(emb, model)
    queries = emb.where(F.col("vec_id") < 5)
    top = pq_topk(codes, model, queries, k=5).collect()
    assert len(top) == 25
    per_q = {}
    for r in top:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_pq_encode_plan_is_shuffle_free(spark, sf_dir):
    """The 100 TB property the encoder exists for: encoding is scan →
    vectorized narrow map — the physical plan contains NO exchange.
    r9: the per-row math runs as ONE ArrowEvalPython (vectorized
    pandas UDF, guide §4.2) — never a row-at-a-time BatchEvalPython —
    replacing the interpreted Catalyst HOF folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = train_pq(emb, m=8, k=16, seed=0)
    plan = pq_encode(emb, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan  # vectorized, Arrow-batched
    assert "BatchEvalPython" not in plan, plan  # never row-at-a-time


@pytest.mark.pins
def test_numpy_twins_bit_identical_to_expression_forms(spark):
    """The r9 vectorized encode path (pq_codes_udf / argmin_cid_udf /
    ivfpq._coded_frame) must be BIT-identical to the Catalyst
    expression references (expression_refs.pq_code_expr /
    argmin_cid_expr) — same
    sequential IEEE-754 fold, same smallest-id tie break — on a nasty
    fixture: float32 inputs, exact ties (duplicate centroids and
    mirror-image vectors), zero vectors, denormal-ish magnitudes and a
    NULL vector (NULL cid and codes; the fused encode drops it)."""
    import numpy as np
    from expression_refs import argmin_cid_expr, pq_code_expr

    from crime_spark_ml_spark.ml.ivfpq import _coded_frame
    from crime_spark_ml_spark.ml.pq import PqModel, argmin_cid_udf, pq_codes_udf

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((60, 8)).astype(np.float32) * np.logspace(
        -4, 3, 8, dtype=np.float32
    )
    vecs[10] = 0.0  # zero vector
    vecs[11] = vecs[12]  # duplicate rows
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows + [(60, None)], "vec_id long, embedding array<float>")

    cents = rng.standard_normal((6, 8))
    # exact centroid tie at distance 0 from rows 11 and 12: smaller cid
    # must win
    cents[2] = cents[3] = vecs[11]
    cids = np.arange(len(cents))
    pairs = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    expr_cid = df.select(
        "vec_id", argmin_cid_expr(pairs, "embedding").alias("cid")
    ).collect()
    udf_cid = df.select(
        "vec_id", argmin_cid_udf(cids, cents)(F.col("embedding")).alias("cid")
    ).collect()
    assert sorted(map(tuple, expr_cid)) == sorted(map(tuple, udf_cid))
    assert (60, None) in map(tuple, udf_cid)  # the NULL vector is exercised
    assert 2 in {r.cid for r in udf_cid}  # the tie is exercised

    cb = rng.standard_normal((2, 4, 4))
    cb[0][1] = cb[0][2] = vecs[11][:4]  # exact codeword tie: smaller code must win
    model = PqModel(cb)
    expr_codes = df.select(
        "vec_id", pq_code_expr(model, "embedding").alias("codes")
    ).collect()
    udf_codes = df.select(
        "vec_id", pq_codes_udf(model)(F.col("embedding")).alias("codes")
    ).collect()

    def key(r):
        return (r.vec_id, r.codes and tuple(r.codes))

    assert sorted(map(key, expr_codes)) == sorted(map(key, udf_codes))
    assert (60, None) in map(key, udf_codes)
    assert 1 in {r.codes[0] for r in udf_codes if r.codes}  # the tie is exercised

    # the fused encode (normalize → assign → residual → codes) against
    # the composed expression chain, including the cosine normalize
    from crime_spark_ml_spark.functions.vectors import l2_normalize

    fused = _coded_frame(
        df, cids, cents, model.CB, "vec_id", "embedding", normalize=True
    ).collect()
    normed = df.select(
        F.col("vec_id").alias("id"), l2_normalize("embedding").alias("vec")
    )
    chain = (
        normed.withColumn("cid", argmin_cid_expr(pairs, "vec"))
        .join(
            F.broadcast(
                spark.createDataFrame(pairs, "cid int, cvec array<double>")
            ),
            "cid",
        )
        .select(
            "id",
            "cid",
            F.zip_with(
                "vec", "cvec", lambda x, y: x.cast("double") - y.cast("double")
            ).alias("rvec"),
        )
        .select(
            "id",
            "cid",
            F.element_at(
                F.transform(
                    F.array(F.col("rvec")), lambda rv: pq_code_expr(model, rv)
                ),
                1,
            ).alias("codes"),
        )
        .collect()
    )
    assert sorted((r.id, r.cid, tuple(r.codes)) for r in fused) == sorted(
        (r.id, r.cid, tuple(r.codes)) for r in chain
    )

    # a NaN element, pinned to the kernels' own outputs: every distance
    # NaN, the first centroid / code wins
    degen = spark.createDataFrame(
        [(61, [float("nan")] + rows[0][1][1:])], "vec_id long, embedding array<float>"
    )
    got = degen.select(
        "vec_id",
        argmin_cid_udf(cids, cents)(F.col("embedding")).alias("cid"),
        pq_codes_udf(model)(F.col("embedding")).alias("codes"),
    ).collect()
    assert sorted(map(tuple, got)) == [(61, 0, [0, 1])]
    fused = _coded_frame(
        degen, cids, cents, model.CB, "vec_id", "embedding", normalize=True
    ).collect()
    assert [(r.id, r.cid, r.codes) for r in fused] == [(61, 0, [0, 0])]


@pytest.mark.pins
def test_np_l2_normalize_bit_identical_to_jvm(spark):
    """The PQ/IVF×PQ normalize kernel (pq._np_l2_normalize) equals the
    JVM functions.vectors.l2_normalize bit for bit, on a fixture where a
    pairwise-summed norm differs from the sequential fold on some rows,
    so a reordered fold in the kernel fails here. Zero and NULL vectors
    pass through."""
    import numpy as np

    from crime_spark_ml_spark.functions.vectors import l2_normalize, seq_dot
    from crime_spark_ml_spark.ml.pq import _np_l2_normalize

    rng = np.random.RandomState(11)
    X = rng.standard_normal((200, 64)) * np.logspace(-3, 3, 64)
    X[5] = 0.0
    assert (np.sqrt((X * X).sum(1)) != np.sqrt(seq_dot(X, X))).any()
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))] + [(len(X), None)],
        "vec_id long, embedding array<double>",
    )
    got = dict(df.select("vec_id", l2_normalize("embedding").alias("u")).collect())
    assert got.pop(len(X)) is None
    jvm = np.asarray([got[i] for i in range(len(X))], dtype=np.float64)
    np.testing.assert_array_equal(jvm.view(np.uint64), _np_l2_normalize(X).view(np.uint64))


def test_dense_vectors_decodes_and_rejects_ragged():
    """Non-NULL rows as one float64 matrix, a NULL element read as NaN;
    a batch of ragged vectors raises instead of being coded."""
    import numpy as np
    import pyarrow as pa

    from crime_spark_ml_spark.ml.pq import _dense_vectors

    idx, X = _dense_vectors(pa.array([[1.0, None], None, [3.0, 4.0]]))
    assert idx.tolist() == [0, 2]
    np.testing.assert_array_equal(X, [[1.0, np.nan], [3.0, 4.0]])
    for ragged in ([[1.0, 2.0], [1.0]], [[1.0], []]):
        with pytest.raises(ValueError, match="different lengths"):
            _dense_vectors(pa.array(ragged))


def test_collect_train_sample_paths(spark, monkeypatch):
    """Bounded training-sample collection: explicit fractions are
    hash-based (layout-independent — repartitioned input yields the
    SAME sampled set), out-of-range and over-cap fractions fail
    loudly, and the over-cap auto path stays within the cap."""
    import crime_spark_ml_spark.ml.pq as pqmod

    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(400)], "id long, v array<double>"
    ).select("v")
    a = pqmod._collect_train_sample(df, "v", 0.25, seed=0)
    b = pqmod._collect_train_sample(df.repartition(7), "v", 0.25, seed=0)
    assert sorted(tuple(r.v) for r in a) == sorted(tuple(r.v) for r in b)
    assert 0 < len(a) < 400

    with pytest.raises(ValueError, match="must be in"):
        pqmod._collect_train_sample(df, "v", 0.0, seed=0)
    monkeypatch.setattr(pqmod, "_MAX_TRAIN_ROWS", 50)
    with pytest.raises(ValueError, match="pass a smaller fraction"):
        pqmod._collect_train_sample(df, "v", 1.0, seed=0)
    auto = pqmod._collect_train_sample(df, "v", None, seed=0)  # auto path
    assert len(auto) <= 50
