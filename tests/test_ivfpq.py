"""IVF×PQ composition (ml/ivfpq.py): recall against the exact
baseline, persist/load fidelity, and the two at-scale plan pins the
layout exists for — partition pruning on probed cells and a
shuffle-free corpus side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crime_spark_ml_spark.ml.ivfpq import (
    append_ivfpq,
    build_ivfpq,
    ivfpq_staleness,
    ivfpq_topk,
    load_ivfpq,
    needs_retrain,
    persist_ivfpq,
)
from crime_spark_ml_spark.operators.similarity import brute_force_topk


def _planted_corpus(spark, n_clusters=8, per_cluster=5, dim=16):
    """Same planted geometry as tests/test_pq.py: cluster c at corner
    c, tiny per-member epsilon — exact nearest neighbors of any vector
    are its cluster-mates."""
    rows = []
    for c in range(n_clusters):
        for i in range(per_cluster):
            vec = [0.0] * dim
            vec[c * 2] = 1.0
            vec[c * 2 + 1] = 0.05 * i
            rows.append((c * per_cluster + i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def planted_index(spark):
    corpus = _planted_corpus(spark).cache()
    index = build_ivfpq(corpus, k_cells=8, m=4, k=8, seed=0)
    index.coded.cache()
    return corpus, index


def test_ivfpq_recall_vs_bruteforce(planted_index):
    """Probing half the cells must still recover cluster-mates at the
    PQ-alone floor (0.8) — residual coding should not lose the planted
    separation, and the right cells must be probed."""
    corpus, index = planted_index
    queries = corpus.where(F.col("vec_id") < 10)
    exact = brute_force_topk(corpus, queries, k=4).collect()
    approx = ivfpq_topk(index, queries, k=4, nprobe=4).collect()
    exact_set = {(r.query_id, r.cand_id) for r in exact}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"IVFPQ recall too low: {recall:.2f}"


def test_ivfpq_persist_probe_matches_inmemory(planted_index, tmp_path):
    """Persisted probe ≡ in-memory probe (same cells, same ADC sums,
    same tiebreaks) — parquet round-trip loses nothing."""
    corpus, index = planted_index
    path = str(tmp_path / "ivfpq")
    persist_ivfpq(index, path)
    queries = corpus.where(F.col("vec_id") < 10)
    mem = sorted(
        (r.query_id, r.rank, r.cand_id, r.adist)
        for r in ivfpq_topk(index, queries, k=3, nprobe=3).collect()
    )
    disk = sorted(
        (r.query_id, r.rank, r.cand_id, r.adist)
        for r in ivfpq_topk(
            load_ivfpq(corpus.sparkSession, path), queries, k=3, nprobe=3
        ).collect()
    )
    assert mem == disk and len(mem) > 0
    # geometry survives the round trip (self-describing sidecars)
    back = load_ivfpq(corpus.sparkSession, path)
    assert (back.pq.m, back.pq.k, back.pq.sub_dim) == (
        index.pq.m,
        index.pq.k,
        index.pq.sub_dim,
    )


def test_ivfpq_probe_plan_prunes_and_never_shuffles_corpus(
    planted_index, tmp_path
):
    """The two 100 TB properties, pinned on the physical plan:
    (1) the code-store scan carries a PartitionFilters predicate on
    cid (directory-level pruning — only probed cells read);
    (2) the corpus side reaches the broadcast hash join with ZERO
    exchanges — the only Exchange in the whole probe plan is the
    per-query ranking of already-scored, group-limited candidates."""
    corpus, index = planted_index
    path = str(tmp_path / "ivfpq_pin")
    persist_ivfpq(index, path)
    probe = ivfpq_topk(
        load_ivfpq(corpus.sparkSession, path),
        corpus.where(F.col("vec_id") < 10),
        k=3,
        nprobe=3,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # above the join: exactly the one shuffle of scored candidates
    above = plan.split("BroadcastHashJoin", 1)[0]
    assert above.count("Exchange hashpartitioning") == 1, above
    # the corpus branch (between the join and either the DPP subquery's
    # LUT plan or the broadcast build side): pruned scan, zero shuffles
    corpus_branch = (
        plan.split("BroadcastHashJoin", 1)[1]
        .split("SubqueryAdaptiveBroadcast", 1)[0]
        .split("BroadcastExchange", 1)[0]
    )
    assert "PartitionFilters: [" in corpus_branch, corpus_branch
    after = corpus_branch.split("PartitionFilters", 1)[1][:160]
    assert "cid" in after, after
    assert "Exchange" not in corpus_branch, corpus_branch


def test_ivfpq_full_probe_scores_whole_corpus(planted_index):
    """nprobe = k_cells degrades gracefully to PQ-over-everything:
    every query ranks k candidates and candidate sets are drawn from
    all cells (sanity that pruning is the ONLY approximation beyond
    PQ quantization)."""
    corpus, index = planted_index
    queries = corpus.where(F.col("vec_id") < 5)
    full = ivfpq_topk(index, queries, k=4, nprobe=8).collect()
    assert len(full) == 5 * 4
    for r in full:
        assert r.cand_id // 5 == r.query_id // 5, r  # cluster-mates win


def test_ivfpq_append_staleness_and_retrain_trigger(planted_index, tmp_path, spark):
    """Incremental maintenance lifecycle: append encodes with the
    PERSISTED quantizers (appended twins of existing vectors land in
    the same cell with the same codes), probes see appended rows with
    no index-wide operation, the staleness counter tracks appended
    mass, and needs_retrain flips once it crosses the threshold."""
    corpus, index = planted_index
    path = str(tmp_path / "ivfpq_append")
    persist_ivfpq(index, path)
    st0 = ivfpq_staleness(spark, path)
    assert (st0["n_base"], st0["n_appended"], st0["staleness"]) == (40, 0, 0.0)
    assert not needs_retrain(spark, path)

    # append exact twins of vectors 0-4 under new ids
    new = corpus.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    st1 = append_ivfpq(spark, path, new)
    assert (st1["n_base"], st1["n_appended"]) == (40, 5)

    back = load_ivfpq(spark, path)
    coded = {
        r.id: (r.cid, tuple(r.codes))
        for r in back.coded.where(
            (F.col("id") < 5) | (F.col("id").between(100, 104))
        ).collect()
    }
    for vid in range(5):  # same persisted quantizers => same cell, same codes
        assert coded[vid + 100] == coded[vid], vid

    # a probe surfaces the appended twin (ADC distance ~0) immediately
    got = ivfpq_topk(
        load_ivfpq(spark, path), corpus.where(F.col("vec_id") < 2), k=5, nprobe=4
    ).collect()
    cands = {(r.query_id, r.cand_id) for r in got}
    assert (0, 100) in cands and (1, 101) in cands

    # 5/40 = 12.5% stale: below a 25% threshold; 15/40 = 37.5%: above
    assert not needs_retrain(spark, path, max_staleness=0.25)
    more = corpus.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 200).alias("vec_id"), "embedding"
    )
    st2 = append_ivfpq(spark, path, more)
    assert st2["n_appended"] == 15
    assert needs_retrain(spark, path, max_staleness=0.25)


def test_ivfpq_repersist_same_path_overwrites(planted_index, tmp_path):
    """Persisting twice to one path must NOT union stale sidecar files
    into the loaded table (write_sidecar carries the Spark writer's
    overwrite semantics): geometry and probe results stay identical."""
    corpus, index = planted_index
    path = str(tmp_path / "ivfpq_twice")
    persist_ivfpq(index, path)
    queries = corpus.where(F.col("vec_id") < 5)

    def probe():
        loaded = load_ivfpq(corpus.sparkSession, path)
        return sorted(map(tuple, ivfpq_topk(loaded, queries, k=3).collect()))

    first = probe()
    persist_ivfpq(index, path)  # re-persist over the same files
    back = load_ivfpq(corpus.sparkSession, path)
    assert back.centroids.count() == 8  # not 16 from unioned stale parts
    assert back.pq.codebooks.count() == index.pq.m * index.pq.k
    assert first == probe()


def test_refined_subset_of_shortlist_and_dominates(planted_index, spark):
    """The re-rank can only choose from the ADC shortlist, and its
    recall against the exact baseline dominates the unrefined probe's
    (shortlist ⊇ top-k + exact ordering make this a theorem — failure
    means the refine join is broken)."""
    from crime_spark_ml_spark.ml.ivfpq import exact_rerank, ivfpq_topk_refined

    corpus, index = planted_index
    queries = corpus.where(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    shortlist = ivfpq_topk(index, queries, k=12, nprobe=4)
    short_pairs = {(r.query_id, r.cand_id) for r in shortlist.collect()}
    refined = ivfpq_topk_refined(
        index, corpus, queries, k=3, nprobe=4, expand=4
    ).collect()
    ref_pairs = {(r.query_id, r.cand_id) for r in refined}
    assert ref_pairs <= short_pairs
    # per-query exactly k results, ranks 1..k
    for qid in {p[0] for p in ref_pairs}:
        ranks = sorted(r.rank for r in refined if r.query_id == qid)
        assert ranks == [1, 2, 3]
    base = ivfpq_topk(index, queries, k=3, nprobe=4)
    base_hits = {(r.query_id, r.cand_id) for r in base.collect()} & exact
    assert len(ref_pairs & exact) >= len(base_hits)
    # sanity on the rerank helper: identity shortlist == brute force
    all_pairs = brute_force_topk(corpus, queries, k=12)
    assert {
        (r.query_id, r.cand_id)
        for r in exact_rerank(all_pairs, corpus, queries, k=3).collect()
    } == exact


def test_refined_persisted_matches_inmemory(planted_index, tmp_path, spark):
    from crime_spark_ml_spark.ml.ivfpq import ivfpq_topk_refined

    corpus, index = planted_index
    queries = corpus.where(F.col("vec_id") < 4)
    path = str(tmp_path / "refidx")
    persist_ivfpq(index, path)
    mem = ivfpq_topk_refined(index, corpus, queries, k=3, nprobe=4, expand=4)
    disk = ivfpq_topk_refined(
        load_ivfpq(spark, path), corpus, queries, k=3, nprobe=4, expand=4
    )
    assert sorted(map(tuple, mem.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, disk.collect()), key=lambda t: (t[0], t[3])
    )


def test_split_oversized_cells_rebalances_and_probes_match(spark, tmp_path):
    from crime_spark_ml_spark.ml.ivfpq import (
        cell_sizes,
        load_ivfpq,
        split_oversized_cells,
    )

    corpus = _planted_corpus(spark)
    # k_cells=2 over 8 planted clusters forces fat cells (~20 rows each)
    index = build_ivfpq(corpus, k_cells=2, m=4, k=8, seed=0)
    path = str(tmp_path / "fatidx")
    persist_ivfpq(index, path)
    before_sizes = cell_sizes(spark, path)
    assert max(before_sizes.values()) > 10
    queries = corpus.where(F.col("vec_id") < 4)
    before = {
        (r.query_id, r.rank): r.cand_id
        for r in ivfpq_topk(load_ivfpq(spark, path), queries, k=3, nprobe=2).collect()
    }

    report = split_oversized_cells(spark, path, corpus, max_rows=10, seed=0)
    assert report["split"], "fat cells must have been split"
    after_sizes = cell_sizes(spark, path)
    # total mass conserved; every split cid is gone; each child either
    # survives (under the cap) or was itself split in a later pass
    assert sum(after_sizes.values()) == sum(before_sizes.values())
    resplit = {info["cid"] for info in report["split"]}
    for info in report["split"]:
        assert info["cid"] not in after_sizes
        for c in info["into"]:
            assert c in after_sizes or c in resplit
    assert report["k_cells"] == len(after_sizes)
    assert report["unsplittable"] == []

    # the store stays probe-consistent: requantizing residuals against
    # the new sub-centroids can reorder near-tied cluster-mates (the
    # planted epsilons are 0.05 apart), but the top-1 must still come
    # from the query's own planted cluster — same floor the recall
    # tests pin; probe nprobe=all cells to compare modulo routing
    after = {
        (r.query_id, r.rank): r.cand_id
        for r in ivfpq_topk(
            load_ivfpq(spark, path), queries, k=3, nprobe=report["k_cells"]
        ).collect()
    }
    for q in {qq for qq, _ in before}:
        assert after[(q, 1)] // 5 == q // 5
        assert before[(q, 1)] // 5 == q // 5

    # convergence: every surviving cell is under the cap, so a second
    # call is a no-op
    assert all(n <= 10 for n in after_sizes.values())
    again = split_oversized_cells(spark, path, corpus, max_rows=10, seed=0)
    assert again["split"] == [] and again["k_cells"] == report["k_cells"]


def test_split_oversized_cells_noop_below_cap(spark, tmp_path):
    from crime_spark_ml_spark.ml.ivfpq import cell_sizes, split_oversized_cells

    corpus = _planted_corpus(spark)
    index = build_ivfpq(corpus, k_cells=8, m=4, k=8, seed=0)
    path = str(tmp_path / "balidx")
    persist_ivfpq(index, path)
    sizes = cell_sizes(spark, path)
    report = split_oversized_cells(
        spark, path, corpus, max_rows=max(sizes.values()), seed=0
    )
    assert report == {"split": [], "unsplittable": [], "k_cells": len(sizes)}


def test_split_refuses_partial_corpus(spark, tmp_path):
    """The old cell directory is deleted after re-encode, so a corpus
    that does not cover every member (the append --id-shift flow fed
    back the ORIGINAL source) must fail loudly, not silently drop the
    uncovered vectors."""
    from crime_spark_ml_spark.ml.ivfpq import append_ivfpq, split_oversized_cells

    corpus = _planted_corpus(spark)
    index = build_ivfpq(corpus, k_cells=2, m=4, k=8, seed=0)
    path = str(tmp_path / "partidx")
    persist_ivfpq(index, path)
    shifted = corpus.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    append_ivfpq(spark, path, shifted)
    with pytest.raises(ValueError, match="covers"):
        split_oversized_cells(spark, path, corpus, max_rows=10, seed=0)
    # the full system of record (base + appended) succeeds
    full = corpus.unionByName(shifted)
    report = split_oversized_cells(spark, path, full, max_rows=30, seed=0)
    assert report["split"]


def test_maintenance_loop_end_to_end(spark, tmp_path):
    """The full production maintenance loop in one test — the story
    the individual lifecycle pieces (append_ivfpq, needs_retrain,
    split_oversized_cells) exist for: ingest batches append with no
    index-wide work; the staleness trigger eventually trips; the
    operator retrains over the system of record (base + appended) and
    swaps; the rebuilt index resets staleness AND keeps probe quality
    (every query's top-1 still comes from its planted cluster, and
    appended twins remain findable); a post-retrain split pass then
    enforces the cell-size cap without losing probe parity."""
    from crime_spark_ml_spark.ml.ivfpq import cell_sizes, split_oversized_cells

    base = _planted_corpus(spark).cache()
    index = build_ivfpq(base, k_cells=8, m=4, k=8, seed=0)
    path = str(tmp_path / "liveidx")
    persist_ivfpq(index, path)
    queries = base.where(F.col("vec_id") < 4).cache()

    # ingest loop: twin batches of 5 until the 25% trigger trips.
    # 40 base rows -> trips strictly after the 3rd batch (15/40).
    corpus = base
    trip_round = None
    for i in range(1, 5):
        batch = base.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100 * i).alias("vec_id"), "embedding"
        )
        st = append_ivfpq(spark, path, batch)
        corpus = corpus.unionByName(batch)
        assert st["n_appended"] == 5 * i
        # appended twins are probe-visible immediately, pre-retrain
        got = {
            (r.query_id, r.cand_id)
            for r in ivfpq_topk(load_ivfpq(spark, path), queries, k=6, nprobe=8).collect()
        }
        assert (0, 100 * i) in got, f"batch {i} twin not probe-visible"
        if needs_retrain(spark, path, max_staleness=0.25):
            trip_round = i
            break
    assert trip_round == 3, "25% trigger must trip at 15/40 appended"

    # retrain over the system of record, swap in place (persist
    # overwrites), staleness resets, trigger clears
    rebuilt = build_ivfpq(corpus, k_cells=8, m=4, k=8, seed=0)
    persist_ivfpq(rebuilt, path)
    st = ivfpq_staleness(spark, path)
    assert (st["n_base"], st["n_appended"], st["staleness"]) == (55, 0, 0.0)
    assert not needs_retrain(spark, path, max_staleness=0.25)

    # probe quality after the swap: planted-cluster top-1 for every
    # query (the recall floor the build tests pin) and the appended
    # twin ids are still in the store
    after = {
        (r.query_id, r.rank): r.cand_id
        for r in ivfpq_topk(load_ivfpq(spark, path), queries, k=6, nprobe=8).collect()
    }
    for q in range(4):
        assert after[(q, 1)] % 100 // 5 == q // 5 or after[(q, 1)] == q
    cands = {cid for (_, _), cid in after.items()}
    assert any(c >= 100 for c in cands), "appended twins lost by retrain"

    # maintenance pass: enforce a cell cap on the rebuilt store; mass
    # conserved, every surviving cell under the cap, probes stay sane
    sizes = cell_sizes(spark, path)
    cap = max(sizes.values()) - 1
    report = split_oversized_cells(spark, path, corpus, max_rows=cap, seed=0)
    assert report["split"], "cap below max cell size must split"
    after_sizes = cell_sizes(spark, path)
    assert sum(after_sizes.values()) == 55
    assert all(n <= cap for n in after_sizes.values())
    final = {
        (r.query_id, r.rank): r.cand_id
        for r in ivfpq_topk(
            load_ivfpq(spark, path), queries, k=6, nprobe=report["k_cells"]
        ).collect()
    }
    for q in range(4):
        top1 = final[(q, 1)]
        assert top1 % 100 // 5 == q // 5 or top1 == q


def test_suggest_k_cells_sqrt_clamped():
    """ml/ivf.suggest_k_cells: ~sqrt(n) clamped to [min, max] — the
    r8 cells-experiment guidance as a pure function."""
    from crime_spark_ml_spark.ml.ivf import suggest_k_cells

    assert suggest_k_cells(0) == 16
    assert suggest_k_cells(100) == 16          # floor clamp
    assert suggest_k_cells(200_000) == 447     # sqrt regime
    assert suggest_k_cells(10**13) == 1 << 20  # ceiling clamp
    assert suggest_k_cells(2000) == 45


def test_build_ivfpq_default_derives_sqrt_n_cells(spark):
    """r9 default geometry: k_cells=None derives suggest_k_cells(n)
    from one corpus count — a user calling the default signature gets
    sqrt-n sizing, not the r8 constant that collapsed raw-ADC recall
    (VERDICT r8 'What's wrong' #3)."""
    corpus = _planted_corpus(spark, n_clusters=8, per_cluster=40)  # 320 rows
    index = build_ivfpq(corpus, m=4, k=8, seed=0)
    # suggest_k_cells(320) = round(sqrt(320)) = 18
    assert index.centroids.count() == 18


def test_load_rejects_unstamped_or_foreign_metric_store(spark, tmp_path):
    """r8 changed the stored bytes (L2-normalized vectors/residuals);
    the stats sidecar's metric stamp is the format marker. A pre-r8
    store (no stats / no metric column) or a foreign-metric store must
    fail LOUDLY at load/append instead of returning silently wrong
    rankings (ADVICE r8, medium)."""
    import shutil

    from crime_spark_ml_spark.ml.ivfpq import _write_stats
    from crime_spark_ml_spark.sources.writers import write_sidecar

    corpus = _planted_corpus(spark)
    index = build_ivfpq(corpus, k_cells=4, m=4, k=8, seed=0)
    path = str(tmp_path / "idx")
    persist_ivfpq(index, path)
    load_ivfpq(spark, path)  # stamped store loads fine

    # (a) pre-stats store: missing sidecar entirely
    shutil.rmtree(f"{path}/stats")
    with pytest.raises(ValueError, match="stats sidecar"):
        load_ivfpq(spark, path)
    batch = corpus.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="stats sidecar"):
        append_ivfpq(spark, path, batch)

    # (b) pre-metric-stamp store: stats without the metric column
    write_sidecar(
        spark.createDataFrame([(40, 0)], "n_base bigint, n_appended bigint"),
        f"{path}/stats",
    )
    with pytest.raises(ValueError, match="unstamped"):
        load_ivfpq(spark, path)

    # (c) foreign metric
    write_sidecar(
        spark.createDataFrame(
            [(40, 0, "l2raw")], "n_base bigint, n_appended bigint, metric string"
        ),
        f"{path}/stats",
    )
    with pytest.raises(ValueError, match="l2raw"):
        load_ivfpq(spark, path)

    # restore the real stamp: store loads and probes again
    _write_stats(spark, path, n_base=40, n_appended=0)
    assert load_ivfpq(spark, path).centroids.count() == 4


def test_split_normalizes_corpus_like_build(spark, tmp_path):
    """ADVICE r8 (high): split_oversized_cells must L2-normalize the
    system-of-record vectors exactly like build/append/probe. Corpus
    vectors here carry WILD magnitudes (x1000 per planted cluster
    member) while directions preserve the planted structure — if the
    maintenance path re-derived codes from raw vectors, split-cell
    centroids/residuals would live off the unit sphere and planted
    top-1 routing would break after the split."""
    from crime_spark_ml_spark.ml.ivfpq import cell_sizes, split_oversized_cells

    base = _planted_corpus(spark)
    scaled = base.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * (1.0 + (F.col("vec_id") % 7) * 142.0)
        ).alias("embedding"),
    ).cache()
    # 2 cells over 8 planted clusters -> fat cells, guaranteed splits
    index = build_ivfpq(scaled, k_cells=2, m=4, k=8, seed=0)
    path = str(tmp_path / "idx")
    persist_ivfpq(index, path)
    report = split_oversized_cells(spark, path, scaled, max_rows=10, seed=0)
    assert report["split"], "cap of 10 over 20-row cells must split"
    sizes = cell_sizes(spark, path)
    assert sum(sizes.values()) == 40
    queries = scaled.where(F.col("vec_id") < 4)
    got = {
        (r.query_id, r.rank): r.cand_id
        for r in ivfpq_topk(
            load_ivfpq(spark, path), queries, k=3, nprobe=report["k_cells"]
        ).collect()
    }
    for q in range(4):
        # cosine metric: top-1 must be a cluster-mate (same planted
        # corner) despite the magnitude scrambling
        assert got[(q, 1)] // 5 == q // 5


def test_model_transport_gate(spark):
    """r10: _model_transport ships model arrays inline below the cap
    and via sc.broadcast above it, with identical task-side values —
    and a build forced onto the broadcast path encodes bit-identically
    to the closure path."""
    import numpy as np

    from crime_spark_ml_spark.ml import ivfpq as mod

    small = (np.arange(8, dtype=np.float64),)
    fetch, via_bc = mod._model_transport(spark, small)
    assert not via_bc
    assert (fetch()[0] == small[0]).all()

    big = (np.zeros((1 << 11, 1 << 10), dtype=np.float64),)  # 16 MiB
    fetch, via_bc = mod._model_transport(spark, big)
    assert via_bc
    assert fetch()[0].shape == big[0].shape

    # end-to-end: same index built with the cap forced to 0 (all
    # transport via broadcast) must produce identical codes
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(120)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_a = mod.build_ivfpq(corpus, k_cells=4, m=4, k=8, seed=0)
    coded_a = sorted(map(tuple, idx_a.coded.select("id", "cid", "codes").collect()))
    old = mod._MODEL_CLOSURE_CAP_BYTES
    mod._MODEL_CLOSURE_CAP_BYTES = 0
    try:
        idx_b = mod.build_ivfpq(corpus, k_cells=4, m=4, k=8, seed=0)
        coded_b = sorted(map(tuple, idx_b.coded.select("id", "cid", "codes").collect()))
    finally:
        mod._MODEL_CLOSURE_CAP_BYTES = old
    assert coded_a == coded_b


def test_probe_lut_cap_guard(spark):
    """r10: an unboundedly large probe batch fails at the explicit
    broadcast contract instead of collecting/broadcasting without
    limit."""
    import numpy as np
    import pytest

    from crime_spark_ml_spark.ml import ivfpq as mod

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = mod.build_ivfpq(corpus, k_cells=4, m=4, k=8, seed=0)
    old = mod._PROBE_LUT_CAP_BYTES
    mod._PROBE_LUT_CAP_BYTES = 64
    try:
        with pytest.raises(ValueError, match="broadcast contract"):
            mod.ivfpq_topk(idx, corpus.where(F.col("vec_id") < 5), k=3, nprobe=2)
    finally:
        mod._PROBE_LUT_CAP_BYTES = old
