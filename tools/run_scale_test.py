#!/usr/bin/env python
"""Volume-scale pressure tests: the curves a fixed-size bench cannot show.

The shipped fixtures cap `embeddings` at 2000 rows, so every ANN bench
number there is fixed overhead (BASELINE.md's caveat), and the 100 TB
design claims (pruned probe reads, bounded quantizer training, capped
LSH buckets, distributed window rewrites) need observed scaling
curves. Usage:

  python tools/run_scale_test.py PHASE [--dir DIR] [--factors 1,4,16]
      [--sizes N,N,...] [--emb N] [--docs N] [...]

Phases on a deterministic synthetic fixture under --dir (default
.scale/, gitignored):

  gen      — synthesize `embeddings` (dim-64 float vectors around 64
             well-separated latent centers + per-vector noise) and
             `documents` (hash-chosen word sequences over a small vocab,
             ~5% planted near-duplicates); JVM-side hash math only.
  ann      — IVFPQ build+persist time and cell occupancy per corpus
             size (k_cells scaled with the corpus); probe time vs
             corpus size at nprobe=4 (should stay ~flat) and vs nprobe
             at the largest corpus (should grow ~linearly).
  recall   — IVFPQ refined-probe recall@10 vs nprobe and vs expand.
  cells    — coarse-quantizer geometry (k_cells, m) vs recall at one
             corpus size.
  dedup    — MinHash-LSH -> connected-components funnel per doc count,
             and the LSH band-bucket sizes against the max_bucket cap.
  spans    — duplicated-span detection per doc count.
  linkage  — sorted-neighbourhood, PPJoin and CDC chunking per doc count.
  newops   — greedy k-center per corpus size; dynamic partition pruning
             on a month-partitioned 16x lineitem.
  kcore    — k-core peeling of a planted tree+clique graph (no fixture).
  gmedian  — Weiszfeld geometric median on poisoned vectors.
  hygiene  — cost of the catalog's well-formed predicates at volume.
  all      — gen (if missing) + ann + spans + tpch + events + text +
             dedup + linkage.

Phases on sf0.1 replicated --factors times by key-shifted union
(`REPLICATED`; dirs <--dir>/<prefix>_f<factor>). Per factor dir, the
phase's first query runs once untimed (JIT/codegen warm-up), then every
query is timed with bench.time_queries (fn() + noop sink, min of 2),
and `<table>_rows` is counted from each replicated table:

  tpch     — q1/q3/q6 on replicated lineitem, orders and customer.
  events   — session, window, as-of and fold/sweep event queries.
  text     — row-local text kernels and the top-terms aggregate.
  rewrites — the 13 round-6 window-rewrite plans.
  newstats — the statistical tests on the events fixture, timed as a
             collect whose small result is checked.

Results go to SCALE_r09.json, one JSON object per phase (a rerun
replaces that phase's object), so a run is resumable phase by phase.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import best_seconds, noop, time_queries  # noqa: E402
from crime_spark_ml_spark.plans.registry import load_all_plans  # noqa: E402
from crime_spark_ml_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_JSON = os.path.join(REPO, "SCALE_r09.json")
SRC_DIR = "/root/testdata/sf0.1"

def _replicate(df, shifts: dict[str, int], factor: int):
    """``factor``× volume by key-shifted union: each replica adds
    ``i * step`` to every key column in ``shifts``, so per-key work
    stays constant while the key population grows — the shape every
    scale phase wants (volume growth without skew growth). One shared
    definition; the per-phase copies drifted before extraction."""
    parts = []
    for i in range(factor):
        p = df
        for col, step in shifts.items():
            p = p.withColumn(col, F.col(col) + F.lit(i * step))
        parts.append(p)
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


DIM = 64
N_CLUSTERS = 64
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "shuffle plan stage task codec page split block footer schema vector "
    "token text model index probe"
).split()


def gen_embeddings(spark, n: int):
    """Centers are uniform in [-1,1]^64 (component = hash(cluster, j)),
    noise is ±0.2 per component (hash(vec_id, j)) — center separation
    ~9.2 vs noise norm ~0.9, so the latent clusters are recoverable
    and IVF cell occupancy is meaningful, not uniform-random."""
    center = (
        f"(pmod(xxhash64(pmod(xxhash64(id, 7), {N_CLUSTERS}), j, 11), 2000) - 1000)"
        " / 1000.0"
    )
    noise = "(pmod(xxhash64(id, j, 13), 2000) - 1000) / 5000.0"
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {DIM - 1}), j -> CAST({center} + {noise} AS FLOAT))"
        ).alias("embedding"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(N_CLUSTERS))
        .cast("int")
        .alias("label"),
    )


def gen_documents(spark, n: int):
    """Same schema as the shipped documents table. ~5% of docs (id >=
    1000) are near-duplicates of id-1000: identical word sequence plus
    one appended token => 3-shingle Jaccard ~0.97, well above the
    8-band s-curve threshold (~0.59), mirroring dp_dedup_pipeline's
    planted-dup construction at volume."""
    vocab_sql = "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"
    base = (
        "CASE WHEN id >= 1000 AND pmod(xxhash64(id, 3), 100) < 5 "
        "THEN id - 1000 ELSE id END"
    )
    words = (
        f"transform(sequence(1, 60 + CAST(pmod(xxhash64({base}, 5), 140) AS INT)), "
        f"p -> element_at({vocab_sql}, "
        f"CAST(pmod(xxhash64({base}, p, 17), {len(VOCAB)}) + 1 AS INT)))"
    )
    text = (
        f"CASE WHEN id >= 1000 AND pmod(xxhash64(id, 3), 100) < 5 "
        f"THEN concat(concat_ws(' ', {words}), ' nearduptail') "
        f"ELSE concat_ws(' ', {words}) END"
    )
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.expr(text).alias("text"),
        F.expr(
            "element_at(array('en','zh','de','fr'), "
            "CAST(pmod(xxhash64(id, 21), 4) + 1 AS INT))"
        ).alias("lang"),
        F.expr("concat('src', CAST(pmod(xxhash64(id, 9), 10) AS STRING))").alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))


def _record(phase: str, payload: dict) -> None:
    rec = dict(json.load(open(OUT_JSON))) if os.path.exists(OUT_JSON) else {}
    rec[phase] = payload
    with open(OUT_JSON, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(f"[scale] recorded phase {phase!r} -> {OUT_JSON}")


def cmd_gen(spark, args) -> None:
    t0 = time.perf_counter()
    gen_embeddings(spark, args.emb).write.mode("overwrite").parquet(
        f"{args.dir}/embeddings.parquet"
    )
    gen_documents(spark, args.docs).write.mode("overwrite").parquet(
        f"{args.dir}/documents.parquet"
    )
    _record(
        "gen",
        {
            "n_embeddings": args.emb,
            "n_documents": args.docs,
            "dim": DIM,
            "latent_clusters": N_CLUSTERS,
            "gen_sec": round(time.perf_counter() - t0, 1),
        },
    )


def cmd_ann(spark, args) -> None:
    from crime_spark_ml_spark.ml.ivfpq import (
        build_ivfpq,
        ivfpq_topk,
        load_ivfpq,
        persist_ivfpq,
    )
    from crime_spark_ml_spark.plans.datapipe import _train_fraction

    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")
    sizes = [int(s) for s in args.sizes.split(",")]
    nprobes = [int(s) for s in args.nprobes.split(",")]
    # untimed warmup so the smallest timed size doesn't absorb the
    # one-time JIT/codegen cost (smoke runs showed it dominating)
    wpath = f"{args.dir}/ivfpq_warmup"
    widx = build_ivfpq(
        emb.where(F.col("vec_id") < 4000), k_cells=8, m=8, k=16, seed=0
    )
    persist_ivfpq(widx, wpath)
    noop(ivfpq_topk(
        load_ivfpq(spark, wpath), emb.where(F.col("vec_id") < 4), k=10, nprobe=2
    ))
    shutil.rmtree(wpath, ignore_errors=True)
    per_size = []
    biggest_path = None
    for s in sizes:
        corpus = emb.where(F.col("vec_id") < s)
        # hold cell size ~constant (the production knob): more data ->
        # more cells, not bigger ones, so a probe's read stays bounded
        k_cells = max(16, s // args.cell_rows)
        path = f"{args.dir}/ivfpq_{s}"
        t0 = time.perf_counter()
        index = build_ivfpq(
            corpus, k_cells=k_cells, m=8, k=16, seed=0,
            train_fraction=_train_fraction(s),
        )
        persist_ivfpq(index, path)
        build_sec = round(time.perf_counter() - t0, 2)
        occ = (
            spark.read.parquet(f"{path}/coded")
            .groupBy("cid")
            .count()
            .agg(
                F.count("*").alias("cells"),
                F.min("count").alias("min"),
                F.expr("percentile(count, 0.5)").alias("p50"),
                F.max("count").alias("max"),
            )
            .first()
        )
        queries = emb.where(F.col("vec_id") < args.n_queries)
        best = best_seconds(
            lambda: noop(ivfpq_topk(load_ivfpq(spark, path), queries, k=10, nprobe=4))
        )
        per_size.append(
            {
                "corpus": s,
                "k_cells": k_cells,
                "build_persist_sec": build_sec,
                "probe_nprobe4_sec": round(best, 2),
                "cell_occupancy": {
                    "cells": int(occ.cells),
                    "min": int(occ.min),
                    "p50": float(occ.p50),
                    "max": int(occ.max),
                },
            }
        )
        print(f"[scale][ann] corpus={s} {per_size[-1]}")
        biggest_path = path
    nprobe_sweep = []
    queries = emb.where(F.col("vec_id") < args.n_queries)
    for np_ in nprobes:
        best = best_seconds(
            lambda: noop(
                ivfpq_topk(load_ivfpq(spark, biggest_path), queries, k=10, nprobe=np_)
            )
        )
        nprobe_sweep.append({"nprobe": np_, "probe_sec": round(best, 2)})
        print(f"[scale][ann] nprobe={np_} {nprobe_sweep[-1]}")
    for s in sizes:  # indexes are experiment scratch, not fixture
        shutil.rmtree(f"{args.dir}/ivfpq_{s}", ignore_errors=True)
    _record(
        "ann",
        {
            "n_queries": args.n_queries,
            "cell_rows_target": args.cell_rows,
            "per_corpus_size": per_size,
            "nprobe_sweep_at_largest": nprobe_sweep,
        },
    )


def cmd_recall(spark, args) -> None:
    """recall@10 vs cells-probed for IVFPQ across corpus sizes — the
    accuracy half of the ann phase's cost curves (r06 verdict item 7):
    the selfcheck floors exist as oracles; this records the measured
    recall/cost TRADE-OFF so an operator choosing nprobe at 100 TB has
    a curve, not a bound. Ground truth is brute-force exact-cosine
    top-10; the measured path is the DEPLOYMENT path,
    ivfpq_topk_refined over the loaded store (pruned ADC shortlist at
    k*expand, then exact-cosine re-rank) — the raw ADC shortlist alone scores a DIFFERENT
    metric (L2 on quantized residuals), and on this synthetic fixture
    (dense same-center clusters where both metrics rank by noise) its
    direct top-10 overlap with cosine truth is statistically ~random
    (measured ~0.00-0.04 flat in nprobe — recorded once, then the
    phase moved to the refined path the selfchecks actually floor).
    Recall joins the refined top-10 against truth entirely Spark-side."""
    from crime_spark_ml_spark.ml.ivfpq import (
        build_ivfpq,
        ivfpq_topk_refined,
        load_ivfpq,
        persist_ivfpq,
    )
    from crime_spark_ml_spark.operators.similarity import brute_force_topk
    from crime_spark_ml_spark.plans.datapipe import _train_fraction

    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")
    sizes = [int(s) for s in args.sizes.split(",")]
    nprobes = [int(s) for s in args.nprobes.split(",")]
    k = 10
    queries = emb.where(F.col("vec_id") < args.n_queries)
    per_size = []
    for s in sizes:
        corpus = emb.where(F.col("vec_id") < s)
        k_cells = max(16, s // args.cell_rows)
        path = f"{args.dir}/ivfpq_recall_{s}"
        index = build_ivfpq(
            corpus, k_cells=k_cells, m=8, k=16, seed=0,
            train_fraction=_train_fraction(s),
        )
        persist_ivfpq(index, path)
        exact = (
            brute_force_topk(corpus, queries, k=k)
            .select("query_id", "cand_id")
            .localCheckpoint(eager=True)  # reused once per nprobe point
        )
        n_truth = exact.count()
        def point(np_, expand):
            t0 = time.perf_counter()
            approx = ivfpq_topk_refined(
                load_ivfpq(spark, path), corpus, queries, k=k, nprobe=np_, expand=expand
            )
            hits = approx.join(exact, ["query_id", "cand_id"]).count()
            return {
                "nprobe": np_,
                "expand": expand,
                "cells_frac": round(np_ / k_cells, 4),
                "recall_at_10": round(hits / n_truth, 4),
                "probe_plus_join_sec": round(time.perf_counter() - t0, 2),
            }

        # two orthogonal cost axes: cells probed (nprobe, the IVF
        # knob) and shortlist width re-ranked (expand, the ADC->exact
        # knob). On a heavily clustered corpus the nearest cell already
        # holds every true neighbor, so nprobe saturates immediately
        # and expand is the binding constraint — the curve an operator
        # needs to know which knob buys recall on their distribution.
        nprobe_curve = [point(np_, 4) for np_ in nprobes if np_ <= k_cells]
        for c in nprobe_curve:
            print(f"[scale][recall] corpus={s} {c}")
        expand_curve = [point(4, e) for e in (1, 4, 16, 64)]
        for c in expand_curve:
            print(f"[scale][recall] corpus={s} {c}")
        per_size.append(
            {
                "corpus": s,
                "k_cells": k_cells,
                "nprobe_curve_expand4": nprobe_curve,
                "expand_curve_nprobe4": expand_curve,
            }
        )
        shutil.rmtree(path, ignore_errors=True)
    _record(
        "recall",
        {"n_queries": args.n_queries, "k": k, "per_corpus_size": per_size},
    )


def cmd_cells(spark, args) -> None:
    """Coarse-quantizer geometry vs recall at a FIXED corpus size —
    the knob the r8 recall phase exposed: the main curve's
    k_cells = n/6250 heuristic gave the 200k corpus 32 cells over 64
    latent clusters, so each cell mixed two modes and PQ spent its
    codebook separating them instead of ranking within them (raw-ADC
    recall 0.0). This phase varies k_cells at corpus 200k with the
    probed FRACTION held at 12.5% (nprobe = k_cells/8) so the scan
    cost is constant and only the geometry moves; m doubles once to
    separate geometry gains from code-resolution gains."""
    from crime_spark_ml_spark.ml.ivfpq import (
        build_ivfpq,
        ivfpq_topk,
        ivfpq_topk_refined,
    )
    from crime_spark_ml_spark.operators.similarity import brute_force_topk
    from crime_spark_ml_spark.plans.datapipe import _train_fraction

    s = args.cells_corpus
    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet").where(
        F.col("vec_id") < s
    )
    queries = emb.where(F.col("vec_id") < args.n_queries)
    k = 10
    exact = (
        brute_force_topk(emb, queries, k=k)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    n_truth = exact.count()

    def recall(df) -> float:
        got = df.select("query_id", "cand_id")
        return round(got.join(exact, ["query_id", "cand_id"]).count() / n_truth, 4)

    points = []
    # the final (None, 16) point exercises build_ivfpq's DEFAULT
    # signature (r9: k_cells=None derives suggest_k_cells(n) ~ sqrt n)
    # so the recorded recall is what a user gets out of the box, at
    # the same 12.5% probed fraction as the explicit-geometry points
    specs = [
        (None if p.split(":")[0] == "default" else int(p.split(":")[0]),
         int(p.split(":")[1]))
        for p in args.cells_points.split(",")
    ]
    for k_cells, m in specs:
        t0 = time.perf_counter()
        index = build_ivfpq(
            emb, k_cells=k_cells, m=m, k=16, seed=0,
            train_fraction=_train_fraction(s),
        )
        if k_cells is None:
            k_cells = len(index.cids)  # derived: report the actual
        nprobe = max(1, k_cells // 8)
        raw = recall(ivfpq_topk(index, queries, k=k, nprobe=nprobe))
        refined = recall(
            ivfpq_topk_refined(index, emb, queries, k=k, nprobe=nprobe, expand=16)
        )
        pt = {
            "k_cells": k_cells,
            "m": m,
            "nprobe": nprobe,
            "cells_frac": round(nprobe / k_cells, 4),
            "recall_raw_adc": raw,
            "recall_refined_exp16": refined,
            "build_plus_probe_sec": round(time.perf_counter() - t0, 1),
        }
        points.append(pt)
        print(f"[scale][cells] corpus={s} {pt}")
    _record("cells", {"corpus": s, "k": k, "n_queries": args.n_queries,
                      "latent_clusters": N_CLUSTERS, "points": points})


def cmd_dedup(spark, args) -> None:
    from crime_spark_ml_spark.functions.hashing import band_hashes
    from crime_spark_ml_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs_all = spark.read.parquet(f"{args.dir}/documents.parquet")
    sizes = [int(s) for s in args.sizes.split(",")]
    # untimed warmup (JIT/codegen) — see cmd_ann
    wdocs = docs_all.where(F.col("doc_id") < 1000).select("doc_id", "text")
    duplicate_clusters(
        minhash_lsh_candidates(wdocs), wdocs.select("doc_id")
    ).agg(F.count("*")).first()
    per_size = []
    for s in sizes:
        docs = docs_all.where(F.col("doc_id") < s).select("doc_id", "text")
        t0 = time.perf_counter()
        pairs = minhash_lsh_candidates(
            docs, parallelism=spark.sparkContext.defaultParallelism
        )
        clusters = duplicate_clusters(pairs, docs.select("doc_id"))
        funnel = clusters.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_survivors"),
        ).first()
        wall = round(time.perf_counter() - t0, 2)
        per_size.append(
            {
                "n_docs": int(funnel.n_docs),
                "n_survivors": int(funnel.n_survivors),
                "removed_frac": round(1 - funnel.n_survivors / funnel.n_docs, 4),
                "wall_sec": wall,
            }
        )
        print(f"[scale][dedup] {per_size[-1]}")
    docs = docs_all.where(F.col("doc_id") < sizes[-1]).select("doc_id", "text")
    buckets = (
        minhash_signatures(
            docs, parallelism=spark.sparkContext.defaultParallelism
        )
        .select(F.posexplode(band_hashes("minhash_sig", 8, 4)).alias("bp", "bh"))
        .groupBy("bp", "bh")
        .count()
    )
    bstats = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.expr("percentile(count, 0.5)").alias("p50"),
        F.expr("percentile(count, 0.99)").alias("p99"),
        F.max("count").alias("max"),
        F.sum(F.when(F.col("count") > 200, 1).otherwise(0)).alias("over_cap"),
    ).first()
    _record(
        "dedup",
        {
            "per_doc_count": per_size,
            "lsh_bucket_sizes_at_largest": {
                "n_buckets": int(bstats.n_buckets),
                "p50": float(bstats.p50),
                "p99": float(bstats.p99),
                "max": int(bstats.max),
                "over_max_bucket_cap_200": int(bstats.over_cap),
            },
        },
    )


def cmd_spans(spark, args) -> None:
    """Duplicated-span detection (operators/dedup.duplicate_spans,
    hashed gram path) per doc count: wall time should grow ~linearly
    at constant dup rate — the gram groupBy dominates and its input is
    ~tokens-per-doc x n_docs. Also records the span yield so the run
    is evidently non-vacuous (the planted near-dups make every gram of
    ~10% of docs duplicated)."""
    from crime_spark_ml_spark.operators.dedup import duplicate_spans

    docs_all = spark.read.parquet(f"{args.dir}/documents.parquet")
    sizes = [int(s) for s in args.sizes.split(",")]
    # untimed warmup (JIT/codegen) — see cmd_ann
    duplicate_spans(
        docs_all.where(F.col("doc_id") < 1000), hashed=True
    ).agg(F.count("*")).first()
    per_size = []
    for s in sizes:
        docs = docs_all.where(F.col("doc_id") < s).select("doc_id", "text")
        t0 = time.perf_counter()
        spans = duplicate_spans(docs, hashed=True)
        agg = spans.agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("doc_id").alias("n_docs_with_spans"),
            F.sum("span_tokens").alias("total_span_tokens"),
            F.max("span_tokens").alias("max_span_tokens"),
        ).first()
        wall = round(time.perf_counter() - t0, 2)
        per_size.append(
            {
                "n_docs": s,
                "n_spans": int(agg.n_spans),
                "n_docs_with_spans": int(agg.n_docs_with_spans),
                "total_span_tokens": int(agg.total_span_tokens),
                "max_span_tokens": int(agg.max_span_tokens),
                "wall_sec": wall,
            }
        )
        print(f"[scale][spans] {per_size[-1]}")
    _record("spans", {"per_doc_count": per_size})


class Replicated(NamedTuple):
    """A fixture of sf0.1 tables replicated ``factor`` times by key
    shift, and the registered queries a phase times on it."""

    prefix: str  # fixture dirs are <--dir>/<prefix>_f<factor>
    shifts: dict  # {table: {key column: shift per replica}}
    copied: tuple  # tables copied unchanged
    queries: tuple


REPLICATED = {
    # relational core: wall time should grow ~linearly with fact volume
    # (partial aggregation and AQE keep the plan shape constant), with
    # no super-linear shuffle blow-up at the 3-way join
    "tpch": Replicated(
        "tpch",
        {
            "lineitem": {"l_orderkey": 150_000},
            "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
            "customer": {"c_custkey": 15_000},
        },
        ("supplier", "part", "nation", "region"),
        ("q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue"),
    ),
    # per-user event counts (and per-window work) stay constant, so
    # growth is in the number of windows, the axis an event store grows
    # along; the fold/sweep queries keep bounded per-user state
    "events": Replicated(
        "events",
        {
            "events": {"user_id": 15_000, "event_id": 10_000_000},
            "customer": {"c_custkey": 15_000},
        },
        ("orders", "nation", "region"),
        (
            "ev_sessionize", "ev_window_tumbling", "ev_asof_last_purchase",
            "ev_ewma_value", "ev_peak_concurrency", "ev_busy_time_per_day",
            "ev_markov_transitions",
        ),
    ),
    # row-local JVM text kernels should scale ~linearly; a stray Python
    # UDF would show as a 10-100x cliff (a UDF-policy regression check)
    "text": Replicated(
        "text",
        {"documents": {"doc_id": 10_000_000}},
        (),
        ("dp_token_stats", "dp_quality_score", "dp_lang_id", "dp_top_terms_per_lang"),
    ),
    # the round-6 rewrites of single-task global windows (operators/
    # rank.py) must scale like their data-sized shuffles, never like a
    # one-task sort
    "rewrites": Replicated(
        "rw",
        {
            "events": {"user_id": 15_000, "event_id": 10_000_000},
            "documents": {"doc_id": 10_000_000},
            "embeddings": {"vec_id": 10_000_000},
            "orders": {"o_orderkey": 10_000_000, "o_custkey": 15_000},
            "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000},
        },
        (),
        (
            "ev_bot_regularity", "ev_group_sequential_obf",
            "ev_propensity_matching", "ev_littles_law", "ev_uplift_qini",
            "ev_sprt_sequential", "dp_maxsim_late_interaction",
            "dp_label_noise_centroid", "dp_rank_fusion_rrf",
            "dp_equidepth_hist2d", "dp_heaps_law", "dp_link_prediction",
            "j_rfm_segmentation",
        ),
    ),
}
# the statistical tests: moment pivots should stay flat with the number
# of users; the permutation test (users x 200) and log-rank (per-hour
# risk sets) are the two with real volume dependence
REPLICATED["newstats"] = REPLICATED["events"]._replace(
    queries=(
        "ev_anova_oneway", "ev_welch_ttest", "ev_ratio_metric_delta",
        "ev_mann_whitney", "ev_permutation_test", "ev_logrank_test",
        "ev_cmh_test",
    )
)


def cmd_replicated(spark, args, phase: str, timer=None) -> None:
    """Per --factors: build the phase's fixture dir (each missing table
    once), count its replicated tables, warm up on the first query
    untimed, then time the queries (default: bench.time_queries with
    the build inside the timed region) and record one row per factor."""
    fx = REPLICATED[phase]
    specs = load_all_plans()
    if timer is None:
        def timer(d):
            return time_queries(spark, specs, fx.queries, d, time_build=True)
    per = []
    for fct in (int(x) for x in args.factors.split(",")):
        d = f"{args.dir}/{fx.prefix}_f{fct}"
        for t in (*fx.shifts, *fx.copied):
            if not os.path.exists(f"{d}/{t}.parquet"):
                src = spark.read.parquet(f"{SRC_DIR}/{t}.parquet")
                if t in fx.shifts:
                    src = _replicate(src, fx.shifts[t], fct)
                src.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
        row = {"factor": fct}
        for t in fx.shifts:
            row[f"{t}_rows"] = spark.read.parquet(f"{d}/{t}.parquet").count()
        noop(specs[fx.queries[0]].fn(spark, d))  # untimed warm-up
        row.update(timer(d))
        per.append(row)
        print(f"[scale][{phase}] {row}")
    _record(phase, {"per_factor": per})


def cmd_newstats(spark, args) -> None:
    """The statistical tests time a collect, since their decisions must
    stay sane: each statistic table is small and non-empty."""
    specs = load_all_plans()

    def collect_checked(q, d):
        assert 0 < len(specs[q].fn(spark, d).collect()) <= 20, q

    def timer(d):
        return {
            q: round(best_seconds(lambda: collect_checked(q, d)), 3)
            for q in REPLICATED["newstats"].queries
        }

    cmd_replicated(spark, args, "newstats", timer)


def cmd_linkage(spark, args) -> None:
    """Volume curves for the round-5 linkage/CDC operators.

    SNM and CDC are O(n·w) / O(n·len) row-local work — wall time should
    grow ~linearly with doc count. The PPJoin prefix filter runs over
    4-word SHINGLES instead of raw tokens, for two reasons. (1) The
    synthetic 44-word vocab makes every doc share nearly every raw
    token (token-set Jaccard ≈ 1 for all pairs — a quadratic OUTPUT,
    no algorithm fixes that). (2) Shingle-space SIZE controls the
    regime: a measured 3-shingle run (44³ = 85k possible) saturated —
    per-shingle df grew ∝ n, so prefix-bucket candidate mass grew
    ∝ Σ df² ≈ n² (25k docs: 47 s / 120 pairs; 50k: 205 s / 240 pairs
    — 4.3x time for 2x docs). That is the published boundary of prefix
    filtering: it is sub-quadratic only while prefix tokens stay RARE.
    Real corpora stay in that regime because vocabulary grows with the
    corpus (Heaps' law); 4-word shingles (44⁴ ≈ 3.7M possible) emulate
    it here. Production guidance for low-discrimination token spaces
    is LSH (operators/dedup.py), not prefix filtering.
    Recorded per size: wall seconds + output cardinality for each op.
    """
    from crime_spark_ml_spark.operators.chunk import cdc_chunks
    from crime_spark_ml_spark.operators.linkage import (
        prefix_filter_jaccard_join,
        snm_edit_pairs,
    )

    docs_all = spark.read.parquet(f"{args.dir}/documents.parquet")
    sizes = [int(s) for s in args.sizes.split(",")]

    def shingled(docs):
        sh = (
            "concat_ws(' ', transform("
            "sequence(1, greatest(size(split(text, ' ')) - 3, 1)), "
            "i -> concat_ws('_', slice(split(text, ' '), i, 4))))"
        )
        return docs.select("doc_id", "source", F.expr(sh).alias("text"))

    # untimed warmup (JIT/codegen) — see cmd_ann
    wdocs = docs_all.where(F.col("doc_id") < 1000)
    snm_edit_pairs(wdocs).count()
    prefix_filter_jaccard_join(shingled(wdocs), 0.5, scope_col="source").count()
    cdc_chunks(wdocs).agg(F.count("*")).first()

    per_size = []
    for s in sizes:
        docs = docs_all.where(F.col("doc_id") < s)
        row = {"n_docs": s}
        t0 = time.perf_counter()
        row["snm_pairs"] = snm_edit_pairs(docs).count()
        row["snm_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        row["ppjoin_pairs"] = prefix_filter_jaccard_join(
            shingled(docs), 0.5, scope_col="source"
        ).count()
        row["ppjoin_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cstats = cdc_chunks(docs).agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct(F.md5("chunk_text")).alias("n_distinct"),
        ).first()
        row["cdc_sec"] = round(time.perf_counter() - t0, 2)
        row["cdc_chunks"] = int(cstats.n_chunks)
        row["cdc_distinct"] = int(cstats.n_distinct)
        per_size.append(row)
        print(f"[scale][linkage] {row}")
    _record("linkage", {"per_doc_count": per_size})


def cmd_newops(spark, args) -> None:
    """Round-5-new operators under volume: greedy k-center (k corpus
    passes — the claim is LINEAR cost in corpus size at fixed k) and
    dynamic partition pruning (the claim is the pruned probe beats
    the same join with DPP disabled on a month-partitioned fact)."""
    import tempfile

    from crime_spark_ml_spark.operators.similarity import kcenter_select
    from crime_spark_ml_spark.plans.joins import build_dpp_join

    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")
    sizes = [int(x) for x in (args.sizes or "100000,200000,400000").split(",")]
    out = {"kcenter": [], "dpp": {}}

    def kcenter(corpus):
        radii = [r.maxmin_dist_r for r in kcenter_select(corpus, k=5).collect()[1:]]
        assert radii == sorted(radii, reverse=True), "greedy invariant broke at scale"

    for n in sizes:
        corpus = emb.where(F.col("vec_id") < n).select("vec_id", "embedding")
        best = best_seconds(lambda: kcenter(corpus))
        out["kcenter"].append({"corpus": n, "k": 5, "sec": round(best, 2)})
        print(f"[scale][newops] kcenter n={n} sec={best:.2f}")
    sf_dir = SRC_DIR
    store = tempfile.mkdtemp(prefix="dpp_scale_")
    try:
        # 16x-replicated fact (same month layout, 16x rows/partition):
        # at sf0.1's raw 1M rows the DPP subquery overhead exceeds the
        # scan savings (measured 0.80 vs 0.62 s) — the crossover needs
        # partitions big enough that skipping them pays
        from crime_spark_ml_spark.sources.catalog import load_table

        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "rep", F.explode(F.expr("sequence(1, 16)"))
        ).drop("rep")
        t0 = time.perf_counter()
        (
            li.withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(store)
        )
        out["dpp"]["write_sec"] = round(time.perf_counter() - t0, 2)
        out["dpp"]["fact_rows"] = spark.read.parquet(store).count()
        for flag, key in (("true", "pruned_sec"), ("false", "unpruned_sec")):
            spark.conf.set(
                "spark.sql.optimizer.dynamicPartitionPruning.enabled", flag
            )
            best = best_seconds(
                lambda: build_dpp_join(spark, sf_dir, store).collect(), runs=3
            )
            out["dpp"][key] = round(best, 2)
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        # the STRUCTURAL evidence (timing on a warm local page cache is
        # noise-dominated — measured in both directions): directories
        # the pruned scan actually reads vs the layout total
        months_total = len(
            [d for d in os.listdir(store) if d.startswith("ship_month=")]
        )
        df = build_dpp_join(spark, sf_dir, store)
        plan = df._jdf.queryExecution().executedPlan().toString()
        months_matched = df.count()
        out["dpp"]["months_total"] = months_total
        out["dpp"]["months_matched"] = int(months_matched)
        out["dpp"]["dpp_node_in_plan"] = "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(store, ignore_errors=True)
    print(f"[scale][newops] {out['dpp']}")
    _record("newops", out)


def cmd_kcore(spark, args) -> None:
    """Iterative k-core peeling under volume: the tree+clique graph of
    dp_kcore_decomposition at n = 100k/200k/400k nodes (pure
    spark.range synthesis, no fixture). The claims measured: rounds
    grow ~log2(n) (tree peeling depth), wall time grows sub-linearly
    in rounds x edges, and the recovered core is exactly the planted
    20-clique at every size."""
    from crime_spark_ml_spark.operators.dedup import kcore_peel

    sizes = [int(x) for x in (args.sizes or "100000,200000,400000").split(",")]
    per = []
    for n in sizes:
        step = n // 20
        clique = [3 + j * step for j in range(20)]
        cpairs = spark.createDataFrame(
            [(u, w) for u in clique for w in clique if u != w],
            "u bigint, w bigint",
        )
        tree = spark.range(1, n).select(
            F.col("id").alias("u"),
            ((F.col("id") - 1) / 2).cast("bigint").alias("w"),
        )
        edges = (
            tree.unionAll(tree.select(F.col("w").alias("u"), F.col("u").alias("w")))
            .unionAll(cpairs)
            .distinct()
        )
        t0 = time.perf_counter()
        core, rounds = kcore_peel(edges, k=3, max_rounds=80)
        members = sorted(r.u for r in core.select("u").distinct().collect())
        wall = time.perf_counter() - t0
        assert members == sorted(clique), f"core mismatch at n={n}"
        per.append(
            {"n_nodes": n, "rounds": rounds, "wall_sec": round(wall, 2),
             "core_size": len(members)}
        )
        print(f"[scale][kcore] n={n} rounds={rounds} sec={wall:.2f}")
    _record("kcore", {"per_size": per})


def cmd_gmedian(spark, args) -> None:
    """Weiszfeld geometric median under volume: 5 fixed iterations =
    6 corpus passes with driver-side 64-double state (the
    dp_geometric_median shape) at n = 100k/200k/400k vectors with the
    same 10% +50/dim poisoning plant. The claims measured: wall time
    ~linear in corpus size (pass-bound, state constant) and the
    robustness invariant (median stays near the clean centroid while
    the mean is dragged) holding at every size."""
    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")
    sizes = [int(x) for x in (args.sizes or "100000,200000,400000").split(",")]
    per = []
    for n in sizes:
        sub = emb.where(F.col("vec_id") < n)
        poisoned = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("gm|"), F.col("vec_id"))), 1, 8),
                16, 10,
            ).cast("long") % 10 == 0
        )
        pts = sub.select(
            "vec_id",
            poisoned.alias("poisoned"),
            F.transform(
                "embedding",
                lambda v: F.when(poisoned, v.cast("double") + 50.0).otherwise(
                    v.cast("double")
                ),
            ).alias("x"),
        ).localCheckpoint(eager=False)
        t0 = time.perf_counter()
        long = pts.select("poisoned", F.posexplode("x").alias("p", "xd"))
        m = [r.md for r in long.groupBy("p").agg(F.avg("xd").alias("md"))
             .orderBy("p").collect()]
        clean = [r.cd for r in long.where(~F.col("poisoned")).groupBy("p")
                 .agg(F.avg("xd").alias("cd")).orderBy("p").collect()]
        m0 = list(m)
        for _ in range(5):
            m_lit = F.array([F.lit(float(v)) for v in m])
            dist = (
                F.sqrt(F.aggregate(
                    F.zip_with("x", m_lit, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0).cast("double"), lambda acc, v: acc + v,
                )) + 1e-9
            )
            per_dim = (
                pts.withColumn("dist", dist)
                .select(F.posexplode("x").alias("p", "xd"), "dist")
                .groupBy("p")
                .agg((F.sum(F.col("xd") / F.col("dist"))
                      / F.sum(F.lit(1.0) / F.col("dist"))).alias("md"))
                .orderBy("p")
            )
            m = [r.md for r in per_dim.collect()]
        wall = time.perf_counter() - t0
        d_mean = sum((a - c) ** 2 for a, c in zip(m0, clean)) ** 0.5
        d_gmed = sum((a - c) ** 2 for a, c in zip(m, clean)) ** 0.5
        assert d_mean > 5 * d_gmed, f"robustness broke at n={n}"
        per.append({"n_vectors": n, "wall_sec": round(wall, 2),
                    "d_mean": round(d_mean, 3), "d_gmed": round(d_gmed, 3)})
        print(f"[scale][gmedian] n={n} sec={wall:.2f} "
              f"d_mean={d_mean:.2f} d_gmed={d_gmed:.3f}")
    _record("gmedian", {"per_size": per})


def cmd_hygiene(spark, args) -> None:
    """Cost of the round-6 canonical well-formed predicates at volume.

    The degenerate-input campaign gated ~60 plans behind two shared
    predicates (sources/catalog.py). Their 100 TB story must be
    measured, not asserted:

    - well_formed_events is three IsNotNull conjuncts — the parquet
      reader accepts them as pushed filters, so the cost is a null
      check during scan. Recorded as the PushedFilters proof plus a
      timing delta on a count-aggregate.
    - well_formed_embeddings runs O(dim) elementwise lambdas per row
      (size + two filters + a nonzero scan). That is real per-row
      work, but every consumer of the column already pays >= O(dim)
      per row to USE the vector; the curve shows the filtered and
      unfiltered scans grow at the same slope with a small constant
      ratio — no volume-dependent blow-up.
    """
    from crime_spark_ml_spark.sources.catalog import (
        well_formed_embeddings,
    )

    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")
    sizes = [args.emb // 4, args.emb // 2, args.emb]
    norm = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + CAST(x AS DOUBLE) * x)"
    )

    def norm_scan(df) -> None:
        df.agg(F.sum(F.expr(norm))).collect()

    curve = []
    for n in sizes:
        sub = emb.where(F.col("vec_id") < n)
        arms = (
            lambda: norm_scan(sub),
            lambda: norm_scan(well_formed_embeddings(sub)),
        )
        # warm BOTH plans (codegen + file cache) so neither side pays
        # first-run compilation inside its timed window; then best-of-2
        # of each arm in turn
        for arm in arms:
            arm()
        base_s, filt_s = (best_seconds(arm) for arm in arms)
        curve.append(
            {
                "rows": n,
                "base_norm_scan_s": round(base_s, 3),
                "well_formed_scan_s": round(filt_s, 3),
                "overhead_ratio": round(filt_s / base_s, 3),
            }
        )
        print(f"[hygiene] n={n} base={base_s:.3f}s filtered={filt_s:.3f}s")
    # events predicate: prove the IsNotNull conjuncts reach the scan.
    # Skippable data dependency — record None rather than crash after
    # the (slow) embeddings curve on a machine without the fixture.
    ev_path = f"{SRC_DIR}/events.parquet"
    if os.path.exists(ev_path):
        raw = spark.read.parquet(ev_path)
        filtered = raw.where(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        pushed = "PushedFilters: [IsNotNull" in plan
    else:
        pushed = None
    _record(
        "hygiene",
        {
            "embeddings_curve": curve,
            "events_isnotnull_pushed_to_scan": pushed,
            "note": (
                "well-formed predicates: events side is pushdown-free;"
                " embeddings side adds a bounded constant ratio over the"
                " cheapest real per-row kernel (self-norm aggregate),"
                " flat across corpus doublings"
            ),
        },
    )



def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("phase", choices=["gen", "ann", "recall", "cells", "dedup", "spans", "tpch", "events", "text", "linkage", "newops", "kcore", "gmedian", "newstats", "rewrites", "hygiene", "all"])
    ap.add_argument("--dir", default=os.path.join(REPO, ".scale"))
    ap.add_argument("--emb", type=int, default=400_000)
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--sizes", default=None)
    ap.add_argument("--nprobes", default="1,2,4,8,16")
    ap.add_argument("--cell-rows", type=int, default=6250, dest="cell_rows")
    ap.add_argument("--n-queries", type=int, default=8, dest="n_queries")
    ap.add_argument("--factors", default="1,4,16")
    ap.add_argument("--cells-corpus", type=int, default=200_000, dest="cells_corpus")
    ap.add_argument("--cells-points", dest="cells_points",
                    default="32:8,64:8,128:8,64:16,default:16",
                    help="k_cells:m list; 'default' = build_ivfpq's derived sqrt-n")
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scale-test", cpus=cpus, shuffle_partitions=cpus)
    if args.phase in ("gen", "all", "newops", "gmedian", "hygiene") and (
        args.phase == "gen" or not os.path.exists(f"{args.dir}/embeddings.parquet")
    ):
        cmd_gen(spark, args)
    if args.phase in ("ann", "all"):
        if args.sizes is None:
            args.sizes = f"{args.emb // 4},{args.emb // 2},{args.emb}"
        cmd_ann(spark, args)
    if args.phase in ("recall",):
        if not os.path.exists(f"{args.dir}/embeddings.parquet"):
            cmd_gen(spark, args)
        if args.sizes is None:
            args.sizes = f"{args.emb // 4},{args.emb // 2},{args.emb}"
        cmd_recall(spark, args)
    if args.phase in ("cells",):
        if not os.path.exists(f"{args.dir}/embeddings.parquet"):
            cmd_gen(spark, args)
        cmd_cells(spark, args)
    if args.phase in ("spans", "all"):
        # doc-count sizes, never the ann phase's embedding-count sizes
        # (in "all" the ann branch mutates args.sizes to emb-derived
        # values that would silently run the full corpus three times)
        if args.phase == "all" or args.sizes is None:
            args.sizes = f"{args.docs // 4},{args.docs // 2},{args.docs}"
        cmd_spans(spark, args)
    for phase in ("tpch", "events", "text"):
        if args.phase in (phase, "all"):
            cmd_replicated(spark, args, phase)
    if args.phase in ("dedup", "all"):
        args.sizes = f"{args.docs // 4},{args.docs // 2},{args.docs}"
        cmd_dedup(spark, args)
    if args.phase in ("linkage", "all"):
        args.sizes = f"{args.docs // 4},{args.docs // 2},{args.docs}"
        cmd_linkage(spark, args)
    if args.phase in ("newops",):
        cmd_newops(spark, args)
    if args.phase in ("kcore",):
        cmd_kcore(spark, args)
    if args.phase in ("gmedian",):
        cmd_gmedian(spark, args)
    if args.phase in ("newstats",):
        cmd_newstats(spark, args)
    if args.phase in ("hygiene",):
        cmd_hygiene(spark, args)
    if args.phase in ("rewrites",):
        cmd_replicated(spark, args, "rewrites")


if __name__ == "__main__":
    main()
