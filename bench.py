#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution sinks to the noop writer — the full plan runs (scan,
shuffles, aggs) but nothing crosses to the driver, so timings measure
the engine, not result transfer.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crime_spark_ml_spark.plans.registry import load_all_plans  # noqa: E402
from crime_spark_ml_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_district_pivot",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "w_topn_per_group",
    "ev_window_tumbling",
    "ev_sessionize",
    "ev_asof_last_purchase",
    "dp_exact_dedup",
    "dp_minhash_candidates",
    "dp_ann_bruteforce",
    "dp_token_stats",
]

# Round-2/3 operators tracked as a SECOND set so the original 13 keep
# their r01 baseline continuity. These plans do real work eagerly while
# the plan is built (streaming availableNow runs, PQ codebook training,
# iterative connected components), so the timed region covers
# fn() + sink, not just the sink.
HEADLINE_EXT = [
    "ev_range_join",
    "dp_dedup_pipeline",
    "stream_session_window",
    "dp_ann_pq",
    "dp_ann_ivfpq",  # timed split into _build and _probe below
    "dp_decontaminate",
    "j_salted_skew_agg",
]


def noop(df) -> None:
    """Run ``df``'s whole plan into the noop sink: scans, shuffles and
    aggregates execute, nothing crosses to the driver."""
    df.write.format("noop").mode("overwrite").save()


def best_seconds(run, runs: int = 2, prepare=None) -> float:
    """Fastest of ``runs`` timed calls of ``run(prepare())``, or of
    ``run()`` without ``prepare``. ``prepare`` runs before each call,
    outside the timed span. Min of N, not the mean: the first run pays
    JIT/codegen compilation that a long-lived cluster would not re-pay
    per query."""
    best = float("inf")
    for _ in range(runs):
        args = () if prepare is None else (prepare(),)
        t0 = time.perf_counter()
        run(*args)
        best = min(best, time.perf_counter() - t0)
    return best


def time_queries(
    spark, specs, names, sf_dir: str, time_build: bool, runs: int = 2
) -> dict[str, float]:
    """Best-of-``runs`` seconds per registered query, rounded to ms.
    The timed region is the noop sink; ``time_build=True`` also times
    the plan-builder call, for queries that do real work eagerly while
    the plan is built. Each query's Spark jobs carry the description
    ``time: <name>``."""
    out: dict[str, float] = {}
    for name in names:
        build = functools.partial(specs[name].fn, spark, sf_dir)
        spark.sparkContext.setJobDescription(f"time: {name}")
        try:
            if time_build:
                best = best_seconds(lambda: noop(build()), runs)
            else:
                best = best_seconds(noop, runs, prepare=build)
        finally:
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
    return out


def time_ivfpq_split(spark, sf_dir: str) -> dict[str, float]:
    """dp_ann_ivfpq's cost, split at the production boundary: BUILD
    (quantizer fits + zero-shuffle encode + cell-partitioned persist —
    paid once per index) vs PROBE (pruned scan + broadcast LUT ADC —
    paid per search, the production-critical half). The registered
    query runs both as one blob, so a probe-path regression would hide
    behind the ~10x larger build cost; here each side gets its own
    min-of-2 line, same parameters as plans/datapipe.dp_ann_ivfpq."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from crime_spark_ml_spark.ml.ivf import suggest_k_cells
    from crime_spark_ml_spark.ml.ivfpq import (
        build_ivfpq,
        ivfpq_topk,
        load_ivfpq,
        persist_ivfpq,
    )
    from crime_spark_ml_spark.plans.datapipe import _train_fraction
    from crime_spark_ml_spark.sources.catalog import load_table

    # one paired loop rather than two best_seconds calls: each probe
    # reads the index its own iteration built and persisted
    best_build = best_probe = float("inf")
    for _ in range(2):
        emb = load_table(spark, sf_dir, "embeddings").cache()
        n = emb.count()
        frac = _train_fraction(n)
        kc = suggest_k_cells(n)  # r9 default geometry, same as dp_ann_ivfpq
        path = tempfile.mkdtemp(prefix="ivfpq_bench_")
        try:
            t0 = time.perf_counter()
            index = build_ivfpq(
                emb, k_cells=kc, m=16, k=16, seed=0, train_fraction=frac
            )
            persist_ivfpq(index, path)
            best_build = min(best_build, time.perf_counter() - t0)
            t0 = time.perf_counter()
            noop(ivfpq_topk(
                load_ivfpq(spark, path), emb.where(F.col("vec_id") < 5), k=5,
                nprobe=max(1, kc // 4),
            ))
            best_probe = min(best_probe, time.perf_counter() - t0)
        finally:
            shutil.rmtree(path, ignore_errors=True)
            emb.unpersist(blocking=False)
    return {
        "dp_ann_ivfpq_build": round(best_build, 3),
        "dp_ann_ivfpq_probe": round(best_probe, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    specs = load_all_plans()

    # JVM/codegen warmup outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    timings = time_queries(spark, specs, HEADLINE, sf_dir, time_build=False)
    # dp_ann_ivfpq reports as _build + _probe component lines; their
    # sum stays comparable to the single pre-split line in BENCH_r04
    ext_timings = time_queries(
        spark, specs, [n for n in HEADLINE_EXT if n != "dp_ann_ivfpq"], sf_dir,
        time_build=True,
    )
    ext_timings.update(time_ivfpq_split(spark, sf_dir))

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extended_total": round(sum(ext_timings.values()), 3),
                "extended_queries": ext_timings,
                "sf": sf,
                "runs_per_query": 2,
            }
        )
    )


if __name__ == "__main__":
    main()
