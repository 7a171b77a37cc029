#!/usr/bin/env python
"""Build, persist, and probe an IVF×PQ ANN index from the command line.

Usage:
  python tools/run_ann.py build [--sf-dir DIR] [--index PATH]
                                [--cells N] [--m 8] [--codes 16]
  python tools/run_ann.py probe --index PATH [--sf-dir DIR]
                                [--query-ids 0,1,2] [--k 5] [--nprobe 4]
  python tools/run_ann.py append --index PATH --source PARQUET
                                 [--where SQL] [--id-shift N]
  python tools/run_ann.py stats --index PATH [--max-staleness 0.25]
  python tools/run_ann.py rebalance --index PATH [--sf-dir DIR]
                                    [--max-cell-rows N] [--source PARQUET]

``build`` trains the coarse quantizer + residual codebooks (bounded
driver-side fits), encodes the corpus, and writes the cell-partitioned
code store; ``probe`` reads ONLY the probed cells (partition pruning)
and prints the top-k neighbors per query. ``append`` encodes NEW
vectors with the persisted quantizers (no retrain) into their cells
and prints the updated staleness; ``stats`` prints the staleness
counter and whether the retrain trigger has fired; ``rebalance``
iteratively splits cells over --max-cell-rows (re-encoding only their
members from the source corpus) and prints the split report. Same operators the
registered dp_ann_* queries use — this CLI is the one-command face a
similarity-search operator would schedule.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crime_spark_ml_spark.ml.ivfpq import (  # noqa: E402
    append_ivfpq,
    build_ivfpq,
    cell_sizes,
    ivfpq_staleness,
    ivfpq_topk,
    ivfpq_topk_refined,
    load_ivfpq,
    needs_retrain,
    persist_ivfpq,
    split_oversized_cells,
)
from crime_spark_ml_spark.session import get_spark  # noqa: E402
from crime_spark_ml_spark.sources.catalog import load_table  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["build", "probe", "append", "stats", "rebalance"])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--index", default=None)
    ap.add_argument("--cells", type=int, default=None,
                    help="coarse cells; default derives ~sqrt(n) (suggest_k_cells)")
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--codes", type=int, default=16)
    ap.add_argument("--query-ids", default="0,1,2,3,4")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument(
        "--refine", type=int, default=0, metavar="EXPAND",
        help="exact re-rank an EXPAND*k ADC shortlist (0 = off)",
    )
    ap.add_argument("--source", default=None, help="parquet of new vectors to append")
    ap.add_argument("--where", default=None, help="SQL filter on the append source")
    ap.add_argument(
        "--id-shift", type=int, default=0,
        help="add N to appended vec_ids (id uniqueness is the caller's contract)",
    )
    ap.add_argument("--max-staleness", type=float, default=0.25)
    ap.add_argument("--max-cell-rows", type=int, default=None, dest="max_cell_rows")
    args = ap.parse_args()

    if args.mode == "stats":
        if not args.index or not os.path.isdir(args.index):
            print("stats requires --index pointing at a built index", file=sys.stderr)
            return 2
        spark = get_spark("ann-cli")
        st = ivfpq_staleness(spark, args.index)
        retrain = needs_retrain(spark, args.index, max_staleness=args.max_staleness)
        print(
            f"base {st['n_base']}  appended {st['n_appended']}  "
            f"staleness {st['staleness']:.3f}  "
            f"retrain_needed {retrain} (threshold {args.max_staleness})"
        )
        return 0

    if args.mode == "append":
        if not args.index or not os.path.isdir(args.index):
            print("append requires --index pointing at a built index", file=sys.stderr)
            return 2
        spark = get_spark("ann-cli")
        src = args.source or f"{args.sf_dir}/embeddings.parquet"
        new = spark.read.parquet(src)
        if args.where:
            new = new.where(args.where)
        if args.id_shift:
            new = new.withColumn(
                "vec_id", (F.col("vec_id") + F.lit(args.id_shift)).cast("long")
            )
        st = append_ivfpq(spark, args.index, new)
        print(
            f"appended into {args.index}: base {st['n_base']}  "
            f"appended {st['n_appended']}  staleness {st['staleness']:.3f}"
        )
        return 0

    if args.mode == "rebalance":
        if not args.index or not os.path.isdir(args.index):
            print(
                "rebalance requires --index pointing at a built index",
                file=sys.stderr,
            )
            return 2
        if not args.max_cell_rows:
            print("rebalance requires --max-cell-rows", file=sys.stderr)
            return 2
        spark = get_spark("ann-cli")
        src = args.source or f"{args.sf_dir}/embeddings.parquet"
        corpus = spark.read.parquet(src)
        report = split_oversized_cells(
            spark, args.index, corpus, max_rows=args.max_cell_rows
        )
        for info in report["split"]:
            print(f"split cid {info['cid']} (n={info['n']}) -> {info['into']}")
        if report["unsplittable"]:
            print(f"unsplittable (left intact): {report['unsplittable']}")
        sizes = cell_sizes(spark, args.index)
        print(
            f"{report['k_cells']} cells, rows min/max "
            f"{min(sizes.values())}/{max(sizes.values())}"
        )
        return 0

    spark = get_spark("ann-cli")
    emb = load_table(spark, args.sf_dir, "embeddings")

    if args.mode == "build":
        path = args.index or tempfile.mkdtemp(prefix="ivfpq_index_")
        n = emb.count()
        frac = None  # train_pq/build_ivf auto-bound above their row cap
        from crime_spark_ml_spark.ml.ivf import suggest_k_cells

        index = build_ivfpq(
            emb,
            k_cells=args.cells if args.cells else suggest_k_cells(n),
            m=args.m,
            k=args.codes,
            seed=0,
            train_fraction=frac,
        )
        persist_ivfpq(index, path)
        n_cells = index.centroids.count()
        print(f"indexed {n} vectors into {n_cells} cells at {path}")
        return 0

    if not args.index or not os.path.isdir(args.index):
        print("probe requires --index pointing at a built index", file=sys.stderr)
        return 2
    ids = [int(x) for x in args.query_ids.split(",") if x != ""]
    queries = emb.where(F.col("vec_id").isin(ids))
    index = load_ivfpq(spark, args.index)
    if args.refine > 0:
        top = ivfpq_topk_refined(
            index, emb, queries, k=args.k, nprobe=args.nprobe, expand=args.refine
        ).orderBy("query_id", "rank")
        for r in top.collect():
            print(f"query {r.query_id}  #{r.rank}: vec {r.cand_id}  cos {r.cos}")
        return 0
    top = ivfpq_topk(index, queries, k=args.k, nprobe=args.nprobe).orderBy(
        "query_id", "rank"
    )
    for r in top.collect():
        print(f"query {r.query_id}  #{r.rank}: vec {r.cand_id}  adist {r.adist}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
