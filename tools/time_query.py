#!/usr/bin/env python
"""Time registered queries with bench.py's own timing routine
(`bench.time_queries`: noop sink, min of N runs, per-query job
description ``time: <name>``) after the same warmup scan, without
adding them to the bench surface.

Usage:
  python tools/time_query.py dp_embedding_near_dups [more...] \
      [--sf-dir DIR] [--cpus N] [--runs N] [--time-build] [--explain-dir DIR]

--time-build times fn() + sink (for queries that do eager work while
building the plan, like the bench's HEADLINE_EXT). --explain-dir dumps
each query's .explain("formatted") to <dir>/<name>.txt before timing.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_queries  # noqa: E402
from crime_spark_ml_spark.plans.registry import load_all_plans  # noqa: E402
from crime_spark_ml_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--time-build", action="store_true")
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    specs = load_all_plans()
    spark = get_spark("time-query", cpus=args.cpus, shuffle_partitions=args.cpus)
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()

    for name in args.queries:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = specs[name].fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        best = time_queries(
            spark, specs, [name], args.sf_dir, args.time_build, args.runs
        )[name]
        print(f"{name:36s} {best:.3f}s  (min of {args.runs}, sf_dir={args.sf_dir})")


if __name__ == "__main__":
    main()
