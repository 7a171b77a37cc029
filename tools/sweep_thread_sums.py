#!/usr/bin/env python
"""Sweep every oracle for DuckDB thread-count sensitivity — floating
aggregation order.

DuckDB parallelizes aggregates; a SUM/AVG/STDDEV over DOUBLE combines
per-thread partials in a non-fixed order, so the result can change
with the thread count (and morsel scheduling) — and the driver's
oracle environment does not share the local mirror's CPU count. An
oracle whose output depends on float-accumulation order can therefore
pass the local mirror and hash-mismatch on the driver: the same
local-green ≠ driver-green family as the r7 HUGEINT/ROUND findings.

The repo's convention already defends against this (rates and moments
are quantized to integer micro-units BEFORE cross-row aggregation);
this sweep verifies the convention held everywhere by running every
oracle at threads=1, 4, and 32 and comparing full sorted results
exactly (repr-level, signed zeros included).

Usage:
    python tools/sweep_thread_sums.py [sf_dir] [query ...]

Exit 0 = all oracles thread-stable; 1 = flagged (listed). Fix by
quantizing the aggregated quantity to integers (exact in any order)
or restructuring so the float fold has a deterministic order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crime_spark_ml_spark.plans.parity import _duckdb_conn, _strict_cell  # noqa: E402

THREADS = (1, 4, 32)


def _conn(sf_dir: str, threads: int):
    con = _duckdb_conn(sf_dir)
    con.sql(f"SET threads TO {threads}")
    return con


def sweep(sf_dir: str, only: list[str] | None = None) -> list[tuple[str, str]]:
    from crime_spark_ml_spark.plans.registry import load_all_plans

    cons = {t: _conn(sf_dir, t) for t in THREADS}
    flagged: list[tuple[str, str]] = []
    for name, spec in sorted(load_all_plans().items()):
        if spec.oracle is None or (only and name not in only):
            continue
        outs = {}
        for t, con in cons.items():
            try:
                outs[t] = sorted(
                    repr(tuple(_strict_cell(c) for c in row))
                    for row in con.sql(spec.oracle).fetchall()
                )
            except Exception as e:  # noqa: BLE001
                outs[t] = f"ERROR {type(e).__name__}: {e}"
        base = outs[THREADS[0]]
        for t in THREADS[1:]:
            if outs[t] != base:
                if isinstance(base, str) or isinstance(outs[t], str):
                    detail = f"threads={t}: {str(outs[t])[:120]}"
                else:
                    diffs = [f"{a} != {b}" for a, b in zip(base, outs[t]) if a != b]
                    detail = (
                        f"threads=1 vs {t}: {len(diffs)} differing row(s); "
                        f"first: {diffs[0][:160]}"
                    )
                flagged.append((name, detail))
                break
    return flagged


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)] or None
    flagged = sweep(sf_dir, only)
    for name, detail in flagged:
        print(f"THREADS {name:36s} {detail}")
    if flagged:
        print(f"\n{len(flagged)} thread-sensitive oracle(s) — quantize the "
              f"float aggregation to integers in both engines.")
        return 1
    print("all oracles are DuckDB-thread-count stable")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
