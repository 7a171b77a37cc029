#!/usr/bin/env python
"""Audit every oracle query for signed-zero / NaN canonicalization
divergence between the engines — a third local-green ≠ driver-green
class, sibling of the r7 HUGEINT and ROUND-tie findings.

The local mirror's `_norm_cell` collapses -0.0 vs 0.0 (and maps NaN to
a sentinel) BEFORE hashing, so a query where Spark emits +0.0 and
DuckDB emits -0.0 for the same cell passes `check_parity` forever —
but a driver whose canonicalization formats the sign (repr(-0.0) =
'-0.0') records a hash mismatch. The divergence is real and easy to
produce: Spark's ROUND goes through BigDecimal, which has no signed
zero (ROUND(-1e-9, 6) -> +0.0), while DuckDB's multiply-based round
preserves IEEE sign (-> -0.0).

This sweep runs BOTH engines on every oracle query and flags any
(query, row) whose cells match under the loose compare but differ
under exact repr — i.e. exactly the cells the local gate hides.

Usage:
    python tools/sweep_signed_zero.py [sf_dir] [query ...]

Exit 0 = no hidden divergence; 1 = flagged (listed). Fix by
normalizing the zero in BOTH engines (`x + 0.0` maps -0.0 to +0.0
under IEEE round-to-nearest) or restructuring the expression so the
engines agree by construction.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crime_spark_ml_spark.plans.parity import (  # noqa: E402
    _duckdb_conn,
    _norm_cell,
    _strict_cell,
)


def _sorted_raw(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows ordered exactly like parity._sorted_rows (columns by
    lowercased name, rows by repr of the LOOSE-normalized cells — so
    pairing matches the gate's pairing) but with RAW cells preserved
    for the strict compare."""
    lowered = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: lowered[i])
    raw = [tuple(r[i] for i in order) for r in rows]
    raw.sort(key=lambda r: tuple(repr(_norm_cell(c)) for c in r))
    return raw


def sweep(spark, sf_dir: str, only: list[str] | None = None) -> list[tuple[str, str]]:
    from crime_spark_ml_spark.plans.registry import load_all_plans

    con = _duckdb_conn(sf_dir)
    flagged: list[tuple[str, str]] = []
    for name, spec in sorted(load_all_plans().items()):
        if spec.oracle is None or (only and name not in only):
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            rel = con.sql(spec.oracle)
            dcols = [d[0] for d in rel.description]
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            flagged.append((name, f"ERROR {type(e).__name__}: {e}"))
            continue
        if len(srows) != len(drows):
            continue  # a loose mismatch — check_parity's job, not ours
        sr = _sorted_raw(scols, srows)
        dr = _sorted_raw(dcols, drows)
        for a, b in zip(sr, dr):
            la = tuple(_norm_cell(c) for c in a)
            lb = tuple(_norm_cell(c) for c in b)
            if la != lb:
                continue  # loose mismatch — not hidden, skip
            for x, y in zip(
                [_strict_cell(c) for c in a], [_strict_cell(c) for c in b]
            ):
                if repr(x) != repr(y):
                    flagged.append(
                        (name, f"loose-equal strict-diff cell: "
                               f"spark={x!r} duckdb={y!r} in row {la}")
                    )
                    break
            else:
                continue
            break
    return flagged


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)] or None
    from crime_spark_ml_spark.session import get_spark

    spark = get_spark("sweep-signed-zero")
    flagged = sweep(spark, sf_dir, only)
    for name, detail in flagged:
        print(f"ZERO {name:36s} {detail[:160]}")
    if flagged:
        print(f"\n{len(flagged)} hidden signed-zero/NaN divergence(s).")
        return 1
    print("no signed-zero/NaN divergence hidden by the loose compare")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
