#!/usr/bin/env python
"""Sweep every registered DuckDB oracle for environment-fragile result
column types.

The r7 driver window produced the first hash mismatches since r03
(`dp_shard_manifest`, `ev_fdr_bh`) — both PASSED the local mirror, so
the divergence class is *oracle/DuckDB-build portability*, not logic.
The proven mechanism for `dp_shard_manifest`: DuckDB promotes
`SUM(BIGINT)` to HUGEINT (INT128), a type Spark does not have and whose
canonicalization is driver-environment-sensitive, while the local
mirror's normalizer happened to agree. This sweep makes the whole
class mechanically impossible:

  for every oracle: DESCRIBE (sql)   -- plans the query, runs nothing
  flag any result column whose DuckDB type is outside the PORTABLE set

Portable = types with an exact, canonicalization-stable Spark
counterpart: BOOLEAN, INTEGER/BIGINT (and narrower ints), DOUBLE,
VARCHAR, DATE, TIMESTAMP/TIMESTAMP_NS, and LIST/STRUCT of those.
Fragile = HUGEINT/UHUGEINT (no Spark analogue; INT128 formatting),
DECIMAL (DuckDB widens precision differently than Spark: SUM(DECIMAL)
-> DECIMAL(38,s) vs Spark's (p+10,s)), FLOAT/REAL (single-precision
repr differs from Spark's), and anything unrecognized.

Usage:
    python tools/sweep_oracle_types.py [sf_dir]    # default sf0.001

Exit 0 = clean; 1 = fragile columns found (listed). Also run as a test
via tests/test_oracle_types.py so the gate is permanent.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Exact-match portable scalar types (DuckDB DESCRIBE spelling).
_PORTABLE_SCALARS = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP_NS",
    "BLOB",
}


def _is_portable(duck_type: str) -> bool:
    t = duck_type.strip().upper()
    if t in _PORTABLE_SCALARS:
        return True
    # LIST of a portable element: e.g. DOUBLE[] / VARCHAR[]
    m = re.fullmatch(r"(.+)\[\]", t)
    if m:
        return _is_portable(m.group(1))
    # STRUCT(a T, b U): portable iff every field type is
    m = re.fullmatch(r"STRUCT\((.+)\)", t, flags=re.S)
    if m:
        # split on top-level commas
        depth, start, parts = 0, 0, []
        body = m.group(1)
        for i, ch in enumerate(body):
            if ch in "(<[":
                depth += 1
            elif ch in ")>]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(body[start:i])
                start = i + 1
        parts.append(body[start:])
        for p in parts:
            # field name (possibly quoted) then type
            ftype = p.strip().split(" ", 1)[1]
            if not _is_portable(ftype):
                return False
        return True
    return False


def sweep(sf_dir: str = "/root/testdata/sf0.001") -> list[tuple[str, str, str]]:
    """Return [(query, column, duck_type)] for every fragile column."""
    from crime_spark_ml_spark.plans.parity import _duckdb_conn
    from crime_spark_ml_spark.plans.registry import load_all_plans

    con = _duckdb_conn(sf_dir)
    bad: list[tuple[str, str, str]] = []
    for name, spec in sorted(load_all_plans().items()):
        if spec.oracle is None:
            continue
        rows = con.sql(f"DESCRIBE ({spec.oracle})").fetchall()
        for col, duck_type, *_ in rows:
            if not _is_portable(duck_type):
                bad.append((name, col, duck_type))
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bad = sweep(sf_dir)
    for name, col, duck_type in bad:
        print(f"FRAGILE {name:36s} {col:24s} {duck_type}")
    n_total = len(bad)
    if n_total:
        print(f"\n{n_total} fragile oracle output column(s) — cast them "
              f"(BIGINT/DOUBLE) in the oracle SQL.")
        return 1
    print("all oracle output columns are portable types")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
