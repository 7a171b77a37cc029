#!/usr/bin/env python
"""Empirically sweep every DuckDB oracle for ROUND-on-double tie
hazards — the second r7 driver-mismatch class (`ev_fdr_bh`).

DuckDB's ROUND(DOUBLE, k) implementation is build/version-sensitive
near ties (multiply-based vs decimal-based rounding can land a value
whose scaled fraction sits within a few ulps of .5 on either side),
while Spark's ROUND is BigDecimal HALF_UP on the exact binary
expansion. A query can therefore pass the local mirror (DuckDB 1.0.0)
and fail the driver's build — exactly what happened to ev_fdr_bh in
round 7.

Detection is data-exact, not textual: each oracle is run TWICE with
every `ROUND(...)` call redirected to a macro —

  variant A  round half toward +inf:  FLOOR(x * 10^s + 0.5) / 10^s
  variant B  round half toward -inf:  CEIL (x * 10^s - 0.5) / 10^s

Both are legitimate roundings that agree everywhere EXCEPT when a
scaled value computes to an exact .5 tie (or the FLOOR/CEIL pair
straddles one within float error). If the two full result sets are
identical, no output cell of this oracle — on this fixture — depends
on the tie-breaking rule, so ANY reasonable ROUND implementation
(including Spark's and every DuckDB build's) produces the same bytes.
A difference flags the query for conversion to the repo's FLOOR-in-
both quantization idiom (dp_cost_threshold_curve / ev_fdr_bh
precedent).

Usage:
    python tools/sweep_round_ties.py [sf_dir] [query ...]

Exit 0 = no tie-sensitive oracles; 1 = flagged (listed).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crime_spark_ml_spark.plans.parity import _duckdb_conn  # noqa: E402

_ROUND_RE = re.compile(r"\bROUND\s*\(", flags=re.I)

# The tie test is a MARGIN, not exact equality: variant A rounds any
# scaled fraction in [.5 - m, 1) up, variant B rounds [.5 - m? no —
# (.5 - m, .5 + m) is the disagreement band]. m is a few-ulp relative
# margin plus an absolute floor, so a value that a different ROUND
# implementation — or a 1-ulp libm difference upstream — could push
# across the boundary is flagged, not just an exact dyadic .5.
_MARGIN = "(ABS(x * POWER(10.0, s)) * 3.6e-15 + 1e-9)"
_MARGIN1 = "(ABS(x) * 3.6e-15 + 1e-9)"
_MACROS = {
    "A": (
        f"CREATE MACRO __rr1(x) AS FLOOR(x + 0.5 + {_MARGIN1})",
        f"CREATE MACRO __rr2(x, s) AS "
        f"FLOOR(x * POWER(10.0, s) + 0.5 + {_MARGIN}) / POWER(10.0, s)",
    ),
    "B": (
        f"CREATE MACRO __rr1(x) AS CEIL(x - 0.5 - {_MARGIN1})",
        f"CREATE MACRO __rr2(x, s) AS "
        f"CEIL(x * POWER(10.0, s) - 0.5 - {_MARGIN}) / POWER(10.0, s)",
    ),
}


def _rewrite_rounds(sql: str) -> str:
    """Replace every ROUND(...) call with __rr1/__rr2 by arity.

    Paren-matching, quote-aware scan — a regex alone cannot tell a
    1-arg ROUND(x) from a 2-arg ROUND(x, 6) when x itself contains
    commas inside nested calls."""
    out, pos = [], 0
    while True:
        m = _ROUND_RE.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        out.append(sql[pos : m.start()])
        i, depth, commas, in_str = m.end(), 1, 0, False
        while i < len(sql) and depth:
            ch = sql[i]
            if in_str:
                in_str = ch != "'"
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                commas += 1
            i += 1
        body = sql[m.end() : i]  # includes the closing paren
        # recurse for nested ROUNDs inside the argument list
        out.append(("__rr2(" if commas else "__rr1(") + _rewrite_rounds(body))
        pos = i


def _conn(sf_dir: str, variant: str):
    con = _duckdb_conn(sf_dir)
    for stmt in _MACROS[variant]:
        con.sql(stmt)
    return con


def sweep(
    sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None
) -> list[tuple[str, str]]:
    """Return [(query, detail)] for every oracle whose output depends
    on the ROUND tie-breaking rule on this fixture."""
    from crime_spark_ml_spark.plans.registry import load_all_plans

    cons = {v: _conn(sf_dir, v) for v in ("A", "B")}
    flagged: list[tuple[str, str]] = []
    for name, spec in sorted(load_all_plans().items()):
        if spec.oracle is None or (only and name not in only):
            continue
        if not _ROUND_RE.search(spec.oracle):
            continue
        sql = _rewrite_rounds(spec.oracle)
        outs = {}
        for v, con in cons.items():
            try:
                # normalize -0.0 -> 0.0: CEIL(x - 0.5) yields -0.0 for
                # x == 0 where FLOOR(x + 0.5) yields +0.0 — a macro
                # artifact, not a tie (real ROUND(0) is 0 everywhere)
                outs[v] = sorted(
                    repr(tuple(0.0 if c == 0 else c for c in row))
                    for row in con.sql(sql).fetchall()
                )
            except Exception as e:  # rewrite failed — surface, don't skip
                outs[v] = f"ERROR {type(e).__name__}: {e}"
        if outs["A"] != outs["B"]:
            if isinstance(outs["A"], str) or isinstance(outs["B"], str):
                detail = f"rewrite error: A={outs['A']!r:.80} B={outs['B']!r:.80}"
            else:
                diffs = [
                    f"{a} != {b}"
                    for a, b in zip(outs["A"], outs["B"])
                    if a != b
                ]
                detail = f"{len(diffs)} tie cell(s); first: {diffs[0][:160]}"
            flagged.append((name, detail))
        elif isinstance(outs["A"], str):
            flagged.append((name, f"rewrite error both variants: {outs['A'][:160]}"))
    return flagged


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)] or None
    flagged = sweep(sf_dir, only)
    for name, detail in flagged:
        print(f"TIE {name:36s} {detail}")
    if flagged:
        print(f"\n{len(flagged)} tie-sensitive oracle(s) — convert to the "
              f"FLOOR-in-both quantization idiom on BOTH engines.")
        return 1
    print("no ROUND tie hazards on this fixture")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
