"""Local oracle-parity harness: mimics the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, sorted column names,
and order-insensitive values (columns sorted by name, rows sorted).
Used by tests (sf0.001) and the tools/check_parity.py CLI (sf0.01 —
the scale the driver checks at).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.catalog import TABLES
from .registry import load_all_plans


@dataclass
class ParityResult:
    name: str
    status: str  # "match" | "rows-only" | "MISMATCH" | "ERROR"
    detail: str = ""
    spark_rows: int = 0
    max_float_diff: float = field(default=0.0)

    @property
    def ok(self) -> bool:
        return self.status in ("match", "rows-only")


def _duckdb_conn(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    # plain views, exactly like the driver's oracle registration —
    # oracle SQL may only reference raw file columns
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0
        return v + 0.0
    return v


def _strict_cell(v):
    """Like _norm_cell but keeps the sign of a zero ("-0.0")."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
    return v


def _sorted_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    # compare and reorder case-insensitively: lowercase BEFORE sorting,
    # otherwise a mixed-case name list lowercased after the sort may no
    # longer be in sorted order and spuriously MISMATCHes vs DuckDB
    lowered = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: lowered[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(repr(c) for c in r))
    return [lowered[i] for i in order], out


def compare_query(name: str, spec, spark: SparkSession, con, sf_dir: str) -> ParityResult:
    try:
        sdf = spec.fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
    except Exception as e:  # noqa: BLE001
        return ParityResult(name, "ERROR", f"spark: {type(e).__name__}: {e}")
    if spec.oracle is None:
        return ParityResult(name, "rows-only", spark_rows=len(srows))
    try:
        rel = con.sql(spec.oracle)
        dcols = [d[0] for d in rel.description]
        drows = [tuple(r) for r in rel.fetchall()]
    except Exception as e:  # noqa: BLE001
        return ParityResult(name, "ERROR", f"duckdb: {type(e).__name__}: {e}")
    if len(srows) != len(drows):
        return ParityResult(name, "MISMATCH", f"row count spark={len(srows)} duckdb={len(drows)}", len(srows))
    sc, sr = _sorted_rows(scols, srows)
    dc, dr = _sorted_rows(dcols, drows)
    if sc != dc:
        return ParityResult(name, "MISMATCH", f"columns spark={sc} duckdb={dc}", len(srows))
    max_diff = 0.0
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a == b:
            continue
        # find the worst cell; floats get a measured diff for diagnosis
        for x, y in zip(a, b):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float):
                max_diff = max(max_diff, abs(x - y))
            else:
                return ParityResult(
                    name, "MISMATCH", f"row {i}: spark={a} duckdb={b}", len(srows)
                )
        if max_diff == 0.0:
            return ParityResult(name, "MISMATCH", f"row {i}: spark={a} duckdb={b}", len(srows))
    if max_diff > 0.0:
        return ParityResult(
            name, "MISMATCH", f"float diff up to {max_diff:g}", len(srows), max_diff
        )
    return ParityResult(name, "match", spark_rows=len(srows))


def run_parity(spark: SparkSession, sf_dir: str, only: list[str] | None = None) -> list[ParityResult]:
    specs = load_all_plans()
    con = _duckdb_conn(sf_dir)
    results = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        results.append(compare_query(name, spec, spark, con, sf_dir))
    return results
