"""``sources.readers.local_frame``: driver-built rows as a JVM
``LocalRelation`` instead of a list-built frame whose every scan runs a
Python-worker task per partition.

Equality with ``createDataFrame(rows, ddl)`` is checked on the session
the driver contract runs: vanilla ``local[2]``, ``America/Los_Angeles``,
Arrow conf off. The suite's own session (UTC, Arrow on) owns this
process's JVM, so that comparison runs in a child process — this file
run as a script — which also sets ``TZ`` so a naive ``datetime`` in a
TIMESTAMP field is read in a non-UTC Python local time on both paths.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import subprocess
import sys
from decimal import Decimal

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VANILLA_TZ = "America/Los_Angeles"

# name -> (ddl, rows); LA's 2020 DST gap (03-08 02:30) and overlap
# (11-01 01:30) make naive-timestamp handling observable
CASES = {
    "int": ("v int", [(1,), (-(2**31),), (None,)]),
    "bigint": ("v bigint", [(2**62,), (-1,), (None,)]),
    "double": ("v double", [(1.5,), (-0.0,), (float("inf"),), (None,)]),
    "decimal": (
        "v decimal(38,6)",
        [(Decimal("12345678901234567890.123456"),), (Decimal(0),), (None,)],
    ),
    "string": ("v string", [("a",), ("",), ("ünïcöde",), (None,)]),
    "date": ("v date", [(dt.date(1969, 12, 31),), (dt.date(2024, 2, 29),), (None,)]),
    "timestamp": (
        "v timestamp",
        [
            (dt.datetime(2020, 3, 8, 2, 30, 0, 123),),
            (dt.datetime(2020, 11, 1, 1, 30),),
            (dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc),),
            (None,),
        ],
    ),
    "array_double": ("v array<double>", [([1.0, None, -2.5],), ([],), (None,)]),
    "offset_table": (
        "__pid int, g string, __off bigint, __off_s decimal(38,2)",
        [(0, "a", 0, Decimal(0)), (1, "a", 7, Decimal("3.50")), (0, None, 0, Decimal(0))],
    ),
    "all_null": (
        "a int, b string, c decimal(38,2), d timestamp, e array<double>",
        [(None,) * 5, (None,) * 5],
    ),
    "empty": ("a int, b string, c date", []),
}


def _vanilla_report() -> dict:
    """Both builds of every case on a vanilla session (child side)."""
    from pyspark.sql import SparkSession

    from crime_spark_ml_spark.sources.readers import local_frame

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.session.timeZone", VANILLA_TZ)
        .config("spark.sql.execution.arrow.pyspark.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, (ddl, rows) in CASES.items():
        listed = spark.createDataFrame(rows, ddl)
        framed = local_frame(spark, rows, ddl)
        out[name] = {
            "list_schema": listed.schema.json(),
            "frame_schema": framed.schema.json(),
            "list_rows": repr(listed.collect()),
            "frame_rows": repr(framed.collect()),
            "frame_plan": framed._jdf.queryExecution().optimizedPlan().toString(),
        }
    spark.stop()
    return out


@pytest.fixture(scope="module")
def vanilla_report() -> dict:
    env = {**os.environ, "TZ": VANILLA_TZ, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("case", list(CASES))
def test_local_frame_equals_list_built_frame(vanilla_report, case):
    got = vanilla_report[case]
    assert got["frame_schema"] == got["list_schema"]
    assert got["frame_rows"] == got["list_rows"]
    assert "LocalRelation" in got["frame_plan"]
    assert "LogicalRDD" not in got["frame_plan"]


# Modules whose driver-built tables must go through local_frame. plans/
# is not covered yet: its result tables are still list-built.
LINTED = ["operators", "ml", "functions", "sources", "streaming", "workload.py", "session.py"]


def create_dataframe_sites(source: str) -> list[int]:
    """Line numbers of every ``createDataFrame`` reference in
    ``source`` outside the body of ``local_frame``."""
    tree = ast.parse(source)
    exempt = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
        for n in ast.walk(f)
    }
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "createDataFrame"
        and id(n) not in exempt
    )


def test_driver_built_tables_go_through_local_frame():
    """``createDataFrame(<list>)`` builds a frame whose every scan
    starts Python workers; driver-built tables use ``local_frame``."""
    pkg = os.path.join(REPO, "crime_spark_ml_spark")
    files = []
    for entry in LINTED:
        path = os.path.join(pkg, entry)
        if entry.endswith(".py"):
            files.append(path)
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    assert len(files) > len(LINTED)
    sites = [
        f"{os.path.relpath(path, REPO)}:{line}"
        for path in sorted(files)
        for line in create_dataframe_sites(open(path).read())
    ]
    assert sites == []


def test_lint_flags_create_dataframe_outside_local_frame():
    src = (
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
        "def offsets(spark):\n"
        "    return spark.createDataFrame([(0, 0)], 'a int, b long')\n"
        "make = spark.createDataFrame\n"
    )
    assert create_dataframe_sites(src) == [4, 5]


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    print(json.dumps(_vanilla_report()))
