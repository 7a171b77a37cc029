"""Distributed exact ranking helpers (operators/rank.py) against the
single-partition window ground truth — the substitution every
global-sort rewrite in the registry relies on being exact."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from crime_spark_ml_spark.operators.rank import (
    global_row_number,
    grouped_prefix_sums,
    grouped_row_number,
)


def _scrambled(spark, n=1000):
    """Values deliberately uncorrelated with insertion order, with
    duplicate keys, across several input partitions."""
    return (
        spark.range(n)
        .repartition(7)
        .select(
            "id",
            (F.xxhash64("id") % 97).alias("v"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.xxhash64("id", F.lit(1)) % 5).alias("x"),
        )
    )


def test_global_row_number_matches_window(spark):
    df = _scrambled(spark)
    got, n = global_row_number(df, ["v", "id"], out_col="r")
    assert n == 1000
    truth = df.withColumn(
        "r", F.row_number().over(Window.orderBy("v", "id"))
    )
    assert sorted((r.id, r.r) for r in got.collect()) == sorted(
        (r.id, r.r) for r in truth.collect()
    )


def test_global_row_number_desc_expression(spark):
    df = _scrambled(spark, 200)
    got, _ = global_row_number(df, [F.col("v").desc(), F.col("id")], out_col="r")
    truth = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("v").desc(), "id"))
    )
    assert sorted((r.id, r.r) for r in got.collect()) == sorted(
        (r.id, r.r) for r in truth.collect()
    )


def test_grouped_row_number_matches_window(spark):
    df = _scrambled(spark)
    got, sizes = grouped_row_number(df, ["g"], ["v", "id"], out_col="r")
    truth = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("v", "id"))
    )
    assert sorted((r.id, r.r) for r in got.collect()) == sorted(
        (r.id, r.r) for r in truth.collect()
    )
    assert sizes == {(r.g,): r.n for r in df.groupBy("g").agg(F.count("*").alias("n")).collect()}


def test_grouped_prefix_sums_matches_window(spark):
    df = _scrambled(spark).withColumn("one", F.lit(1))
    got = grouped_prefix_sums(
        df, ["g"], ["v", "id"], {"one": "rn", "x": "sx"}
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    truth = df.withColumn("rn", F.sum("one").over(w)).withColumn(
        "sx", F.sum("x").over(w)
    )
    assert sorted((r.id, r.rn, r.sx) for r in got.collect()) == sorted(
        (r.id, r.rn, r.sx) for r in truth.collect()
    )


def test_no_single_partition_window_in_helper_plans(spark):
    """The helpers must never themselves emit the node they exist to
    avoid. Linted on the LAZY pre-checkpoint builder — after
    ``localCheckpoint`` the returned frame's plan is an ExistingRDD
    scan with no Window node at all, so linting the public helpers'
    output would pass vacuously."""
    import sys, os

    sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
    from crime_spark_ml_spark.operators.rank import _pid_cumsums
    from test_plan_linter import unpartitioned_unbounded_windows

    df = _scrambled(spark, 100)
    for lazy in (
        _pid_cumsums(df, [], ["v", "id"], {"r": F.lit(1)}),
        _pid_cumsums(df, ["g"], ["v", "id"], {"rn": F.lit(1), "sx": "x"}),
    ):
        plan = lazy._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan  # the lint below must have a subject
        assert not unpartitioned_unbounded_windows(plan)


def test_helper_plans_have_no_join(spark):
    """Offsets are a literal expression on the checkpointed frame: each
    helper's executed plan scans that checkpoint once, joins nothing
    and starts no Python worker."""
    df = _scrambled(spark, 200)
    outs = {
        "global_row_number": global_row_number(df, ["v", "id"])[0],
        "grouped_row_number": grouped_row_number(df, ["g"], ["v", "id"])[0],
        "grouped_prefix_sums": grouped_prefix_sums(df, ["g"], ["v", "id"], {"x": "cum"}),
    }
    for name, out in outs.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 1, (name, plan)
        assert "Join" not in plan and "Python" not in plan, (name, plan)


def test_helper_output_dtypes(spark):
    """Row numbers are bigint; a running sum carries ``F.sum``'s type
    of its input (bigint, double, decimal(38,s))."""
    df = _scrambled(spark, 200).select(
        "id", "v", "g",
        F.col("x").cast("int").alias("xi"),
        F.col("x").cast("double").alias("xd"),
        F.col("x").cast("decimal(12,2)").alias("xm"),
    )
    assert dict(global_row_number(df, ["v", "id"], out_col="r")[0].dtypes)["r"] == "bigint"
    assert dict(grouped_row_number(df, ["g"], ["v", "id"], out_col="r")[0].dtypes)["r"] == "bigint"
    sums = grouped_prefix_sums(df, ["g"], ["v", "id"], {"xi": "si", "xd": "sd", "xm": "sm"})
    assert [t for c, t in sums.dtypes] == [
        "bigint", "bigint", "string", "int", "double", "decimal(12,2)",
        "bigint", "double", "decimal(38,2)",
    ]


def test_helpers_on_empty_input(spark):
    df = _scrambled(spark, 10).where(F.lit(False))
    got, n = global_row_number(df, ["v", "id"])
    assert n == 0 and got.count() == 0
    got, sizes = grouped_row_number(df, ["g"], ["v", "id"])
    assert sizes == {} and got.count() == 0
    assert grouped_prefix_sums(df, ["g"], ["v", "id"], {"x": "sx"}).count() == 0


def test_grouped_helpers_keep_null_group_rows(spark):
    """NULL group keys form their own partition under window
    semantics — the offset match must be null-safe (<=>): a plain
    equality matches no NULL-group row, whose number would be NULL."""
    df = _scrambled(spark, 300).withColumn(
        "g", F.when(F.col("id") % 4 == 0, None).otherwise(F.col("g"))
    )
    got, sizes = grouped_row_number(df, ["g"], ["v", "id"], out_col="r")
    truth = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("v", "id"))
    )
    assert got.count() == 300 and sizes[(None,)] == 75
    assert sorted((r.id, r.r) for r in got.collect()) == sorted(
        (r.id, r.r) for r in truth.collect()
    )
    sums = grouped_prefix_sums(
        df.withColumn("one", F.lit(1)), ["g"], ["v", "id"], {"one": "rn"}
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    truth2 = df.withColumn("one", F.lit(1)).withColumn(
        "rn", F.sum("one").over(w)
    )
    assert sorted((r.id, r.rn) for r in sums.collect()) == sorted(
        (r.id, r.rn) for r in truth2.collect()
    )


def test_grouped_prefix_sums_double_values(spark):
    """Running totals over a DOUBLE column: the offsets must carry the
    sum's type — a long-typed offset would truncate the
    fractional part and shift every later partition's cumulative sum."""
    df = _scrambled(spark, 400).withColumn(
        "dx", F.col("x").cast("double") + F.lit(0.25)
    )
    got = grouped_prefix_sums(df, ["g"], ["v", "id"], {"dx": "sdx"})
    assert dict(got.dtypes)["sdx"] == "double"
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    truth = df.withColumn("sdx", F.sum("dx").over(w))
    got_m = {r.id: r.sdx for r in got.collect()}
    for r in truth.collect():
        assert abs(got_m[r.id] - r.sdx) < 1e-9, r.id


def test_grouped_prefix_sums_decimal_values(spark):
    """DECIMAL running totals are exact: offsets start from a plain 0
    and must land in the decimal(38,s) offset array unrounded."""
    df = _scrambled(spark, 400).withColumn(
        "dx", (F.col("x").cast("double") + F.lit(0.25)).cast("decimal(12,2)")
    )
    got = grouped_prefix_sums(df, ["g"], ["v", "id"], {"dx": "sdx"})
    assert dict(got.dtypes)["sdx"].startswith("decimal")
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    truth = df.withColumn("sdx", F.sum("dx").over(w))
    assert {r.id: r.sdx for r in got.collect()} == {
        r.id: r.sdx for r in truth.collect()
    }

def test_ntile_sql_matches_window_ntile(spark):
    """The shared closed form must be bit-identical to NTILE(k) at the
    n % k == 0, n % k != 0, and n < k edges."""
    from crime_spark_ml_spark.operators.rank import ntile_sql

    for n, k in ((40, 5), (43, 5), (3, 8), (1, 4), (97, 10)):
        df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
        got = df.select(
            "rk", F.expr(ntile_sql("rk", n, k)).alias("t")
        )
        truth = df.select(
            "rk", F.ntile(k).over(Window.orderBy("rk")).alias("t")
        )
        assert sorted((r.rk, r.t) for r in got.collect()) == sorted(
            (r.rk, r.t) for r in truth.collect()
        ), (n, k)
