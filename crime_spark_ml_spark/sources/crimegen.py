"""Deterministic crime-shaped fixture generator (FIXTURES.md §1).

The reference consumes the Kaggle SF-crime CSV (crime.py:6-7,79-82);
that data isn't shipped, so tests synthesize a table with the same
shape: 39 categories (crime.py:179's ``num_class=40`` over-allocates
by one — SURVEY.md §2.9 M3), 10 skewed districts, 7 weekdays,
``"YYYY-MM-DD HH:MM:SS"`` date strings spanning ≥3 years, lon/lat with
a few 90.0 outliers, and a sprinkle of NULLs for impute tests.

Generation is pure Spark expressions seeded by xxhash64 — fully
deterministic, no driver-side data, scales to any row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CATEGORIES = [f"CAT_{i:02d}" for i in range(39)]
DISTRICTS = [f"DIST_{i}" for i in range(10)]
RESOLUTIONS = [f"RES_{i}" for i in range(17)]


def _pick(h: F.Column, values: list[str], skew: bool = False) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    n = len(values)
    if skew:
        # triangular skew: squaring the uniform pushes mass to low indices
        u = F.pmod(h, 1000) / F.lit(1000.0)
        idx = F.floor(u * u * n).cast("int")
    else:
        idx = F.pmod(h, n).cast("int")
    return F.element_at(arr, idx + 1)


def crime_table(spark: SparkSession, n_rows: int = 5000, seed: int = 42) -> DataFrame:
    """Synthesize the train-shaped crime table. ``Category`` carries a
    learnable signal (tied to district+hour) so classifier tests can
    assert better-than-majority accuracy."""
    df = spark.range(n_rows).withColumnRenamed("id", "rid")

    def h(salt: int) -> F.Column:
        return F.xxhash64(F.col("rid").cast("string"), F.lit(seed + salt))

    ts = F.expr(
        f"timestampadd(SECOND, pmod(xxhash64(cast(rid as string), {seed + 1}), "
        f"{3 * 365 * 24 * 3600}), TIMESTAMP_NTZ '2013-01-01 00:00:00')"
    )
    district = _pick(h(2), DISTRICTS, skew=True)
    hour = F.hour(ts)
    # signal: category depends mostly on (district, hour-bucket), with noise
    signal_idx = F.pmod(
        F.xxhash64(district, (hour / 6).cast("int").cast("string")), len(CATEGORIES)
    )
    noise_idx = F.pmod(h(3), len(CATEGORIES))
    cat_idx = F.when(F.pmod(h(4), 10) < 7, signal_idx).otherwise(noise_idx)
    category = F.element_at(
        F.array(*[F.lit(c) for c in CATEGORIES]), cat_idx.cast("int") + 1
    )

    out = df.select(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("Dates"),
        category.alias("Category"),
        F.when(F.pmod(h(5), 100) == 7, F.lit(None)).otherwise(
            F.concat(F.lit("desc of "), category)
        ).alias("Descript"),
        F.date_format(ts, "EEEE").alias("DayOfWeek"),
        district.alias("PdDistrict"),
        _pick(h(6), RESOLUTIONS).alias("Resolution"),
        F.concat(F.lit("BLOCK_"), F.pmod(h(7), 2000).cast("string")).alias("Address"),
        (F.lit(-122.52) + (F.pmod(h(8), 10000) / 10000.0) * 0.16).alias("X"),
        F.when(F.pmod(h(9), 500) == 0, F.lit(90.0))
        .otherwise(F.lit(37.70) + (F.pmod(h(10), 10000) / 10000.0) * 0.13)
        .alias("Y"),
    )
    return out


def crime_test_table(spark: SparkSession, n_rows: int = 1500, seed: int = 77) -> DataFrame:
    """Test-shaped variant: no Category/Descript/Resolution
    (crime.py:103 drop list)."""
    return crime_table(spark, n_rows, seed).drop("Category", "Descript", "Resolution")
