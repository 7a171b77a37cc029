"""The reference's complete workload (crime.py:1-207) as one callable —
what a user of MHassaanButt/Crime-Spark-ML runs after switching to this
engine: same inputs (train/test CSV), same outputs (EDA aggregates,
correlation ranking, trained model, prediction table), idiomatic Spark
throughout.

Reference trace → artifact mapping (SURVEY.md §3.1/§3.2):
- A1/A2 group-counts (crime.py:33-37)         → category_counts, district_counts
- A3 value_counts (crime.py:62,67)            → the same two frames
- E1 label-encode all columns (crime.py:38-39)→ encoded (lexicographic codes)
- A6/A7 corr + top-8 (crime.py:42-53)         → corr_with_target (top 8)
- A4/P6 pivot + reindex (crime.py:72-76)      → district_category_pivot
- E3-E6, M1-M5 ML pipeline (crime.py:79-206)  → accuracy, predictions
- S5 prediction sink (crime.py:205)           → written to output_path

Everything stays distributed; only the ≤(cols²) correlation aggregate
and the scalar accuracy reach the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.aggs import try_corr
from .ml.pipeline import decode_predictions, prepare_crime, train_crime_model
from .operators.encode import label_encode
from .operators.reshape import pivot_counts
from .sources.readers import local_frame, read_crime_csv, read_crime_test_csv
from .sources.writers import write_predictions


@dataclass
class CrimeWorkloadResult:
    category_counts: DataFrame
    district_counts: DataFrame
    district_category_pivot: DataFrame
    corr_with_target: DataFrame
    accuracy: float
    predictions: DataFrame


def run_crime_workload(
    spark: SparkSession,
    train_path: str,
    test_path: str | None = None,
    output_path: str | None = None,
    **model_kwargs,
) -> CrimeWorkloadResult:
    train = read_crime_csv(spark, train_path).cache()

    # ---- EDA half (crime.py top half) ----
    category_counts = (
        train.groupBy("Category").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "Category")
    )
    district_counts = (
        train.groupBy("PdDistrict").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "PdDistrict")
    )
    categories = [r.Category for r in category_counts.collect()]  # count-desc order (P6)
    pivot = pivot_counts(train, "PdDistrict", "Category", categories)
    district_order = [r.PdDistrict for r in district_counts.collect()]
    pivot = pivot.withColumn(
        "__ord",
        F.array_position(F.array(*[F.lit(d) for d in district_order]), F.col("PdDistrict")),
    ).orderBy("__ord").drop("__ord")

    # corr over label-encoded columns (E1 → A6), top-8 vs target (A7)
    str_cols = [c for c, t in train.dtypes if t == "string"]
    encoded = label_encode(train.na.fill("none", subset=str_cols), str_cols)
    num_cols = [f"{c}_code" for c in str_cols] + [
        c for c, t in train.dtypes if t == "double"
    ]
    corr_rows = []
    # try_corr: NULL (not ANSI DIVIDE_BY_ZERO) for zero-variance columns
    pairs = encoded.agg(
        *[
            try_corr(c, "Category_code").alias(c)
            for c in num_cols
            if c != "Category_code"
        ]
    ).collect()[0]
    for c in pairs.asDict():
        v = pairs[c]
        corr_rows.append((c, round(float(v), 6) if v is not None else None))
    corr_with_target = (
        local_frame(spark, corr_rows, "column string, corr_with_category double")
        .orderBy(F.desc_nulls_last(F.abs(F.col("corr_with_category"))), "column")
        .limit(8)
    )

    # ---- ML half (crime.py bottom half) ----
    result = train_crime_model(train, **model_kwargs)
    predictions = result.predictions
    if test_path is not None:
        # test.csv has its OWN 6-column schema: CSV schemas bind
        # positionally, so the train schema would silently misalign it
        test = read_crime_test_csv(spark, test_path)
        # placeholder Category feeds the (unused-at-transform) label indexer
        prepared = prepare_crime(test.withColumn("Category", F.lit("__unknown__")))
        scored = result.model.transform(prepared)
        predictions = decode_predictions(result.model, scored)
    if output_path is not None:
        write_predictions(predictions, output_path)
    return CrimeWorkloadResult(
        category_counts=category_counts,
        district_counts=district_counts,
        district_category_pivot=pivot,
        corr_with_target=corr_with_target,
        accuracy=result.accuracy,
        predictions=predictions,
    )
