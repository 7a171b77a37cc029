"""Typed readers (SURVEY.md §1.3): explicit schemas, no inference.

The reference reads CSV with ``inferSchema=True`` (crime.py:6-7,79-82),
which costs a full extra scan and yields run-dependent types. The
engine declares schemas: one scan, stable types, and malformed rows
surface according to ``mode`` instead of silently re-typing a column.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CRIME_CSV_SCHEMA = T.StructType(
    [
        T.StructField("Dates", T.StringType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Descript", T.StringType()),
        T.StructField("DayOfWeek", T.StringType()),
        T.StructField("PdDistrict", T.StringType()),
        T.StructField("Resolution", T.StringType()),
        T.StructField("Address", T.StringType()),
        T.StructField("X", T.DoubleType()),
        T.StructField("Y", T.DoubleType()),
    ]
)


# test.csv lacks the label-ish columns (crime.py:103 drop list) — CSV
# schemas map POSITIONALLY, so reading a 6-column file through the
# 9-column schema silently misaligns every field
CRIME_TEST_CSV_SCHEMA = T.StructType(
    [f for f in CRIME_CSV_SCHEMA.fields if f.name not in ("Category", "Descript", "Resolution")]
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with a declared schema (S1). FAILFAST by default:
    a 100 TB ingest should die loudly on a malformed row, not ingest
    nulls silently (use mode='PERMISSIVE' + a corrupt-record column
    for salvage pipelines)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .csv(path)
    )


def read_crime_csv(spark: SparkSession, path: str) -> DataFrame:
    """The reference's train.csv shape with declared types."""
    return read_csv(spark, path, CRIME_CSV_SCHEMA)


def read_crime_test_csv(spark: SparkSession, path: str) -> DataFrame:
    """The reference's test.csv shape (no Category/Descript/Resolution)."""
    return read_csv(spark, path, CRIME_TEST_CSV_SCHEMA)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A driver-built table (model tables, probe LUTs, small results) as a JVM
    ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` is a ``parallelize``
    followed by a Python re-serialising ``map``, so EVERY scan of that
    frame runs one Python-worker task per partition. An Arrow table is
    shipped to the JVM once instead and becomes a ``LocalRelation`` (or,
    past ``spark.sql.execution.arrow.localRelationThreshold``, a
    JVM-side Arrow RDD) whatever ``spark.sql.execution.arrow.pyspark.
    enabled`` says, so no scan ever starts a Python worker.

    Rows, row order and schema equal ``createDataFrame(rows, schema)``:
    values of fields that need conversion (dates, timestamps, and
    structs/arrays holding them) go through the Spark type's own
    ``toInternal`` first, so a naive ``datetime`` in a TIMESTAMP field
    reads as Python-local time exactly as on the list path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(struct.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in col] if f.needConversion() else col,
            type=t,
        )
        for col, f, t in zip(cols, struct.fields, arrow_schema.types, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
