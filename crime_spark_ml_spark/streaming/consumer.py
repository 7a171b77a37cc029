"""Structured Streaming consumers — the absent half of the reference's
pipeline (SURVEY.md §3.3), rebuilt Spark-idiomatically.

Sources:
- ``socket_lines``: the reference's actual transport (TCP
  localhost:6100, stream.py:24-36) — integration smoke only; the
  socket source is not replayable.
- ``file_lines`` / ``parquet_stream``: replayable deterministic
  sources for tests and production (the reference's endless-replay
  flag T5 maps to re-listing a directory / Kafka in production).

Every transformation is the same Catalyst expression tree the batch
plans use — stream-batch parity is by construction, and tested
(tests/test_streaming.py; the ``stream_batch_parity`` plan even
hash-matches the DuckDB oracle through a real streaming query).

Scale notes: windowed aggregations carry watermarks so state is
bounded and late data has defined semantics (the reference's 5 s
sleep cadence has neither); sinks go through ``foreachBatch`` or
partitioned parquet — never the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.aggs import dec_sum


def socket_lines(spark: SparkSession, host: str = "localhost", port: int = 6100) -> DataFrame:
    """The reference's TCP transport (stream.py:24-36): one string
    column ``value`` per newline-delimited payload."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def file_lines(spark: SparkSession, path: str, max_files_per_trigger: int | None = 1) -> DataFrame:
    """Replayable line source: each file is one-or-more wire payloads;
    maxFilesPerTrigger=1 re-creates the producer's batch cadence
    (one 5 s send ↔ one micro-batch)."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(path)


def parquet_stream(
    spark: SparkSession, directory: str, schema=None, glob: str | None = None
) -> DataFrame:
    """Stream an existing parquet table (replay source for parity
    tests — T5's endless-replay without the socket). The file source
    requires a directory; ``glob`` narrows to one table's file(s)."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(directory)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Event-time windowed counts + value sum — the streaming twin of
    plans/events.ev_window_tumbling. Watermark bounds state: windows
    older than max(event time) − watermark are finalized and evicted."""
    src = events
    if watermark is not None:
        # watermarks require instant-semantics TIMESTAMP (not NTZ); the
        # engine runs UTC sessions so the cast is a faithful reinterpret
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
            ts_col, watermark
        )
    win = (
        F.window(ts_col, window, slide) if slide is not None else F.window(ts_col, window)
    )
    return (
        src.groupBy(win.alias("w"), *group_cols)
        .agg(F.count("*").alias("cnt"), dec_sum("value", 6).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *group_cols,
            "cnt",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
    key_col: str = "user_id",
) -> DataFrame:
    """Stateful sessionization via session_window (the streaming twin
    of plans/events.ev_sessionize's gaps-and-islands)."""
    return (
        events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_id",),
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state (the streaming face of the
    exact-dedup suite — LLM ingestion's first stage): a key is
    suppressed while it remains within the watermark delay of the
    stream's max event time, and its state is EVICTED once the
    watermark passes it — so state size is O(keys per delay window),
    not O(all keys ever seen). A duplicate arriving after eviction is
    re-emitted: that is the documented trade of bounded state for
    exactness, tested in tests/test_streaming.py."""
    return (
        events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def to_memory(
    df: DataFrame, name: str, output_mode: str = "append", checkpoint: str | None = None
) -> DataStreamWriter:
    """Test sink: named in-memory table. ``checkpoint`` persists
    offsets + watermark so a later run resumes with late-data
    semantics intact (within one availableNow run the input-side
    late filter holds the watermark from query start; the restored
    watermark after a restart is what actually drops late rows)."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def run_available_now(
    df: DataFrame, name: str, output_mode: str = "append", checkpoint: str | None = None
) -> DataFrame:
    """Process everything currently available, block until done, and
    return the materialized result (deterministic test/driver runs).

    A stateful query's state-store count is fixed at first start from
    spark.sql.shuffle.partitions, which makes it THE sizing lever for
    stateful streaming: the local 32 stores are per-batch commit
    overhead for kilobyte state (progress metrics r10: commit+update
    wall time across stores dwarfs addBatch for 98.5k session rows),
    while a production deployment sizes stores to state volume, not
    driver cores. (RocksDB provider measured 1.4x SLOWER than
    HDFS-backed at this state size — JNI + per-store file overhead; see
    OPTIMIZATION_r10.md.)"""
    spark = df.sparkSession
    query = (
        to_memory(df, name, output_mode, checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)
