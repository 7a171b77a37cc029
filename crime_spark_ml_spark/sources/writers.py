"""Typed sinks (SURVEY.md §2.1 S4/S5).

The reference's sinks are ``print`` and an in-memory prediction table
(crime.py:205-206). At scale a sink is a partitioned columnar write:
- ``write_parquet``: snappy parquet, optionally partitioned by a
  low-cardinality column (partition pruning for downstream readers).
- ``write_predictions``: the S5 prediction table as parquet.

``repartition(n)`` before write controls file count — the classic
small-files guard: one shuffle buys right-sized files instead of
one tiny file per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    out = df
    if n_files is not None:
        out = df.repartition(n_files, *partition_by) if partition_by else df.repartition(n_files)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_predictions(predictions: DataFrame, path: str) -> None:
    """S5: the Id/Category prediction table (crime.py:205)."""
    write_parquet(predictions, path, n_files=1)


def compact_parquet(
    spark, src: str, dst: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-files compaction — the maintenance pass every long-lived
    ingest directory needs (thousands of per-trigger/per-task files
    destroy scan planning and NameNode/listing performance at scale).

    File count is sized from the ACTUAL input bytes (a metadata-only
    binaryFile scan of the ``length`` column — content is pruned), so
    output files land near ``target_file_bytes`` regardless of input
    fragmentation. One shuffle (round-robin repartition) buys the
    rewrite; returns the output file count."""
    import math
    import os

    from pyspark.sql import functions as F

    # mode("overwrite") deletes dst before the lazy read of src runs —
    # a same-path call would destroy the input before reading it
    if os.path.realpath(src) == os.path.realpath(dst):
        raise ValueError(f"compact_parquet: dst must differ from src ({src!r})")

    total = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(src)
        .agg(F.sum("length"))
        .collect()[0][0]
        or 0
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed table write — the shuffle-amortization primitive for
    repeated big-big joins/aggs at 100 TB: pay ONE shuffle at write
    time (hash-partition rows into ``n_buckets`` files per partition,
    keyed on ``bucket_cols``), then every later equi-join or groupBy on
    those keys between same-bucketed tables runs shuffle-free (SortMerge
    with zero Exchange; see tests/test_io.py's plan pin). Bucketing
    metadata lives in the session catalog, so this writes a saved table
    rather than a bare path (Spark's bucketing contract).

    ``sort_cols`` additionally sorts within buckets, removing the Sort
    below the SMJ too.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_sidecar(df: DataFrame, dest: str) -> None:
    """Write a TINY driver-local table (a shard manifest, say —
    kilobytes by construction) as one parquet file via
    pyarrow. Routing a kilobyte local relation through a Spark write
    job costs seconds of scheduler + python-worker overhead per call;
    the driver writing it directly costs milliseconds, and Spark reads
    the directory like any parquet table."""
    import os
    import shutil

    import pyarrow.parquet as pq

    # driver-local write path only — the Spark writer this replaces
    # spoke any Hadoop FS, but os/shutil below do not
    if "://" in dest:
        raise ValueError(f"write_sidecar writes via the local filesystem only: {dest}")
    # toArrow() carries the exact Spark schema into the parquet footer:
    # IntegerType stays int32 (no from_pylist int64 widening, so a
    # loaded sidecar matches a freshly built frame), and an empty
    # sidecar still round-trips its columns instead of a zero-column
    # table that would break its reader (e.g. operators/shard's
    # manifest check)
    table = df.toArrow()  # bounded by contract: sidecars are model-sized
    write_sidecar_arrow(table, dest)


def write_sidecar_arrow(table, dest: str) -> None:
    """``write_sidecar`` for a caller that already holds the data as a
    pyarrow Table — skips the DataFrame round-trip entirely (even a
    LOCAL relation's toArrow costs a full py4j/analysis round-trip,
    ~0.4 s measured; building the kilobyte table driver-side is
    microseconds). Same overwrite semantics and local-FS contract."""
    import os
    import shutil

    import pyarrow.parquet as pq

    if "://" in dest:
        raise ValueError(f"write_sidecar writes via the local filesystem only: {dest}")
    # overwrite semantics like the Spark writer it replaces — stale
    # part files at dest would silently union into the loaded table
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    pq.write_table(table, os.path.join(dest, "part-0.parquet"))


def read_sidecar_rows(src: str) -> list[dict]:
    """Driver-side read of a ``write_sidecar`` table: list of row
    dicts, milliseconds, NO Spark job — the mirror of the write path.
    Model sidecars (centroids, codebooks) load straight into numpy
    arrays off this list. Spark's reader still works on the same
    directory — this is the latency path, not a new format."""
    import os

    import pyarrow.parquet as pq

    if "://" in src:
        raise ValueError(f"read_sidecar_rows reads the local filesystem only: {src}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no sidecar directory at {src}")
    return pq.read_table(src).to_pylist()
