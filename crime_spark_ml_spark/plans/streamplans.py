"""Streaming plans runnable through the driver contract.

``stream_batch_parity`` is the flex: a REAL Structured Streaming query
(parquet replay source → watermark-free windowed agg → availableNow →
memory sink) whose materialized result hash-matches the same DuckDB
oracle as the batch plan ev_window_tumbling — stream-batch parity
(SURVEY.md §5.3) enforced by the driver's own correctness gate.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggs import dec_sum, dec_sum_sql
from ..sources.catalog import (
    EVENTS_WELL_FORMED_SQL,
    load_table,
    normalize_events,
    raw_events_schema,
    well_formed_events,
)
from ..streaming.consumer import parquet_stream, run_available_now, windowed_counts
from ..streaming.wire import feature_struct, parse_tabular
from .registry import register

_COUNTER = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str, staged: str | None = None) -> DataFrame:
    """Normalized events as a STREAMING frame, fixture-layout-adaptive:
    the read schema is sniffed from the parquet footer (streams cannot
    infer schemas) and ``normalize_events`` yields the same
    ts/ts_ns/ts_us columns under either the nanos or micros layout.
    ``staged`` replays a staged copy directory one file per trigger
    (multi-micro-batch tests); default replays the fixture file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = raw_events_schema(sf_dir)
    if staged is None:
        raw = parquet_stream(spark, sf_dir, schema=schema, glob="events.parquet")
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
    return normalize_events(raw)


@register(
    "stream_batch_parity",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM events
    WHERE {EVENTS_WELL_FORMED_SQL}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "T1", "T5", "parity"),
)
def stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed BY AN ACTUAL STREAMING QUERY
    (events parquet replayed as a stream, availableNow) — must
    hash-match the batch oracle. Complete output mode + no watermark
    so every window emits (the watermarked/append path is covered in
    tests/test_streaming.py)."""
    events = well_formed_events(events_stream(spark, sf_dir))
    agg = windowed_counts(events, ts_col="ts", window="1 hour", watermark=None)
    name = f"stream_parity_{next(_COUNTER)}"
    return run_available_now(agg, name, output_mode="complete").orderBy(
        "window_start", "event_type"
    )


@register("stream_wire_roundtrip", oracle=None, tags=("streaming", "T2", "E9"))
def stream_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 wire-format parse: producer-encode the first 30 customers
    into the reference's ``{"<row_idx>": {"feature0": …}}`` JSON lines
    (batch_size=10, stream.py:184-196 shape), parse with the consumer,
    restore names (E9 inverse). Exact roundtrip pinned in tests."""
    import json

    c = (
        load_table(spark, sf_dir, "customer")
        .orderBy("c_custkey")
        .limit(30)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .collect()
    )
    lines = []
    for start in range(0, len(c), 10):
        batch = {
            str(i): {
                "feature0": float(r.c_custkey),
                "feature1": float(r.c_acctbal),
                "feature2": r.c_mktsegment,
            }
            for i, r in enumerate(c[start : start + 10])
        }
        lines.append((json.dumps(batch),))
    raw = spark.createDataFrame(lines, "value string")
    inner = feature_struct(n_numeric=2, n_string=1)
    parsed = parse_tabular(raw, inner)
    return parsed.orderBy("feature0").select(
        F.col("feature0").cast("long").alias("custkey"),
        F.round("feature1", 2).alias("acctbal"),
        F.col("feature2").alias("segment"),
    )


@register(
    "src_cifar_pickle_batches",
    oracle="""
    WITH img AS (
      SELECT f.file_id, i.i
      FROM generate_series(0, 1) f(file_id), generate_series(0, 49) i(i)),
    px AS (
      SELECT CAST(i % 10 AS INTEGER) AS label,
             (SELECT CAST(SUM((i*7 + j*13) % 256) AS BIGINT)
              FROM generate_series(0, 3071) t(j)) AS pixel_sum
      FROM img)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(pixel_sum) AS BIGINT) AS total_pixel_sum,
           3072 AS n_features
    FROM px GROUP BY label ORDER BY label
    """,
    tags=("sources", "S7", "pickle"),
)
def src_cifar_pickle_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 file half (stream.py:40-50): CIFAR pickle batch files read via
    a distributed binaryFile scan + Arrow mapInPandas pickle decode →
    one flat array<int> row per image. The fixture is deterministic
    (pixel (i,j) = (i*7+j*13)%256, 2 files × 50 images), so the DuckDB
    oracle regenerates the identical per-label pixel sums from
    generate_series — the decode path is hash-checked, not rows-only."""
    from ..sources.imagebatch import ensure_fixture_dir, read_cifar_batches

    df = read_cifar_batches(spark, ensure_fixture_dir("cifar"))
    per_img = df.select(
        "label",
        F.aggregate("features", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "pixel_sum"
        ),
        F.size("features").alias("nf"),
    )
    return (
        per_img.groupBy("label")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("pixel_sum").alias("total_pixel_sum"),
            F.max("nf").alias("n_features"),
        )
        .orderBy("label")
    )


@register(
    "src_cifar_pydatasource",
    oracle="""
    WITH img AS (
      SELECT f.file_id, i.i
      FROM generate_series(0, 1) f(file_id), generate_series(0, 49) i(i)),
    px AS (
      SELECT CAST(i % 10 AS INTEGER) AS label,
             (SELECT CAST(SUM((i*7 + j*13) % 256) AS BIGINT)
              FROM generate_series(0, 3071) t(j)) AS pixel_sum
      FROM img)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(pixel_sum) AS BIGINT) AS total_pixel_sum,
           3072 AS n_features
    FROM px GROUP BY label ORDER BY label
    """,
    tags=("sources", "S7", "pickle", "datasource"),
)
def src_cifar_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME CIFAR format through the Spark 4 Python DataSource API
    (sources/pydatasource.py: per-file InputPartitions + path-filter
    pushdown) instead of binaryFile+mapInPandas — and the SAME oracle
    as src_cifar_pickle_batches, so the driver hash-checks that two
    independent implementations of the format agree with the
    closed-form pixel sums."""
    from ..sources.imagebatch import ensure_fixture_dir
    from ..sources.pydatasource import register_cifarbatch

    register_cifarbatch(spark)
    df = (
        spark.read.format("cifarbatch")
        .option("path", ensure_fixture_dir("cifar"))
        .load()
    )
    per_img = df.select(
        "label",
        F.aggregate("features", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "pixel_sum"
        ),
        F.size("features").alias("nf"),
    )
    return (
        per_img.groupBy("label")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("pixel_sum").alias("total_pixel_sum"),
            F.max("nf").alias("n_features"),
        )
        .orderBy("label")
    )


@register(
    "src_pokemon_pickle_batches",
    oracle="""
    WITH px AS (
      SELECT CAST(i % 5 AS INTEGER) AS label,
             (SELECT CAST(SUM((i + k) % 256) AS BIGINT)
              FROM generate_series(0, 191) t(k)) AS pixel_sum
      FROM generate_series(0, 19) i(i))
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(pixel_sum) AS BIGINT) AS total_pixel_sum,
           8 AS height, 8 AS width, 3 AS channels
    FROM px GROUP BY label ORDER BY label
    """,
    tags=("sources", "S8", "pickle"),
)
def src_pokemon_pickle_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 file half (stream.py:91-98): Pokemon pickle batches (nested
    H×W×C matrices) → binaryFile + mapInPandas decode, flattened
    row-major with dims kept as typed metadata. Deterministic fixture
    (pixel value (i+k)%256 at flat index k, 1 file × 20 8×8×3 images)
    ⇒ closed-form DuckDB oracle, hash-checked."""
    from ..sources.imagebatch import ensure_fixture_dir, read_pokemon_batches

    df = read_pokemon_batches(spark, ensure_fixture_dir("pokemon"))
    per_img = df.select(
        "label",
        "height",
        "width",
        "channels",
        F.aggregate("pixels", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "pixel_sum"
        ),
    )
    return (
        per_img.groupBy("label")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("pixel_sum").alias("total_pixel_sum"),
            F.max("height").alias("height"),
            F.max("width").alias("width"),
            F.max("channels").alias("channels"),
        )
        .orderBy("label")
    )


@register(
    "stream_dedup_within_watermark",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup through a REAL streaming query: the events table
    is staged twice (two identical files → two micro-batches under
    maxFilesPerTrigger=1), every event is therefore a cross-batch
    duplicate, and dropDuplicatesWithinWatermark(event_id) must
    suppress the second copy of all of them — the per-type aggregate of
    the deduped stream hash-matches the single-copy batch oracle. The
    watermark delay (10 years) exceeds the fixture's time span so no
    key's state is evicted mid-run; bounded-state eviction semantics
    are pinned in tests/test_streaming.py."""
    import shutil
    import tempfile

    from ..streaming.consumer import dedup_within_watermark

    stage = tempfile.mkdtemp(prefix="stream_dedup_")
    src = f"{sf_dir}/events.parquet"
    shutil.copyfile(src, f"{stage}/copy_a.parquet")
    shutil.copyfile(src, f"{stage}/copy_b.parquet")

    events = events_stream(spark, sf_dir, staged=stage)
    deduped = dedup_within_watermark(
        events, ts_col="ts", keys=("event_id",), delay="3650 days"
    )
    name = f"stream_dedup_{next(_COUNTER)}"
    try:
        materialized = run_available_now(deduped, name, output_mode="append")
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # memory sink holds the rows
    return (
        materialized.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dec_sum("value", 6).alias("sum_value"))
        .orderBy("event_type")
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p JOIN c ON c.user_id = p.user_id
       AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
    tags=("streaming", "stream-stream", "interval-join"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through a REAL streaming query:
    clicks joined to purchases of the same user within the preceding 30
    minutes, both sides watermarked (the range condition lets Spark
    bound each side's state to the interval instead of keeping whole
    streams). Event times are built as instants with timestamp_micros
    on the normalized epoch-micros column — independent of the session
    timezone, unlike an NTZ cast, so a DST-straddling fixture can't
    skew the interval. Per-user pair counts hash-match the batch
    interval-join oracle."""

    def side(event_type: str, alias: str) -> DataFrame:
        events = events_stream(spark, sf_dir)
        return (
            events.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.expr("timestamp_micros(ts_us)").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    name = f"stream_ssj_{next(_COUNTER)}"
    pairs = run_available_now(joined, name, output_mode="append")
    return (
        pairs.groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "stream_static_broadcast_join",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("streaming", "stream-static", "broadcast"),
)
def stream_static_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events feed enriched against a
    broadcast dimension table (customer) — the standard pattern for
    attaching slowly-changing dims to a stream without shuffling it.
    Per-segment purchase aggregates of the joined stream hash-match the
    batch join oracle."""
    raw = events_stream(spark, sf_dir)
    purchases = raw.where(F.col("event_type") == "purchase").select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = purchases.join(
        F.broadcast(dim), purchases.user_id == dim.c_custkey
    ).select("c_mktsegment", "value")
    name = f"stream_static_{next(_COUNTER)}"
    rows = run_available_now(joined, name, output_mode="append")
    return (
        rows.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), dec_sum("value", 6).alias("sum_value"))
        .orderBy("c_mktsegment")
    )


@register(
    "stream_stateful_running_counts",
    oracle=f"""
    SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS total_events
    FROM events
    WHERE {EVENTS_WELL_FORMED_SQL}
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) through a REAL
    two-micro-batch streaming query: the events table staged twice →
    batch 2's per-key Python state CONTINUES from batch 1's, so the
    final emission per key is exactly 2× the table's count — which is
    what the oracle asserts (a fresh-state batch 2 would emit 1× and
    hash-mismatch). Counts only: they are exact and partition-order
    independent, unlike the float value sums also carried by the
    operator (equivalence of those is pinned in tests at lower
    precision)."""
    import shutil
    import tempfile

    from ..operators.pandas_ops import running_totals_stateful

    stage = tempfile.mkdtemp(prefix="stream_state_")
    shutil.copyfile(f"{sf_dir}/events.parquet", f"{stage}/copy_a.parquet")
    shutil.copyfile(f"{sf_dir}/events.parquet", f"{stage}/copy_b.parquet")
    raw = well_formed_events(events_stream(spark, sf_dir, staged=stage))
    totals = running_totals_stateful(raw)
    name = f"stream_state_{next(_COUNTER)}"
    try:
        emissions = run_available_now(totals, name, output_mode="update")
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # memory sink holds the rows
    return (
        emissions.groupBy("event_type")
        .agg(F.max("total_events").alias("total_events"))
        .orderBy("event_type")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id FROM events),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                                ORDER BY ts_us, event_id) >= 600000000
                  THEN 1
                  WHEN LAG(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM base),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps),
    agg AS (
      SELECT user_id, session_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id)
    SELECT user_id,
           strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events
    FROM agg
    WHERE end_us + 600000000 <= (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                                 FROM events) - 1800000000
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "parity"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows computed BY AN ACTUAL STREAMING QUERY
    (session_window + 30 min watermark, append mode, availableNow) —
    hash-matched against the batch gaps-and-islands oracle restricted
    to FINALIZED sessions: append mode emits a session exactly when
    ``last_event + gap <= max_event_time - watermark``. Pinning that
    eviction rule in the oracle makes watermark semantics themselves
    driver-attested, not just tested."""
    events = events_stream(spark, sf_dir)
    from ..streaming.consumer import session_counts

    agg = session_counts(events, ts_col="ts", gap="10 minutes", watermark="30 minutes")
    name = f"stream_session_{next(_COUNTER)}"
    return run_available_now(agg, name, output_mode="append").orderBy(
        "user_id", "session_start"
    )


@register(
    "stream_cdc_upsert",
    oracle="""
    SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "cdc", "upsert", "foreachBatch"),
)
def stream_cdc_upsert(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming CDC apply: the events change log replayed as FOUR
    time-ordered micro-batches through foreachBatch, each merging
    latest-wins into a versioned parquet snapshot (merge-on-write, the
    Delta/Iceberg MERGE shape) — and the FINAL snapshot must hash-match
    the one-shot batch oracle (dp_latest_snapshot's SQL). That pins the
    property production CDC relies on: incremental per-batch merge
    converges to the same state as recomputing from the full log,
    because latest-wins by (ts_us, event_id) is associative and
    commutative across any batch split. Each micro-batch costs one
    key-keyed shuffle of state∪changes (a bucketed state table would
    co-locate it; the bucketed-merge plan pin lives in
    tests/test_plans.py); the checkpoint + idempotent versioned
    overwrite gives exactly-once application. The final snapshot is
    keys-sized (users × types), so the closing collect is bounded."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    root = tempfile.mkdtemp(prefix="stream_cdc_")
    stage = os.path.join(root, "stage")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    cols = ["user_id", "event_type", "ts_us", "event_id", "value"]
    ev = load_table(spark, sf_dir, "events").select(*cols)
    # n_batches range-partitioned files -> time-ordered micro-batches;
    # the split count must not change the final state (associativity),
    # pinned for a different split in tests/test_streaming.py
    ev.repartitionByRange(n_batches, "ts_us", "event_id").write.parquet(stage)

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    progress = {"current": None, "batches": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        merged = batch
        if progress["current"] is not None:
            merged = spark.read.parquet(progress["current"]).unionByName(batch)
        merged = (
            merged.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
        )
        version = os.path.join(state, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(version)
        progress["current"] = version
        progress["batches"] += 1

    try:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if progress["batches"] < 2:
            raise RuntimeError(
                f"CDC replay ran {progress['batches']} micro-batch(es); "
                "the incremental-merge claim needs at least 2"
            )
        final = spark.read.parquet(progress["current"]).select(*cols)
        rows = final.collect()  # keys-sized by construction
        schema = final.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("user_id", "event_type")


@register(
    "stream_incremental_rollup",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS hour,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY day, hour
    """,
    tags=("streaming", "rollup", "materialized-view", "foreachBatch"),
)
def stream_incremental_rollup(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Incremental continuous-aggregate maintenance (the TimescaleDB /
    materialized-view refresh shape, sibling of stream_cdc_upsert's
    latest-wins merge): the events log replays as n time-ordered
    micro-batches; each batch partial-aggregates per (day, hour) and
    merges ADDITIVELY into a versioned snapshot via one full-outer
    key join. The final table must hash-match the one-shot GROUP BY —
    which holds EXACTLY, not approximately, because counts are
    integers and the value sums accumulate in DECIMAL(28,6) state
    (associative), casting to double only at the end. Per batch the
    cost is one partial agg + one keys-sized join; the hot-state table
    is (days×24) rows regardless of event volume."""
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="stream_rollup_")
    stage, state, ckpt = (
        os.path.join(root, d) for d in ("stage", "state", "ckpt")
    )
    ev = load_table(spark, sf_dir, "events").select("ts", "ts_us", "event_id", "value")
    ev.repartitionByRange(n_batches, "ts_us", "event_id").write.parquet(stage)

    def partial(batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.hour("ts").cast("string").alias("hour"),
                "value",
            )
            .groupBy("day", "hour")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("value").cast("decimal(28,6)")).alias("sv"),
            )
        )

    progress = {"current": None, "batches": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        fresh = partial(batch)
        if progress["current"] is not None:
            cur = spark.read.parquet(progress["current"])
            fresh = (
                cur.alias("a")
                .join(fresh.alias("b"), ["day", "hour"], "full_outer")
                .select(
                    "day",
                    "hour",
                    (
                        F.coalesce(F.col("a.cnt"), F.lit(0))
                        + F.coalesce(F.col("b.cnt"), F.lit(0))
                    ).alias("cnt"),
                    (
                        F.coalesce(F.col("a.sv"), F.lit(0).cast("decimal(28,6)"))
                        + F.coalesce(F.col("b.sv"), F.lit(0).cast("decimal(28,6)"))
                    ).cast("decimal(28,6)").alias("sv"),
                )
            )
        version = os.path.join(state, f"v{batch_id}")
        fresh.write.mode("overwrite").parquet(version)
        progress["current"] = version
        progress["batches"] += 1

    try:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if progress["batches"] < 2:
            raise RuntimeError(
                f"rollup replay ran {progress['batches']} micro-batch(es); "
                "the incremental-merge claim needs at least 2"
            )
        final = (
            spark.read.parquet(progress["current"])
            .select(
                "day", "hour",
                F.col("cnt").cast("bigint").alias("cnt"),
                F.col("sv").cast("double").alias("sum_value"),
            )
        )
        rows = final.collect()  # (days x 24)-sized by construction
        schema = final.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("day", "hour")


@register(
    "stream_left_outer_join",
    oracle=f"""
    WITH c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE {EVENTS_WELL_FORMED_SQL} AND event_type = 'click'),
    p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE {EVENTS_WELL_FORMED_SQL} AND event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts_us) FROM c),
                        (SELECT max(ts_us) FROM p)) - 3600000000 AS w),
    pairs AS (
      SELECT p.user_id, p.ts_us AS p_ts, c.user_id AS c_user
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
    )
    SELECT user_id,
           CAST(sum(CASE WHEN c_user IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(sum(CASE WHEN c_user IS NULL
                          AND p_ts < (SELECT w FROM wm)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
    FROM pairs
    GROUP BY user_id
    HAVING sum(CASE WHEN c_user IS NOT NULL THEN 1 ELSE 0 END)
         + sum(CASE WHEN c_user IS NULL AND p_ts < (SELECT w FROM wm)
               THEN 1 ELSE 0 END) > 0
    ORDER BY user_id
    """,
    tags=("streaming", "stream-stream", "outer-join", "watermark"),
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-eviction
    correctness case the inner join never exercises: an unmatched
    purchase may only emit its NULL row once the watermark proves no
    matching click can still arrive.

    The oracle is therefore NOT the batch left join: it replicates
    Spark's emission rule exactly. Matched pairs emit unconditionally
    (they emit on match); an unmatched purchase emits iff
    ``p_ts < min(max_click_ts, max_purchase_ts) − 1 h`` — the final
    global watermark (min across both watermarked inputs) must pass
    the purchase before its left-outer row is provably final, because
    the join condition ``c_ts ≤ p_ts`` means a legal click could
    arrive any time the watermark hasn't passed p_ts. Purchases inside
    the final watermark window are withheld by the engine and by the
    oracle alike — the definitionally-correct answer, verified
    identical at sf0.001/0.01/0.1 (4 withheld rows at sf0.01).

    At scale this is exactly why outer-join state stays bounded: state
    is evicted (and the NULL row emitted) the moment the watermark
    passes each row, so hot state is one interval's worth of each
    stream, independent of total volume."""

    def side(event_type: str, alias: str) -> DataFrame:
        ev = well_formed_events(events_stream(spark, sf_dir))
        return (
            ev.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.expr("timestamp_micros(ts_us)").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = side("purchase", "p").join(
        side("click", "c"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    name = f"stream_louter_{next(_COUNTER)}"
    pairs = run_available_now(joined, name, output_mode="append")
    return (
        pairs.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.sum(F.when(F.col("c_user").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_full_outer_join",
    oracle=f"""
    WITH c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE {EVENTS_WELL_FORMED_SQL} AND event_type = 'click'),
    p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE {EVENTS_WELL_FORMED_SQL} AND event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts_us) FROM c),
                        (SELECT max(ts_us) FROM p)) - 3600000000 AS w),
    matched AS (
      SELECT p.user_id FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
    ), unmatched_p AS (
      SELECT p.user_id FROM p
      WHERE p.ts_us < (SELECT w FROM wm)
        AND NOT EXISTS (SELECT 1 FROM c
                        WHERE c.user_id = p.user_id
                          AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us)
    ), unmatched_c AS (
      SELECT c.user_id FROM c
      WHERE c.ts_us + 1800000000 < (SELECT w FROM wm)
        AND NOT EXISTS (SELECT 1 FROM p
                        WHERE p.user_id = c.user_id
                          AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us)
    ), rows_all AS (
      SELECT user_id, 1 AS m, 0 AS up, 0 AS uc FROM matched
      UNION ALL SELECT user_id, 0, 1, 0 FROM unmatched_p
      UNION ALL SELECT user_id, 0, 0, 1 FROM unmatched_c
    )
    SELECT user_id,
           CAST(sum(m) AS BIGINT) AS n_matched,
           CAST(sum(up) AS BIGINT) AS n_unmatched_purchases,
           CAST(sum(uc) AS BIGINT) AS n_unmatched_clicks
    FROM rows_all GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stream-stream", "outer-join", "watermark"),
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — state eviction in BOTH
    directions, each with its own emission bound derived from the join
    condition's geometry: an unmatched purchase needs the watermark
    past p_ts (clicks up to p_ts could still arrive); an unmatched
    click needs it past c_ts + 30 min (purchases up to that point can
    still reach back to it).  The oracle replicates both gates plus
    the unconditional matched pairs; the asymmetry of the two bounds
    is exactly what the engine's per-side state-value watermarks
    compute from the inequality constraints (and what a hand-rolled
    symmetric cutoff would get wrong).  Verified hash-exact at
    sf0.001/0.01/0.1 like stream_left_outer_join."""

    def side(event_type: str, alias: str) -> DataFrame:
        ev = well_formed_events(events_stream(spark, sf_dir))
        return (
            ev.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.expr("timestamp_micros(ts_us)").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = side("purchase", "p").join(
        side("click", "c"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "fullOuter",
    )
    name = f"stream_fouter_{next(_COUNTER)}"
    pairs = run_available_now(joined, name, output_mode="append")
    return (
        pairs.select(
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
            F.when(F.col("p_user").isNotNull() & F.col("c_user").isNotNull(), 1)
            .otherwise(0)
            .alias("m"),
            F.when(F.col("c_user").isNull(), 1).otherwise(0).alias("up"),
            F.when(F.col("p_user").isNull(), 1).otherwise(0).alias("uc"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_matched"),
            F.sum("up").cast("bigint").alias("n_unmatched_purchases"),
            F.sum("uc").cast("bigint").alias("n_unmatched_clicks"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_ewma_stateful",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rk
      FROM base),
    lists AS (
      SELECT user_id, list(value ORDER BY ts_us, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n
      FROM ranked WHERE rk <= 32 GROUP BY user_id)
    SELECT user_id, n AS n_events,
           ROUND(list_reduce(vals, (acc, x) ->
                   CAST(0.2 AS DOUBLE)*x + CAST(0.8 AS DOUBLE)*acc), 6) AS ewma
    FROM lists ORDER BY user_id
    """,
    tags=("streaming", "stateful", "ewma", "applyInPandasWithState"),
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA through a REAL two-micro-batch run,
    hash-matched against the SAME oracle as its batch twin
    (ev_ewma_value) — stream-batch parity for an order-sensitive FOLD,
    a strictly harder bar than parity for commutative aggregates: the
    stateful operator must reconstruct the per-user last-32 window
    incrementally (events row-sliced into two disjoint batches, so a
    user's history arrives split across micro-batches) and replay it
    oldest-first with the identical IEEE recursion.

    The final emission per user (max total_seen — strictly monotone,
    users re-emit each batch they appear in) carries the unrounded
    fold; F.round(…, 6) happens here, JVM-side, because Python's
    round() banker's-rounding is NOT SQL ROUND. State per key is
    bounded (one counter + 32 triples) — executor memory is flat no
    matter how long the stream runs."""
    import shutil
    import tempfile

    import pyarrow.parquet as papq

    from ..operators.pandas_ops import ewma_last_n_stateful

    stage = tempfile.mkdtemp(prefix="stream_ewma_")
    # split by row slice with pyarrow: preserves the fixture's physical
    # schema bit-for-bit (spark rewriting would normalize the nanos
    # layout away); disjoint halves — NOT the staged-twice duplication
    # stream_stateful_running_counts uses, which would corrupt a fold
    t = papq.read_table(f"{sf_dir}/events.parquet")
    half = t.num_rows // 2
    papq.write_table(t.slice(0, half), f"{stage}/part_a.parquet")
    papq.write_table(t.slice(half), f"{stage}/part_b.parquet")
    raw = well_formed_events(events_stream(spark, sf_dir, staged=stage))
    folded = ewma_last_n_stateful(raw, alpha=0.2, last_n=32)
    name = f"stream_ewma_{next(_COUNTER)}"
    try:
        emissions = run_available_now(folded, name, output_mode="update")
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # memory sink holds the rows
    return (
        emissions.groupBy("user_id")
        .agg(
            F.max_by("n_events", "total_seen").cast("bigint").alias("n_events"),
            F.round(F.max_by("ewma", "total_seen"), 6).alias("ewma"),
        )
        .orderBy("user_id")
    )
