"""Streaming tests (SURVEY.md §5.3): wire-format roundtrips through
real streaming queries, watermark late-data semantics, stream-batch
parity, sessionization, and the TCP socket integration smoke."""

from __future__ import annotations

import json
import socket
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crime_spark_ml_spark.plans.streamplans import events_stream
from crime_spark_ml_spark.sources.catalog import load_table
from crime_spark_ml_spark.streaming.consumer import (
    file_lines,
    parquet_stream,
    run_available_now,
    session_counts,
    socket_lines,
    to_memory,
    windowed_counts,
)
from crime_spark_ml_spark.streaming.wire import (
    feature_struct,
    image_struct,
    parse_tabular,
    parse_text,
    restore_names,
)

_name_counter = iter(range(10_000))


def _uname(prefix: str) -> str:
    return f"{prefix}_{next(_name_counter)}"


def test_wire_tabular_roundtrip(spark, sf_dir, tmp_path):
    """Producer-encode customers per the T2 spec (stream.py:184-196),
    stream the files, parse, restore names — exact value roundtrip."""
    rows = (
        load_table(spark, sf_dir, "customer")
        .orderBy("c_custkey")
        .limit(40)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .collect()
    )
    for b, start in enumerate(range(0, 40, 10)):
        batch = {
            str(i): {
                "feature0": float(r.c_custkey),
                "feature1": float(r.c_acctbal),
                "feature2": r.c_mktsegment,
            }
            for i, r in enumerate(rows[start : start + 10])
        }
        (tmp_path / f"batch_{b:03d}.json").write_text(json.dumps(batch) + "\n")
    stream = file_lines(spark, str(tmp_path))
    parsed = restore_names(
        parse_tabular(stream, feature_struct(2, 1)), ["custkey", "acctbal", "segment"]
    )
    out = run_available_now(parsed, _uname("tab"))
    got = {(int(r.custkey), r.acctbal, r.segment) for r in out.collect()}
    want = {(r.c_custkey, r.c_acctbal, r.c_mktsegment) for r in rows}
    assert got == want
    assert out.schema["row_idx"].dataType == T.LongType()


def test_wire_text_roundtrip(spark, tmp_path):
    """T3: JSON array of raw lines (stream.py:209-222) → exploded lines."""
    batches = [["alpha\n", "beta\n"], ["gamma\n"]]
    for b, lines in enumerate(batches):
        (tmp_path / f"t_{b}.json").write_text(json.dumps(lines) + "\n")
    out = run_available_now(parse_text(file_lines(spark, str(tmp_path))), _uname("txt"))
    assert sorted(r.line for r in out.collect()) == ["alpha", "beta", "gamma"]


def test_wire_image_batch(spark, tmp_path):
    """CIFAR-shaped batch (48 pixels + label, FIXTURES.md §2b)."""
    batch = {
        str(i): {**{f"feature{p}": (i * 48 + p) % 256 for p in range(48)}, "label": i % 10}
        for i in range(4)
    }
    (tmp_path / "img.json").write_text(json.dumps(batch) + "\n")
    out = run_available_now(
        parse_tabular(file_lines(spark, str(tmp_path)), image_struct(48)), _uname("img")
    )
    rows = {r.row_idx: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[2].label == 2 and rows[2].feature0 == (2 * 48) % 256


def test_stream_batch_parity_windowed(spark, sf_dir):
    """The same windowed agg through a streaming query and a batch
    query must agree row-for-row (complete mode, no watermark)."""
    events = events_stream(spark, sf_dir)
    streamed = run_available_now(
        windowed_counts(events, watermark=None), _uname("par"), output_mode="complete"
    )
    batch = windowed_counts(load_table(spark, sf_dir, "events"), watermark=None)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + 10 min watermark: an event arriving after its
    window was finalized is dropped (defined late-data semantics the
    reference lacks).

    Two availableNow runs over one checkpoint: within a single run the
    input-side late filter uses the watermark from query start (late
    rows can still join live state); after a restart the RESTORED
    watermark (11:50 here) filters the late 10:20 row at input."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    parts = F.split("value", ",")

    def run_with_checkpoint():
        events = file_lines(spark, str(data_dir)).select(
            F.to_timestamp_ntz(parts.getItem(0)).alias("ts"),
            parts.getItem(1).alias("event_type"),
            parts.getItem(2).cast("double").alias("value"),
        )
        agg = windowed_counts(events, watermark="10 minutes")
        emitted: list[tuple] = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, _bid: emitted.extend(tuple(r) for r in df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {row[0]: row[2] for row in emitted}

    # run 1: on-time data; wm ends at 11:50 → W10 finalized with 2
    (data_dir / "a.csv").write_text(
        "2024-01-01 10:00:00,click,1.0\n2024-01-01 10:10:00,click,1.0\n"
    )
    time.sleep(0.05)
    (data_dir / "b.csv").write_text("2024-01-01 12:00:00,click,1.0\n")
    emitted1 = run_with_checkpoint()
    assert emitted1.get("2024-01-01 10:00:00") == 2, emitted1

    # run 2 (restart, wm restored 11:50): 10:20 is LATE → dropped; 14:00
    # advances wm to 13:50 → W12 finalized with exactly 1
    (data_dir / "c.csv").write_text(
        "2024-01-01 10:20:00,click,1.0\n2024-01-01 14:00:00,click,1.0\n"
    )
    emitted2 = run_with_checkpoint()
    assert emitted2.get("2024-01-01 12:00:00") == 1, emitted2
    assert "2024-01-01 10:00:00" not in emitted2, emitted2  # late row dropped, W10 stays closed
    assert "2024-01-01 14:00:00" not in emitted2, emitted2  # newest window not finalized


def test_session_window_stream(spark, sf_dir):
    """session_window streaming result agrees with the batch
    gaps-and-islands sessionization for every finalized session."""
    events = events_stream(spark, sf_dir)
    streamed = run_available_now(
        session_counts(events), _uname("sess"), output_mode="append"
    ).collect()
    assert len(streamed) > 0
    from crime_spark_ml_spark.plans.registry import load_all_plans

    batch = {
        (r.user_id, r.session_start_us // 1_000_000): r.n_events
        for r in load_all_plans()["ev_sessionize"].fn(spark, sf_dir).collect()
    }
    mismatches = 0
    for r in streamed:
        key_ts = time.strptime(r.session_start, "%Y-%m-%d %H:%M:%S")
        import calendar

        start_s = calendar.timegm(key_ts)
        if batch.get((r.user_id, start_s)) != r.n_events:
            mismatches += 1
    assert mismatches / len(streamed) < 0.02, f"{mismatches}/{len(streamed)}"


def test_socket_integration_smoke(spark):
    """The reference's actual transport: a TCP producer (re-implemented
    per the stream.py:153-196 spec) → socket source → parse → memory."""
    batches = [
        {str(i): {"feature0": float(b * 10 + i), "feature1": 0.5, "label": i}
         for i in range(5)}
        for b in range(2)
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def produce():
        conn, _ = server.accept()
        with conn:
            for batch in batches:
                conn.sendall((json.dumps(batch) + "\n").encode())
                time.sleep(0.3)
            time.sleep(2.0)

    t = threading.Thread(target=produce, daemon=True)
    t.start()
    inner = feature_struct(n_numeric=2, with_label=True)
    parsed = parse_tabular(socket_lines(spark, "127.0.0.1", port), inner)
    name = _uname("sock")
    query = to_memory(parsed, name).trigger(processingTime="500 milliseconds").start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 10:
                break
            time.sleep(0.5)
        rows = spark.table(name).collect()
        assert len(rows) == 10
        feats = {r.feature0 for r in rows}
        assert feats == {float(x) for b in range(2) for x in range(b * 10, b * 10 + 5)}
    finally:
        query.stop()
        server.close()


def test_foreachbatch_parquet_sink_idempotent_restart(spark, tmp_path):
    """Exactly-once-style sink: foreachBatch writing parquet by batch id
    with a checkpoint; a restart over the same data does not duplicate
    rows, and new data lands incrementally."""
    import os

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    (data_dir / "a.txt").write_text("r1\nr2\n")

    def run():
        stream = spark.readStream.text(str(data_dir))

        def sink(df, batch_id):
            # deterministic per-batch path → replayed batch overwrites itself
            df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    first = spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*").count()
    assert first == 2
    run()  # restart with no new data → no re-processing, no duplicates
    assert spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*").count() == 2
    (data_dir / "b.txt").write_text("r3\n")
    run()  # only the new file processed
    rows = [r.value for r in spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*").collect()]
    assert sorted(rows) == ["r1", "r2", "r3"]


def test_checkpoint_restart_mid_stream_exactly_once(spark, tmp_path):
    """Kill a STATEFUL availableNow run MID-STREAM (injected sink crash
    after an emitting batch's output is written but before its commit),
    resume from the checkpoint, and assert exactly-once output: the
    crashed-and-resumed run's union equals an uninterrupted twin run
    byte for byte — no lost windows, no duplicated windows — and the
    finalized windows match the batch aggregation. This pins the one
    Structured-Streaming durability property the clean-restart tests
    above don't: state-store + offset recovery from an UNCOMMITTED
    batch (Spark replays it with the same batch_id; the id-keyed
    parquet sink makes the replay idempotent)."""
    import os

    from crime_spark_ml_spark.streaming.consumer import file_lines, windowed_counts

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    parts = F.split("value", ",")
    # one file per micro-batch; batch 2 is the first EMITTING batch
    # (watermark 11:50 finalizes the 10:00 window)
    for i, content in enumerate(
        [
            "2024-01-01 10:00:00,click,1.5\n2024-01-01 10:10:00,click,2.5\n",
            "2024-01-01 12:00:00,view,1.0\n",
            "2024-01-01 14:00:00,click,4.0\n",
            "2024-01-01 16:00:00,view,8.0\n",
        ]
    ):
        (data_dir / f"f{i}.csv").write_text(content)
        time.sleep(0.05)  # distinct mtimes → deterministic batch order

    def agg():
        events = file_lines(spark, str(data_dir)).select(
            F.to_timestamp_ntz(parts.getItem(0)).alias("ts"),
            parts.getItem(1).alias("event_type"),
            parts.getItem(2).cast("double").alias("value"),
        )
        return windowed_counts(events, watermark="10 minutes")

    def run(ckpt: str, out: str, crash_at: int | None = None) -> None:
        def sink(df, batch_id):
            if not df.isEmpty():
                df.write.mode("overwrite").parquet(
                    os.path.join(out, f"batch={batch_id}")
                )
            if crash_at is not None and batch_id == crash_at:
                raise RuntimeError("injected mid-stream crash")

        q = (
            agg()
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def collected(out: str) -> list[tuple]:
        return sorted(
            tuple(r)
            for r in spark.read.option("basePath", out)
            .parquet(out + "/batch=*")
            .drop("batch")
            .collect()
        )

    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    with pytest.raises(Exception, match="injected mid-stream crash"):
        run(ckpt, out, crash_at=2)
    # batch 2's output was written but its commit never happened
    partial = collected(out)
    assert any(w.startswith("2024-01-01 10:00") for w, *_ in partial), partial

    run(ckpt, out)  # resume: batch 2 replays with the same id, then 3+

    ckpt2, out2 = str(tmp_path / "ck2"), str(tmp_path / "out2")
    run(ckpt2, out2)  # uninterrupted twin over the same input
    resumed, twin = collected(out), collected(out2)
    assert resumed == twin and len(resumed) > 0
    # exactly-once: no (window, event_type) appears twice across batches
    keys = [(w, e) for w, e, *_ in resumed]
    assert len(keys) == len(set(keys)), keys
    # and every finalized window matches the batch twin's counts
    batch_twin = {
        (r.window_start, r.event_type): (r.cnt, r.sum_value)
        for r in windowed_counts(
            spark.read.text(str(data_dir)).select(
                F.to_timestamp_ntz(parts.getItem(0)).alias("ts"),
                parts.getItem(1).alias("event_type"),
                parts.getItem(2).cast("double").alias("value"),
            ),
            watermark=None,
        ).collect()
    }
    for w, e, cnt, sv in resumed:
        assert batch_twin[(w, e)] == (cnt, sv), (w, e)


def test_in_stream_model_scoring(spark, tmp_path):
    """The reference's implied end-to-end system: model trained batch-
    side, applied to T2 wire batches ARRIVING AS A STREAM (SURVEY.md
    §0.4). Streaming predictions must equal batch predictions on the
    same rows."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from crime_spark_ml_spark.streaming.scoring import score_stream

    # train a tiny model batch-side: label = (f0 > f1)
    train = spark.createDataFrame(
        [(i / 10.0, j / 10.0, float(i > j)) for i in range(10) for j in range(10)] * 3,
        "feature0 double, feature1 double, label double",
    )
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=["feature0", "feature1"], outputCol="features"),
        LogisticRegression(maxIter=10, labelCol="label"),
    ])
    model = pipe.fit(train)

    # producer-encode a scoring batch per the T2 spec
    batch = {str(i): {"feature0": i / 5.0, "feature1": 0.4} for i in range(5)}
    (tmp_path / "score.json").write_text(json.dumps(batch) + "\n")
    inner = feature_struct(n_numeric=2)
    streamed = run_available_now(
        score_stream(file_lines(spark, str(tmp_path)), model, inner),
        _uname("score"),
    )
    got = {int(r.row_idx): r.prediction for r in streamed.collect()}
    # batch-side scoring of the same rows must agree exactly
    batch_df = spark.createDataFrame(
        [(i, i / 5.0, 0.4) for i in range(5)],
        "row_idx long, feature0 double, feature1 double",
    )
    want = {r.row_idx: r.prediction for r in model.transform(batch_df).collect()}
    assert got == want
    assert len(got) == 5 and set(got.values()) == {0.0, 1.0}


def test_wire_pokemon_nested_batch(spark, tmp_path):
    """S8: nested img matrix + label through the stream parser, then
    the consumer-side flatten (stream.py:108-109 semantics)."""
    from crime_spark_ml_spark.streaming.wire import flatten_images

    batch = {
        str(i): {"img": [[i, i + 1], [i + 2, i + 3]], "label": i % 3}
        for i in range(3)
    }
    (tmp_path / "poke.json").write_text(json.dumps(batch) + "\n")
    parsed = parse_tabular(file_lines(spark, str(tmp_path)), image_struct(nested=True))
    flat = run_available_now(flatten_images(parsed), _uname("poke"))
    rows = {r.row_idx: r for r in flat.collect()}
    assert rows[1].pixels == [1, 2, 3, 4] and rows[1].label == 1
    assert len(rows) == 3


def test_rate_source_windowed(spark):
    """T5 endless-replay analog: the rate source generates a bounded
    deterministic-schema stream; windowed counts run on it (smoke for
    the synthetic-source path used in production replay testing)."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 50).load()
        .withColumn("event_type", (F.col("value") % 3).cast("string"))
        .withColumn("value", F.col("value").cast("double"))
    )
    agg = windowed_counts(stream, ts_col="timestamp", window="1 second", watermark=None)
    name = _uname("rate")
    q = to_memory(agg, name, "complete").trigger(processingTime="300 milliseconds").start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.3)
        rows = spark.table(name).collect()
        assert len(rows) > 0
        assert all(r.cnt > 0 for r in rows)
    finally:
        q.stop()


def test_producer_consumer_end_to_end(spark):
    """The reusable producer (stream.py:24-36,184-204 contract: bind/
    listen, batch_size slicing, name erasure, newline-JSON, per-send
    sleep) streamed into the real socket source: ≥3 batches cross a
    live TCP socket and the parsed rows equal the batch twin built
    from the same frames."""
    from crime_spark_ml_spark.streaming.producer import serve_frames, tabular_frames

    rows = [
        {"qty": float(i), "price": float(100 + i), "label": i % 3} for i in range(12)
    ]
    frames = list(tabular_frames(rows, batch_size=4))
    assert len(frames) == 3
    assert '"feature0"' in frames[0] and '"label"' in frames[0]

    ready = threading.Event()
    t = threading.Thread(
        target=serve_frames,
        kwargs=dict(frames=frames, port=0, sleep_secs=0.2, linger_secs=3.0, ready=ready),
        daemon=True,
    )
    t.start()
    assert ready.wait(10)
    port = ready.port

    inner = feature_struct(n_numeric=2, with_label=True)
    parsed = parse_tabular(socket_lines(spark, "127.0.0.1", port), inner)
    name = _uname("prod")
    query = to_memory(parsed, name).trigger(processingTime="300 milliseconds").start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 12:
            time.sleep(0.5)
        got = sorted(
            (r.feature0, r.feature1, r.label) for r in spark.table(name).collect()
        )
    finally:
        query.stop()
    # batch twin: parse the identical frames as a static DataFrame
    twin_raw = spark.createDataFrame([(f,) for f in frames], "value string")
    twin = sorted(
        (r.feature0, r.feature1, r.label)
        for r in parse_tabular(twin_raw, inner).collect()
    )
    assert got == twin
    assert len(got) == 12


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark across micro-batches: a duplicate
    inside the delay window is suppressed; once the watermark passes a
    key, its state is EVICTED and a much-later duplicate re-emits —
    bounded state is the contract, verified by that re-emission."""
    from crime_spark_ml_spark.streaming.consumer import dedup_within_watermark

    data_dir = tmp_path / "dedup_data"
    data_dir.mkdir()
    # one file per micro-batch: the file source orders by modification
    # time, so space the writes out
    files = [
        ("a.csv", "2024-01-01 10:00:00,1\n2024-01-01 10:00:00,2\n"),
        ("b.csv", "2024-01-01 10:05:00,1\n2024-01-01 11:00:00,3\n"),
        ("c.csv", "2024-01-01 11:30:00,2\n"),
        ("e.csv", "2024-01-01 13:30:00,2\n"),
    ]
    for name, content in files:
        (data_dir / name).write_text(content)
        time.sleep(0.05)

    parts = F.split("value", ",")
    events = file_lines(spark, str(data_dir)).select(
        F.to_timestamp_ntz(parts.getItem(0)).alias("ts"),
        parts.getItem(1).cast("long").alias("event_id"),
    )
    deduped = dedup_within_watermark(
        events, ts_col="ts", keys=("event_id",), delay="10 minutes"
    )
    batches: list[list[int]] = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _bid: batches.append(sorted(r.event_id for r in df.collect()))
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = [b for b in batches if b]
    # batch a emits 1,2; batch b suppresses the 10:05 dup of key 1 and
    # emits 3 (watermark advances to 10:50); batch c's 11:30 dup of key
    # 2 is still suppressed (eviction applies the commit-lagged
    # watermark one batch later); by batch e key 2's state (expiry
    # 10:10) has been evicted -> the 13:30 duplicate RE-EMITS, proving
    # state is bounded by the watermark, not grow-forever.
    assert emitted == [[1, 2], [3], [2]], batches


def test_stream_stream_join_crosses_batches(spark, tmp_path):
    """Interval join state: clicks arrive in micro-batch 1, purchases
    only in micro-batch 2 — pairs can only exist if batch 1's click
    state survives to batch 2."""
    data_dir = tmp_path / "ssj"
    data_dir.mkdir()
    (data_dir / "a.csv").write_text(
        "click,1,2024-01-01 10:00:00\nclick,2,2024-01-01 10:00:00\n"
    )
    time.sleep(0.05)
    (data_dir / "b.csv").write_text(
        "purchase,1,2024-01-01 10:10:00\npurchase,2,2024-01-01 11:30:00\n"
    )
    parts = F.split("value", ",")
    raw = file_lines(spark, str(data_dir)).select(
        parts.getItem(0).alias("event_type"),
        parts.getItem(1).cast("long").alias("user"),
        F.to_timestamp(parts.getItem(2)).alias("ts"),
    )

    def side(event_type, alias):
        return (
            raw.where(F.col("event_type") == event_type)
            .select(
                F.col("user").alias(f"{alias}_user"), F.col("ts").alias(f"{alias}_ts")
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = side("purchase", "p").join(
        side("click", "c"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    out = run_available_now(joined, _uname("ssj"), output_mode="append")
    pairs = sorted((r.p_user, str(r.p_ts)) for r in out.collect())
    # user 1: purchase 10 min after the batch-1 click -> joins across
    # batches; user 2: purchase 90 min later -> outside the interval
    assert pairs == [(1, "2024-01-01 10:10:00")], pairs


def test_producer_cli_routing_and_endless():
    """tools/run_producer.py dataset routing (reference stream.py:
    243-252) without a socket: cifar frames erase pixels to feature{i}
    and keep label; crime CSV frames erase every column; -e loops the
    dataset forever with no state carried across passes."""
    import itertools
    import os
    import sys
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import run_producer

    from crime_spark_ml_spark.sources.imagebatch import write_fake_cifar_batch

    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "cifar"))
        write_fake_cifar_batch(
            os.path.join(d, "cifar", "data_batch_1"), n_images=6, n_features=4
        )
        frames = list(run_producer.make_frames("cifar", d, batch_size=4))
        assert len(frames) == 2  # 6 images / batch 4 -> 4 + 2
        first = json.loads(frames[0])
        assert set(first) == {"0", "1", "2", "3"}
        assert set(first["0"]) == {"feature0", "feature1", "feature2", "feature3", "label"}
        assert first["1"]["feature2"] == (1 * 7 + 2 * 13) % 256

        # crime CSV: header dropped, every column erased, numerics coerced
        os.makedirs(os.path.join(d, "crime"))
        with open(os.path.join(d, "crime", "train.csv"), "w") as f:
            f.write("Dates,Category,X\n2015-01-01,THEFT,-122.4\n2015-01-02,FRAUD,-122.5\n")
        cframes = list(run_producer.make_frames("crime", d, batch_size=10))
        rec = json.loads(cframes[0])["0"]
        assert set(rec) == {"feature0", "feature1", "feature2"}
        assert rec["feature2"] == -122.4  # float, not "-122.4"

        # -e: two full passes are frame-identical to the single pass x2
        looped = list(
            itertools.islice(run_producer.endless("cifar", d, 4), 2 * len(frames))
        )
        assert looped == frames + frames


def test_producer_cli_socket_end_to_end(spark, tmp_path):
    """The CLI producer as a real subprocess (arg parsing included) →
    socket source → parse; parsed rows equal the static twin built from
    the same frames, for a cifar-shaped and a text dataset."""
    import os
    import subprocess
    import sys

    from crime_spark_ml_spark.sources.imagebatch import write_fake_cifar_batch

    cli = os.path.join(os.path.dirname(__file__), "..", "tools", "run_producer.py")
    sys.path.insert(0, os.path.dirname(cli))
    import run_producer

    def free_port():
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        p = s.getsockname()[1]
        s.close()
        return p

    def run_cli(extra, port):
        return subprocess.Popen(
            [sys.executable, cli, "--port", str(port), "--sleep", "0.1",
             "--linger", "5"] + extra,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )

    # --- cifar-shaped ---
    data_dir = str(tmp_path)
    os.makedirs(os.path.join(data_dir, "cifar"))
    write_fake_cifar_batch(
        os.path.join(data_dir, "cifar", "data_batch_1"), n_images=6, n_features=4
    )
    port = free_port()
    proc = run_cli(["-f", "cifar", "-b", "4", "--data-dir", data_dir], port)
    inner = image_struct(n_pixels=4)
    parsed = parse_tabular(socket_lines(spark, "127.0.0.1", port), inner)
    name = _uname("cli")
    query = to_memory(parsed, name).trigger(processingTime="300 milliseconds").start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 6:
            time.sleep(0.5)
        got = sorted(
            tuple(r) for r in spark.table(name).drop("row_idx").collect()
        )
    finally:
        query.stop()
        proc.terminate()
    frames = list(run_producer.make_frames("cifar", data_dir, batch_size=4))
    twin_raw = spark.createDataFrame([(f,) for f in frames], "value string")
    twin = sorted(
        tuple(r) for r in parse_tabular(twin_raw, inner).drop("row_idx").collect()
    )
    assert got == twin and len(got) == 6

    # --- text file ---
    lines_path = os.path.join(data_dir, "lines.txt")
    with open(lines_path, "w") as f:
        for i in range(7):
            f.write(f"log line {i}\n")
    port = free_port()
    proc = run_cli(["-f", lines_path, "-b", "3"], port)
    parsed = parse_text(socket_lines(spark, "127.0.0.1", port))
    name = _uname("clitxt")
    query = to_memory(parsed, name).trigger(processingTime="300 milliseconds").start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 7:
            time.sleep(0.5)
        got_lines = sorted(r.line for r in spark.table(name).collect())
    finally:
        query.stop()
        proc.terminate()
    assert got_lines == sorted(f"log line {i}" for i in range(7))


def test_cdc_upsert_split_independent(spark, sf_dir):
    """Latest-wins incremental merge must converge to the identical
    snapshot under ANY micro-batch split of the change log — run the
    CDC stream with a 7-way split (vs the registered 4-way) and require
    row-for-row equality with the one-shot batch compaction."""
    from crime_spark_ml_spark.plans.datapipe import dp_latest_snapshot
    from crime_spark_ml_spark.plans.streamplans import stream_cdc_upsert

    streamed = stream_cdc_upsert(spark, sf_dir, n_batches=7).collect()
    batch = dp_latest_snapshot(spark, sf_dir).collect()
    assert len(streamed) == len(batch) > 0
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_wirestream_datasource_reads_producer_frames(spark, sf_dir, tmp_path):
    """The wire format through the Spark 4 streaming Python DataSource:
    producer-encoded frames land as one micro-batch each, parsed rows
    match the source table, and a checkpointed RESTART with a new
    frame emits ONLY the new frame's rows (offset-tracked
    exactly-once, engine-managed)."""
    from crime_spark_ml_spark.sources.catalog import load_table
    from crime_spark_ml_spark.sources.pydatasource import register_wirestream
    from crime_spark_ml_spark.streaming.producer import tabular_frames

    rows = [
        {"c_custkey": float(r.c_custkey), "c_acctbal": float(r.c_acctbal),
         "c_mktsegment": r.c_mktsegment}
        for r in load_table(spark, sf_dir, "customer")
        .orderBy("c_custkey").limit(30)
        .select("c_custkey", "c_acctbal", "c_mktsegment").collect()
    ]
    frames = list(tabular_frames(rows, batch_size=10, keep_keys=()))
    stage = tmp_path / "frames"
    stage.mkdir()
    for i, frame in enumerate(frames):
        (stage / f"{i:04d}.frame").write_text(frame)

    register_wirestream(spark)
    reader = (
        spark.readStream.format("wirestream")
        .option("path", str(stage)).option("n_numeric", 2).option("n_string", 1)
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain(expect: int) -> None:
        """processingTime trigger (one frame per read() call) until the
        sink reaches ``expect`` rows — memory sinks can't recover a
        checkpoint, so the file sink carries the restart."""
        q = (
            reader.load().writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds").start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= expect:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    drain(30)
    got = spark.read.parquet(out).collect()
    assert len(got) == 30
    assert {r.frame_file for r in got} == {f"{i:04d}.frame" for i in range(3)}
    by_key = sorted((r.feature0, r.feature1, r.feature2) for r in got)
    expected = sorted((r["c_custkey"], r["c_acctbal"], r["c_mktsegment"]) for r in rows)
    assert by_key == expected

    # restart from the checkpoint with one NEW frame: exactly-once —
    # only the new frame's 5 rows append, nothing replays
    extra = list(tabular_frames(rows[:5], batch_size=5, keep_keys=()))
    (stage / "9999.frame").write_text(extra[0])
    drain(35)
    got2 = spark.read.parquet(out).collect()
    assert len(got2) == 35
    assert sum(1 for r in got2 if r.frame_file == "9999.frame") == 5


def test_incremental_rollup_split_independent(spark, sf_dir):
    """Additive decimal merge must converge to the identical rollup
    under ANY micro-batch split — 7-way vs the registered 4-way, row
    for row (the decimal state makes this exact, not approximate)."""
    from crime_spark_ml_spark.plans.streamplans import stream_incremental_rollup

    a = stream_incremental_rollup(spark, sf_dir, n_batches=7).collect()
    b = stream_incremental_rollup(spark, sf_dir, n_batches=4).collect()
    assert len(a) == len(b) > 0
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ewma_state_survives_restart(spark, sf_dir, tmp_path):
    """Checkpoint-restart for the bounded-window EWMA fold: run 1
    processes the first half of the events, run 2 (same checkpoint)
    processes only the second half with per-user last-32 state
    RESTORED — the merged final emissions must equal the batch twin
    over the full table, proving the incremental window reconstruction
    is exactly-once across a crash boundary."""
    import pyarrow.parquet as papq

    from crime_spark_ml_spark.operators.pandas_ops import ewma_last_n_stateful
    from crime_spark_ml_spark.plans.events import ev_ewma_value
    from crime_spark_ml_spark.sources.catalog import raw_events_schema
    from crime_spark_ml_spark.sources.catalog import normalize_events

    stage = tmp_path / "stage"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = papq.read_table(f"{sf_dir}/events.parquet")
    half = t.num_rows // 2
    schema = raw_events_schema(sf_dir)

    def run():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )
        folded = ewma_last_n_stateful(normalize_events(raw), alpha=0.2, last_n=32)
        emitted: list = []
        q = (
            folded.writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    papq.write_table(t.slice(0, half), f"{stage}/part_a.parquet")
    em1 = {r.user_id: (r.total_seen, r.n_events, r.ewma) for r in run()}

    papq.write_table(t.slice(half), f"{stage}/part_b.parquet")
    em2_rows = run()
    # run 2 only emits users present in the second half; merge: run 2
    # supersedes run 1 for users it re-emitted (total_seen grew)
    final = dict(em1)
    for r in em2_rows:
        prev = final.get(r.user_id)
        if prev is None or r.total_seen > prev[0]:
            final[r.user_id] = (r.total_seen, r.n_events, r.ewma)

    batch = {
        r.user_id: (r.n_events, r.ewma) for r in ev_ewma_value(spark, sf_dir).collect()
    }
    assert set(final) == set(batch)
    for uid, (_, n, ewma) in final.items():
        bn, bewma = batch[uid]
        assert n == bn, uid
        assert round(ewma, 6) == bewma, (uid, ewma, bewma)
