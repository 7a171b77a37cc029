"""``crime_stream``: an open-loop file stream scored by the fitted crime
model, with streaming dedup and a benchmark-owned ``foreachBatch`` sink.

One generator thread writes T2 wire files (``streaming.producer.
tabular_frames``) on a fixed schedule that never waits for the consumer.
Every record carries its id (``rid``) and its file's scheduled creation
time (``created_us``); about 5% of each file re-sends records of the
previous files. The consumer chain is ``consumer.file_lines`` ->
``wire.parse_tabular`` -> ``pipeline.prepare_crime`` -> the model ->
``consumer.dedup_within_watermark`` -> the sink.

A file's latency runs from its scheduled creation to the end of the sink
batch that emits its last new record. A *pass* here is one micro-batch.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from collections import Counter

from . import inputs
from .workloads import Check, CrimeBatch

NUMERIC = ("X", "Y")
STRINGS = ("Dates", "Category", "Descript", "DayOfWeek", "PdDistrict", "Resolution", "Address")


class _Sink:
    """foreachBatch target: records when each rid was emitted. Called on
    Spark's callback thread, read by the generator and the main thread."""

    def __init__(self):
        self.lock = threading.Lock()
        self.emitted: dict[int, list[float]] = {}
        self.rows: dict[int, tuple] = {}
        self.batch_s: list[float] = []

    def __call__(self, batch_df, batch_id) -> None:
        t0 = time.perf_counter()
        got = batch_df.select("rid", "prediction", "label").collect()
        t1 = time.perf_counter()
        with self.lock:
            for r in got:
                self.emitted.setdefault(r.rid, []).append(t1)
                self.rows[r.rid] = (r.prediction, r.label)
            self.batch_s.append(t1 - t0)

    def emitted_ids(self) -> set[int]:
        with self.lock:
            return set(self.emitted)


def _progress_listener(progress: list, clock):
    """Keeps every progress event with the program's CPU and JIT readings
    when it arrived, just after its micro-batch ended."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append((json.loads(event.progress.json), clock.now(), clock.jit()))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class CrimeStream:
    name = "crime_stream"
    LAYERS = {
        "ml.pipeline.train_crime_model_s": "s",
        "streaming.batches": "count",
        "streaming.rows_per_batch": "count",
        "streaming.trigger_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.wal_commit_s": "s",
        "streaming.latest_offset_s": "s",
        "streaming.state_commit_s": "s",
        "streaming.state_rows": "count",
        "streaming.state_bytes": "bytes",
        "streaming.rows_dropped_by_watermark": "count",
        "sink.batch_s": "s",
        "backlog_files": "count",
        "bench.generator_late_s": "s",
        "model_accuracy": "ratio",
    }
    WATERMARK = "1 minute"
    # a fixed cadence, as a deployment sets one (the reference producer
    # sends every 5 s); it also keeps per-batch overhead from setting the
    # batch size, which made latency swing with host load. A batch takes
    # about half of it, so a slow batch does not delay the next one.
    TRIGGER_S = 2
    MODEL = CrimeBatch.MODEL

    def __init__(self, seed: int, small: bool):
        self.seed = seed
        self.rate = 8.0  # files per second
        self.rows_per_file = 50 if small else 250
        self.resend_share = 0.05
        # as many distinct rows as 15 s of input; longer runs cycle them
        self.train_rows, self.pool_rows = (2_000, 2_000) if small else (16_000, 30_000)

    def prepare(self, run_dir: str) -> dict:
        path, fp = inputs.stream_inputs(self.seed, self.train_rows, self.pool_rows)
        self.train = os.path.join(path, "train")
        with open(os.path.join(path, "stream.jsonl")) as f:
            self.pool = [json.loads(line) for line in f]
        self.run_dir = run_dir
        return fp

    def fit(self, spark) -> None:
        """Part of set-up: the model the stream scores with."""
        from crime_spark_ml_spark.ml import pipeline
        from crime_spark_ml_spark.sources import readers

        train = readers.read_crime_csv(spark, self.train)
        self.model = pipeline.train_crime_model(train, **self.MODEL).model

    def _record(self, rid: int, created_us: int) -> dict:
        src = self.pool[rid % len(self.pool)]
        rec = {k: src[k] for k in (*NUMERIC, *STRINGS)}
        rec["rid"] = rid
        rec["created_us"] = created_us
        return rec

    def _query(self, spark, in_dir: str, ck_dir: str, sink: _Sink):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from crime_spark_ml_spark.ml import pipeline
        from crime_spark_ml_spark.streaming import consumer, wire

        inner = T.StructType(
            wire.feature_struct(len(NUMERIC), len(STRINGS)).fields
            + [T.StructField("rid", T.LongType()), T.StructField("created_us", T.LongType())]
        )
        lines = consumer.file_lines(spark, in_dir, max_files_per_trigger=None)
        rows = wire.restore_names(wire.parse_tabular(lines, inner), [*NUMERIC, *STRINGS])
        scored = self.model.transform(pipeline.prepare_crime(rows))
        stamped = scored.withColumn("ts", F.timestamp_micros("created_us"))
        deduped = consumer.dedup_within_watermark(stamped, keys=("rid",), delay=self.WATERMARK)
        return (
            deduped.select("rid", "prediction", "label")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck_dir)
            .trigger(processingTime=f"{self.TRIGGER_S} seconds")
            .start()
        )

    def measure(self, spark, seconds: float, clock) -> dict:
        from crime_spark_ml_spark.streaming import producer

        in_dir = os.path.join(self.run_dir, "stream-in")
        ck_dir = os.path.join(self.run_dir, "stream-ck")
        tmp_dir = os.path.join(self.run_dir, "stream-tmp")
        for d in (in_dir, ck_dir, tmp_dir):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(in_dir)
        os.makedirs(tmp_dir)

        sink = _Sink()
        progress: list[tuple[dict, float, float]] = []
        listener = _progress_listener(progress, clock)
        spark.streams.addListener(listener)

        n_files = max(int(seconds * self.rate), 4)
        rng = random.Random(self.seed)
        sched: list[float] = []
        new_ids: list[range] = []
        sched_created: list[int] = []
        late: list[float] = []
        backlog: list[int] = []
        done_files = [0]

        def files_done() -> int:
            emitted = sink.emitted_ids()
            while done_files[0] < len(new_ids) and all(r in emitted for r in new_ids[done_files[0]]):
                done_files[0] += 1
            return done_files[0]

        def write(f: int, due: float, created_us: int) -> None:
            ids = range(f * self.rows_per_file, (f + 1) * self.rows_per_file)
            recs = [self._record(r, created_us) for r in ids]
            if f:
                prev = new_ids[-1]
                for r in rng.sample(prev, int(self.resend_share * self.rows_per_file)):
                    recs.append(self._record(r, sched_created[r // self.rows_per_file]))
            rng.shuffle(recs)
            frame = next(producer.tabular_frames(recs, batch_size=len(recs), keep_keys=("rid", "created_us")))
            tmp = os.path.join(tmp_dir, f"{f:06d}.json")
            with open(tmp, "w") as fh:
                fh.write(frame + "\n")
            sched.append(due)
            sched_created.append(created_us)
            new_ids.append(ids)
            os.rename(tmp, os.path.join(in_dir, f"{f:06d}.json"))
            backlog.append(len(new_ids) - files_done())

        def generate():
            # the generator is load, not the program: its CPU time is not
            # the program's
            cpu = time.thread_time()
            start = time.perf_counter()
            wall0 = time.time()
            for f in range(1, n_files):
                due = start + (f - 1) / self.rate
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                late.append(max(0.0, time.perf_counter() - due))
                write(f, due, int((wall0 + (f - 1) / self.rate) * 1_000_000))
                cpu = clock.exclude_since(cpu)

        # The cold micro-batch holds exactly the first file, there before
        # the query starts; the schedule of the others starts when it is
        # done. Input arriving while the cold batch overran its trigger
        # would otherwise make the first batches' sizes, and so their
        # cost, depend on how long the cold start took.
        # this thread's writing and polling are not the program's either
        cpu = time.thread_time()
        write(0, time.perf_counter(), int(time.time() * 1_000_000))
        clock.exclude_since(cpu)
        start_cpu, start_jit = clock.now(), clock.jit()
        query = self._query(spark, in_dir, ck_dir, sink)
        cpu = time.thread_time()
        deadline = time.perf_counter() + 120.0
        while query.isActive and time.perf_counter() < deadline and not any(
            p.get("numInputRows", 0) > 0 for p, _, _ in progress
        ):
            time.sleep(0.05)
        cpu = clock.exclude_since(cpu)

        gen = threading.Thread(target=generate, name="stream-generator")
        gen.start()
        gen.join()
        cpu = time.thread_time()
        deadline = time.perf_counter() + 30.0
        while files_done() < n_files and time.perf_counter() < deadline and query.isActive:
            time.sleep(0.05)
        # stopping mid-trigger interrupts a checkpoint write; wait it out
        while query.status["isTriggerActive"] and time.perf_counter() < deadline:
            time.sleep(0.05)
        clock.exclude_since(cpu)
        query.stop()
        spark.streams.removeListener(listener)
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")

        with sink.lock:
            emitted = {rid: list(ts) for rid, ts in sink.emitted.items()}
            rows = dict(sink.rows)
            sink_batch_s = list(sink.batch_s)
        lat = []
        for f, ids in enumerate(new_ids):
            if all(r in emitted for r in ids):
                lat.append(max(emitted[r][0] for r in ids) - sched[f])
        self.result = {"emitted": emitted, "rows": rows, "new_ids": new_ids}
        data = [(p, cpu, jit) for p, cpu, jit in progress if p.get("numInputRows", 0) > 0]
        return {
            "progress": [p for p, _, _ in data],
            "progress_cpu": [cpu for _, cpu, _ in data],
            "progress_jit": [jit for _, _, jit in data],
            "start_cpu": start_cpu,
            "start_jit": start_jit,
            "latencies": lat,
            "files": n_files,
            "files_per_trigger": self.rate * self.TRIGGER_S,
            "sink_batch_s": sink_batch_s,
            "generator_late_s": max(late),
            "backlog_files": sum(backlog) / len(backlog),
        }

    def check(self, spark, check: Check) -> dict:
        from crime_spark_ml_spark.ml import pipeline

        emitted, rows, new_ids = (self.result[k] for k in ("emitted", "rows", "new_ids"))
        expected = {r for ids in new_ids for r in ids}
        check(set(emitted) == expected, f"emitted ids {len(emitted)} == generated ids {len(expected)}")
        dups = sum(len(ts) > 1 for ts in emitted.values())
        check(dups == 0, f"re-sent records suppressed ({dups} emitted twice)")

        sample = sorted(random.Random(self.seed).sample(sorted(expected), min(200, len(expected))))
        cols = (*NUMERIC, *STRINGS, "rid", "created_us")
        schema = ", ".join(
            f"{c} {'double' if c in NUMERIC else 'long' if c in ('rid', 'created_us') else 'string'}"
            for c in cols
        )
        recs = [self._record(r, 0) for r in sample]
        batch = spark.createDataFrame([tuple(rec[c] for c in cols) for rec in recs], schema)
        scored = self.model.transform(pipeline.prepare_crime(batch)).select("rid", "prediction").collect()
        same = sum(rows[r.rid][0] == r.prediction for r in scored if r.rid in rows)
        check(same == len(sample), f"stream predictions equal batch transform on {same}/{len(sample)} rows")
        correct = sum(pred == label for pred, label in rows.values())
        accuracy = correct / max(len(rows), 1)
        majority = max(Counter(label for _, label in rows.values()).values()) / max(len(rows), 1)
        check(accuracy > majority, f"stream accuracy {accuracy:.3f} above majority {majority:.3f}")
        shutil.rmtree(os.path.join(self.run_dir, "stream-in"), ignore_errors=True)
        return {"model_accuracy": accuracy, "answer_quality": accuracy}
