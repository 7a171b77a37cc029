#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload crime_batch --seed 1 --seconds 10 --trace 0

The seed's inputs are made first (perfbench/inputs.py), without the JVM
under test. Set-up is process start to session up and registry loaded,
less the input time, plus the model fit on ``crime_stream``. The one JVM
then runs the workload for ``--seconds``: its first pass is the cold one
a one-shot spark-submit pays, the rest are warm. Passes are timed in
CPU seconds of the program (JVM, Python workers and the Python driver),
which a shared host's slowdowns move far less than wall-clock seconds,
and in wall-clock seconds too. Outputs are checked afterwards, outside
every timed region. The last stdout line is the JSON result; ``--trace
1`` reports the per-layer metrics instead of the end-to-end ones and
writes every span to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import procmon  # noqa: E402
from perfbench.stream import CrimeStream  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import Check, CrimeBatch  # noqa: E402

WORKLOADS = {w.name: w for w in (CrimeBatch, CrimeStream)}
HEAP = "1g"
# C1 only, with room for its code: with the default tiered compilation the
# C2 compiler is still busy through the first warm passes, and how far it
# has got moved a warm pass's CPU time by 20% from run to run. With C1
# only, warm passes are flat from the first one, no slower in wall-clock
# time at this size, and the cold pass is cheaper. Compiler threads stay
# alive so that their time (``jvm.jit_cpu_s``) can be read per thread.
JIT_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UseDynamicNumberOfCompilerThreads"

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MiB",
    "ok_ratio": "ratio",
    "answer_quality": "ratio",
}

# the wall-clock twins of the pass timings, and the latencies: what a user
# waits for. Every run prints them on its ``perfbench ungated`` line and a
# traced run reports them, but they have no bound: a shared host moves
# them by more than any usable one (see perfbench/README.md)
WALL = {
    "first_pass_s": "s",
    "pass_s": "s",
    "event_latency_p50_s": "s",
    "event_latency_p95_s": "s",
}

COMMON_LAYERS = {
    **WALL,
    "jvm.jit_cpu_s": "s",
    "session.get_spark_s": "s",
    "plans.load_all_plans_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "pyworkers.peak_rss_mb": "MiB",
    "bench.trace_overhead": "ratio",
    "bench.cpu_steal_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics a traced run prints: the common ones and
    those of every workload (zero where a workload does not reach that
    layer)."""
    units = dict(COMMON_LAYERS)
    for wl in WORKLOADS.values():
        units.update(wl.LAYERS)
    return units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke test)")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package wherever the process was launched."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # every JVM, the launcher's too, would otherwise keep /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def session_conf() -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap: a growing one expands at times that vary from
        # run to run, and so would its resident memory
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} {JIT_FLAGS} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Dderby.system.home={WORK}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }


def bring_up(tracer: Tracer):
    """Package import (its first in this process), session and registry:
    the set-up under test."""
    with tracer.span("session.get_spark"):
        from crime_spark_ml_spark import session

        spark = session.get_spark("perfbench", cpus=cores(), driver_memory=HEAP, extra_conf=session_conf())
    tracer.bind(spark)
    with tracer.span("plans.load_all_plans"):
        from crime_spark_ml_spark.plans import registry

        registry.load_all_plans()
    return spark


def tear_down(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def percentile(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0


def measure_batch(wl, spark, tracer: Tracer, clock, seconds: float, trace: bool) -> dict:
    """The cold pass, then warm passes until ``seconds`` have gone by after
    it, and at least one (two when traced). A traced run alternates traced
    and untraced passes, starting traced, so the tracing overhead is
    measured on one JVM."""
    passes = []
    min_passes = 3 if trace else 2
    warm_start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - warm_start < seconds:
        traced = trace and len(passes) % 2 == 0
        tracer.enabled = traced
        with tracer.patched(wl.trace_targets), tracer.span("bench.pass") as root:
            c0, j0 = clock.now(), clock.jit()
            t0 = time.perf_counter()
            requests = wl.run_pass(spark, tracer)
            dur = time.perf_counter() - t0
            cpu, jit = clock.now() - c0, clock.jit() - j0
        if not passes:
            warm_start = time.perf_counter()  # the cold pass is over
        rec = {"dur": dur, "cpu": cpu, "jit": jit, "requests": requests, "traced": traced}
        if traced:
            rec["layers"] = wl.layer_metrics(tracer, root)
            rec["layers"]["spark.jobs"], rec["layers"]["spark.stages"] = tracer.inclusive(root)
        wl.after_pass(spark)
        passes.append(rec)
    tracer.enabled = trace
    return {"passes": passes}


def batch_metrics(result: dict) -> dict:
    passes = result["passes"]
    untraced = [p for p in passes[1:] if not p["traced"]]
    # one sample per stage of each warm pass
    lat = [secs for p in untraced for _, secs in p["requests"]]
    out = {
        "first_pass_cpu_s": passes[0]["cpu"],
        "pass_cpu_s": statistics.median(p["cpu"] for p in untraced),
        "first_pass_s": passes[0]["dur"],
        "pass_s": statistics.median(p["dur"] for p in untraced),
        "jvm.jit_cpu_s": statistics.median(p["jit"] for p in untraced),
        "event_latency_p50_s": percentile(lat, 0.50),
        "event_latency_p95_s": percentile(lat, 0.95),
        "samples": {"first_pass": 1, "pass": len(untraced), "event_latency": len(lat)},
    }
    traced = [p for p in passes[1:] if p["traced"]]
    if traced:
        layers = [p["layers"] for p in traced]
        out["layers"] = {k: median_of(layers, k) for k in layers[0]}
        t_cpu = statistics.median(p["cpu"] for p in traced)
        out["layers"]["bench.trace_overhead"] = t_cpu / out["pass_cpu_s"] - 1.0
        out["trace_summary"] = {
            "traced_pass_cpu_s": t_cpu,
            "untraced_pass_cpu_s": out["pass_cpu_s"],
            "traced_pass_s": statistics.median(p["dur"] for p in traced),
            "untraced_pass_s": out["pass_s"],
        }
    return out


def per_nominal_batch(readings: list[float], start: float, files: list[int], nominal: float) -> float:
    """From cumulative readings taken as each micro-batch with data ended:
    the increase from the end of the second to the end of the last (the
    first is the cold one, the second is still warming up), per
    ``nominal`` input files, the number one trigger interval brings, so
    that a batch that holds a few files more or less does not count as a
    dearer or cheaper one. A very short run (the smoke test) may have
    fewer batches; it counts from ``start``."""
    if len(readings) < 3:
        return (readings[-1] - start) / sum(files) * nominal
    return (readings[-1] - readings[1]) / sum(files[2:]) * nominal


def stream_metrics(result: dict) -> dict:
    prog = result["progress"]
    cpu = result["progress_cpu"]
    files = [p["numInputRows"] for p in prog]  # one wire line per file
    dur = [p["durationMs"] for p in prog]
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    last = state[-1] if state else {}
    trig = [d.get("triggerExecution", 0) / 1000 for d in dur]
    return {
        # from query start to the end of the first micro-batch with data
        "first_pass_cpu_s": cpu[0] - result["start_cpu"],
        # all the program's CPU time, idle moments between batches too
        "pass_cpu_s": per_nominal_batch(cpu, result["start_cpu"], files, result["files_per_trigger"]),
        "jvm.jit_cpu_s": per_nominal_batch(result["progress_jit"], result["start_jit"], files, result["files_per_trigger"]),
        "first_pass_s": trig[0],
        "pass_s": statistics.median(trig[2:] or trig),
        "event_latency_p50_s": percentile(result["latencies"], 0.50),
        "event_latency_p95_s": percentile(result["latencies"], 0.95),
        "samples": {"first_pass": 1, "pass": len(trig[2:] or trig), "event_latency": len(result["latencies"])},
        "layers": {
            "streaming.batches": len(prog),
            "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in prog),
            "streaming.trigger_s": statistics.median(trig),
            "streaming.add_batch_s": statistics.median(d.get("addBatch", 0) / 1000 for d in dur),
            "streaming.wal_commit_s": statistics.median(d.get("walCommit", 0) / 1000 for d in dur),
            "streaming.latest_offset_s": statistics.median(d.get("latestOffset", 0) / 1000 for d in dur),
            "streaming.state_commit_s": statistics.median(s.get("commitTimeMs", 0) / 1000 for s in state) if state else 0.0,
            "streaming.state_rows": last.get("numRowsTotal", 0),
            "streaming.state_bytes": last.get("memoryUsedBytes", 0),
            "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "sink.batch_s": statistics.median(result["sink_batch_s"]),
            "backlog_files": result["backlog_files"],
            "bench.generator_late_s": result["generator_late_s"],
            # nothing is patched on this workload; the progress listener
            # runs in both modes
            "bench.trace_overhead": 0.0,
        },
    }


def run(args) -> dict:
    configure_env()
    run_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, args.small)
    stream = isinstance(wl, CrimeStream)

    t0 = time.perf_counter()
    fingerprint = wl.prepare(run_dir)  # seeded inputs: not set-up
    inputs_s = time.perf_counter() - t0
    spark = bring_up(tracer)
    setup_s = time.perf_counter() - T_PROCESS - inputs_s
    if stream:
        t0 = time.perf_counter()
        with tracer.span("ml.pipeline.train_crime_model"):
            wl.fit(spark)
        setup_s += time.perf_counter() - t0
    setup_spans = list(tracer.spans)

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "inputs": fingerprint,
    }
    print("perfbench env " + json.dumps(env, sort_keys=True), flush=True)

    check = Check()
    metrics: dict = {}
    quality: dict = {}
    steal0 = procmon.cpu_steal()
    clock = procmon.CpuClock(jvm_pid())
    try:
        with procmon.RssSampler(jvm_pid(), clock) as rss:
            if stream:
                result = wl.measure(spark, args.seconds, clock)
                metrics = stream_metrics(result)
            else:
                result = measure_batch(wl, spark, tracer, clock, args.seconds, bool(args.trace))
                metrics = batch_metrics(result)
        quality = wl.check(spark, check)
    except Exception:  # noqa: BLE001 - a failed operation is reported, not fatal
        traceback.print_exc()
        check(False, "workload raised")
    steal1 = procmon.cpu_steal()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"perfbench cpu steal share during measurement: {steal:.3f}", file=sys.stderr)
    for reason in check.failures:
        print(f"perfbench check failed: {reason}", file=sys.stderr)

    samples = {"setup_s": 1, **metrics.get("samples", {}), "ok_ratio": check.attempted}
    print("perfbench samples " + json.dumps(samples), flush=True)

    # counted in checks, so that one failed check lowers ok_ratio by more
    # than its bound
    attempted = check.attempted
    failed = len(check.failures)
    e2e = {
        "setup_s": setup_s,
        "first_pass_cpu_s": metrics.get("first_pass_cpu_s", 0.0),
        "pass_cpu_s": metrics.get("pass_cpu_s", 0.0),
        "peak_rss_mb": rss.peak_total_mb,
        "ok_ratio": 1.0 - failed / attempted,
        "answer_quality": quality.get("answer_quality", 0.0),
    }
    per_layer = per_layer_units()
    ungated = {k: metrics.get(k, 0.0) for k in (*WALL, "jvm.jit_cpu_s")}
    print("perfbench ungated " + json.dumps(ungated), flush=True)
    layers = dict.fromkeys(per_layer, 0.0)
    layers.update(ungated)
    layers.update(metrics.get("layers", {}))
    layers.update({k: v for k, v in quality.items() if k in per_layer})
    layers["jvm.peak_rss_mb"] = rss.jvm_hwm_mb()
    layers["pyworkers.peak_rss_mb"] = rss.peak_workers_mb
    # host contention during measurement and checks: explains slow runs
    layers["bench.cpu_steal_share"] = steal
    for s in setup_spans:
        layers[f"{s.name}_s"] = s.dur

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"env": env, "end_to_end": e2e, "per_layer": layers, **metrics.get("trace_summary", {})},
        )
    tear_down(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    chosen, units = (layers, per_layer) if args.trace else (e2e, END_TO_END)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
