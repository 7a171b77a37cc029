"""Resident memory and CPU time of the Spark JVM and its Python workers,
read from ``/proc`` (psutil is not available)."""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str, name: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The JVM's Python children: the PySpark daemon and its workers.
    Other children are helpers the JVM spawns; until one has exec'd it
    shares the JVM's address space (and command line), and counting it
    would count the JVM twice."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        if exe.startswith("python"):
            out.append(pid)
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine from /proc/stat: the
    time a virtual CPU was runnable while the host ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _cpu_ticks(path: str, reaped: bool = True) -> int:
    """User and system time from a ``/proc`` stat file, with that of the
    children the process has reaped unless ``reaped`` is false (a
    thread's file repeats its process's children)."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return 0
    # utime, stime, cutime, cstime: fields 14-17 of stat(5)
    return sum(int(x) for x in fields[11 : 15 if reaped else 13])


def jit_ticks(pid: int) -> int:
    """CPU time of the JVM's JIT compiler threads (C1 and C2). The JVM must
    keep them alive (``-XX:-UseDynamicNumberOfCompilerThreads``), or the
    time of one that exits could no longer be told apart."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        total += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", reaped=False)
    return total


class CpuClock:
    """CPU seconds the program has used so far: the Spark JVM with its
    Python workers, plus this Python process (where the program's
    PySpark driver code runs), less the benchmark's own threads, which report their time
    through ``exclude_since``. ``jit`` is the JIT compiler's part of it.

    A virtual CPU that the host takes away is counted as steal, not as
    time of the process running on it, so these readings move less than
    wall-clock time when a shared host slows the run down."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._lock = threading.Lock()
        self._excluded = 0.0

    def now(self) -> float:
        jvm = sum(_cpu_ticks(f"/proc/{p}/stat") for p in (self.jvm_pid, *descendants(self.jvm_pid)))
        own = os.times()
        with self._lock:
            return jvm / TICK + own.user + own.system - self._excluded

    def jit(self) -> float:
        return jit_ticks(self.jvm_pid) / TICK

    def exclude_since(self, t0: float) -> float:
        """Take the calling thread's CPU time since ``t0`` (a
        ``time.thread_time()`` reading) out of the program's; returns the
        new reading."""
        t1 = time.thread_time()
        with self._lock:
            self._excluded += t1 - t0
        return t1


class RssSampler:
    """Samples JVM and Python-worker resident memory (PSS) every
    ``interval`` seconds while running; ``peak_*`` are in MiB.
    ``jvm_hwm_mb`` is the kernel's own high-water mark of the JVM, which
    sampling cannot miss."""

    def __init__(self, jvm_pid: int, clock: CpuClock, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.clock = clock
        self.interval = interval
        self.peak_total_mb = 0.0
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        # proportional set size: forked Python workers share most pages
        # with their daemon, and plain RSS would count them once per worker
        jvm = _status_kb(self.jvm_pid, "Pss:", "smaps_rollup")
        workers = sum(_status_kb(p, "Pss:", "smaps_rollup") for p in python_workers(self.jvm_pid))
        self.peak_workers_mb = max(self.peak_workers_mb, workers / 1024)
        self.peak_total_mb = max(self.peak_total_mb, (jvm + workers) / 1024)

    def _run(self) -> None:
        t = time.thread_time()
        while not self._stop.wait(self.interval):
            self._sample()
            t = self.clock.exclude_since(t)

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def jvm_hwm_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM:") / 1024
