"""Read-only probes of the host, the process tree and the Spark JVM.

Everything here observes; nothing changes what the package does. The
JVM side is read through py4j with the Spark UI off: heap pools and GC
beans from ``ManagementFactory``, codegen counters from
``CodegenMetrics`` / ``CodeGenerator``, and jobs and stages from the
driver's ``AppStatusStore`` serialized to JSON in one call each.
"""

from __future__ import annotations

import gc
import json
import os
import signal
import subprocess
import sys
import time

# The core-speed sampler: every 0.25 s it runs a fixed pure-Python loop
# and prints when it ran and the CPU time it took, until it is stopped
# or its parent has gone.
_SPEED_LOOP = """
import os, signal, sys, time
signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
def work():
    s = 0
    for i in range(60000):
        s += i * i % 7
    return s
parent = os.getppid()
while os.getppid() == parent:
    c = time.thread_time()
    work()
    print(time.perf_counter(), (time.thread_time() - c) * 1000.0, flush=True)
    time.sleep(0.25)
"""


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_gb() -> int:
    """JVM heap for one benchmark run: a third of MemTotal, 2..8 GB.

    The package's own default (48g) gets the JVM killed on hosts with
    less memory than that; the machine is shared, so stay well below
    what it has."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(2, min(8, kb // (3 * 1024 * 1024)))


def children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python
    worker daemon from an executor thread, not its main thread)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def tree_cpu_s(root_pid: int) -> float:
    """utime + stime of ``root_pid`` and every live descendant, plus the
    cutime + cstime each has reaped from exited children."""
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
        stack += children(pid)
    return total / tick


def host_noise() -> dict:
    """/proc/loadavg and the cumulative steal and iowait jiffies."""
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(v) for v in f.read().split()[:3])
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    return {"load1": load1, "load5": load5, "load15": load15,
            "jiffies": sum(cpu), "iowait": cpu[4], "steal": cpu[7]}


def noise_delta(before: dict, after: dict) -> dict:
    """Load average at the end and the steal / iowait share of all CPU
    time in between."""
    total = max(1, after["jiffies"] - before["jiffies"])
    return {"loadavg_1m": after["load1"],
            "steal_frac": (after["steal"] - before["steal"]) / total,
            "iowait_frac": (after["iowait"] - before["iowait"]) / total}


class CoreSpeed:
    """How fast the host's cores run, sampled all through a run.

    A shared host's cores slow down and speed up by tens of percent over
    minutes, and the run's own CPU time grows with its wall time, so the
    slowdown is not waiting for a CPU (steal) but slower execution. A
    subprocess times a fixed loop in CPU time every 0.25 s, costing about
    2% of one core; ``factor`` turns the mean loop time over a window
    into a speed relative to ``NOMINAL_MS``."""

    NOMINAL_MS = 5.5  # the loop's mean CPU time on a quiet 4-core Xeon VM
    MIN_SAMPLES = 20  # per window: the mean of fewer varies by over 5%

    def __init__(self, log_path: str):
        self.log_path = log_path
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-c", _SPEED_LOOP], stdout=log,
                stdin=subprocess.DEVNULL)
        self.samples: list[tuple[float, float]] = []

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        with open(self.log_path) as f:
            self.samples = [tuple(float(v) for v in line.split())
                            for line in f if len(line.split()) == 2]

    def factor(self, start: float, end: float) -> float:
        """NOMINAL_MS over the mean loop time of the samples taken in
        [start, end] (perf_counter seconds), or of the MIN_SAMPLES
        nearest its middle if it holds fewer: below 1 on a slow host."""
        inside = [ms for t, ms in self.samples if start <= t <= end]
        if len(inside) < self.MIN_SAMPLES:
            mid = (start + end) / 2
            inside = [ms for _, ms in sorted(
                self.samples, key=lambda s: abs(s[0] - mid))[:self.MIN_SAMPLES]]
        return self.NOMINAL_MS / (sum(inside) / len(inside))


class Jvm:
    """Counters of the SparkContext's JVM."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        mf = self._jvm.java.lang.management.ManagementFactory
        self.pid = int(mf.getRuntimeMXBean().getPid())
        self._heap = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType()) == "Heap memory"]
        self._gc = list(mf.getGarbageCollectorMXBeans())
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        codegen = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self._codegen = codegen.CodeGenerator
        self._compiles = (
            self._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> dict[str, float]:
        """Peak use of each heap pool since the last reset."""
        return {p.getName(): p.getPeakUsage().getUsed() / 2**20
                for p in self._heap}

    def live_heap_mb(self) -> float:
        """Heap in use once full collections stop freeing memory: what
        the session retains.

        It takes several rounds. py4j keeps every Java object a Python
        proxy still points at alive, so Python collects first; and
        Spark's ContextCleaner drops checkpoint, shuffle and broadcast
        state only after a collection has cleared its references."""
        used = float("inf")
        for _ in range(6):
            gc.collect()
            self._jvm.java.lang.System.gc()
            now = sum(p.getUsage().getUsed() for p in self._heap) / 2**20
            if now > 0.99 * used:
                return now
            used = now
            time.sleep(1.0)
        return used

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gc) / 1000.0

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile milliseconds so far)."""
        return (int(self._compiles.getCount()),
                self._codegen.compileTime() / 1e6)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(
            self._store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage the store still holds."""
        store = self._store
        raw = store.stageList(None, False, False,
                              getattr(store, "stageList$default$4")(),
                              getattr(store, "stageList$default$5")())
        out: dict[int, dict] = {}
        for s in json.loads(self._mapper.writeValueAsString(raw)):
            if s["attemptId"] >= out.get(s["stageId"], {"attemptId": -1})["attemptId"]:
                out[s["stageId"]] = s
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution (after it ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
