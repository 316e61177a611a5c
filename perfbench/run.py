"""Benchmark of nbody6_data_pipeline_spark, end to end and per layer.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 15 --trace 0

One process is one run: a closed loop with one client on
``local[<cores>]``. The run builds its inputs from ``--seed``, starts
a session through ``session.get_spark``, drives the package only
through its public functions, checks every result, and prints one JSON
object as its last line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps the same public calls in spans (``spans.py``) and
reports the per-layer metrics instead.

Workloads:

- ``registry_mix``: a panel of registry queries, one per query module
  (``registry_panel.json``), over tables ``tpch.py`` writes at sf0.01.
  The seed sets the order of every pass. One cold pass, then five warm
  passes, and more only if ``--seconds`` have not yet gone by since the
  cold pass began; the cache is cleared before each query. Every result's canonical
  hash must equal the recorded one.
- ``pipeline_grid``: ``pipeline.process_all_batched`` in strict mode
  over two runs that ``nbody6_gen.py`` writes into seeded cells of the
  18-cell Rad x zmet x M grid, all 18 reference observers, every layer
  written: one batch call, which is cold, then a resume call that must
  find nothing to do. The batch call outlasts ``--seconds``, and a
  second one would not fit the time a set of runs may take, so a run
  has no warm op. ``overall_stats``
  must match the generator's totals for every (run, observer, time),
  and the seven output layers must hash as an earlier run of the same
  seed and package sources in this working directory recorded.

Shared hosts change speed by tens of percent over minutes, more than
any run can average away, so every time-based end-to-end metric is
reported at a nominal core speed: multiplied (rates divided) by the
speed ``probes.CoreSpeed`` samples over the window the metric was
measured in. The raw figures and the speed factors are in the detail
line.

Every run sizes the JVM heap from /proc/meminfo and the cores from the
affinity mask, keeps its files in its own directory under
``.perfbench/`` in the working directory, and removes them, stops the
session and waits for the JVM and its Python workers at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import types  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.join(REPO, "tools"))

import probes  # noqa: E402

REGISTRY_SF = 0.01
DATA_SEED = 42
PANEL_FILE = os.path.join(BENCH_DIR, "registry_panel.json")
# Warm latencies still fall from pass to pass while the JIT compiles, so
# the number of warm passes is fixed (it outlasts --seconds on this
# workload) rather than set by where the --seconds boundary falls.
MIN_WARM_PASSES = 5
WARMUP_QUERIES = 6
WORK_ROOT = os.path.join(os.getcwd(), ".perfbench")
# the Rad x zmet x M grid the pipeline's run discovery parses
GRID = [(rad, zmet, m) for rad in (2, 4, 8) for zmet in (14, 20) for m in (5, 6, 7)]
# package settings read from the environment; a run must not inherit them
FOREIGN_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF",
               "SPARK_GRAFT_STATE_STORE", "SPARK_GRAFT_SF_DIR")


def canonical_hash(columns: list[str], rows: list) -> tuple[str, int]:
    """``tools/hash_registry.canonical_hash`` of rows already collected."""
    from hash_registry import canonical_hash as hash_frame

    return hash_frame(types.SimpleNamespace(columns=list(columns),
                                            collect=lambda: rows))


def hygiene(run_dir: str) -> None:
    """Process environment for a session started under ``run_dir``:
    the package importable by Python workers, cores and heap from the
    host, temp files inside the run directory."""
    for key in FOREIGN_ENV:
        os.environ.pop(key, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + prev if prev else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(probes.host_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{probes.host_heap_gb()}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark(run_dir: str):
    from nbody6_data_pipeline_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    JVM started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _tree(proc.pid) if proc is not None else []
    # the JVM may already have exited, when the run was signalled
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _tree(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack += probes.children(p)
    return out[1:]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    """State of one benchmark run: its directory, session and probes."""

    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(
            WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.inputs = os.path.join(self.dir, "inputs")
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.common: dict[str, float] = {}  # per-layer metrics of every workload
        self.checks = {"attempted": 0, "failed": 0, "errors": []}
        # end-to-end metric -> the (start, end) it was measured over
        self.windows: dict[str, tuple[float, float]] = {}
        self.speed = None

    def start_speed_probe(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        self.speed = probes.CoreSpeed(os.path.join(self.dir, "core_speed.log"))

    def start(self) -> None:
        t = time.perf_counter()
        self.spark = start_spark(self.dir)
        self.common["session.get_spark_s"] = time.perf_counter() - t
        self.jvm = probes.Jvm(self.spark)
        self._warm_up()
        if self.args.trace:
            import spans

            self.tracer = spans.Tracer(self.spark)

    def _warm_up(self) -> None:
        """A fixed set of generic queries, each with fresh literals, so that
        the JIT compiles Spark's planning, codegen and scheduling paths
        before the timed section rather than during it, where how far it
        has got varies from run to run. Runs none of the package's plans."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        for i in range(WARMUP_QUERIES):
            df = self.spark.range(20_000).selectExpr(
                f"id % {5 + i} AS k", f"id * {i + 1} AS v")
            agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            ranked = df.withColumn(
                "r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
            ranked.filter("r <= 3").join(agg, "k").orderBy("k", "v").collect()

    def check(self, ok: bool, what: str) -> None:
        self.checks["attempted"] += 1
        if not ok:
            self.checks["failed"] += 1
            self.checks["errors"].append(what)

    def close(self) -> None:
        try:
            if self.speed is not None:
                self.speed.stop()
            if self.spark is not None:
                stop_spark(self.spark)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


def _source_digest() -> str:
    """Digest of the package's Python sources."""
    h = hashlib.md5()
    pkg = os.path.join(REPO, "nbody6_data_pipeline_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(d, name), "rb") as f:
                h.update(os.path.relpath(os.path.join(d, name), pkg).encode())
                h.update(f.read())
    return h.hexdigest()


def recorded_hash(key: str, digest: str) -> str | None:
    """The output hash an earlier run in this working directory recorded
    under ``key`` for the same package sources, or None after recording
    ``digest`` as the first."""
    path = os.path.join(WORK_ROOT, "output_hashes.json")
    key = f"{_source_digest()}:{key}"
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        data = {}
    if key in data:
        return data[key]
    data[key] = digest
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)
    return None


# ---------------------------------------------------------------- registry

def registry_mix(run: Run) -> tuple:
    import tpch

    with open(PANEL_FILE) as f:
        panel = json.load(f)
    t = time.perf_counter()
    tpch.write(run.inputs, panel["sf"], panel["data_seed"])
    run.common["inputs.generate_s"] = time.perf_counter() - t
    run.start()
    from nbody6_data_pipeline_spark.queries import registry

    specs = registry()
    rng = random.Random(run.args.seed)
    names = sorted(panel["queries"])
    rng.shuffle(names)
    ops: list[dict] = []
    seq = itertools.count()

    def op(name: str, cold: bool) -> None:
        spark, jvm, tracer = run.spark, run.jvm, run.tracer
        spark.catalog.clearCache()
        rec = {"query": name, "cold": cold, "span": f"{name}#{next(seq)}",
               "module": panel["queries"][name]["module"]}
        if tracer:
            tp = time.perf_counter()
            rec["codegen0"], rec["gc0"] = jvm.codegen(), jvm.gc_s()
            tracer.overhead_s += time.perf_counter() - tp
        # the span tags the query's jobs with its job group
        span = tracer.span(rec["span"]) if tracer else contextlib.nullcontext()
        try:
            with span:
                t0 = time.perf_counter()
                df = specs[name]["spark"](spark, run.inputs)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # a failed query is a failed op, not a crash
            run.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            return
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, execute_s=t2 - t1)
        digest, _ = canonical_hash(df.columns, rows)
        run.check(digest == panel["queries"][name]["hash"],
                  f"{name}: result hash {digest} differs from the recorded one")
        if tracer:
            tp = time.perf_counter()
            rec["catalyst"] = probes.catalyst_ms(df)
            n, ms = jvm.codegen()
            rec["compiles"] = n - rec["codegen0"][0]
            rec["compile_ms"] = ms - rec["codegen0"][1]
            rec["gc_s"] = jvm.gc_s() - rec["gc0"]
            tracer.overhead_s += time.perf_counter() - tp
        ops.append(rec)

    setup_s = time.perf_counter() - T_START
    run.jvm.reset_heap_peak()
    noise0 = probes.host_noise()
    t_timed = time.perf_counter()
    for name in names:
        op(name, cold=True)
    t_warm = time.perf_counter()
    # per warm pass: (queries run, seconds in them, CPU seconds of the pass)
    passes: list[tuple[int, float, float]] = []
    while (len(passes) < MIN_WARM_PASSES
           or time.perf_counter() - t_timed < run.args.seconds):
        n0, cpu0 = len(ops), probes.tree_cpu_s(run.jvm.pid)
        for name in rng.sample(names, len(names)):
            op(name, cold=False)
        passes.append((len(ops) - n0, sum(o["latency_s"] for o in ops[n0:]),
                       probes.tree_cpu_s(run.jvm.pid) - cpu0))
    t_end = time.perf_counter()
    timed_s = t_end - t_timed
    run.windows = {"setup_s": (T_START, t_timed), "cold_s": (t_timed, t_warm)}
    for name in ("work_per_s", "latency_p50_ms", "cpu_ms_per_work"):
        run.windows[name] = (t_warm, t_end)
    heap = run.jvm.heap_peak_mb()
    noise = probes.noise_delta(noise0, probes.host_noise())
    run.common["jvm.heap_peak_mb"] = sum(heap.values())

    cold = [o for o in ops if o["cold"]]
    warm = [o["latency_s"] for o in ops if not o["cold"]]
    if not warm:  # every warm query failed
        return None, {}, None
    # medians over the warm passes: the first ones still pay for JIT
    # compiles, by an amount that differs from run to run
    ran = [p for p in passes if p[0]]
    result = {
        "setup_s": setup_s,
        "cold_s": sum(o["latency_s"] for o in cold),
        "work_per_s": statistics.median(n / s for n, s, _ in ran),
        "latency_p50_ms": statistics.median(warm) * 1000.0,
        "cpu_ms_per_work": statistics.median(c * 1000.0 / n for n, _, c in ran),
        "heap_live_mb": run.jvm.live_heap_mb(),
    }
    per_query = {}
    for o in ops:
        if not o["cold"]:
            per_query.setdefault(o["query"], []).append(round(o["latency_s"], 4))
    detail = {"warm_samples": len(warm), "warm_passes": len(passes),
              "warm_latency_s": per_query, "heap_pools_mb": heap,
              "noise": noise}
    if run.tracer:
        return result, detail, _registry_layers(run, ops, timed_s)
    return result, detail, None


def _registry_layers(run: Run, ops: list[dict], timed_s: float) -> tuple[dict, dict]:
    import spans

    stages = run.jvm.stages()
    in_ops = {o["span"] for o in ops}
    st = spans.job_stats(
        [j for j in run.jvm.jobs() if spans.span_layer(j) in in_ops], stages)
    n_stages = st["stages"] + st["skipped_stages"]
    out = {
        "queries.build_s": sum(o["build_s"] for o in ops),
        "execute_s": sum(o["execute_s"] for o in ops),
        "catalyst.analysis_ms": sum(o["catalyst"]["analysis"] for o in ops),
        "catalyst.optimization_ms": sum(o["catalyst"]["optimization"] for o in ops),
        "catalyst.planning_ms": sum(o["catalyst"]["planning"] for o in ops),
        "codegen.compiles": sum(o["compiles"] for o in ops),
        "codegen.compile_ms": sum(o["compile_ms"] for o in ops),
        "scheduler.jobs": st["jobs"],
        "scheduler.stages": n_stages,
        "scheduler.tasks": st["tasks"],
        "scheduler.skipped_stage_frac": st["skipped_stages"] / max(1, n_stages),
        "exchange.shuffle_mb": st["shuffle_write_mb"],
        "exchange.spill_mb": st["spill_mb"],
        "jvm.gc_s": sum(o["gc_s"] for o in ops),
        # timed time outside every query call: cache clearing, result
        # hashing and the tracer's own reads
        "trace.remainder_s": timed_s - sum(o["latency_s"] for o in ops),
    }
    by_module: dict[str, dict[str, float]] = {}
    for o in ops:
        m = by_module.setdefault(o["module"], {"build_s": 0.0, "execute_s": 0.0})
        m["build_s"] += o["build_s"]
        m["execute_s"] += o["execute_s"]
    return out, {"by_module": by_module,
                 "cold_s": sum(o["latency_s"] for o in ops if o["cold"])}


# ---------------------------------------------------------------- pipeline

def pipeline_runs(root: str, seed: int) -> dict:
    """Two generated runs in seeded grid cells; the second dissolves at
    its last snapshot. Returns {run label: Expected}."""
    from nbody6_gen import RunShape, write_run

    rng = random.Random(seed)
    cells = rng.sample(GRID, 2)
    shapes = [RunShape(stars=16, snapshots=4, reg_binaries=2, unreg_binaries=2,
                       triples=1, wide_frac=0.5, outside_frac=0.15),
              RunShape(stars=16, snapshots=4, reg_binaries=2, unreg_binaries=2,
                       triples=1, wide_frac=0.5, outside_frac=0.15,
                       dissolve_at=3)]
    expected = {}
    for k, ((rad, zmet, m), shape) in enumerate(zip(cells, shapes)):
        label = f"Rad{rad:02d}-zmet{zmet:04d}-M{m}-{k + 1:04d}"
        path = os.path.join(root, f"Rad{rad:02d}", f"zmet{zmet:04d}", f"M{m}",
                            f"{k + 1:04d}")
        expected[label] = write_run(path, shape, rng.randrange(2**32))
    return expected


def _layer_rows(out_dir: str, layer: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out_dir, layer)).to_pylist()


def _rounded(v):
    """``v`` with every float cut to 9 significant digits."""
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return [_rounded(x) for x in v]
    return v


def output_hashes(out_dir: str) -> tuple[str, str]:
    """Hashes over all seven output layers: exact, and with floats cut
    to 9 significant digits. Spark's float aggregates depend on the
    order partial results are merged in, so only the second is
    expected to repeat from run to run."""
    from nbody6_data_pipeline_spark.pipeline import LAYERS

    exact, rounded = hashlib.md5(), hashlib.md5()
    for layer in LAYERS:
        rows = _layer_rows(out_dir, layer)
        cols = sorted(rows[0]) if rows else []
        values = [[r[c] for c in cols] for r in rows]
        for h, vals in ((exact, values), (rounded, _rounded(values))):
            digest, n = canonical_hash(cols, vals)
            h.update(f"{layer}:{n}:{digest}".encode())
    return exact.hexdigest(), rounded.hexdigest()


def check_pipeline(run: Run, out_dir: str, expected: dict, n_obs: int) -> None:
    rows = _layer_rows(out_dir, "overall_stats")
    want = {(label, t) for label, e in expected.items() for t in e.times}
    seen: dict[tuple, int] = {}
    for r in rows:
        key = (r["run_id"], r["time"])
        seen[key] = seen.get(key, 0) + 1
        e = expected.get(r["run_id"])
        ok = (e is not None and key in want and r["n_star"] == e.n_star
              and r["n_binary_system"] == e.n_binary_system
              and abs(r["within_2x_r_tidal_total_mass"]
                      - e.within_2x_r_tidal_total_mass) <= 1e-9 * max(
                          1.0, e.within_2x_r_tidal_total_mass))
        run.check(ok, f"overall_stats row {key} obs_x={r['obs_x']} "
                      f"n_star={r['n_star']} n_binary_system="
                      f"{r['n_binary_system']} mass="
                      f"{r['within_2x_r_tidal_total_mass']} != {e}")
    for key in want:
        run.check(seen.get(key) == n_obs,
                  f"overall_stats has {seen.get(key, 0)} rows for {key}, "
                  f"want one per observer ({n_obs})")


def pipeline_grid(run: Run) -> tuple:
    sim_root = os.path.join(run.inputs, "sim")
    t = time.perf_counter()
    expected = pipeline_runs(sim_root, run.args.seed)
    run.common["inputs.generate_s"] = time.perf_counter() - t
    run.start()
    from nbody6_data_pipeline_spark import pipeline
    from nbody6_data_pipeline_spark.operators.observe import (
        default_observer_coordinates,
    )

    n_obs = len(default_observer_coordinates())
    work = sum(len(e.times) for e in expected.values()) * n_obs
    out_dir = os.path.join(run.dir, "out")

    def call() -> list:
        return pipeline.process_all_batched(
            run.spark, sim_root, out_dir, is_strict=True, is_slim=False)

    setup_s = time.perf_counter() - T_START
    run.jvm.reset_heap_peak()
    noise0 = probes.host_noise()
    job0 = max((j["jobId"] for j in run.jvm.jobs()), default=-1)
    gc0, codegen0 = run.jvm.gc_s(), run.jvm.codegen()
    with (run.tracer.pipeline_layers() if run.tracer else contextlib.nullcontext()):
        cpu0 = probes.tree_cpu_s(run.jvm.pid)
        t_timed = time.perf_counter()
        try:
            runs = call()
            t_batch = time.perf_counter()
            cpu_s = probes.tree_cpu_s(run.jvm.pid) - cpu0
            resumed = call()
        except Exception as e:  # a failed call is a failed op, not a crash
            run.check(False, f"{type(e).__name__}: {e}"[:300])
            return None, {}, None
        t_end = time.perf_counter()
    heap = run.jvm.heap_peak_mb()
    noise = probes.noise_delta(noise0, probes.host_noise())
    run.common["jvm.heap_peak_mb"] = sum(heap.values())
    live_heap = run.jvm.live_heap_mb()
    run.windows = {"setup_s": (T_START, t_timed)}
    for name in ("cold_s", "work_per_s", "latency_p50_ms", "cpu_ms_per_work"):
        run.windows[name] = (t_timed, t_batch)

    batch_s = t_batch - t_timed
    run.check(len(runs) == len(expected) == len(resumed),
              f"the batch and resume calls found {len(runs)} and "
              f"{len(resumed)} runs")
    run.check(t_end - t_batch < 0.05 * batch_s,
              f"the resume call took {t_end - t_batch:.3f} s: it did work")
    check_pipeline(run, out_dir, expected, n_obs)
    exact, digest = output_hashes(out_dir)
    earlier = recorded_hash(f"pipeline_grid:{run.args.seed}", digest)
    if earlier is not None:
        run.check(earlier == digest, f"output hash {digest} differs from "
                                     f"{earlier}, an earlier run's of this seed")
    detail = {"work_units": work, "resume_s": t_end - t_batch,
              "heap_pools_mb": heap, "noise": noise, "output_hash": digest,
              "exact_output_hash": exact,
              "determinism": "first run of this seed and code"
                             if earlier is None else "checked"}
    result = {
        "setup_s": setup_s,
        "cold_s": batch_s,
        "work_per_s": work / batch_s,
        # the batch call is the run's only op (a second one would not fit
        # the time a set of runs may take), so its latency and throughput
        # restate cold_s
        "latency_p50_ms": batch_s * 1000.0,
        "cpu_ms_per_work": cpu_s * 1000.0 / work,
        "heap_live_mb": live_heap,
    }
    if not run.tracer:
        return result, detail, None
    return result, detail, _pipeline_layers(
        run, out_dir, (t_timed, t_end), job0, gc0, codegen0)


def _pipeline_layers(run: Run, out_dir: str, timed: tuple[float, float],
                     job0, gc0, codegen0) -> tuple[dict, dict]:
    import pyarrow.parquet as pq
    import spans

    jobs = [j for j in run.jvm.jobs() if j["jobId"] > job0]
    stages = run.jvm.stages()
    n, ms = run.jvm.codegen()
    st = spans.job_stats(jobs, stages)
    n_stages = st["stages"] + st["skipped_stages"]

    def rows(*layers):
        return sum(pq.read_metadata(f).num_rows for layer in layers
                   for f in _parquet_files(os.path.join(out_dir, layer)))

    written = {
        "operators.assemble.assemble_runs": rows(
            "assembled_stars", "assembled_binary_systems", "snapshot_headers"),
        "operators.observe.observe": rows("observed_stars", "observed_binary_systems"),
        "operators.statistics": rows("overall_stats", "annular_stats"),
    }
    out = {
        "codegen.compiles": n - codegen0[0],
        "codegen.compile_ms": ms - codegen0[1],
        "scheduler.jobs": st["jobs"],
        "scheduler.stages": n_stages,
        "scheduler.tasks": st["tasks"],
        "scheduler.skipped_stage_frac": st["skipped_stages"] / max(1, n_stages),
        "exchange.shuffle_mb": st["shuffle_write_mb"],
        "exchange.spill_mb": st["spill_mb"],
        "jvm.gc_s": run.jvm.gc_s() - gc0,
    }
    layers = spans.pipeline_layers(run.tracer, jobs, stages, written)
    wall = timed[1] - timed[0]
    covered = run.tracer.covered_s(*timed)
    span_self = sum(s.self_s for s in run.tracer.spans)
    out["trace.remainder_s"] = wall - covered
    detail = {
        "span_plus_remainder_err_frac": abs(span_self + wall - covered - wall) / wall,
        "jobs_busy_s": st["exec_s"],
        "driver_only_s": wall - st["exec_s"],
        "task_cpu_s": st["task_cpu_s"],
        "unattributed_jobs": layers.pop("unattributed.jobs"),
    }
    out.update(layers)
    return out, detail


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


WORKLOADS = {"registry_mix": registry_mix, "pipeline_grid": pipeline_grid}
# How each end-to-end metric scales with the host's core speed: times
# shrink on a faster host, rates grow. Metrics are reported at the
# nominal speed of probes.CoreSpeed.
SPEED_EXPONENT = {"setup_s": 1, "cold_s": 1, "latency_p50_ms": 1,
                  "cpu_ms_per_work": 1, "work_per_s": -1}


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM still stop the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(REPO, "nbody6_data_pipeline_spark")):
        print(f"perfbench: no nbody6_data_pipeline_spark package in {REPO}",
              file=sys.stderr)
        return 2
    run = Run(args)
    hygiene(run.dir)
    try:
        run.start_speed_probe()
        result, detail, traced = WORKLOADS[args.workload](run)
    finally:
        run.close()
    if result is None:
        print(f"perfbench: no pass completed: {run.checks['errors']}",
              file=sys.stderr)
        return 1

    speed = {name: run.speed.factor(*w) for name, w in run.windows.items()}
    nominal = {name: v * speed.get(name, 1.0) ** SPEED_EXPONENT.get(name, 0)
               for name, v in result.items()}
    if traced is None:
        metrics = {m["name"]: nominal[m["name"]] for m in _declared("end_to_end")}
        units = {m["name"]: m["unit"] for m in _declared("end_to_end")}
    else:
        layer, layer_detail = traced
        detail.update(layer_detail)
        layer["tracing.overhead_s"] = run.tracer.overhead_s
        layer.update(run.common)
        metrics, units = {}, {}
        for m in _declared("per_layer"):
            metrics[m["name"]] = layer.get(m["name"], 0)
            units[m["name"]] = m["unit"]
    detail.update(common=run.common, checks=run.checks, end_to_end_raw=result,
                  core_speed=speed)
    fail_frac = run.checks["failed"] / max(1, run.checks["attempted"])
    for name, value in [*metrics.items(), ("fail_frac", fail_frac)]:
        print(f"{args.workload:14s} {name:48s} {value:16.6f} {units.get(name, '1')}")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": run.checks["failed"] == 0,
        "attempted": run.checks["attempted"],
        "failed": run.checks["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
