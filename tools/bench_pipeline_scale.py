"""Reference-grid scale bench for the NBODY6 pipeline leg.

The reference workload is a Rad x zmet x M x init_pos run grid
(utils.py:51-83) observed from 18 distances along the x-axis —
np.arange(50, 600, 50) + np.arange(600, 1300, 100)
(collect_simulation_stats.py:100-110). bench.py's pipeline leg times a
fixed 10 runs at 1 coordinate; this tool drives process_all at
grid sizes of 10/50/200 runs spread across an 18-cell
Rad{04,08,16} x zmet{0002,0014} x M{5,6,7} grid with ALL 18 reference
observer coordinates, and reports per-layer wall / driver-job /
shuffle metrics from the Spark status REST API.

The scale claims this measures (not asserts):
- driver JOB COUNT per layer is flat — plan-shape-bound, not
  run-bound (each layer runs O(1) actions: ``align_runs`` is one
  per-run kernel and one checkpoint, operators/align.py);
- wall grows sub-linearly in runs (more rows through the same fixed
  shuffle count amortizes scheduling overhead);
- per-layer shuffle bytes grow ~linearly in runs (no quadratic blowup
  hiding in assemble/observe joins).

    python tools/bench_pipeline_scale.py [n_runs...]    # default 10 50 200

Prints one JSON line per grid size:
  {"runs": n, "coords": 18, "wall_sec": s, "jobs": j,
   "layers": {"layer:parse": {"jobs": j, "shuffle_write_mb": m,
              "peak_stage_shuffle_mb": p, "wall_sec": s}, ...}}
and a final summary line with wall/job ratios vs the smallest size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the reference's 18 observation distances along the x-axis
REF_DISTANCES = list(range(50, 600, 50)) + list(range(600, 1300, 100))
COORDS = [(float(d), 0.0, 0.0) for d in REF_DISTANCES]

# 18-cell grid approximating the reference's Rad x zmet x M sweep
GRID = [
    (rad, zmet, m)
    for rad in (4, 8, 16)
    for zmet in (2, 14)
    for m in (5, 6, 7)
]


def _rest(spark, path: str):
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _app_id(spark) -> str:
    return spark.sparkContext.applicationId


def layer_metrics(spark, group: str) -> dict:
    """Attribute completed jobs/stages in ``group`` to their
    layer:<name> job descriptions via the status REST API."""
    app = _app_id(spark)
    jobs = _rest(spark, f"applications/{app}/jobs")
    stages: dict = {}
    # REST list is newest-first; first-wins keeps the latest attempt
    # per stageId (a plain dict comprehension would keep the OLDEST).
    for s in _rest(spark, f"applications/{app}/stages"):
        if s["status"] in ("COMPLETE", "SKIPPED") and s["stageId"] not in stages:
            stages[s["stageId"]] = s
    layers: dict[str, dict] = {}
    for j in jobs:
        if j.get("jobGroup") != group:
            continue
        desc = j.get("description") or "layer:?"
        rec = layers.setdefault(
            desc,
            {"jobs": 0, "shuffle_write_mb": 0.0,
             "peak_stage_shuffle_mb": 0.0, "wall_sec": 0.0},
        )
        rec["jobs"] += 1
        t0 = j.get("submissionTime")
        t1 = j.get("completionTime")
        if t0 and t1:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            dt = (
                datetime.strptime(t1, fmt) - datetime.strptime(t0, fmt)
            ).total_seconds()
            rec["wall_sec"] = round(rec["wall_sec"] + dt, 3)
        for sid in j.get("stageIds", ()):
            s = stages.get(sid)
            if not s:
                continue
            mb = s.get("shuffleWriteBytes", 0) / 1e6
            rec["shuffle_write_mb"] = round(rec["shuffle_write_mb"] + mb, 2)
            rec["peak_stage_shuffle_mb"] = round(
                max(rec["peak_stage_shuffle_mb"], mb), 2
            )
    return layers


def _driver_rss_mb() -> float:
    """Current resident set of the Python driver process, in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024, 1)
    return -1.0


def _driver_peak_rss_mb() -> float:
    import resource

    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def bench_grid(spark, n_runs: int) -> dict:
    from nbody6_data_pipeline_spark.pipeline import process_all
    from tests.nbody6_fixtures import write_run

    base = tempfile.mkdtemp(prefix=f"nbody6_grid_{n_runs}_sim_")
    out = tempfile.mkdtemp(prefix=f"nbody6_grid_{n_runs}_out_")
    sc = spark.sparkContext
    try:
        for i in range(n_runs):
            rad, zmet, m = GRID[i % len(GRID)]
            pos = i // len(GRID) + 1
            write_run(
                os.path.join(
                    base, f"Rad{rad:02d}", f"zmet{zmet:04d}", f"M{m}",
                    f"{pos:04d}",
                )
            )
        spark.catalog.clearCache()
        group = f"pipeline-grid-{n_runs}"
        sc.setJobGroup(group, f"pipeline grid bench {n_runs} runs")
        t0 = time.perf_counter()
        process_all(spark, base, out, coordinates=COORDS)
        wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rec = {
            "runs": n_runs,
            "coords": len(COORDS),
            "wall_sec": round(wall, 3),
            "jobs": jobs,
            # driver-memory evidence (every run's alignment decision
            # runs in an executor-side kernel, so driver memory should
            # not grow with the run count): current Python-driver RSS
            # after the leg plus the process-lifetime peak (ru_maxrss
            # is monotone, so only its FIRST crossing attributes;
            # rss_mb is the per-size signal)
            "driver_rss_mb": _driver_rss_mb(),
            "driver_peak_rss_mb": _driver_peak_rss_mb(),
        }
        try:
            rec["layers"] = layer_metrics(spark, group)
        except Exception as exc:  # REST off -> still report totals
            rec["layers_error"] = f"{type(exc).__name__}: {exc}"[:200]
        return rec
    finally:
        sc.setJobGroup("", "")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    from nbody6_data_pipeline_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [10, 50, 200]
    spark = get_spark(
        "bench_pipeline_scale", extra_conf={
            "spark.ui.enabled": "true",
            # keep every stage of the largest grid in the status store
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM so the smallest leg doesn't absorb session startup
    spark.range(1000).count()

    records = []
    for n in sizes:
        rec = bench_grid(spark, n)
        records.append(rec)
        print(json.dumps(rec), flush=True)
    base = records[0]
    print(
        json.dumps(
            {
                "summary": {
                    f"{r['runs']}runs": {
                        "runs_ratio": round(r["runs"] / base["runs"], 2),
                        "wall_ratio": round(
                            r["wall_sec"] / base["wall_sec"], 2
                        ),
                        "jobs_ratio": round(r["jobs"] / base["jobs"], 2),
                    }
                    for r in records
                }
            }
        )
    )


if __name__ == "__main__":
    main()
