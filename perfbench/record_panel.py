"""Choose the ``registry_mix`` query panel and record its result hashes.

Run once per change of the registry or of ``tpch.py``, never by the
benchmark itself:

    python3 perfbench/record_panel.py <scratch_dir>

It writes the registry tables into ``<scratch_dir>``, runs every
registry query once in a fresh session (registry order, cold, with the
cache cleared before each), and takes from each query module the query
whose cold time is nearest that module's median. Of those it keeps the
``PANEL_SIZE`` cheapest, so that a benchmark run fits a cold pass and
several warm passes into its time. Each kept query's canonical result
hash is then taken in the same session and written to
``registry_panel.json`` next to this file.

Check the recorded results against the DuckDB oracle before committing:

    python3 tools/check_oracle.py <scratch_dir> <query> ...
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import run  # noqa: E402
import tpch  # noqa: E402

PANEL_SIZE = 6


def main(out_dir: str) -> int:
    run.hygiene(os.path.join(out_dir, "spark"))
    tpch.write(out_dir, run.REGISTRY_SF, run.DATA_SEED)
    from nbody6_data_pipeline_spark.queries import registry

    spark = run.start_spark(os.path.join(out_dir, "spark"))
    specs = registry()
    cold: dict[str, float] = {}
    for name, spec in specs.items():
        spark.catalog.clearCache()
        t = time.perf_counter()
        spec["spark"](spark, out_dir).collect()
        cold[name] = time.perf_counter() - t
    by_module: dict[str, list[str]] = {}
    for name, spec in specs.items():
        by_module.setdefault(spec["spark"].__module__.rsplit(".", 1)[1], []).append(name)
    medians = {}
    for module, names in by_module.items():
        med = statistics.median(cold[n] for n in names)
        medians[min(names, key=lambda n: (abs(cold[n] - med), n))] = module
    panel = {}
    for name in sorted(medians, key=lambda n: (cold[n], n))[:PANEL_SIZE]:
        module = medians[name]
        spark.catalog.clearCache()
        df = specs[name]["spark"](spark, out_dir)
        digest, rows = run.canonical_hash(df.columns, df.collect())
        panel[name] = {"module": module, "hash": digest, "rows": rows,
                       "cold_s": round(cold[name], 3)}
        print(module, name, rows, digest)
    run.stop_spark(spark)
    with open(os.path.join(BENCH_DIR, "registry_panel.json"), "w") as f:
        json.dump({"sf": run.REGISTRY_SF, "data_seed": run.DATA_SEED,
                   "queries": panel}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
