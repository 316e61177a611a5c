"""Time registry queries in isolation with the noop sink (guide §1.4).

    python tools/time_query.py [--runs N] [sf_dir] query [query ...]

Each query is materialized with ``df.write.format("noop")`` — every
column of every row computed, no sink cost, visible in the SQL tab —
N times (default 2: first run carries codegen JIT, second is
steady-state). Prints one JSON line per query with all run times.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "--runs":
        runs = int(args[1])
        args = args[2:]
    sf_dir = args[0] if "/" in args[0] else "/root/testdata/sf0.1"
    names = [a for a in args if "/" not in a]

    from nbody6_data_pipeline_spark.queries import registry
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("time_query", extra_conf={"spark.ui.enabled": "true"})
    reg = registry()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for name in names:
        times = []
        for i in range(runs):
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            df = reg[name]["spark"](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"query": name, "noop_sec": times,
                          "best": min(times)}), flush=True)


if __name__ == "__main__":
    main()
