"""Per-query physical metrics: shuffle bytes, spill, exchange count.

Wall-clock alone can hide a plan regression (a 2x shuffle-byte growth
disappears inside scheduler noise at sf0.1 but is fatal at 100 TB).
This tool runs registry queries and scrapes Spark's SQL status store
for the physical quantities that actually scale: number of exchanges,
total shuffled bytes, spilled bytes, and peak single-exchange size.

    python tools/query_metrics.py [sf_dir] [query ...]

Prints one JSON line per query:
  {"query": ..., "wall_sec": ..., "exchanges": n,
   "shuffle_bytes": n, "spill_bytes": n, "max_exchange_bytes": n,
   "broadcasts": n}

Implementation notes: executionMetrics(id) maps accumulator id ->
formatted string; plan-graph nodes map accumulator id -> (node,
metric) names. Sizes are parsed from Spark's human format ("total
(min, med, max ...)\\n12.1 KiB (...)" or "12.1 KiB"). Metrics for all
executions spawned by one query (broadcast sub-jobs appear as
separate executions in some versions; here sub-jobs share the
execution) are summed.
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_MULT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_bytes(text: str) -> int:
    """First size in a formatted metric string -> bytes (the leading
    number is the total in 'total (min, med, max)' renderings)."""
    m = _SIZE.search(text)
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _MULT[m.group(2)])


def execution_rollup(spark, from_id: int) -> dict:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    agg = {
        "exchanges": 0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "max_exchange_bytes": 0,
        "broadcasts": 0,
    }
    for i in range(execs.size()):
        ex = execs.apply(i)
        eid = ex.executionId()
        if eid < from_id:
            continue
        names = {}
        git = store.planGraph(eid).allNodes().iterator()
        while git.hasNext():
            node = git.next()
            nname = node.name()
            if nname == "Exchange":
                agg["exchanges"] += 1
            if nname == "BroadcastExchange":
                agg["broadcasts"] += 1
            try:
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    names[m.accumulatorId()] = (nname, m.name())
            except Exception:
                pass
        vit = store.executionMetrics(eid).iterator()
        while vit.hasNext():
            kv = vit.next()
            key = names.get(kv._1())
            if key is None:
                continue
            nname, mname = key
            val = kv._2()
            if nname == "Exchange" and mname == "data size":
                b = parse_bytes(val)
                agg["shuffle_bytes"] += b
                agg["max_exchange_bytes"] = max(
                    agg["max_exchange_bytes"], b
                )
            elif mname == "spill size":
                agg["spill_bytes"] += parse_bytes(val)
    return agg


def measure_query(spark, fn, sf_dir: str) -> dict:
    """Run one registry callable and return its physical-metric
    rollup (exchanges, shuffle/spill bytes, broadcasts) scoped to the
    executions this call spawned — usable from both the CLI and the
    pytest budget gate."""
    store = spark._jsparkSession.sharedState().statusStore()
    spark.catalog.clearCache()
    next_id = (
        store.executionsList().apply(store.executionsList().size() - 1).executionId() + 1
        if store.executionsList().size() > 0
        else 0
    )
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    rec = {"wall_sec": round(wall, 3)}
    rec.update(execution_rollup(spark, next_id))
    return rec


# Floor under every committed budget: at sf0.01 many queries shuffle
# only a few KiB, where a one-partition AQE coalescing difference or a
# metrics-rendering rounding step is a large RELATIVE change with no
# scale meaning. Absolute growth past 256 KiB at sf0.01 is a real
# plan change regardless.
BUDGET_FLOOR_BYTES = 256 * 1024
BUDGET_HEADROOM = 1.5


def write_budgets(records: list[dict], path: str) -> None:
    """MERGE the measured budgets into ``path``: a partial run (one
    query named on the CLI after an intentional plan change) updates
    only that query's entry instead of silently discarding the other
    ~150 committed budgets. Stale entries for queries that no longer
    exist are dropped against the current registry."""
    import os

    budgets: dict[str, int] = {}
    if os.path.exists(path):
        with open(path) as f:
            budgets = json.load(f).get("budgets", {})
        from nbody6_data_pipeline_spark.queries import registry

        live = set(registry())
        budgets = {k: v for k, v in budgets.items() if k in live}
    budgets.update(
        {
            r["query"]: max(
                int(r["shuffle_bytes"] * BUDGET_HEADROOM), BUDGET_FLOOR_BYTES
            )
            for r in records
        }
    )
    with open(path, "w") as f:
        json.dump(
            {
                "_method": (
                    "max(shuffle_bytes * 1.5, 256 KiB) per query, measured "
                    "by tools/query_metrics.py at sf0.01; regenerate with "
                    "--budgets after an INTENTIONAL plan change"
                ),
                "budgets": budgets,
            },
            f,
            indent=1,
            sort_keys=True,
        )


def main() -> None:
    from nbody6_data_pipeline_spark.queries import registry
    from nbody6_data_pipeline_spark.session import get_spark

    args = list(sys.argv[1:])
    budgets_out = None
    if "--budgets" in args:
        i = args.index("--budgets")
        budgets_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark("query_metrics")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = args[1:] or list(reg)
    records = []
    for name in names:
        rec = {"query": name}
        rec.update(measure_query(spark, reg[name]["spark"], sf_dir))
        records.append(rec)
        print(json.dumps(rec), flush=True)
    if budgets_out:
        write_budgets(records, budgets_out)
        print(f"wrote {budgets_out}", file=sys.stderr)


if __name__ == "__main__":
    main()
