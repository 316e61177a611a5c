"""Decade bench point: Spark vs DuckDB on the headline queries at the
self-generated sf1.0 twin (6M lineitem rows — 10x the driver bench).

The full-registry numbers live at sf0.1 (BENCH_r*/BASELINE_duckdb_r*);
this extends the curve one decade for a representative slice: the
dedup/ANN/graph heavies where engine architecture dominates, plus
classic scan/agg/join/window queries where the two engines are within
noise at sf0.1 (so their RELATIVE scaling is the signal). Best-of-2
per engine, fresh DuckDB connection per query (the baseline method),
one warm SparkSession (the bench.py method), per-query DuckDB budget
recorded as a timeout instead of an unbounded run.

    python tools/bench_sf1_headline.py [sf_dir] [--json out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    # heavies: architecture-dominated
    "doc_neardup_keep_best",
    "minhash_lsh_verified",
    "embedding_neardup_components",
    "ngram_jaccard_neardup",
    "lineitem_bootstrap_ci",
    "doc_tfidf_topterms",
    "doc_bpe_tokens",
    "embedding_ivfpq_ann",
    # classics: scan/agg/join/window
    "pricing_summary",
    "join_enrichment",
    "scoped_descriptive_stats",
    "half_mass_cutoff",
    "ntile_binning",
    "events_rolling_1h",
    "lineitem_kendall_tau",
    "sessionization",
]
DUCK_TIMEOUT = 600.0


def main() -> None:
    from tools.bench_duckdb_baseline import time_query

    from nbody6_data_pipeline_spark.queries import registry
    from nbody6_data_pipeline_spark.session import get_spark

    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/repo/testdata_sf1"

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    spark = get_spark("bench_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm

    out = {"sf_dir": sf_dir, "spark": {}, "duckdb": {},
           "duckdb_timeout_sec": DUCK_TIMEOUT}
    for name in HEADLINE:
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            reg[name]["spark"](spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out["spark"][name] = round(best, 3)
        print(f"spark {name}: {out['spark'][name]}s", file=sys.stderr)
    for name in HEADLINE:
        best = None
        for _ in range(2):
            dt = time_query(oracles[name], sf_dir, timeout=DUCK_TIMEOUT)
            if dt < 0:
                best = None
                break
            best = dt if best is None else min(best, dt)
        out["duckdb"][name] = round(best, 3) if best is not None else None
        print(f"duckdb {name}: {out['duckdb'][name]}", file=sys.stderr)
    out["spark_total_sec"] = round(sum(out["spark"].values()), 3)
    done = [v for v in out["duckdb"].values() if v is not None]
    out["duckdb_total_sec_completed"] = round(sum(done), 3)
    out["duckdb_timeouts"] = [k for k, v in out["duckdb"].items() if v is None]
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
