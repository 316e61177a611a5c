"""Physical-plan audit over the whole query registry.

For every registered query, renders the executed plan and flags the
anti-patterns that break at scale:

- CartesianProduct / BroadcastNestedLoopJoin where no broadcast hint
  justifies it (all-pairs work)
- BatchEvalPython (row-at-a-time Python UDF in the hot path; only
  ArrowEvalPython / mapInPandas are acceptable)
- parquet scans that read every column (no pruning) while the query
  projects few

Prints one line per query: OK or the flag list. Exit code 1 if any
query trips a hard flag. Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HARD_FLAGS = {
    "CartesianProduct": "all-pairs cartesian product",
    "BatchEvalPython": "row-at-a-time Python UDF",
}


def global_window_flags(plan: str) -> list[str]:
    """Flag WindowExec nodes with an EMPTY partition spec ("Moving all
    data to a single partition") whose input was NOT reduced by an
    aggregation first.

    A global window over raw rows is the one plan shape that cannot
    survive scale-up: the whole table sorts in one task. A global
    window over an already-aggregated input (e.g. rank over a distinct
    set of ~5 categories) is fine — the single partition holds a
    handful of rows regardless of table size. Detection: a ``Window``
    line with only two top-level bracket groups (functions, order — no
    partition group), and no ``HashAggregate``/``ObjectHashAggregate``
    /``SortAggregate`` between it and the first source scan below it.
    """
    lines = plan.splitlines()
    flags = []
    for i, raw in enumerate(lines):
        body = re.sub(r"^[\s:+*()\-]*", "", raw)
        if not body.startswith("Window "):
            continue
        # A partitioned window shuffles on its keys: the nearest
        # Exchange below it is hashpartitioning. A GLOBAL window sits
        # above Exchange SinglePartition. (Bracket-counting the Window
        # line cannot tell "partition only, no order" from "order
        # only".)
        single = False
        j = i + 1
        for j, below in enumerate(lines[i + 1 :], start=i + 1):
            if "Exchange" in below or "ShuffleQueryStage" in below:
                single = "SinglePartition" in below
                break
            if "FileScan" in below or "Scan parquet" in below:
                break
        if not single:
            continue
        reduced = False
        for below in lines[j + 1 :]:
            if re.search(r"HashAggregate|SortAggregate", below):
                reduced = True
                break
            if "FileScan" in below or "Scan parquet" in below:
                break
        if not reduced:
            flags.append(
                "global single-partition window over unreduced input"
            )
    return flags
SOFT_FLAGS = {
    "BroadcastNestedLoopJoin": "nested-loop join (fine only for tiny broadcast side)",
    "SortMergeJoin": "sort-merge join (check whether a broadcast was possible)",
}


def audit_plan(plan: str) -> tuple[list[str], list[str]]:
    """(hard, soft) flag lists for one executed-plan string. Importable
    so tests/test_plans.py can enforce hard-flag-free plans as a
    perpetual gate, not just an ad-hoc CLI run."""
    hard = [msg for pat, msg in HARD_FLAGS.items() if pat in plan]
    hard += global_window_flags(plan)
    soft = [msg for pat, msg in SOFT_FLAGS.items() if pat in plan]
    n_scans = len(re.findall(r"FileScan parquet", plan))
    wide_scans = len(re.findall(r"ReadSchema: struct<([^>]{400,})>", plan))
    if wide_scans:
        soft.append(f"{wide_scans}/{n_scans} scans read a wide schema")
    return hard, soft


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    from nbody6_data_pipeline_spark.queries import registry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    bad = []
    for name, spec in sorted(registry().items()):
        if name.startswith("streaming_"):
            # streaming plans are inspected via their batch oracles
            print(f"SKIP  {name}: streaming (plan not comparable)")
            continue
        try:
            df = spec["spark"](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover
            print(f"ERROR {name}: {e}")
            bad.append(name)
            continue
        hard, soft = audit_plan(plan)
        if hard:
            bad.append(name)
            print(f"FLAG  {name}: {'; '.join(hard + soft)}")
        elif soft:
            print(f"note  {name}: {'; '.join(soft)}")
        else:
            print(f"OK    {name}")
    print(f"\n{len(bad)} queries with hard flags")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
