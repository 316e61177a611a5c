"""Hot-key stress for salted_join vs a plain shuffled join.

The oracle-gate corpus is uniform, so the per-round bench never shows
what salting buys. This tool builds a deliberately skewed fact table
(ONE key owns 30% of all rows — the viral-document / null-default-id
shape) at a size where a single straggler task is visible, joins it
against a key-complete dim table, and reports wall time plus the
post-shuffle row spread (max rows landing in one task — the direct
proxy for max task time in a uniform-cost hash join).

Three configurations, all forced through a SHUFFLED join (broadcast
disabled — at 100 TB the dim side of this pattern exceeds broadcast
reach, which is exactly when skew bites):

  plain         — AQE skew-join OFF: the textbook straggler
  plain+AQE     — Spark's own runtime skew splitting (AQE_SKEW below)
  salted        — plans/skew.salted_join (n_salts=16)

    python tools/bench_skew.py [n_rows]      # default 10_000_000

Prints one JSON line per configuration; README's skew table quotes
these numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_KEYS = 100_000
HOT_FRACTION = 0.3
# AQE splits a join partition only above 256 MB and 5x the median
# partition, by compressed shuffle bytes, into pieces of at least the
# 64 MB advisory size. At 3M rows the hot partition is about 5 MB and
# 1.8x the median (its repeated key compresses well), so "plain+AQE"
# scopes all three down for its own queries.
AQE_SKEW = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
}


def build(spark, n_rows: int):
    from pyspark.sql import functions as F

    n_hot = int(n_rows * HOT_FRACTION)
    hot = spark.range(n_hot).select(
        F.lit(0).alias("k"), (F.col("id") % 997).alias("payload")
    )
    tail = spark.range(n_rows - n_hot).select(
        (F.col("id") % (N_KEYS - 1) + 1).alias("k"),
        (F.col("id") % 997).alias("payload"),
    )
    big = hot.unionByName(tail).repartition(64).localCheckpoint()
    dim = (
        spark.range(N_KEYS)
        .select(F.col("id").alias("k"), (F.col("id") % 13).alias("w"))
        .localCheckpoint()
    )
    return big, dim


def spread(spark, joined):
    """Max/mean rows per task after the join shuffle — the row-count
    proxy for task-time spread (join cost is uniform per row here).
    Read with AQE coalescing off, so each task is one of the join's
    shuffle partitions (or a skew-join split of one), not a merge of
    several small ones; skew-join splitting stays as the config set it.
    The join reads the columns the timed query reads: AQE detects skew
    by shuffle bytes, and a lone key column compresses to almost none."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.session import scoped_conf

    coalesce = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    with scoped_conf(spark, coalesce):
        parts = (
            joined.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("count"), F.sum("payload"), F.sum("w"))
            .collect()
        )
    counts = [r["count"] for r in parts]
    return max(counts), int(sum(counts) / max(len(counts), 1))


def run(spark, label: str, big, dim, salted: bool, aqe_skew: dict | None):
    """One configuration; ``aqe_skew`` None turns AQE's skew-join
    splitting off, a dict turns it on with those confs scoped to this
    configuration's two queries."""
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.plans.skew import salted_join
    from nbody6_data_pipeline_spark.session import scoped_conf

    skew = {"spark.sql.adaptive.skewJoin.enabled": str(aqe_skew is not None).lower()}
    with scoped_conf(spark, {**skew, **(aqe_skew or {})}):
        joined = (
            salted_join(big, dim, "k")
            if salted
            else big.join(dim, "k")
        )
        agg = joined.groupBy("w").agg(F.sum("payload").alias("s"))
        t0 = time.time()
        n = agg.count()
        wall = round(time.time() - t0, 2)
        mx, mean = spread(spark, joined)
    print(
        json.dumps(
            {
                "config": label,
                "wall_sec": wall,
                "max_task_rows": mx,
                "mean_task_rows": mean,
                "straggler_ratio": round(mx / max(mean, 1), 1),
                "groups": n,
            }
        ),
        flush=True,
    )


def main(n_rows: int):
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("bench_skew")
    spark.sparkContext.setLogLevel("ERROR")
    # force the SHUFFLED join path: the whole point is dim > broadcast
    # reach at scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    big, dim = build(spark, n_rows)
    # warmup compiles both join shapes
    run(spark, "warmup", big.limit(10_000), dim, True, None)
    run(spark, "plain", big, dim, salted=False, aqe_skew=None)
    run(spark, "plain+AQE", big, dim, salted=False, aqe_skew=AQE_SKEW)
    run(spark, "salted", big, dim, salted=True, aqe_skew=None)
    spark.stop()


if __name__ == "__main__":
    main(int(float(sys.argv[1])) if len(sys.argv) > 1 else 10_000_000)
