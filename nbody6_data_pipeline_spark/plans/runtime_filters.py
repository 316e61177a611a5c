"""Runtime (Bloom) filter pushdown for selective shuffle joins.

When a large fact table shuffle-joins a selectively-filtered build
side, Spark can inject a Bloom filter built from the build side's join
keys as a `might_contain` predicate on the fact side's SCAN — rows
that cannot match are dropped before they are shuffled. At 100 TB this
is the difference between shuffling the full fact table and shuffling
only the fraction that can survive the join (semi-join reduction
without writing one).

Spark does this automatically (`spark.sql.optimizer.runtime.
bloomFilter.enabled` defaults to true) but only above size thresholds
tuned for clusters:

- `creationSideThreshold` (default 10 MB): the filtered build side
  must be small enough that building + broadcasting the bloom filter
  is cheap.
- `applicationSideScanSizeThreshold` (default 10 GB): the fact scan
  must be big enough that pre-shuffle filtering pays for the filter's
  false-positive-rate-bounded lookup per row.

On the synthetic local corpora every table is below the application
threshold, so the rewrite never fires in the bench — correctly: the
optimization is a big-data trade. `enable_runtime_bloom` drops the
thresholds so tests can assert the REWRITE ITSELF (plan contains
`might_contain` + semantics unchanged); production clusters should
keep the defaults and simply confirm the confs are on.

Note the interaction with broadcast joins: a build side small enough
to broadcast makes a bloom filter pointless (the join itself is
already shuffle-free on the fact side), so the rewrite targets
SHUFFLE joins only — at 100 TB, exactly the joins whose build side
outgrew the broadcast threshold but is still selective.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nbody6_data_pipeline_spark.session import scoped_conf

_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def enable_runtime_bloom(spark: SparkSession):
    """Context manager lowering the bloom-filter injection thresholds
    (test/demonstration scale). Restores prior values on exit."""
    return scoped_conf(spark, _CONFS)


def has_runtime_bloom(df: DataFrame) -> bool:
    """True if the optimized plan contains an injected bloom-filter
    probe (`might_contain`) — the observable artifact of the runtime
    filter rewrite."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "might_contain" in plan
