"""Streaming data-quality gate: per-micro-batch expectations with
quarantine routing.

The production promote-or-quarantine shape: every micro-batch is
scored against the table's expectations (operators/expectations —
ONE conditional-count pass); a batch whose violation rate on any
check exceeds its budget is diverted WHOLE to a quarantine directory
(with the report that condemned it) instead of the corpus. Partial
acceptance is deliberately not offered: a batch that fails its
quality budget is evidence of an upstream defect, and shipping its
"clean-looking" rows both destroys the replay unit (recovery re-sends
whole batches) and hides the defect from the operator who must fix
it.

Reports for EVERY batch (accepted or quarantined) append to a metrics
log keyed by batch id — the time series a data-SLO dashboard reads.
Idempotent under foreachBatch replays the same way streaming/ingest
is: each destination is partitioned by batch_id and rewritten with
dynamic partition overwrite, so a re-run batch replaces itself.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.operators.expectations import expectation_report

__all__ = ["make_quality_gate"]


def make_quality_gate(
    out_base: str,
    checks: dict[str, Column],
    max_violation_rate: float = 0.05,
    table: str = "stream",
):
    """Build the foreachBatch function.

    checks: {name: violation predicate}; a batch quarantines when ANY
    check's n_violations / n_checked exceeds ``max_violation_rate``.
    Layout under out_base:
      accepted/batch_id=N/    promoted rows
      quarantine/batch_id=N/  diverted rows
      reports/batch_id=N/     per-check report rows for the batch
    """
    accepted_dir = os.path.join(out_base, "accepted")
    quarantine_dir = os.path.join(out_base, "quarantine")
    reports_dir = os.path.join(out_base, "reports")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        report = expectation_report(batch_df, checks, table)
        rows = report.collect()  # |checks| rows — driver-bounded
        n_checked = rows[0]["n_checked"] if rows else 0
        bad = any(
            n_checked > 0
            and r["n_violations"] / n_checked > max_violation_rate
            for r in rows
        )
        rep = s.createDataFrame(rows, report.schema).withColumn(
            "batch_id", F.lit(batch_id)
        )
        dest = quarantine_dir if bad else accepted_dir
        for df, path in (
            (rep, reports_dir),
            (batch_df.withColumn("batch_id", F.lit(batch_id)), dest),
        ):
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(path)
            )

    return process_batch
