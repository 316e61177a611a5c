"""Streaming incremental materialized-view maintenance.

The streaming counterpart of `queries_cdc.q_events_incremental_rollup`:
a daily per-type rollup is kept as ALGEBRAIC PARTIALS (count + exact
decimal sum) in a parquet-backed partial log; each micro-batch appends
only ITS OWN partials — the base data is never re-read, and reading
the view is a re-aggregation of the (tiny) partial log.

Exactly-once without a transactional sink: partials are written
partitioned by batch_id with dynamic partition overwrite, so a
replayed batch (foreachBatch re-runs the last batch id after crash
recovery) REPLACES its own partition instead of double-counting —
same recovery contract as streaming/ingest.py.

Compaction: the partial log grows by one partition per micro-batch;
`compact()` folds all partitions into a single consolidated partial
set under a GENERATION-numbered reserved batch id (-1, -2, ... — each
compaction commits a new, more-negative generation). Because count and
decimal-sum are algebraic, compaction is itself just the merge — no
access to raw events — and the view's value is unchanged
(test-asserted). The fold is written to a staging directory together
with a manifest of the partition ids it folded, committed with ONE
atomic directory rename, and only then are the folded inputs deleted:
a crash at any point leaves either the inputs intact (pre-commit — the
stale staging dir is garbage-collected later) or a committed
generation whose manifest lets `read_view` exclude, and the next
`compact` delete, any folded input the crash left behind. No state is
ever the only copy while being replaced.

At 100 TB the partial log is partitioned by (batch_id) and tiny
relative to the corpus (one row per (day, type) per batch); the view
read touches no raw data at all. This is the lakehouse MV-maintenance
design (Delta/Iceberg incremental refresh) expressed on plain parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["make_mv_processor", "start_rollup_mv", "read_view", "compact"]

_DAY_US = 86_400_000_000
_COMPACTED_BATCH_ID = -1


def _partials(batch_df: DataFrame) -> DataFrame:
    """Per-batch algebraic partials of the daily per-type rollup.
    Decimal sum so partials merge losslessly in any order/grouping."""
    from nbody6_data_pipeline_spark.queries import event_us

    return (
        batch_df.select(
            (event_us(batch_df) / F.lit(_DAY_US)).cast("long").alias("day"),
            "event_type",
            "value",
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            # sum(decimal(30,6)) widens to decimal(38,6); pin it so every
            # log partition (batch or compacted) has one physical type
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("decimal(38,6)")
            .alias("p_sum"),
        )
    )


def make_mv_processor(out_base: str):
    """foreachBatch function: aggregate THIS batch to partials and
    write them under the batch's own partition (dynamic overwrite =>
    crash-replay idempotent)."""
    log_dir = os.path.join(out_base, "partials")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            _partials(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(log_dir)
        )

    return process_batch


def start_rollup_mv(spark: SparkSession, stream: DataFrame, out_base: str):
    """Attach the MV maintainer to an event stream and start it."""
    return (
        stream.writeStream.foreachBatch(make_mv_processor(out_base))
        .option("checkpointLocation", os.path.join(out_base, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


_STAGING_PREFIX = "_tmp_compact"  # leading _ => invisible to parquet readers
_MANIFEST = "_folded.json"


def _scan_log(log_dir: str) -> dict[int, str]:
    """{batch_id: dir} for every batch_id=* partition directory;
    empty dict when the log directory does not exist yet (stream never
    produced a batch)."""
    import re

    if not os.path.isdir(log_dir):
        return {}
    return {
        int(m.group(1)): os.path.join(log_dir, d)
        for d in os.listdir(log_dir)
        for m in [re.match(r"batch_id=(-?\d+)$", d)]
        if m
    }


def _folded_ids(gen_dir: str) -> set[int]:
    """Partition ids a committed generation folded (its manifest)."""
    import json

    mp = os.path.join(gen_dir, _MANIFEST)
    if not os.path.exists(mp):
        return set()
    with open(mp) as fh:
        return set(json.load(fh))


def _live_dirs(log_dir: str) -> list[str]:
    """The authoritative partition set: the newest committed
    generation (most negative id) plus every partition its manifest
    does NOT cover. Inputs a crashed compaction failed to delete are
    listed in the manifest and therefore excluded — never
    double-counted."""
    parts = _scan_log(log_dir)
    gens = [b for b in parts if b < 0]
    if not gens:
        return [parts[b] for b in sorted(parts)]
    newest_gen = min(gens)
    folded = _folded_ids(parts[newest_gen])
    return [
        parts[b]
        for b in sorted(parts)
        if b == newest_gen or (b >= 0 and b not in folded)
    ]


def read_view(spark: SparkSession, out_base: str) -> DataFrame:
    """Merge-on-read: fold the live partial-log partitions into the
    current view. The decimal partial sums re-merge exactly, so this
    equals a full recompute over every event ever streamed
    (test-asserted), including across a compaction interrupted at any
    point (stale folded inputs are excluded via the generation
    manifest)."""
    log_dir = os.path.join(out_base, "partials")
    live = _live_dirs(log_dir)
    log = spark.read.parquet(*live) if live else spark.read.parquet(log_dir)
    return (
        log.groupBy("day", "event_type")
        .agg(
            F.sum("p_n").alias("n_events"),
            F.sum("p_sum").cast("double").alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


def _gc_log(log_dir: str) -> None:
    """Finish any interrupted compaction: drop pre-commit staging
    directories, and delete inputs already folded into the committed
    newest generation (the post-commit crash window)."""
    import shutil

    if not os.path.isdir(log_dir):
        return
    for d in os.listdir(log_dir):
        if d.startswith(_STAGING_PREFIX):
            shutil.rmtree(os.path.join(log_dir, d), ignore_errors=True)
    parts = _scan_log(log_dir)
    gens = [b for b in parts if b < 0]
    if not gens:
        return
    newest_gen = min(gens)
    folded = _folded_ids(parts[newest_gen])
    for b, p in parts.items():
        if b != newest_gen and b in folded:
            shutil.rmtree(p, ignore_errors=True)


def compact(spark: SparkSession, out_base: str) -> None:
    """Fold log partitions into one consolidated partial set under a
    new generation id. Pure partial-merge — raw events are never
    touched.

    Crash-replay safety: foreachBatch may RE-RUN the highest batch id
    after a recovery (its partition write landed but the checkpoint
    commit did not), so the newest batch partition is EXCLUDED from
    the fold — a replay then overwrites that partition in place and
    nothing is double-counted.

    Crash-atomicity: the merged fold (read from a snapshot of input
    dirs that stay untouched during the write) lands in a staging
    directory with a manifest of the folded ids; one atomic rename
    commits it as ``batch_id=<new generation>``; the folded inputs are
    deleted only after the commit. Pre-commit crash: inputs intact,
    staging GC'd on the next run. Post-commit crash: leftover inputs
    are excluded by ``read_view`` (manifest) and deleted here on the
    next run."""
    import json
    import shutil

    log_dir = os.path.join(out_base, "partials")
    _gc_log(log_dir)
    parts = _scan_log(log_dir)
    if not parts:
        return  # no log yet, or nothing but staging leftovers
    newest = max(parts)
    fold = {b: p for b, p in parts.items() if b != newest}
    if len(fold) < 2:
        return  # nothing to gain
    gens = [b for b in parts if b < 0]
    new_gen = (min(gens) - 1) if gens else _COMPACTED_BATCH_ID
    staging = os.path.join(log_dir, f"{_STAGING_PREFIX}{-new_gen}")
    (
        spark.read.parquet(*fold.values())
        .groupBy("day", "event_type")
        .agg(
            F.sum("p_n").alias("p_n"),
            # back to the log's exact partial type: a different decimal
            # width would make future batch partitions schema-incompatible
            F.sum("p_sum").cast("decimal(38,6)").alias("p_sum"),
        )
        .write.mode("overwrite")
        .parquet(staging)
    )
    with open(os.path.join(staging, _MANIFEST), "w") as fh:
        json.dump(sorted(fold), fh)
    os.rename(staging, os.path.join(log_dir, f"batch_id={new_gen}"))
    for p in fold.values():
        shutil.rmtree(p, ignore_errors=True)
