"""Structured Streaming ingestion of the events table (SURVEY §2.10).

The reference is strictly batch; this is the engine's streaming
extension (BASELINE.json north star): the same windowed aggregations
the batch layer computes, expressed over a file stream with
watermarked event time, so late data is handled and results upsert
incrementally.

Smoke-testable locally: a parquet-directory stream + memory sink +
``processAllAvailable()`` drives the query synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nbody6_data_pipeline_spark.session import scoped_conf


def read_event_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-based event stream over a directory (swap for kafka in
    production; the transformations below are source-agnostic). The
    optional ``glob`` restricts which files in the directory are
    ingested (file-stream sources require a directory path);
    ``max_files_per_trigger`` bounds each micro-batch (1 forces one
    trigger per file — used by tests that exercise cross-batch
    state).

    File streams require an explicit schema; it is taken from a batch
    metadata read of the same directory so the stream follows the
    feed's physical timestamp type (the generator has emitted both
    TIMESTAMP(NANOS)->LONG and TIMESTAMP(MICROS)->TIMESTAMP_NTZ across
    rounds). Two normalized columns are appended for downstream
    operators: ``event_time`` (TIMESTAMP, for watermarks/windows) and
    ``ts_us`` (epoch-microsecond BIGINT, for stateful comparisons)."""
    from nbody6_data_pipeline_spark.queries import ensure_confs

    ensure_confs(spark)
    batch = spark.read
    if glob is not None:
        batch = batch.option("pathGlobFilter", glob)
    schema = batch.parquet(path).schema

    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos as long
        us = F.expr("ts div 1000")
        event_time = F.timestamp_micros(us)
    elif isinstance(ts_type, T.TimestampNTZType):
        event_time = F.col("ts").cast(T.TimestampType())
        us = F.unix_micros(event_time)
    else:
        event_time = F.col("ts")
        us = F.unix_micros(event_time)
    return df.withColumn("ts_us", us).withColumn("event_time", event_time)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding event-time aggregation with late-data handling:
    count + sum(value) per (window, event_type)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(
            F.window("event_time", window, slide or window).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_STATE_PARTITION_BYTES = 32 << 20  # one state-store partition per ~32 MB


def adaptive_stream_partitions(
    spark: SparkSession, path: str, floor: int = 2
) -> int | None:
    """Scale-adaptive stateful-shuffle sizing (guide §2): every
    stateful operator creates one state store per shuffle partition
    per micro-batch, so a replay over a SMALL source pays store
    init/commit x partitions x operators x batches of pure overhead,
    while a 100 TB stream needs its state spread across every
    executor. Derive the count from the source's byte size — one
    partition per ~32 MB, at least ``floor``, capped at the session
    default so a big source keeps the cluster-sized value — instead of
    hard-coding either regime. Partition count cannot perturb results:
    watermarked aggregations and stream-stream joins are keyed-state
    semantics, independent of physical partitioning (hash-verified
    across 1/2/4/8/32 partitions).

    Only right for JVM-state operators whose per-row cost is bytes.
    The applyInPandasWithState path pays one PYTHON call per key per
    batch, so ITS wall time scales with key count / parallelism — that
    caller keeps the session default (more workers, not fewer).

    Returns None (keep the session default — the conservative cluster
    choice) when the path cannot be stat'ed (e.g. object store) or the
    session value is not a number. The session value is a hard cap,
    even below ``floor``.
    """
    import glob as _glob
    import os

    try:
        if os.path.isdir(path):
            sz = sum(
                os.path.getsize(p)
                for p in _glob.glob(os.path.join(path, "**"), recursive=True)
                if os.path.isfile(p)
            )
        else:
            sz = os.path.getsize(path)
    except OSError:
        return None
    try:
        sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return None
    return min(sess, max(floor, sz // _STATE_PARTITION_BYTES + 1))


def run_stream_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    name: str = "events_agg",
    output_mode: str = "complete",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Drive the streaming query to completion over the currently
    available files (local smoke path) and return the result table.
    ``update`` mode APPENDS each trigger's updated rows to the memory
    sink — callers aggregate the per-key best afterwards.

    ``shuffle_partitions`` is captured by the query AT START and
    becomes the stateful-operator partition count: every stateful op
    creates one state store per shuffle partition per batch, so a
    short local replay pays store init/commit x partitions x ops
    (measured: the stream-stream join at 32 partitions spends 2.5x
    longer on state-store overhead than at 8). On a cluster a LARGER
    value is right — state must spread across executors — which is
    why it is a per-query knob, not a global: batch queries keep the
    session default either way (the conf is restored after start)."""
    confs = (
        {}
        if shuffle_partitions is None
        else {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    )
    with scoped_conf(spark, confs):
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def first_event_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    expire_after: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    cross-micro-batch FIRST-occurrence dedup per key.

    State per (user_id, event_type): the earliest (ts, event_id) seen
    so far. A batch emits a row only when it strictly improves the
    state — the streaming analogue of batch ``row_number() = 1``
    dedup, and the pattern a streaming ingest pipeline uses to drop
    duplicate documents by fingerprint. Emissions are monotonically
    improving, so the final answer per key is the MIN over emitted
    rows (what the caller aggregates from an update-mode sink).

    ``expire_after=None``: state is permanent — O(distinct keys),
    exact dedup forever (pair with the RocksDB state store at large
    key cardinality, session.configure_state_store).
    ``expire_after="1 hour"``: event-time timeout — once the watermark
    passes last-seen + TTL the key's state is dropped, bounding state
    to the keys active inside the watermark horizon; a duplicate
    arriving after expiry re-emits as a new first occurrence (the
    standard bounded-state dedup trade; ``events`` must carry a
    watermark on ``event_time``).
    """
    import pandas as pd  # noqa: F401 (Arrow batch interface)

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    keys = keys or ["user_id", "event_type"]
    ttl_ms = None
    if expire_after is not None:
        qty, unit = expire_after.split()
        ttl_ms = int(qty) * {
            "millisecond": 1, "milliseconds": 1,
            "second": 1_000, "seconds": 1_000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
            "day": 86_400_000, "days": 86_400_000,
        }[unit]

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("first_ts_us", T.LongType()),
            T.StructField("first_event_id", T.LongType()),
        ]
    )
    # state compares on the normalized epoch-us integer (ts_us from
    # read_event_stream) so ordering is identical across physical
    # timestamp types and matches the batch oracle's epoch_us order
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    def dedup_fn(key, pdfs, state: GroupState):
        import pandas as pd

        if ttl_ms is not None and state.hasTimedOut:
            # watermark passed last-seen + TTL: drop the key's state;
            # a later duplicate re-emits as a fresh first occurrence
            state.remove()
            return
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized lexicographic min of (ts_us, event_id) — no
            # per-row Python loop (that costs ~100x on large batches)
            ts = pdf["ts_us"].astype("int64")
            tmin = int(ts.min())
            imin = int(pdf["event_id"][ts == tmin].astype("int64").min())
            cand = (tmin, imin)
            if best is None or cand < best:
                best = cand
        if best is not None and (not state.exists or best < tuple(state.get)):
            state.update(best)
            if ttl_ms is not None:
                # timeout must sit beyond the current watermark (Spark
                # rejects an already-passed event-time timeout)
                state.setTimeoutTimestamp(
                    max(
                        best[0] // 1000 + ttl_ms,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "first_ts_us": [best[0]],
                    "first_event_id": [best[1]],
                }
            )
        elif ttl_ms is not None and state.exists:
            # duplicates arrived but did not improve the state:
            # refresh the TTL so an active key stays deduped
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + ttl_ms
            )

    cols = events.select(*keys, "ts_us", "event_id")
    if ttl_ms is not None:
        cols = events.select(*keys, "ts_us", "event_id", "event_time")
    return cols.groupBy(*keys).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful sessionization on the stream: session_window groups
    events separated by less than ``gap`` per user — the streaming
    counterpart of the batch sessionization query (queries_window.py).
    """
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
