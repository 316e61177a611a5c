"""Pins Spark's late-data/watermark drop contract — the exact rules
queries_streaming._late_data_oracle() replays in batch SQL. If a
Spark upgrade shifts any of these semantics, THIS file fails before
the oracle gate mysteriously hash-reds.

Pinned rules (queries_streaming.py module comment):
  1. one-batch lag: the late-event filter of batch N uses the
     watermark in effect during batch N-1, so a 2-batch
     (on-time, late) layout drops NOTHING;
  2. drop predicate is on the WINDOW END, not the raw event time;
  3. the boundary is inclusive: window_end == watermark drops.

(The ms-truncation of the watermark value is unobservable for
second-aligned windows — the truncated and exact watermarks never
straddle an integral window end — so it needs no pin here; the
oracle truncates to stay literally faithful to EventTimeWatermarkExec.)
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.streaming.events import run_stream_to_memory

T0 = dt.datetime(2020, 1, 1)


def _t(sec: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=sec)


def _stage(spark, batches: list[list[tuple]]) -> str:
    """Write one single-file parquet per batch under a staging dir
    with strictly increasing mtimes (file-source arrival order)."""
    staging = tempfile.mkdtemp(prefix="late_pin_")
    for i, rows in enumerate(batches):
        tmp = tempfile.mkdtemp()
        df = spark.createDataFrame(rows, "ts timestamp_ntz, k string")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(staging, f"{i:03d}.parquet")
        shutil.copy(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))
        shutil.rmtree(tmp, ignore_errors=True)
    return staging


_sinks = iter(range(10**6))


def _run(spark, staging: str):
    """10s windows, 10s watermark, update mode, one file per trigger.
    Returns (per-window final counts, per-batch dropped counts)."""
    schema = spark.read.parquet(staging).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .withColumn("event_time", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_pin_sink_{next(_sinks)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import json

    dropped = [
        sum(
            op.get("numRowsDroppedByWatermark", 0)
            for op in json.loads(p.json).get("stateOperators", [])
        )
        for p in q.recentProgress
    ]
    counts = {}
    for r in spark.sql(
        f"SELECT w.start AS s, n FROM {name}"
    ).collect():
        counts[r["s"]] = max(counts.get(r["s"], 0), r["n"])
    return counts, dropped


def test_two_batch_layout_drops_nothing(spark):
    """Rule 1: without a heartbeat batch between on-time and late
    files, the late batch filters against the PREVIOUS (initial)
    watermark and keeps everything — the reason the registry query's
    staging inserts an empty middle file."""
    staging = _stage(
        spark,
        [
            [(_t(45), "ontime")],
            [(_t(5), "late_w0")],  # window [0,10) — ancient
        ],
    )
    try:
        counts, dropped = _run(spark, staging)
        assert sum(dropped) == 0
        assert counts[_t(0)] == 1  # the ancient row SURVIVED
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def test_drop_is_on_window_end_inclusive(spark):
    """Rules 2+3: with the heartbeat in place (watermark = 45-10=35s
    at the late batch), a row whose event time is behind the
    watermark but whose window is still open is KEPT (predicate on
    window end), and a window ending exactly AT the watermark is
    DROPPED (inclusive boundary)."""
    staging = _stage(
        spark,
        [
            [(_t(45), "ontime")],  # max 45s -> wm 35s
            [],  # heartbeat: commits the watermark for the late batch
            [
                (_t(32), "behind_wm_open_window"),  # [30,40) end 40 > 35
                (_t(25), "end_30_lt_wm"),  # [20,30) end 30 < 35: drop
            ],
        ],
    )
    try:
        counts, dropped = _run(spark, staging)
        assert sum(dropped) == 1
        assert counts[_t(30)] == 1  # et=32 kept despite et < wm
        assert _t(20) not in counts  # et=25 dropped
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    # inclusive boundary: wm = 40-10 = 30s; window [20,30) end == 30
    staging = _stage(
        spark,
        [
            [(_t(40), "ontime")],
            [],
            [(_t(29), "end_eq_wm")],
        ],
    )
    try:
        counts, dropped = _run(spark, staging)
        assert sum(dropped) == 1
        assert _t(20) not in counts
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def test_registry_query_actually_drops_rows(spark, sf_dir):
    """Non-vacuity of the oracle pair: at sf0.001 the late slice must
    contain genuinely dropped windows — the kept-row total is
    strictly below the full event count (if this ever equals, the
    oracle's WHERE clause tests nothing)."""
    from nbody6_data_pipeline_spark.queries import registry

    res = registry()["streaming_late_data"]["spark"](spark, sf_dir)
    kept = res.agg(F.sum("n_events")).first()[0]
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert kept < total
    assert kept > 0.7 * total  # ...but the on-time 80% bulk survived


class _ConfOnly:
    """Just enough session for adaptive_stream_partitions: Spark's own
    conf rejects a non-integer shuffle.partitions at set time."""

    def __init__(self, shuffle_partitions: str):
        self.conf = {"spark.sql.shuffle.partitions": shuffle_partitions}


def test_adaptive_partitions_non_numeric_session_value(tmp_path):
    from nbody6_data_pipeline_spark.streaming.events import (
        adaptive_stream_partitions,
    )

    f = tmp_path / "src.parquet"
    f.write_bytes(b"x" * 100)
    assert adaptive_stream_partitions(_ConfOnly("auto"), str(f)) is None


def test_adaptive_partitions_session_value_is_a_cap(tmp_path):
    from nbody6_data_pipeline_spark.streaming.events import (
        adaptive_stream_partitions,
    )

    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 100)
    big = tmp_path / "big.parquet"
    with open(big, "wb") as fh:
        fh.truncate(100 << 20)  # sparse: ~4 partitions' worth of bytes
    assert adaptive_stream_partitions(_ConfOnly("8"), str(small)) == 2
    assert adaptive_stream_partitions(_ConfOnly("8"), str(big)) == 4
    assert adaptive_stream_partitions(_ConfOnly("3"), str(big)) == 3
    # the cap holds even below the floor
    assert adaptive_stream_partitions(_ConfOnly("1"), str(small)) == 1
