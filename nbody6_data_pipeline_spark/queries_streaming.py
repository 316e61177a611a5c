"""Streaming + multimodal queries (BASELINE.json north-star ops).

These run REAL Structured Streaming queries (file source -> watermarked
event-time aggregation -> memory sink, driven to completion with
``processAllAvailable``) and compare the result against a batch SQL
oracle — demonstrating that the streaming operators compute the same
answer as the equivalent batch query over the same files.

Determinism: window starts are returned as epoch MICROSECOND bigints
(no raw timestamps cross engines), double sums use the exact-decimal
idiom (queries.py module docstring).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.operators.multimodal import extract_features
from nbody6_data_pipeline_spark.operators.sketch import HLL_M, hll_bucket_rank
from nbody6_data_pipeline_spark.queries import _t, ordered, register
from nbody6_data_pipeline_spark.streaming.events import (
    adaptive_stream_partitions,
    read_event_stream,
    run_stream_to_memory,
    session_event_counts,
    windowed_event_counts,
)


def _events_partitions(spark: SparkSession, sf_dir: str) -> int | None:
    """Byte-derived stateful-shuffle sizing for streams replaying the
    events table (adaptive_stream_partitions rationale)."""
    return adaptive_stream_partitions(spark, f"{sf_dir}/events.parquet")

_sink_ids = itertools.count()


def _unique_sink() -> str:
    return f"q_stream_sink_{next(_sink_ids)}"


_WINDOW_US = 6 * 3600 * 1_000_000  # 6-hour tumbling window


@register(
    "streaming_windowed_counts",
    f"""
    SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type NULLS LAST
    """,
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event-time aggregation executed AS A STREAM
    (readStream -> withWatermark -> window -> memory sink), checked
    against the batch SQL answer. At scale the same code runs on a
    Kafka source with incremental state and late-data handling; the
    file-source run here proves semantic equivalence with batch."""
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = windowed_event_counts(stream, window="6 hours", watermark="365 days")
    out = run_stream_to_memory(
        spark, agg, name=_unique_sink(),
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        F.col("total_value").cast("decimal(30,6)").cast("double").alias(
            "total_value"
        ),
    ).transform(ordered, "window_start_us", "event_type")


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


@register(
    "streaming_sessionization",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
    o AS (
      SELECT user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w >= {_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    s AS (
      SELECT user_id, tus,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id NULLS LAST, session_start_us
    """,
)
def q_streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization: ``session_window`` merges
    events separated by < 30 min per user incrementally as the stream
    advances; the oracle is the classic batch gaps-and-islands SQL.
    Matching results prove the streaming state machine implements the
    same session semantics the batch layer defines."""
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = session_event_counts(stream, gap="30 minutes", watermark="365 days")
    out = run_stream_to_memory(
        spark, agg, name=_unique_sink(),
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    ).transform(ordered, "user_id", "session_start_us")


@register(
    "streaming_first_event_dedup",
    """
    SELECT user_id, event_type,
           epoch_us(ts) AS first_ts_us, event_id AS first_event_id
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
    ORDER BY user_id NULLS LAST, event_type NULLS LAST
    """,
)
def q_streaming_first_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    cross-batch first-occurrence dedup per (user_id, event_type) —
    the streaming ingest pattern for dropping duplicate documents by
    fingerprint. The update-mode sink accumulates monotonically
    improving emissions; the per-key MIN equals batch
    row_number()=1 dedup, which is the oracle."""
    from nbody6_data_pipeline_spark.streaming.events import (
        first_event_dedup,
    )

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    dedup = first_event_dedup(stream)
    # keep the session's partition count: the Python stateful function
    # parallelizes across partitions (Arrow workers), unlike JVM state
    # stores where fewer partitions means less store overhead
    out = run_stream_to_memory(
        spark, dedup, name=_unique_sink(), output_mode="update",
        shuffle_partitions=None,
    )
    return (
        out.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("first_ts_us", "first_event_id")).alias("m"))
        .select(
            "user_id",
            "event_type",
            F.col("m.first_ts_us").alias("first_ts_us"),
            F.col("m.first_event_id").alias("first_event_id"),
        )
        .transform(ordered, "user_id", "event_type")
    )


@register(
    "multimodal_features",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
               AS media_type,
             hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS n
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), f AS (
      SELECT media_id, media_type, h, n, n // 16 AS l, n % 16 AS r FROM m
    )
    SELECT media_id, media_type, 16 AS feature_dim,
      array_to_string(
        list_transform(range(0, 16), j ->
          CASE WHEN (l + CASE WHEN j < r THEN 1 ELSE 0 END) = 0 THEN 0
          ELSE CAST(floor(
            CAST(list_sum(list_transform(
                range(CAST(j*l + least(j, r) AS INT),
                      CAST(j*l + least(j, r) + l
                           + CASE WHEN j < r THEN 1 ELSE 0 END AS INT)),
                b -> CAST(('0x' || substr(h, CAST(2*b+1 AS INT), 2)) AS INT)
             )) AS DOUBLE)
            / (l + CASE WHEN j < r THEN 1 ELSE 0 END) / 255.0
            * 1000000 + 0.5) AS BIGINT) END
        ), ',') AS feats_q6
    FROM f ORDER BY media_id
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents dressed as opaque
    binary media (utf-8 payload; a real corpus carries jpeg/wav/mp4
    bytes), typed metadata attached, features extracted via the
    Arrow-batched mapInPandas kernel. The binary payload never
    shuffles — only the FEATURE_DIM vector leaves the scan stage.

    Value-checked oracle: the fake_decode kernel (chunked byte means
    / 255, numpy array_split semantics) is re-expressed in DuckDB blob
    SQL — hex the utf-8 payload, per-chunk byte sums via list
    comprehensions — and every feature is compared q6-quantized
    (integer byte sums are exact in float64 on both engines, so the
    divisions are bit-identical)."""
    d = _t(spark, sf_dir, "documents")
    # only decodable media enter the pipeline: an id-less or
    # payload-less row has nothing to decode (both sides filter)
    d = d.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(8)).alias("width"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(8)).alias("height"),
        F.when(F.col("doc_id") % 3 == 2, F.lit(3500)).alias("duration_ms"),
    )
    feats = extract_features(media)
    return (
        feats.join(
            media.select("media_id", "media_type"), "media_id"
        )
        .select(
            "media_id",
            "media_type",
            F.size("features").alias("feature_dim"),
            F.array_join(
                F.transform(
                    "features",
                    lambda x: F.floor(x * 1_000_000 + F.lit(0.5)).cast("long"),
                ),
                ",",
            ).alias("feats_q6"),
        )
        # ordered(): the sort-sampling pass would re-run the pandas-UDF
        # decode stage; the result is driver-bound (one row per media)
        .transform(ordered, "media_id")
    )


@register(
    "streaming_enriched_counts",
    f"""
    SELECT (epoch_us(e.ts) // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY window_start_us, segment
    ORDER BY window_start_us, segment
    """,
)
def q_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (customer segment) BEFORE the watermarked windowed
    aggregation — the canonical streaming-ETL shape (click stream x
    user dim). Spark re-broadcasts the static side per micro-batch;
    state is keyed by (window, segment) only. Checked against the
    equivalent batch join+aggregate SQL."""
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = (
        enriched.withWatermark("event_time", "365 days")
        .groupBy(
            F.window("event_time", "6 hours").alias("w"),
            "segment",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Exact decimal INSIDE the agg: summing raw doubles is
            # accumulation-order dependent across micro-batches, so the
            # 6-dp rounding could flip vs the oracle's DECIMAL sum.
            F.sum(F.col("value").cast("decimal(30,6)")).alias("total_value"),
        )
    )
    out = run_stream_to_memory(
        spark, agg, name=_unique_sink(),
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "segment",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("window_start_us", "segment")


@register(
    "streaming_interval_join",
    """
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS us, user_id, event_type FROM events
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           p.us - c.us AS lag_us
    FROM e c JOIN e p ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.us BETWEEN c.us AND c.us + 3600000000
    ORDER BY click_id, purchase_id
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: every purchase matched to the same
    user's clicks in the preceding hour — the attribution-join shape
    (click stream x conversion stream). Both sides are watermarked
    event-time streams (derived from the same file source, as a
    self-join); the join condition carries the event-time interval so
    a bounded-watermark deployment can expire per-key state (the
    oracle-replay run uses an effectively unbounded watermark to keep
    every row). Pair identity and the microsecond lag are checked
    against the equivalent batch interval-join SQL."""
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("event_time").alias("click_time"),
            F.col("ts_us").alias("click_us"),
        )
        .withWatermark("click_time", "365 days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("purchase_time"),
            F.col("ts_us").alias("purchase_us"),
        )
        .withWatermark("purchase_time", "365 days")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr("INTERVAL 1 HOUR")
        ),
    )
    out = run_stream_to_memory(
        spark, joined, name=_unique_sink(), output_mode="append",
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_us") - F.col("click_us")).alias("lag_us"),
    ).orderBy("click_id", "purchase_id")


# ---------------------------------------------------------------------------
# Streaming HLL distinct-user sketch (mergeable state)
# ---------------------------------------------------------------------------

@register(
    "streaming_hll_distinct",
    f"""
    WITH h AS (
      SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
        event_type,
        CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT window_start_us, event_type, hv % {HLL_M} AS bucket,
        MAX(CASE WHEN hv // {HLL_M} = 0 THEN 52
                 ELSE strpos(lpad(bin(hv // {HLL_M}), 51, '0'), '1') END)
          AS reg
      FROM h GROUP BY window_start_us, event_type, bucket
    )
    SELECT window_start_us, event_type,
      CAST(COUNT(*) AS BIGINT) AS used_registers,
      CAST(SUM(reg) AS BIGINT) AS sum_rank
    FROM r GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type
    """,
)
def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct-user HLL registers maintained AS A STREAM:
    the stateful operator is an ordinary watermarked MAX aggregation
    keyed on (window, event_type, bucket), because HLL registers merge
    by register-wise max — the state per group is ONE small integer,
    bounded at 512 registers per (window, type) no matter how many
    events stream through. This is the streaming complement of the
    batch `events_hll_distinct` sketch: identical register values,
    checked against the batch SQL replay; the cardinality estimate
    derives driver-side from the exact stats. At scale the same query
    runs on Kafka with incremental state and late-data eviction via
    the watermark."""
    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    bucket, rank = hll_bucket_rank(F.col("user_id"))
    regs = (
        stream.withWatermark("event_time", "365 days")
        .select(
            F.window("event_time", "6 hours").alias("w"),
            F.col("event_type"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("w", "event_type", "bucket")
        .agg(F.max("rank").alias("reg"))
    )
    out = run_stream_to_memory(
        spark, regs, name=_unique_sink(),
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    return (
        out.select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "reg",
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count("*").cast("long").alias("used_registers"),
            F.sum("reg").cast("long").alias("sum_rank"),
        )
        .transform(ordered, "window_start_us", "event_type")
    )


# ---------------------------------------------------------------------------
# Windowed count-min sketch maintained as a stream
# ---------------------------------------------------------------------------

_CMS_STREAM_QK = 8  # fixed query keys: user_id < 8

_CMS_MD5 = (
    "CAST(('0x' || substring(md5(CAST({i} AS VARCHAR) || ':' || "
    "CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


def _streaming_cms_oracle() -> str:
    from nbody6_data_pipeline_spark.operators.sketch import CMS_D, CMS_W

    h = _CMS_MD5.format(i="i")
    return f"""
    WITH hr AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS i),
    cells AS (
      SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS wus,
             i, {h} % {CMS_W} AS bucket
      FROM events, hr
    ),
    counters AS (
      SELECT wus, i, bucket, COUNT(*) AS cnt
      FROM cells GROUP BY wus, i, bucket
    ),
    qk AS (
      SELECT (epoch_us(ts) // {_WINDOW_US}) * {_WINDOW_US} AS wus,
             user_id, COUNT(*) AS exact_cnt
      FROM events WHERE user_id < {_CMS_STREAM_QK}
      GROUP BY wus, user_id
    ),
    probes AS (
      SELECT wus, user_id, exact_cnt, i, {h} % {CMS_W} AS bucket
      FROM qk, hr
    ),
    est AS (
      SELECT p.wus, p.user_id, p.exact_cnt,
             CAST(MIN(c.cnt) AS BIGINT) AS cms_est
      FROM probes p
      JOIN counters c
        ON p.wus = c.wus AND p.i = c.i AND p.bucket = c.bucket
      GROUP BY p.wus, p.user_id, p.exact_cnt
    )
    SELECT wus AS window_start_us, user_id, exact_cnt, cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    ORDER BY window_start_us, user_id
    """


@register("streaming_cms_freq", _streaming_cms_oracle())
def q_streaming_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window count-min sketch maintained AS A STREAM: the
    stateful operator is an ordinary watermarked COUNT keyed on
    (window, hash_row, bucket) — CMS cells are counters, so streaming
    state is bounded at D * W small integers per window however many
    events flow through, and late events merge by increment (the
    counter-addition mergeability of the sketch is exactly
    micro-batch semantics). The streaming complement of the batch
    `events_cms_freq`: the sink's counter grid feeds per-window
    frequency estimates for the fixed key set user_id < 8, joined
    against exact per-window counts — the one-sided CMS guarantee
    (overcount >= 0) holds per window and is hash-checked by the
    batch SQL replay."""
    from nbody6_data_pipeline_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        cms_hash,
    )

    stream = read_event_stream(spark, sf_dir, glob="events.parquet")
    cells = stream.withWatermark("event_time", "365 days").select(
        F.window("event_time", "6 hours").alias("w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (cms_hash(i, F.col("user_id")) % CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("c"),
    )
    counters = cells.groupBy("w", "c.row_i", "c.bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    out = run_stream_to_memory(
        spark, counters, name=_unique_sink(),
        shuffle_partitions=_events_partitions(spark, sf_dir),
    )
    grid = out.select(
        F.unix_micros(F.col("w.start")).alias("wus"), "row_i", "bucket", "cnt"
    )
    from nbody6_data_pipeline_spark.queries import event_us

    ev = _t(spark, sf_dir, "events")
    qk = (
        ev.filter(F.col("user_id") < _CMS_STREAM_QK)
        .select("user_id", event_us(ev).alias("us"))
        .groupBy(
            F.expr(f"(us div {_WINDOW_US}) * {_WINDOW_US}").alias("wus"),
            "user_id",
        )
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    probes = qk.select(
        "wus",
        "user_id",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (cms_hash(i, F.col("user_id")) % CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("wus", "user_id", "exact_cnt", "c.row_i", "c.bucket")
    return (
        probes.join(F.broadcast(grid), ["wus", "row_i", "bucket"])
        .groupBy("wus", "user_id", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
        .select(
            F.col("wus").alias("window_start_us"),
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
        .transform(ordered, "window_start_us", "user_id")
    )


# --------------------------------------------------------------------------
# Late-data / watermark semantics, oracle-checked
# --------------------------------------------------------------------------
#
# Spark's EXACT late-drop contract, pinned empirically (see
# tests/test_streaming_late_data.py) and replayed by the batch oracle:
#
#  * watermark value: wm_us = (floor(max_event_us / 1000) - delay_ms)
#    * 1000 — EventTimeWatermarkExec tracks event-time stats in
#    MILLISECONDS (us // 1000), so the watermark is ms-truncated even
#    though event times carry microseconds;
#  * drop predicate: a row is dropped iff its WINDOW END <= watermark
#    (inclusive; the raw event time is NOT compared — a row whose
#    event_time is behind the watermark but whose window is still
#    open is kept);
#  * one-batch lag: the late-event filter of batch N uses the
#    watermark in effect DURING batch N-1 (watermarkForLateEvents,
#    the two-watermark split introduced for multi-stateful-operator
#    support) — which is why the staging layout below inserts an
#    EMPTY heartbeat file between the on-time and late batches: it
#    commits the on-time batch's watermark so the late batch filters
#    against it.

_LATE_DELAY_MS = 3_600_000  # 1 hour watermark delay
_LATE_BUCKETS = 10
_LATE_CUT = 8  # md5 buckets < 8 arrive on time; >= 8 arrive late


def _late_data_oracle() -> str:
    w = _WINDOW_US
    return f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS us, event_type, value,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_LATE_BUCKETS} AS b
      FROM events
    ),
    b0 AS (SELECT * FROM ev WHERE b < {_LATE_CUT}),
    wm AS (
      SELECT ((MAX(us) // 1000) - {_LATE_DELAY_MS}) * 1000 AS wm_us FROM b0
    ),
    kept AS (
      SELECT us, event_type, value FROM b0
      UNION ALL
      SELECT us, event_type, value
      FROM ev, wm
      WHERE b >= {_LATE_CUT} AND ((us // {w}) + 1) * {w} > wm_us
    )
    SELECT (us // {w}) * {w} AS window_start_us, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM kept
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type NULLS LAST
    """


def stage_late_arrival_files(spark: SparkSession, sf_dir: str) -> str:
    """Carve the events table into a deterministic 3-file arrival
    order under a fresh staging directory: 000 = the on-time bulk
    (md5 bucket < 8), 001 = an EMPTY heartbeat (commits the on-time
    watermark — see the module comment on the one-batch filter lag),
    002 = the remaining rows REPLAYED LATE. File-source ordering is
    by modification time, pinned with fixed utimes. The slices keep
    the source's physical column TYPES (in particular ``ts``, so
    read_event_stream normalizes timestamps identically to a direct
    read) but carry ONLY the columns the windowed aggregation
    consumes — the staging write is a deliberately single-task
    one-file-per-slice encode, so pruning the payload halves what that
    serial task serializes and what every micro-batch re-reads
    (guide §2.3/§6)."""
    import os
    import shutil
    import tempfile

    from nbody6_data_pipeline_spark.queries import md5_bucket

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    b = md5_bucket(F.col("event_id"), _LATE_BUCKETS)
    staging = tempfile.mkdtemp(prefix="late_stage_")
    # Both data slices come out of ONE single-task partitioned write
    # (the writer emits one file per _slice value and drops the
    # partition column from the file schema, so each file carries
    # exactly the four stream columns) instead of two separate
    # coalesce(1) write jobs — same bytes-per-slice, one less Spark
    # job per staging (guide §2.4: the slicing decision needs one
    # pass, not one pass per slice). The empty heartbeat still needs
    # its own 0-row write for the schema-only file.
    tmp = tempfile.mkdtemp(prefix="late_slice_")
    (
        # NULL-bucket rows (NULL event_id) matched NEITHER of the old
        # slice filters (b < cut, b >= cut are both NULL) — keep them
        # out of the staged feed explicitly.
        ev.filter(b.isNotNull())
        .withColumn(
            "_slice",
            F.when(b < _LATE_CUT, F.lit("000")).otherwise(F.lit("002")),
        )
        # coalesce, not repartition: the single-task write must stay
        # shuffle-free (the old per-slice writes were coalesce(1) too)
        .coalesce(1)
        .write.partitionBy("_slice")
        .mode("overwrite")
        .parquet(tmp)
    )
    empty_tmp = tempfile.mkdtemp(prefix="late_slice_")
    ev.limit(0).coalesce(1).write.mode("overwrite").parquet(empty_tmp)
    empty_part = os.path.join(
        empty_tmp,
        next(f for f in os.listdir(empty_tmp) if f.endswith(".parquet")),
    )
    for name, mtime in (
        ("000.parquet", 1_000_000_000),
        ("001.parquet", 1_000_000_060),
        ("002.parquet", 1_000_000_120),
    ):
        if name == "001.parquet":
            src = empty_part
        else:
            sdir = os.path.join(tmp, f"_slice={name.removesuffix('.parquet')}")
            parts = (
                [f for f in os.listdir(sdir) if f.endswith(".parquet")]
                if os.path.isdir(sdir)
                else []
            )
            # a slice with no rows produces no partition directory —
            # stage the schema-only file, matching the old per-slice
            # 0-row write
            src = os.path.join(sdir, parts[0]) if parts else empty_part
        dst = os.path.join(staging, name)
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(empty_tmp, ignore_errors=True)
    return staging


@register("streaming_late_data", _late_data_oracle())
def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked late-data handling executed AS A STREAM and checked
    against a batch replay of Spark's exact drop rule. 20% of events
    (content-addressed buckets) arrive one batch AFTER the rest; the
    6-hour windowed aggregation runs with a 1-hour watermark in UPDATE
    mode, so late rows whose window closed before the on-time
    watermark are DROPPED by the engine — and the oracle reproduces
    precisely which (window_end <= ms-truncated watermark; module
    comment has the full pinned contract). The value sum is
    decimal-exact inside the streaming state, so the kept-row totals
    hash-match the batch SQL bitwise."""
    import shutil

    from pyspark.sql import Window as W

    staging = stage_late_arrival_files(spark, sf_dir)
    try:
        stream = read_event_stream(
            spark, staging, max_files_per_trigger=1
        ).withColumn("value", F.col("value").cast("decimal(30,6)"))
        agg = windowed_event_counts(
            stream, window="6 hours", watermark="1 hour"
        )
        out = run_stream_to_memory(
            spark, agg, name=_unique_sink(), output_mode="update",
            shuffle_partitions=adaptive_stream_partitions(spark, staging),
        )
        # UPDATE mode appends one row per (key, updating trigger);
        # a key's count strictly grows across its updates, so the
        # final state of each key is its max-count row
        wlast = W.partitionBy("window_start", "event_type").orderBy(
            F.col("n_events").desc()
        )
        return (
            out.withColumn("rn", F.row_number().over(wlast))
            .filter(F.col("rn") == 1)
            .select(
                F.unix_micros("window_start").alias("window_start_us"),
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("total_value").cast("double").alias("total_value"),
            )
            .transform(ordered, "window_start_us", "event_type")
        )
    finally:
        # the memory sink holds the results; the staging files are
        # dead weight once processAllAvailable returned
        shutil.rmtree(staging, ignore_errors=True)


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: NULL-emission semantics,
# oracle-checked
# --------------------------------------------------------------------------
#
# The outer complement of streaming_interval_join. Spark emits the
# NULL row for an unmatched left row only when the GLOBAL watermark
# (the MIN over both sides' watermarks, each ms-truncated per the
# late-data module comment) passes the last instant a match could
# still arrive. Pinned empirically (tests/test_streaming_late_data.py
# has the late-data pins; the outer-join pin lives in
# test_streaming_outer_join.py):
#   * NULL-emit iff click_time + join_window < wm_global — STRICT: a
#     row whose match deadline equals the watermark stays in state;
#   * emission needs a subsequent batch after the watermark advance
#     (the staged layout appends TWO empty heartbeat files);
#   * rows that never cross the threshold (the stream's trailing
#     window + delay) stay in state and do NOT appear — the oracle
#     reproduces exactly that censoring.

_OJ_WINDOW_US = 3_600_000_000  # 1 hour match window
_OJ_DELAY_MS = 3_600_000  # 1 hour watermark delay (both sides)


def _oj_oracle() -> str:
    w, d = _OJ_WINDOW_US, _OJ_DELAY_MS
    return f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS us, user_id, event_type
      FROM events WHERE ts IS NOT NULL
    ),
    c AS (SELECT * FROM e WHERE event_type = 'click'),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    wm AS (
      SELECT LEAST(
        (SELECT ((MAX(us) // 1000) - {d}) * 1000 FROM c),
        (SELECT ((MAX(us) // 1000) - {d}) * 1000 FROM p)) AS wm_us
    ),
    matched AS (
      SELECT c.user_id, c.event_id AS click_id,
             p.event_id AS purchase_id, p.us - c.us AS lag_us
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.us BETWEEN c.us AND c.us + {w}
    ),
    nulls AS (
      SELECT c.user_id, c.event_id AS click_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS lag_us
      FROM c, wm
      WHERE c.us + {w} < wm.wm_us
        AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.us BETWEEN c.us AND c.us + {w})
    )
    SELECT user_id, click_id, purchase_id, lag_us FROM matched
    UNION ALL
    SELECT user_id, click_id, purchase_id, lag_us FROM nulls
    ORDER BY click_id, purchase_id NULLS LAST
    """


@register("streaming_left_outer_join", _oj_oracle())
def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join executed as a real
    stream: every click joined to same-user purchases within the
    following hour, and clicks whose match window EXPIRED under the
    watermark emit a NULL row — the attribution shape where
    'no conversion' is itself the signal. The batch oracle replays
    Spark's exact censoring rule (module comment: strict inequality
    against the min-of-both-sides ms-truncated global watermark), so
    which unmatched clicks appear — and which stay censored in state —
    is value-checked, not assumed. NULL-keyed clicks never equi-match
    (both engines) and flush like any unmatched row once old enough."""
    import os
    import shutil
    import tempfile

    # project to the four columns the join consumes before the
    # single-task staging writes (the stage_late_arrival_files
    # rationale: the slice keeps ts's physical type, sheds the payload)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "user_id", "event_type", "ts")
    )
    staging = tempfile.mkdtemp(prefix="oj_stage_")
    try:
        # The two heartbeat slices are byte-identical schema-only
        # files: write the empty parquet ONCE and copy it twice (the
        # old shape paid a separate 0-row write job per heartbeat).
        frames = {"data": ev, "empty": ev.limit(0)}
        written: dict[str, str] = {}
        tmps: list[str] = []
        slices = [
            ("000.parquet", "data", 1_000_000_000),
            ("001.parquet", "empty", 1_000_000_060),
            ("002.parquet", "empty", 1_000_000_120),
        ]
        for name, kind, mtime in slices:
            assert kind in frames, f"slice {name}: no frame of kind {kind!r}"
            if kind not in written:
                tmp = tempfile.mkdtemp(prefix="oj_slice_")
                tmps.append(tmp)
                frames[kind].coalesce(1).write.mode("overwrite").parquet(tmp)
                part = next(
                    f for f in os.listdir(tmp) if f.endswith(".parquet")
                )
                written[kind] = os.path.join(tmp, part)
            dst = os.path.join(staging, name)
            shutil.copy(written[kind], dst)
            os.utime(dst, (mtime, mtime))
        for tmp in tmps:
            shutil.rmtree(tmp, ignore_errors=True)

        stream = read_event_stream(spark, staging, max_files_per_trigger=1)
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("event_time").alias("click_time"),
                F.col("ts_us").alias("click_us"),
            )
            .withWatermark("click_time", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("event_time").alias("purchase_time"),
                F.col("ts_us").alias("purchase_us"),
            )
            .withWatermark("purchase_time", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_time") >= F.col("click_time"))
            & (
                F.col("purchase_time")
                <= F.col("click_time") + F.expr("INTERVAL 1 HOUR")
            ),
            "leftOuter",
        )
        out = run_stream_to_memory(
            spark, joined, name=_unique_sink(), output_mode="append",
            shuffle_partitions=adaptive_stream_partitions(spark, staging),
        )
        return (
            out.select(
                "user_id",
                "click_id",
                F.col("purchase_id").cast("long").alias("purchase_id"),
                (F.col("purchase_us") - F.col("click_us"))
                .cast("long")
                .alias("lag_us"),
            )
            .transform(ordered, "click_id", "purchase_id")
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
