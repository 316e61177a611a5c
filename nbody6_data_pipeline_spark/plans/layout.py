"""Data-layout writers: hive partitioning and range-sorted clustering.

Bucketing (plans/bucketing.py) optimizes JOINS by pre-shuffling on a
key at write time. This module optimizes SCANS — the other half of the
100 TB story — by controlling which files and row groups a filtered
read has to touch:

- ``write_partitioned``: hive-style ``partitionBy`` on a low-cardinality
  column. A predicate on the partition column prunes whole directories
  at PLANNING time (the scan never lists them).

- ``write_range_sorted``: ``repartitionByRange`` + ``sortWithinPartitions``
  on a high-cardinality column. Every output file then covers a
  disjoint, narrow key range, so parquet footer min/max statistics let
  a range predicate skip almost every file/row-group at READ time —
  the poor man's Z-order, and the right clustering for one dominant
  filter column. On unsorted data the same predicate matches a few
  rows in EVERY file and nothing can be skipped.

The reference re-exports its snapshot caches unpartitioned and
unsorted (reference io/writer.py), then filters them by time-range on
every analysis pass — exactly the scan pattern range-sorted layout
exists for.

Verification: tests/test_layout.py writes both layouts and asserts the
filtered scans touch strictly fewer files (via distinct
``input_file_name()`` over the matching rows) than the same predicate
on an unclustered copy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Hive-partitioned parquet write; optionally clustered within each
    partition so secondary range predicates also skip row groups.

    Dynamic partition overwrite, as in the sources/sinks.py layer
    writers: rewriting one partition's data does not drop its siblings.
    """
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 32,
) -> None:
    """Range-clustered parquet: one range-shuffle so file i holds keys
    strictly below file i+1, then an in-file sort so row groups inside
    each file are clustered too. Parquet min/max footer stats then make
    any range predicate on ``sort_cols[0]`` touch O(selectivity) files
    instead of all of them.
    """
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def files_touched(spark: SparkSession, path: str, predicate: str) -> int:
    """Number of distinct files that contribute rows to a filtered scan
    — the observable effect of partition pruning + row-group skipping
    (skipped files yield zero rows and never appear)."""
    return (
        spark.read.parquet(path)
        .filter(predicate)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Bin-pack a directory of small parquet files into ~target-sized
    ones — the small-file problem is THE chronic ops issue of a 100 TB
    lake (every streaming micro-batch and dynamic-overwrite partition
    write leaves file counts that crush the scan planner and the
    namenode). Sizing uses the actual on-disk bytes, not a row-count
    guess; an optional sort re-clusters while rewriting (pairing this
    with ``write_range_sorted``'s ordering restores min/max skipping
    that micro-batch appends destroyed).

    The rewrite streams to a sibling staging directory and swaps via
    directory renames (source deleted LAST): the source is never the
    only copy while being replaced — a crash leaves either the
    untouched source (plus a stale staging dir, garbage-collected on
    the next call) or the complete old table at
    ``.compact_old.<basename>`` (auto-restored on the next call; the
    ``.`` prefix keeps partition discovery from ever seeing staging,
    even when ``path`` is a partition dir of a larger table). No full
    materialization through
    executor storage either, so the table can exceed cluster memory.
    Returns (files_before, files_after).
    """
    import math
    import os
    import shutil

    # Staging names start with "." so partition discovery never sees
    # them — load-bearing when ``path`` is one partition directory of
    # a larger table (e.g. shards/shard=3): a visible sibling like
    # "shard=3._compact_old" (or ANY name containing "=", even
    # "_"-prefixed — Spark 4 parses it as a partition column and
    # throws CONFLICTING_PARTITION_COLUMN_NAMES; verified empirically,
    # only the "." prefix is skipped) would corrupt or resurrect data
    # for every reader of the table root.
    base = os.path.basename(path.rstrip("/"))
    parent = os.path.dirname(path.rstrip("/"))
    tmp = os.path.join(parent, f".compact_tmp.{base}")
    old = os.path.join(parent, f".compact_old.{base}")
    # self-heal a previous interrupted swap before touching anything
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)  # crash after swap, before cleanup
        else:
            os.rename(old, path)  # crash between the two renames
    shutil.rmtree(tmp, ignore_errors=True)

    hive_parts = [
        d
        for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    ]
    if hive_parts:
        # A flat rewrite of a hive-partitioned tree would fold the
        # partition columns into the data and destroy directory-level
        # pruning — compact each partition's own directory instead
        # (which also keeps the rewrite incremental and concurrent
        # writers to OTHER partitions safe).
        raise ValueError(
            f"{path} is hive-partitioned ({hive_parts[0]}, ...): compact "
            "each partition directory individually, e.g. "
            f"compact_small_files(spark, '{path}/{hive_parts[0]}')"
        )
    total = 0
    n_before = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n_before += 1
    n_after = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_cols:
        cols = [F.col(c) for c in sort_cols]
        df = df.repartitionByRange(n_after, *cols).sortWithinPartitions(*cols)
    else:
        df = df.coalesce(n_after)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_before, n_after


ZORDER_BITS = 16  # per-dimension resolution of the z-curve


def zorder_key(cols: list[Column], mins: list, maxs: list) -> Column:
    """Morton (Z-order) key over 2+ numeric columns: each value is
    min-max normalized to a ZORDER_BITS-bit integer, then the bits of
    all dimensions are interleaved. Files range-clustered by this key
    hold small HYPER-RECTANGLES of the key space, so parquet min/max
    stats prune multi-dimensional box predicates — including
    predicates on the SECOND column alone, which a lexicographic sort
    cannot prune at all. This is the lakehouse Z-ORDER BY.

    mins/maxs: per-column bounds. Pass precomputed constants (e.g.
    from a prior stats pass) — embedding them as literals keeps the
    key a pure projection and the write a single pass. Pure integer
    bit arithmetic -> whole-stage codegen, deterministic everywhere.
    """
    n = len(cols)
    if not (len(mins) == len(maxs) == n) or n < 2:
        raise ValueError("need >= 2 columns with matching bounds")
    if n * ZORDER_BITS > 63:
        # bit positions past 62 spill into the sign bit of the LONG
        # key: keys wrap negative and the interleaved-range clustering
        # (and its min/max pruning) silently breaks
        raise ValueError(
            f"{n} columns x {ZORDER_BITS} bits exceeds the 63 usable "
            "bits of a signed LONG key; reduce ZORDER_BITS or columns"
        )
    quantized = []
    top = (1 << ZORDER_BITS) - 1
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1
        q = F.floor(
            (c.cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * top
        ).cast("long")
        quantized.append(F.greatest(F.least(q, F.lit(top)), F.lit(0)))
    key = F.lit(0).cast("long")
    for bit in range(ZORDER_BITS):
        for d, q in enumerate(quantized):
            key = key + F.shiftleft(
                F.shiftright(q, bit) % 2, bit * n + d
            ).cast("long")
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
) -> None:
    """Z-order-clustered parquet: one stats pass for the per-column
    bounds (min/max aggregate — at production scale these come from
    table metadata instead), then one range shuffle + in-file sort on
    the interleaved key. Same cost shape as write_range_sorted, but
    box predicates on ANY subset of ``cols`` prune files."""
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    key = zorder_key(
        [F.col(c) for c in cols],
        [bounds[f"lo_{c}"] for c in cols],
        [bounds[f"hi_{c}"] for c in cols],
    )
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
