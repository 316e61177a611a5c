"""S10, S12, S13 — sinks (reference utils.py:86-99, notebook caches,
snapshot serialization).

Spark's FileOutputCommitter already gives the tmp-write+rename
atomicity the reference implements by hand (SURVEY §2.1 S10); the
partitioned-parquet layout replaces joblib object pickles (S13) with
run_id partition pruning.

Partitioned writes use DYNAMIC partition overwrite, set as a per-write
option rather than the session conf so no other writer in the session
sees it: an ``overwrite`` then replaces only the partitions present in
``df``, so appending run N to a layer leaves runs 1..N-1 intact
(static mode would truncate the whole dataset on every call, breaking
the pipeline's resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F


def _partitioned(w: DataFrameWriter, partition_by: list[str] | None):
    if not partition_by:
        return w
    return w.option("partitionOverwriteMode", "dynamic").partitionBy(
        *partition_by
    )


def write_csv(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """S10 — CSV sink. Arrays/JSON-able nested values are stringified
    with to_json (F23, collect_inclination_stats.py:98-115). With
    ``order_by``, all rows of one ``partition_by`` value go to one task
    and are sorted there: each partition's CSV is one sorted file,
    without the sampling job and range exchange of a global sort."""
    out = df.withColumns({
        f.name: F.to_json(f.name) for f in df.schema.fields if f.dataType.typeName()
        not in ("string", "double", "float", "long", "integer", "short", "boolean")})
    if order_by:
        keys = partition_by or []
        out = (out.repartition(*keys) if keys else out.repartition(1)
               ).sortWithinPartitions(*keys, *order_by)
    w = out.write.mode("overwrite").option("header", True)
    _partitioned(w, partition_by).csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S12/S13 — zstd parquet, optionally partitioned by run_id for
    partition-pruned resume (replaces joblib caches)."""
    w = df.write.mode("overwrite").option("compression", "zstd")
    _partitioned(w, partition_by).parquet(path)
