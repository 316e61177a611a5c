"""Layout writers: prove the filtered scan touches fewer files on the
clustered layouts than on an unclustered copy of the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.plans.layout import (
    files_touched,
    write_partitioned,
    write_range_sorted,
)


def _events(spark, sf_dir):
    from nbody6_data_pipeline_spark.queries import _t

    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def test_partition_pruning(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    n_types = e.select("event_type").distinct().count()
    assert n_types > 1

    part = str(tmp_path / "by_type")
    write_partitioned(e, part, ["event_type"], sort_cols=["user_id"])

    one_type = e.select("event_type").first()[0]
    pred = f"event_type = '{one_type}'"
    touched = files_touched(spark, part, pred)
    total = files_touched(spark, part, "true")
    assert touched < total, (touched, total)

    # value parity: layout must not change content
    got = spark.read.parquet(part).filter(pred).count()
    assert got == e.filter(F.col("event_type") == one_type).count()


def test_range_sorted_file_skipping(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    lo, hi = e.agg(F.min("user_id"), F.max("user_id")).first()
    mid = (lo + hi) // 2
    width = max(1, (hi - lo) // 50)  # ~2% selectivity band
    pred = f"user_id BETWEEN {mid} AND {mid + width}"

    n_files = 16
    clustered = str(tmp_path / "range_sorted")
    write_range_sorted(e, clustered, ["user_id"], n_files=n_files)
    scattered = str(tmp_path / "scattered")
    # same file count, but rows placed by an unrelated key
    e.repartition(n_files, "event_id").write.mode("overwrite").parquet(scattered)

    t_clustered = files_touched(spark, clustered, pred)
    t_scattered = files_touched(spark, scattered, pred)
    # a 2% band must live in a couple of range files; in the scattered
    # layout it is smeared over (nearly) all of them
    assert t_clustered <= 3, t_clustered
    assert t_clustered < t_scattered, (t_clustered, t_scattered)

    # parity
    assert (
        spark.read.parquet(clustered).filter(pred).count()
        == spark.read.parquet(scattered).filter(pred).count()
        == e.filter(pred).count()
    )


def test_compact_small_files(spark, sf_dir, tmp_path):
    from nbody6_data_pipeline_spark.plans.layout import compact_small_files

    e = _events(spark, sf_dir)
    path = str(tmp_path / "fragmented")
    e.repartition(40).write.mode("overwrite").parquet(path)  # 40 tiny files

    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n_before, n_target = compact_small_files(
        spark, path, target_file_bytes=64 * 1024 * 1024, sort_cols=["user_id"]
    )
    assert n_before == 40 and n_target < 40

    import glob

    n_files = len(glob.glob(f"{path}/part-*.parquet"))
    assert n_files == n_target
    # content unchanged by the rewrite
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Later partitions may add columns (schema drift in a long-lived
    table); mergeSchema reads must surface the union schema with nulls
    backfilled for old partitions."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    path = str(tmp_path / "evolving")
    e.select("event_id", "user_id").limit(100).write.mode("append").parquet(path)
    (
        e.select("event_id", "user_id", F.lit("v2").alias("schema_tag"))
        .limit(50)
        .write.mode("append")
        .parquet(path)
    )

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "user_id", "schema_tag"}
    assert merged.count() == 150
    assert merged.filter(F.col("schema_tag").isNull()).count() == 100


def test_compact_refuses_hive_partitioned_root(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from nbody6_data_pipeline_spark.plans.layout import compact_small_files

    e = _events(spark, sf_dir)
    part = str(tmp_path / "by_type_for_compact")
    write_partitioned(e, part, ["event_type"])
    with _pytest.raises(ValueError, match="hive-partitioned"):
        compact_small_files(spark, part)
    # per-partition compaction works and preserves the tree
    import glob
    import os

    sub = sorted(glob.glob(f"{part}/event_type=*"))[0]
    spark.read.parquet(sub)  # sanity: readable
    n_before, n_after = compact_small_files(spark, sub, target_file_bytes=64 << 20)
    assert n_after <= n_before
    assert os.path.isdir(sub)
    # partition pruning still works after per-partition compaction
    assert files_touched(spark, part, "true") >= files_touched(
        spark, part, f"event_type = '{os.path.basename(sub).split('=')[1]}'"
    )


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout prunes box predicates on EITHER dimension;
    a lexicographic single-column sort cannot prune the second."""
    from nbody6_data_pipeline_spark.plans.layout import (
        files_touched,
        write_range_sorted,
        write_zordered,
    )
    from pyspark.sql import functions as F

    df = (
        spark.range(40_000)
        .select(
            ((F.col("id") * 48271) % 9973).alias("x"),
            ((F.col("id") * 16807) % 7919).alias("y"),
        )
    )
    sorted_path = str(tmp_path / "sorted")
    z_path = str(tmp_path / "zorder")
    write_range_sorted(df, sorted_path, ["x"], n_files=32)
    write_zordered(df, z_path, ["x", "y"], n_files=32)

    # predicate on the secondary column only: x-sorted layout reads
    # every file; z-order reads a strict subset
    pred_y = "y >= 100 AND y < 400"
    assert files_touched(spark, sorted_path, pred_y) == 32
    z_files_y = files_touched(spark, z_path, pred_y)
    assert z_files_y < 32

    # 2-D box: z-order at least matches the x-sorted layout
    pred_box = "x >= 1000 AND x < 1500 AND y >= 1000 AND y < 1500"
    assert files_touched(spark, z_path, pred_box) <= files_touched(
        spark, sorted_path, pred_box
    ) + 2  # small tolerance: file-boundary alignment noise
    # values identical across layouts
    a = sorted(map(tuple, spark.read.parquet(sorted_path).collect()))
    b = sorted(map(tuple, spark.read.parquet(z_path).collect()))
    assert a == b


def test_zorder_key_rejects_sign_bit_overflow(spark):
    """4+ columns at 16 bits/dim would interleave into bit 63 (the
    sign bit), wrapping keys negative — must refuse loudly."""
    import pytest
    from pyspark.sql import functions as F

    from nbody6_data_pipeline_spark.plans.layout import zorder_key

    cols = [F.col(c) for c in "abcd"]
    with pytest.raises(ValueError, match="63 usable"):
        zorder_key(cols, [0] * 4, [100] * 4)
