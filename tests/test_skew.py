"""Salted-join parity and distribution tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.plans.skew import salted_join
from nbody6_data_pipeline_spark.session import scoped_conf


def _skewed(spark):
    # 10_000 rows of one hot key + a tail of 100 normal keys
    hot = spark.range(10_000).select(
        F.lit(0).alias("k"), F.col("id").alias("payload")
    )
    tail = spark.range(1_000).select(
        (F.col("id") % 100 + 1).alias("k"), (F.col("id") + 50_000).alias("payload")
    )
    return hot.unionByName(tail)


def _dim(spark):
    return spark.range(101).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("attr")
    )


def test_salted_join_inner_parity(spark):
    big, dim = _skewed(spark), _dim(spark)
    plain = big.join(dim, "k").select("k", "payload", "attr")
    salted = salted_join(big, dim, "k").select("k", "payload", "attr")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_left_parity_with_misses(spark):
    big, dim = _skewed(spark), _dim(spark)
    dim_missing = dim.filter(F.col("k") % 7 != 0)  # unmatched keys -> NULL attr
    plain = big.join(dim_missing, "k", "left").select("k", "payload", "attr")
    salted = salted_join(big, dim_missing, "k", how="left").select(
        "k", "payload", "attr"
    )
    assert sorted(map(str, salted.collect())) == sorted(
        map(str, plain.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    big, dim = _skewed(spark), _dim(spark)
    joined = salted_join(big, dim, "k", n_salts=8)
    # the hot key's rows must land in >1 task after the salted shuffle
    parts = (
        joined.filter(F.col("k") == 0)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts > 1


def test_salted_join_widened_key_parity(spark):
    # an int big-side key joined to a long small-side key: the join
    # compares cast(k as bigint), so both sides must derive their salt
    # values from the widened key or the salts stop matching
    big = _skewed(spark).withColumn("k", F.col("k").cast("int"))
    dim = _dim(spark)
    dim_missing = dim.filter(F.col("k") % 7 != 0)
    for small, how in ((dim, "inner"), (dim_missing, "left")):
        plain = big.join(small, "k", how).select("k", "payload", "attr")
        salted = salted_join(big, small, "k", how=how).select(
            "k", "payload", "attr"
        )
        assert sorted(map(str, salted.collect())) == sorted(
            map(str, plain.collect())
        ), how


def test_salted_join_refuses_mixed_string_key(spark):
    # a string key against a number compares under rules that change
    # with spark.sql.ansi.enabled, so the salts cannot be derived from
    # the compared key; the caller casts first
    big = _skewed(spark).withColumn("k", F.col("k").cast("string"))
    with pytest.raises(ValueError, match="cast both to one type"):
        salted_join(big, _dim(spark), "k")


@pytest.mark.parametrize("n_partitions", [4, 8, 32])
@pytest.mark.parametrize("n_salts", [8, 16])
def test_salted_join_hot_key_reaches_min_salts_partitions(
    spark, n_partitions, n_salts
):
    """The spread promise at partition counts other than the host's:
    the hot key lands in exactly min(n_salts, P) shuffle partitions of
    the join, and the result still equals the plain join."""
    confs = {
        "spark.sql.shuffle.partitions": str(n_partitions),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        big, dim = _skewed(spark), _dim(spark)
        salted = salted_join(big, dim, "k", n_salts=n_salts)
        parts = (
            salted.filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert parts == min(n_salts, n_partitions)
        assert salted.count() == big.join(dim, "k").count()


def test_salted_join_duplicate_dim_rows_multiplicity(spark):
    # duplicate small-side rows must duplicate output rows exactly as
    # the plain join does (explode must not interfere with multiplicity)
    big = _skewed(spark)
    dim2 = _dim(spark).unionByName(_dim(spark).limit(5))
    plain = big.join(dim2, "k")
    salted = salted_join(big, dim2, "k")
    assert salted.count() == plain.count()


def test_range_join_parity_and_guard(spark):
    """Bucketed range join equals the naive cross filter; the wide-
    interval guard raises instead of exploding."""
    import pytest
    from nbody6_data_pipeline_spark.operators.rangejoin import range_join

    points = spark.range(200).select(F.col("id").alias("pid"), (F.col("id") * 7 % 500).alias("x"))
    iv = spark.range(40).select(
        (F.col("id") * 11 % 450).alias("lo"),
        ((F.col("id") * 11 % 450) + F.col("id") % 37).alias("hi"),
        F.col("id").alias("ivid"),
    )
    got = sorted(
        (r["pid"], r["ivid"])
        for r in range_join(points, "x", iv, "lo", "hi", bucket_width=32).collect()
    )
    want = sorted(
        (r["pid"], r["ivid"])
        for r in points.crossJoin(iv)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .collect()
    )
    assert got == want and len(got) > 0

    # left join keeps pointless points exactly once
    n_left = range_join(points, "x", iv, "lo", "hi", bucket_width=32, how="left").count()
    n_inner = len(got)
    matched_pts = len({p for p, _ in got})
    assert n_left == n_inner + (200 - matched_pts)

    wide = spark.createDataFrame([(0, 10_000_000)], "lo long, hi long")
    with pytest.raises(Exception):
        range_join(points, "x", wide, "lo", "hi", bucket_width=2).collect()


def test_salted_join_task_row_spread(spark):
    """The guard behind tools/bench_skew.py: with a 30%-hot key and
    broadcast disabled, the plain shuffled join lands every hot row in
    ONE task, while salting bounds the heaviest task near the uniform
    share. Row counts per task are the deterministic proxy for task
    time (join cost is uniform per row)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    # AQE's partition coalescing would merge this test's deliberately
    # tiny shuffle partitions back into one and hide the spread
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n, n_salts = 30_000, 8
        hot = spark.range(int(n * 0.3)).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(n - int(n * 0.3)).select(
            (F.col("id") % 999 + 1).alias("k"), F.col("id").alias("payload")
        )
        big = hot.unionByName(tail).repartition(16)
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("w")
        )

        def max_hot_rows_per_task(joined):
            parts = (
                joined.filter(F.col("k") == 0)
                .groupBy(F.spark_partition_id().alias("p"))
                .count()
                .collect()
            )
            return max(r["count"] for r in parts), len(parts)

        plain_max, plain_tasks = max_hot_rows_per_task(big.join(dim, "k"))
        salted_max, salted_tasks = max_hot_rows_per_task(
            salted_join(big, dim, "k", n_salts=n_salts)
        )
        hot_rows = int(n * 0.3)
        assert plain_tasks == 1 and plain_max == hot_rows  # the straggler
        assert salted_tasks > 1
        # heaviest salted task carries a bounded multiple of the ideal
        # hot_rows/n_salts share (hash(salt) may co-locate a few salts)
        assert salted_max <= 3 * (hot_rows // n_salts)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_connected_components_stats_telemetry(spark):
    """The stats hook reports path, edge count and propagation rounds
    — the observability bench_cc.py builds on."""
    from nbody6_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.range(100).select(
        F.col("id").alias("vec_a"), (F.col("id") + 1).alias("vec_b")
    )
    s1: dict = {}
    connected_components(pairs, stats=s1).collect()
    assert s1["path"] == "union-find" and s1["rounds"] == 0
    assert s1["n_edges"] == 200  # directed

    s2: dict = {}
    labels = connected_components(
        pairs, small_graph_edges=0, stats=s2
    ).collect()
    assert s2["path"] == "propagation" and s2["rounds"] >= 1
    # one 101-node chain -> a single component labeled by the min id
    assert {r["comp"] for r in labels} == {0}
