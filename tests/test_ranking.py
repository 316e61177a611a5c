"""Distributed global ranking (operators/ranking.py): the exact-ntile
and global-row-number results must be IDENTICAL to the single-
partition window formulations they replace, for sizes that exercise
uneven tile splits, tie values, and bucket boundaries."""

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.operators.ranking import (
    with_exact_ntile,
    with_global_row_number,
)


@pytest.mark.parametrize("n,tiles", [(1, 4), (7, 4), (40, 4), (103, 7)])
def test_exact_ntile_matches_window_ntile(spark, n, tiles):
    df = spark.range(n).select(
        (F.col("id") * 37 % 11).cast("double").alias("v"),  # heavy ties
        F.col("id").alias("k"),
    )
    got = {
        (r["k"]): r["bin"]
        for r in with_exact_ntile(df, ["v", "k"], tiles).collect()
    }
    want = {
        r["k"]: r["bin"]
        for r in df.select(
            "k", F.ntile(tiles).over(W.orderBy("v", "k")).alias("bin")
        ).collect()
    }
    assert got == want


def test_global_row_number_matches_window(spark):
    df = spark.range(257).select(
        (F.col("id") % 13).cast("double").alias("v"), F.col("id").alias("k")
    )
    ranked = with_global_row_number(
        df, ["v", "k"], n_buckets=8, total_col="tot"
    )
    rows = ranked.collect()
    assert all(r["tot"] == 257 for r in rows)
    got = {r["k"]: r["rn"] for r in rows}
    want = {
        r["k"]: r["rn"]
        for r in df.select(
            "k", F.row_number().over(W.orderBy("v", "k")).alias("rn")
        ).collect()
    }
    assert got == want


def test_fixed_numeric_key_is_monotone(spark):
    """The fixed bucket key must be non-decreasing across the nastiest
    double landscape: signed zeros, subnormals, exact powers of two
    and their ulp-neighbours (where log2's semi-monotonicity bites),
    huge magnitudes, infinities; NaN after +inf, NULL after NaN."""
    import math

    from nbody6_data_pipeline_spark.operators.ranking import fixed_numeric_key

    finite = sorted(
        {
            0.0,
            -0.0,
            5e-324,
            -5e-324,
            1e-320,
            2.2250738585072014e-308,
            -1e-308,
            0.1,
            -0.1,
            1.0,
            math.nextafter(1.0, 0.0),
            math.nextafter(1.0, 2.0),
            8.0,
            math.nextafter(8.0, 0.0),
            math.nextafter(8.0, 9.0),
            -8.0,
            123.456,
            -999.99,
            9999.99,
            1e15,
            -1e15,
            1.7976931348623157e308,
            -1.7976931348623157e308,
        }
    )
    vals = finite + [float("inf"), float("-inf"), float("nan"), None]
    rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, x double"
    ).select("i", fixed_numeric_key(F.col("x")).alias("k")).collect()
    keys = {r["i"]: r["k"] for r in rows}
    ordered_finite = [keys[i] for i in range(len(finite))]
    assert ordered_finite == sorted(ordered_finite)
    inf_k, ninf_k = keys[len(finite)], keys[len(finite) + 1]
    nan_k, null_k = keys[len(finite) + 2], keys[len(finite) + 3]
    # ±inf clamp STRICTLY beyond every finite key (finite holds both
    # double extremes, so strict bounds prove the clamp is outside the
    # entire finite range, not merely tied to it)
    assert ninf_k < min(ordered_finite)
    assert inf_k > max(ordered_finite)
    assert inf_k < nan_k < null_k
    # equal values share a key (ties must land in one bucket)
    dup = spark.createDataFrame(
        [(123.456,), (123.456,)], "x double"
    ).select(fixed_numeric_key(F.col("x")).alias("k")).collect()
    assert dup[0]["k"] == dup[1]["k"]


def test_exact_ntile_with_null_keys_matches_nulls_last_window(spark):
    """NULL first-column values rank last (ANSI / DuckDB parity), and
    the distributed result still matches the window formulation."""
    data = [(float(i % 5) if i % 7 else None, i) for i in range(40)]
    df = spark.createDataFrame(data, "v double, k long")
    got = {
        r["k"]: r["bin"] for r in with_exact_ntile(df, ["v", "k"], 4).collect()
    }
    want = {
        r["k"]: r["bin"]
        for r in df.select(
            "k",
            F.ntile(4)
            .over(W.orderBy(F.col("v").asc_nulls_last(), "k"))
            .alias("bin"),
        ).collect()
    }
    assert got == want


def test_sketch_path_null_keys_rank_last(spark):
    """The NON-numeric (percentile-sketch) bucket path must also rank
    NULL keys last: the fold's otherwise(0) would silently drop NULL
    rows into bucket 0 — before every other bucket — without the
    explicit isNull dispatch (round-5 review finding)."""
    import datetime as dt

    rows = [(dt.date(2024, 1, 1 + (i * 7) % 28), i) for i in range(40)]
    rows += [(None, 100), (None, 101)]
    df = spark.createDataFrame(rows, "d date, k long")
    got = {
        r["k"]: r["rn"]
        for r in with_global_row_number(df, ["d", "k"], n_buckets=4).collect()
    }
    want = {
        r["k"]: r["rn"]
        for r in df.select(
            "k",
            F.row_number()
            .over(W.orderBy(F.col("d").asc_nulls_last(), "k"))
            .alias("rn"),
        ).collect()
    }
    assert got == want


def test_numeric_ntile_plan_has_no_sketch_job(spark):
    """Numeric first column -> fixed arithmetic bucket key: the plan
    must not contain the percentile_approx bounds subquery (that was
    a third sequential job and a second full scan of the input)."""
    df = spark.range(100).select(
        F.col("id").cast("double").alias("v"), F.col("id").alias("k")
    )
    plan = (
        with_exact_ntile(df, ["v", "k"], 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile_approx" not in plan


def test_no_single_partition_window_in_plan(spark):
    """The canonical plan gate: any single-partition shape in the
    exact-ntile plan must sit above an aggregation (≤ n_buckets rows),
    never over the raw table; the per-row window must be partitioned."""
    from tools.explain_audit import audit_plan

    df = spark.range(1000).select(
        F.col("id").cast("double").alias("v"), F.col("id").alias("k")
    )
    plan = (
        with_exact_ntile(df, ["v", "k"], 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    hard, _soft = audit_plan(plan)
    assert not hard, hard


def test_merge_asof_semantics(spark):
    """Backward-inclusive match, tolerance cut, no-match NULLs, and
    deterministic equal-timestamp tie reduction."""
    from nbody6_data_pipeline_spark.operators.asof import merge_asof
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 50), (3, "a", 10), (4, "b", 100)],
        "lid int, k string, t long",
    )
    right = spark.createDataFrame(
        # two right rows at the same (a, 50): tie -> max (rid, v) kept
        [("a", 50, 7, 1.0), ("a", 50, 9, 2.0), ("a", 90, 11, 3.0)],
        "k string, t long, rid int, v double",
    )
    out = {
        r["lid"]: (r["t_match"], r["rid_match"], r["v_match"])
        for r in merge_asof(
            left, right, on="t", by=["k"], right_cols=["rid", "v"],
            tolerance=30,
        ).collect()
    }
    assert out[1] == (90, 11, 3.0)     # latest within tolerance (100-90=10)
    assert out[2] == (50, 9, 2.0)      # INCLUSIVE equal-ts + max-struct tie
    assert out[3] == (None, None, None)  # no right row at or before t=10
    assert out[4] == (None, None, None)  # key 'b' never matches
    # without tolerance, lid=1 still matches 90; a far-future left row
    # outside any tolerance window matches too
    out2 = {
        r["lid"]: r["t_match"]
        for r in merge_asof(
            left, right, on="t", by=["k"], right_cols=["rid", "v"]
        ).collect()
    }
    assert out2[1] == 90 and out2[2] == 50


def test_merge_asof_forward_and_nearest(spark):
    from nbody6_data_pipeline_spark.operators.asof import merge_asof

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 55), (3, "a", 10), (4, "a", 71)],
        "lid int, k string, t long",
    )
    right = spark.createDataFrame(
        [("a", 50, 7), ("a", 90, 11)], "k string, t long, rid int"
    )
    fwd = {
        r["lid"]: (r["t_match"], r["rid_match"])
        for r in merge_asof(
            left, right, on="t", by=["k"], right_cols=["rid"],
            direction="forward",
        ).collect()
    }
    assert fwd[1] == (None, None)   # nothing at or after 100
    assert fwd[2] == (90, 11)       # earliest at-or-after 55
    assert fwd[3] == (50, 7)
    assert fwd[4] == (90, 11)
    near = {
        r["lid"]: (r["t_match"], r["rid_match"])
        for r in merge_asof(
            left, right, on="t", by=["k"], right_cols=["rid"],
            direction="nearest",
        ).collect()
    }
    assert near[1] == (90, 11)      # only backward exists
    assert near[2] == (50, 7)       # 5 back vs 35 forward
    assert near[3] == (50, 7)       # only forward exists
    assert near[4] == (90, 11)      # 21 back vs 19 forward -> forward
    # equidistant tie goes to the earlier (backward) right row
    tie = merge_asof(
        spark.createDataFrame([(9, "a", 70)], "lid int, k string, t long"),
        right, on="t", by=["k"], right_cols=["rid"], direction="nearest",
    ).collect()[0]
    assert (tie["t_match"], tie["rid_match"]) == (50, 7)


def test_skewed_ntile_stress_90pct_one_value(spark):
    """VERDICT r7 item 7: the RFM monetary-quintile shape — 90% of
    rows share ONE first-column value. The tie-handling contract this
    test documents and pins:

    - OUTPUT tiles stay exactly balanced: the tie block is split
      across NTILE bins deterministically by the tie-break key (exact
      ANSI NTILE), so every bin is within 1 row of ideal — far inside
      the 2x-ideal bound (a naive qcut-style binner would dump the
      whole 90% block into one bin);
    - the assignment is bit-identical to the single-partition window
      oracle, i.e. ties are ordered by the tie-break key, never
      engine-arbitrary;
    - the WINDOW partition holding the tie block is the block itself
      (range buckets are functions of the first sort column only —
      ranking.py's module doc explains why sub-bucketing on later
      columns is unsound and what the aggregated escape hatch is at
      scale). Asserted explicitly so a future "optimization" that
      silently splits tie blocks — corrupting ranks, as a tried
      composite-key variant did — fails this pin.
    """
    n = 100_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(100.0))
        .otherwise(F.col("id").cast("double") / 1000.0)
        .alias("monetary"),
        F.col("id").alias("custkey"),
    )
    out = with_exact_ntile(df, ["monetary", "custkey"], 5, bin_col="q")
    sizes = {r["q"]: r["n"] for r in out.groupBy("q").count()
             .withColumnRenamed("count", "n").collect()}
    assert set(sizes) == {1, 2, 3, 4, 5}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert max(sizes.values()) <= 2 * (n / 5)
    assert sum(sizes.values()) == n

    # determinism + exactness vs the single-partition window oracle
    got = {r["custkey"]: r["q"] for r in out.collect()}
    want = {
        r["custkey"]: r["q"]
        for r in df.select(
            "custkey",
            F.ntile(5).over(W.orderBy("monetary", "custkey")).alias("q"),
        ).collect()
    }
    assert got == want

    # the documented partition bound: every row of the tied value
    # shares one range bucket (white-box, kept in sync with ranking.py)
    from nbody6_data_pipeline_spark.operators.ranking import _fixed_key_sql

    tie_buckets = (
        df.filter("monetary = 100.0")
        .selectExpr(f"{_fixed_key_sql('`monetary`')} AS _bkt")
        .distinct()
        .count()
    )
    assert tie_buckets == 1
