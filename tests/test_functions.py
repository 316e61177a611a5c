"""Unit tests for the scalar function catalog (SURVEY §2.8).

Numeric parity targets computed independently with numpy (the same
formulas the reference implements via astropy/numpy)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import nbody6_data_pipeline_spark.functions as fx
from nbody6_data_pipeline_spark.functions.hierarchy import pair_label, sort_hierarchy
from nbody6_data_pipeline_spark.functions.constants import (
    AU_M,
    DAY_S,
    KEPLER_K,
    PC_AU,
)


def one(spark, expr, **cols):
    df = spark.createDataFrame([tuple(cols.values())], list(cols.keys()))
    return df.select(expr.alias("v")).collect()[0]["v"]


def test_total_log_luminosity(spark):
    # log10(10^1 + 10^2) = log10(110)
    v = one(spark, fx.calc_total_log_luminosity(F.col("a"), F.col("b")), a=1.0, b=2.0)
    assert v == pytest.approx(math.log10(110.0), rel=1e-12)


def test_total_log_luminosity_extreme(spark):
    # stable in log space: naive 10^400 overflows
    v = one(spark, fx.calc_total_log_luminosity(F.col("a"), F.col("b")), a=400.0, b=400.0)
    assert v == pytest.approx(400.0 + math.log10(2.0), rel=1e-12)


def test_equivalent_radius(spark):
    v = one(spark, fx.calc_equivalent_radius(F.col("a"), F.col("b")), a=3.0, b=4.0)
    assert v == pytest.approx(5.0, rel=1e-12)
    vlog = one(
        spark, fx.calc_log_equivalent_radius(F.col("a"), F.col("b")),
        a=math.log10(3.0), b=math.log10(4.0),
    )
    assert vlog == pytest.approx(math.log10(5.0), rel=1e-12)


def test_kepler_semi_major_axis(spark):
    # Earth-Sun check: M=1 Msun, P=365.25 d -> a ~ 1 AU
    v = one(
        spark,
        fx.calc_semi_major_axis_au(F.col("m1"), F.col("m2"), F.col("p")),
        m1=1.0, m2=0.0, p=math.log10(365.25),
    )
    assert v == pytest.approx(1.0, rel=1e-3)
    # dimensional identity check against the folded constant
    p_s = 10 ** 2.0 * DAY_S
    expected = (KEPLER_K * 5.0 * p_s * p_s) ** (1.0 / 3.0) / AU_M
    v2 = one(
        spark,
        fx.calc_semi_major_axis_au(F.col("m1"), F.col("m2"), F.col("p")),
        m1=2.0, m2=3.0, p=2.0,
    )
    assert v2 == pytest.approx(expected, rel=1e-12)


def test_inclination(spark):
    # circular orbit in xy-plane: r=(1,0,0), v=(0,1,0) -> h=+z -> i=0
    expr = fx.calc_orbital_plane_inclination_rad(
        (F.col("rx"), F.col("ry"), F.col("rz")),
        (F.col("vx"), F.col("vy"), F.col("vz")),
    )
    v = one(spark, expr, rx=1.0, ry=0.0, rz=0.0, vx=0.0, vy=1.0, vz=0.0)
    assert v == pytest.approx(0.0, abs=1e-12)
    # retrograde: v=(0,-1,0) -> h=-z -> i=pi
    v = one(spark, expr, rx=1.0, ry=0.0, rz=0.0, vx=0.0, vy=-1.0, vz=0.0)
    assert v == pytest.approx(math.pi, rel=1e-12)
    # radial orbit (parallel r,v) -> 0 by convention
    v = one(spark, expr, rx=1.0, ry=1.0, rz=1.0, vx=2.0, vy=2.0, vz=2.0)
    assert v == 0.0


def test_wide_hard_binary(spark):
    assert one(spark, fx.is_wide_binary(F.col("a")), a=1500.0) is True
    assert one(spark, fx.is_wide_binary(F.col("a")), a=500.0) is False
    # hard: a < r_hm[AU]/N
    v = one(
        spark,
        fx.is_hard_binary(F.col("a"), F.col("r"), F.col("n")),
        a=100.0, r=1.0, n=1000,
    )
    assert v is (100.0 < PC_AU / 1000)


def test_photocentric_fallback(spark):
    expr = fx.calc_photocentric_scalar(F.col("l1"), F.col("l2"), F.col("v1"), F.col("v2"))
    # weighted
    v = one(spark, expr, l1=3.0, l2=1.0, v1=0.0, v2=4.0)
    assert v == pytest.approx(1.0, rel=1e-12)
    # zero-luminosity -> geometric midpoint (reference calc/binary.py:51-53)
    v = one(spark, expr, l1=0.0, l2=0.0, v1=0.0, v2=4.0)
    assert v == pytest.approx(2.0, rel=1e-12)


def test_star_functions(spark):
    v = one(spark, fx.calc_effective_temperature_K(F.col("l"), F.col("r")), l=1.0, r=1.0)
    assert v == pytest.approx(5772.0, rel=1e-12)
    v = one(spark, fx.calc_log_effective_temperature_K(F.col("l"), F.col("r")), l=0.0, r=0.0)
    assert v == pytest.approx(math.log10(5772.0), rel=1e-12)
    from nbody6_data_pipeline_spark.functions.constants import M_BOL_SUN

    v = one(spark, fx.calc_bolometric_magnitude(F.col("l")), l=0.0)
    assert v == pytest.approx(M_BOL_SUN, rel=1e-12)
    assert v == pytest.approx(4.74, abs=1e-4)  # IAU nominal value
    v = one(spark, fx.calc_apparent_magnitude(F.col("m"), F.col("d")), m=4.74, d=10.0)
    assert v == pytest.approx(4.74, rel=1e-12)


def test_hierarchy_pair_label(spark):
    df = spark.createDataFrame(
        [([2, 1], [3]), ([3], [1, 2]), ([1], [2])],
        ["ids1", "ids2"],
    )
    out = [
        r["pair"]
        for r in df.select(
            fx.hierarchy_pair_label(F.col("ids1"), F.col("ids2")).alias("pair")
        ).collect()
    ]
    # singleton sorts before group; groups render sorted in parens
    assert out == ["3+(1+2)", "3+(1+2)", "1+2"]


PAIR_CASES = [
    ([2, 1], [3]), ([3], [1, 2]), ([1], [2]),
    # equal minimum id: the singleton first; two singletons or two
    # groups keep their order
    ([1], [1, 2]), ([1, 2], [1]), ([3], [3]), ([1, 3], [1, 2]),
    # multi-digit ids sort as numbers, not as strings
    ([10], [9]), ([9], [10]), ([10, 9], [3]), ([12, 100], [11, 9]),
]


def test_pair_label_matches_spark(spark):
    """The kernel's Python ``pair_label`` builds the label Spark's
    ``hierarchy_pair_label`` builds."""
    df = spark.createDataFrame(PAIR_CASES, "ids1 array<bigint>, ids2 array<bigint>")
    spark_labels = [r["pair"] for r in df.select(
        fx.hierarchy_pair_label(F.col("ids1"), F.col("ids2")).alias("pair")).collect()]
    assert [pair_label(a, b) for a, b in PAIR_CASES] == spark_labels
    assert spark_labels[7:10] == ["9+10", "9+10", "3+(9+10)"]


def test_sort_hierarchy_matches_spark(spark):
    """``sort_hierarchy`` is Spark's ``array_sort`` of (length, label)
    structs: by length first, so "10" follows "9" and "(9+10)" follows
    "9+10" though plain string order puts them first; repeated labels
    stay."""
    cases = [
        ["(9+10)", "10", "9", "9+10"],
        ["1+2", "3", "1+2", "3+(1+2)", "3+(1+2)"],
        ["5+(1+2)", "1+2", "1"],
        ["7"],
    ]
    df = spark.createDataFrame([(c,) for c in cases], "labels array<string>")
    by_length = F.array_sort(F.transform(
        "labels", lambda p: F.struct(F.length(p).alias("l"), p.alias("p"))))
    spark_sorted = [r["s"] for r in df.select(
        F.transform(by_length, lambda x: x.getField("p")).alias("s")).collect()]
    assert [sort_hierarchy(c) for c in cases] == spark_sorted
    assert spark_sorted[0] == ["9", "10", "9+10", "(9+10)"]
    assert spark_sorted[1] == ["3", "1+2", "1+2", "3+(1+2)", "3+(1+2)"]


def test_multi_system_flags(spark):
    df = spark.createDataFrame([(["1", "(1+2)", "(1+2)+3"],)], ["h"])
    assert df.select(fx.is_multi_system_star(F.col("h")).alias("v")).collect()[0]["v"]
    df2 = spark.createDataFrame([([1], [2]), ([1, 2], [3])], ["a", "b"])
    vals = [
        r["v"]
        for r in df2.select(
            fx.is_multi_system_binary(F.col("a"), F.col("b")).alias("v")
        ).collect()
    ]
    assert vals == [False, True]


def test_null_safe_ratio(spark):
    v = one(spark, fx.null_safe_ratio(F.col("a"), F.col("b")), a=1.0, b=0.0)
    assert v is None


def test_run_id_label(spark):
    v = one(
        spark,
        fx.run_id_label(F.col("r"), F.col("z"), F.col("m"), F.col("p")),
        r=4, z=14, m=3, p=7,
    )
    assert v == "Rad04-zmet0014-M3-0007"
