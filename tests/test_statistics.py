"""A3/A4/A9 statistics on the fixture run, with numpy cross-checks."""

from __future__ import annotations

import math

import numpy as np
import pytest

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs
from nbody6_data_pipeline_spark.operators.inclination import inclination_summary
from nbody6_data_pipeline_spark.operators.statistics import (
    annular_statistics,
    overall_statistics,
    timestamp_summary,
)
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import DC, R_TIDAL, STARS, TIMES, write_run

KEY = ["run_id", "time"]


@pytest.fixture(scope="module")
def asm(spark, tmp_path_factory):
    root = write_run(str(tmp_path_factory.mktemp("stats") / "sim"))
    return assemble_runs(align_runs(load_runs(spark, [("runS", root)])))


def test_overall_statistics(spark, asm):
    stats = overall_statistics(
        asm.stars, asm.binary_systems, asm.snapshot_headers, KEY
    )
    row = {r["time"]: r for r in stats.collect()}[0.0]
    masses = [s[6] for s in STARS.values()]
    assert row["n_star"] == 10
    assert row["n_binary_star"] == 5  # stars 1,2,3,4,5
    assert row["total_mass"] == pytest.approx(sum(masses), rel=1e-12)
    assert row["mass_mean"] == pytest.approx(np.mean(masses), rel=1e-12)
    assert row["mass_std"] == pytest.approx(np.std(masses, ddof=1), rel=1e-12)
    assert row["mass_median"] == pytest.approx(np.median(masses), rel=1e-12)
    assert row["mass_q1"] == pytest.approx(np.quantile(masses, 0.25), rel=1e-12)
    # scoped: star 10 outside both radii, 9 outside r_tidal
    assert row["within_r_tidal_n_star"] == 8
    assert row["within_2x_r_tidal_n_star"] == 9
    assert row["n_binary_system"] == 3
    assert row["within_2x_r_tidal_n_binary_system"] == 3
    assert row["n_wide_binary_system"] == 0
    assert row["n_hard_binary_system"] == 3
    assert row["r_tidal"] == R_TIDAL


def test_annular_statistics(spark, asm):
    ann = annular_statistics(asm.stars, asm.binary_systems, KEY)
    rows = [r for r in ann.collect() if r["time"] == 0.0]
    assert {r["dist_key"] for r in rows} == {
        "dist_dc_r_tidal", "dist_dc_r_half_mass",
    }
    rt = {r["radius"]: r for r in rows if r["dist_key"] == "dist_dc_r_tidal"}
    # ratio bins: ceil(dist/10): most stars in bin 1, star 9 at 1.17 ->
    # bin 2, star 10 at 6.45 -> bin 7
    assert rt[1]["n_star"] == 8
    assert rt[1]["n_binary_star"] == 5
    assert rt[1]["n_single"] == 3
    assert rt[1]["n_binary_system"] == 3
    assert rt[2]["n_star"] == 1 and rt[7]["n_star"] == 1
    # every row satisfies n_star > 0 (P9)
    assert all(r["n_star"] > 0 for r in rows)


def test_timestamp_summary(spark, asm):
    out = timestamp_summary(asm.snapshot_headers, ["run_id"]).collect()[0]
    assert out["count"] == 3
    assert out["min"] == 0.0 and out["max"] == 2.0
    assert out["step"] == pytest.approx(1.0)


def test_inclination_summary(spark, asm):
    out = inclination_summary(asm)
    rows = {r["time"]: r for r in out.collect()}
    # fixture has no wide binaries (semi < 1000 AU) at any ts ->
    # empty groups produce no rows
    assert rows == {} or all(r["n_wide_bin_sys"] == 0 for r in rows.values())


def test_inclination_math(spark):
    """U5 kernel on a hand-built two-body system: circular orbit in the
    xy-plane -> inclination 0."""
    from nbody6_data_pipeline_spark.operators.assemble import AssembledTables

    stars = spark.createDataFrame(
        [
            ("r", 0.0, 1, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 1.0, 0.1, 0.01, True, True),
            ("r", 0.0, 2, -1.0, 0.0, 0.0, 0.0, -1.0, 0.0, 1.0, 0.1, 0.01, True, True),
        ],
        "run_id string, time double, name long, x double, y double, z double,"
        "vx double, vy double, vz double, mass double, dist_dc_pc double,"
        "dist_dc_r_tidal double, is_within_r_tidal boolean, is_within_2x_r_tidal boolean",
    )
    bins = spark.createDataFrame(
        [("r", 0.0, "1+2", [1], [2], True, True, True)],
        "run_id string, time double, pair string, obj1_ids array<long>,"
        "obj2_ids array<long>, is_within_2x_r_tidal boolean,"
        "is_wide_binary_system boolean, is_top_level boolean",
    )
    hdr = spark.createDataFrame(
        [("r", 0.0, 10.0)], "run_id string, time double, r_tidal double"
    )
    from nbody6_data_pipeline_spark.operators.inclination import (
        system_inclinations,
    )

    out = system_inclinations(
        AssembledTables(stars=stars, binary_systems=bins, snapshot_headers=hdr)
    ).collect()
    assert len(out) == 1
    # bulk velocity is zero-mean here; h = r x v points +z -> i = 0
    assert out[0]["inclination_rad"] == pytest.approx(0.0, abs=1e-12)
    assert out[0]["names"] == [1, 2]
