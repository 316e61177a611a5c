"""Observation tests: native offset-frame transform validated against
an independent numpy implementation + analytic invariants; end-to-end
pseudo-observation on the fixture run (reference observer.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.astro import (
    KMS_PER_PC_TO_MAS_YR,
    offset_frame_columns,
)
from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs
from nbody6_data_pipeline_spark.operators.observe import observe
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import write_run


def numpy_offset_frame(pos, vel, center):
    """Independent implementation of the same transform (rotation
    matrices instead of scalar trig) used to cross-check the Spark
    expressions."""
    c = np.asarray(center, dtype=float)
    lon0 = math.atan2(c[1], c[0])
    lat0 = math.atan2(c[2], math.hypot(c[0], c[1]))
    rz = np.array(
        [
            [math.cos(lon0), math.sin(lon0), 0],
            [-math.sin(lon0), math.cos(lon0), 0],
            [0, 0, 1],
        ]
    )
    ry = np.array(
        [
            [math.cos(lat0), 0, math.sin(lat0)],
            [0, 1, 0],
            [-math.sin(lat0), 0, math.cos(lat0)],
        ]
    )
    R = ry @ rz
    X = R @ np.asarray(pos, dtype=float)
    V = R @ np.asarray(vel, dtype=float)
    dist = np.linalg.norm(X)
    lon = math.atan2(X[1], X[0])
    lat = math.asin(X[2] / dist)
    r_hat = X / dist
    lon_hat = np.array([-math.sin(lon), math.cos(lon), 0.0])
    lat_hat = np.array(
        [
            -math.sin(lat) * math.cos(lon),
            -math.sin(lat) * math.sin(lon),
            math.cos(lat),
        ]
    )
    return {
        "lon_deg": math.degrees(lon),
        "lat_deg": math.degrees(lat),
        "dist_pc": dist,
        "rv_kms": float(V @ r_hat),
        "pm_lon_coslat_mas_yr": float(V @ lon_hat) / dist * KMS_PER_PC_TO_MAS_YR,
        "pm_lat_mas_yr": float(V @ lat_hat) / dist * KMS_PER_PC_TO_MAS_YR,
    }


def _spark_offset(spark, pos, vel, center):
    df = spark.createDataFrame(
        [tuple(map(float, (*pos, *vel, *center)))],
        "x double,y double,z double,vx double,vy double,vz double,cx double,cy double,cz double",
    )
    cols = offset_frame_columns(
        F.col("x"), F.col("y"), F.col("z"),
        F.col("vx"), F.col("vy"), F.col("vz"),
        F.col("cx"), F.col("cy"), F.col("cz"),
    )
    return df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0].asDict()


def test_offset_frame_origin_invariants(spark):
    # star exactly at the frame center: lon=lat=0, dist=|c|
    out = _spark_offset(spark, (100.0, 0.0, 0.0), (5.0, 0.0, 0.0), (100.0, 0.0, 0.0))
    assert out["lon_deg"] == pytest.approx(0.0, abs=1e-12)
    assert out["lat_deg"] == pytest.approx(0.0, abs=1e-12)
    assert out["dist_pc"] == pytest.approx(100.0, rel=1e-12)
    # purely radial velocity -> rv = |v|, proper motions 0
    assert out["rv_kms"] == pytest.approx(5.0, rel=1e-12)
    assert out["pm_lon_coslat_mas_yr"] == pytest.approx(0.0, abs=1e-12)
    assert out["pm_lat_mas_yr"] == pytest.approx(0.0, abs=1e-12)


def test_offset_frame_tangential_motion(spark):
    # tangential velocity +y at center (100,0,0): pm_lon = v/d * K
    out = _spark_offset(spark, (100.0, 0.0, 0.0), (0.0, 7.0, 0.0), (100.0, 0.0, 0.0))
    assert out["rv_kms"] == pytest.approx(0.0, abs=1e-12)
    assert out["pm_lon_coslat_mas_yr"] == pytest.approx(
        7.0 / 100.0 * KMS_PER_PC_TO_MAS_YR, rel=1e-12
    )
    # +z offset from the center direction -> positive lat, lon 0
    out2 = _spark_offset(spark, (100.0, 0.0, 5.0), (0, 0, 0), (100.0, 0.0, 0.0))
    assert out2["lat_deg"] > 0 and out2["lon_deg"] == pytest.approx(0.0, abs=1e-12)


def test_offset_frame_golden_analytic(spark):
    """Closed-form golden table, derived BY HAND with spherical trig
    on special angles — independent of both the Spark implementation
    and the numpy cross-check (which lives in this repo and could
    share a bug). Each case: (pos, vel, center) -> exact expectation.

    Why no astropy-generated golden parquet (SURVEY §7.4 watch-item):
    astropy is not installable in this environment (no network, no
    pip), so the parity chain is (a) this hand-derived analytic table
    on exact special angles, (b) the independent numpy implementation
    over randomized inputs (test below), and (c) the documented
    conventions of SkyOffsetFrame (offset lon toward increasing
    galactic lon, cos(lat) factor on pm_lon, ICRS-style rotation
    order) which both implementations encode. A future environment
    with astropy can regenerate a golden parquet via
    SkyCoord(...).transform_to(SkyOffsetFrame(origin=...)) and assert
    1e-9 agreement; the conventions asserted here are the same ones
    that transform defines (reference calc/cluster.py:34-79).

    Conventions checked: offset lon increases toward increasing
    galactic lon, lat toward +z of the rotated frame, pm_lon carries
    the cos(lat) factor (physical tangential velocity / distance).
    """
    K = KMS_PER_PC_TO_MAS_YR
    s2 = math.sqrt(2.0)
    cases = [
        # rotated frame about z by 90deg: star 45deg "ahead" in lon
        dict(pos=(-100, 100, 0), vel=(0, 0, 0), center=(0, 100, 0),
             want=dict(lon_deg=45.0, lat_deg=0.0, dist_pc=100 * s2)),
        # center on +z axis (polar degeneracy): star along it
        dict(pos=(0, 0, 100), vel=(0, 0, 0), center=(0, 0, 50),
             want=dict(lon_deg=0.0, lat_deg=0.0, dist_pc=100.0)),
        # center at lat0=45deg in the xz-plane; star on +z axis sits
        # 45deg ABOVE the center direction at distance 200
        dict(pos=(0, 0, 200), vel=(0, 0, 0), center=(100, 0, 100),
             want=dict(lon_deg=0.0, lat_deg=45.0, dist_pc=200.0)),
        # lon0=45deg frame; galactic lon 135deg -> offset lon +90deg
        dict(pos=(-100, 100, 0), vel=(0, 0, 0), center=(100, 100, 0),
             want=dict(lon_deg=90.0, lat_deg=0.0, dist_pc=100 * s2)),
        # tangential velocity in the rotated frame: star at the center
        # of the lon0=45deg frame moving along +lon_hat=(-1,1,0)/sqrt2
        # at |v|=5*sqrt2 km/s and distance 100*sqrt2 pc
        dict(pos=(100, 100, 0), vel=(-5, 5, 0), center=(100, 100, 0),
             want=dict(rv_kms=0.0, pm_lat_mas_yr=0.0,
                       pm_lon_coslat_mas_yr=0.05 * K)),
        # coslat convention: star at offset lat=60deg, dist 100,
        # tangential +y velocity is pure lon motion: pm = v/d * K
        dict(pos=(50, 0, 50 * math.sqrt(3.0)), vel=(0, 8, 0),
             center=(100, 0, 0),
             want=dict(lon_deg=0.0, lat_deg=60.0, dist_pc=100.0,
                       rv_kms=0.0, pm_lat_mas_yr=0.0,
                       pm_lon_coslat_mas_yr=0.08 * K)),
        # lon0=180deg frame (atan2 branch point): small positive
        # offset in the direction of increasing galactic lon
        dict(pos=(-100, -10, 0), vel=(0, 0, 0), center=(-100, 0, 0),
             want=dict(lon_deg=math.degrees(math.atan(0.1)),
                       lat_deg=0.0)),
        # radial motion away from the observer in a rotated frame
        dict(pos=(0, 200, 0), vel=(0, 12, 0), center=(0, 100, 0),
             want=dict(lon_deg=0.0, lat_deg=0.0, dist_pc=200.0,
                       rv_kms=12.0, pm_lon_coslat_mas_yr=0.0,
                       pm_lat_mas_yr=0.0)),
    ]
    for case in cases:
        got = _spark_offset(spark, case["pos"], case["vel"], case["center"])
        for key, val in case["want"].items():
            assert got[key] == pytest.approx(val, rel=1e-9, abs=1e-9), (
                case, key)


def test_offset_frame_matches_numpy(spark):
    rng = np.random.RandomState(7)
    for _ in range(5):
        center = rng.uniform(-500, 500, 3)
        pos = center + rng.uniform(-20, 20, 3)
        vel = rng.uniform(-30, 30, 3)
        want = numpy_offset_frame(pos, vel, center)
        got = _spark_offset(spark, pos, vel, center)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, rel=1e-9, abs=1e-9), k


@pytest.fixture(scope="module")
def observed(spark, tmp_path_factory):
    root = write_run(str(tmp_path_factory.mktemp("obs") / "sim"))
    aligned = align_runs(load_runs(spark, [("runO", root)]))
    out = observe(assemble_runs(aligned, coordinates=[(50.0, 0.0, 0.0), (600.0, 0.0, 0.0)]))
    out.stars = out.stars.localCheckpoint()
    out.binary_systems = out.binary_systems.localCheckpoint()
    return out


def test_resolvability_by_distance(observed):
    bins = {
        (r["obs_x"], r["pair"]): r
        for r in observed.binary_systems.filter("time = 0.0").collect()
    }
    # semi: 1+2 ~ 0.18 AU, 3+4 ~ 2.8 AU, triple ~ 192 AU
    # threshold: 0.6 * dist_obs_pc (30 at x=50, 360 at x=600)
    assert bins[(50.0, "1+2")]["is_unresolved_binary_system"] is True
    assert bins[(50.0, "3+4")]["is_unresolved_binary_system"] is True
    assert bins[(50.0, "5+(1+2)")]["is_unresolved_binary_system"] is False
    assert bins[(600.0, "5+(1+2)")]["is_unresolved_binary_system"] is True


def test_observed_star_composition(observed):
    rows = observed.stars.filter("time = 0.0").collect()
    by_coord = {}
    for r in rows:
        by_coord.setdefault(r["obs_x"], set()).add(r["name"])
    # x=50: triple resolved -> stars 1,2,5 resolved; unresolved (1+2),(3+4)
    # merged; singles 6..9 (10 outside 2x r_tidal)
    assert by_coord[50.0] == {"1", "2", "5", "6", "7", "8", "9", "1+2", "3+4"}
    # x=600: triple unresolved and top-level: merged 5+(1+2); (1+2) is a
    # subset -> not top-level; 3+4 merged
    assert by_coord[600.0] == {"6", "7", "8", "9", "5+(1+2)", "3+4"}


def test_merged_photocenter_attrs(observed):
    m = observed.stars.filter(
        "time = 0.0 AND obs_x = 600 AND name = '5+(1+2)'"
    ).collect()[0]
    # mass additive over all three members
    assert m["mass"] == pytest.approx(5.0 + 3.0 + 1.5, rel=1e-12)
    assert m["is_unresolved_binary"] is True
    assert m["is_multi_system"] is True
    assert m["hierarchy"] == ["1", "2", "5", "1+2", "5+(1+2)"]
    # luminosity additive in linear space: L = 10^1 + 10^0.5 + 10^0
    want_logl = math.log10(10.0 + 10.0**0.5 + 1.0)
    assert m["log_L_L_sol"] == pytest.approx(want_logl, rel=1e-9)
    # observed distance ~ 600 pc
    assert m["dist_pc"] == pytest.approx(600.0, rel=0.05)


def test_hierarchy_trim(observed):
    # star 5's hierarchy keeps the surviving triple pair; star 1 keeps both
    s = {
        r["name"]: r
        for r in observed.stars.filter("time = 0.0 AND obs_x = 50").collect()
    }
    assert s["5"]["hierarchy"] == ["5", "5+(1+2)"]
    assert s["1"]["hierarchy"] == ["1", "1+2", "5+(1+2)"]
