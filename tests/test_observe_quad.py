"""Deep-hierarchy observe stress (VERDICT r7 item 2).

The reference's recursive merge bottoms out at component groups of
size 1 or 2 (observer.py:117-127 ``_fetch_attrs``), so the deepest
legal hierarchy is the pair-of-pairs quadruple ((1+2)+(3+4)): merge
depth exactly 2 (each side's pair, then the two sides), and any side
with >2 members is a hard error. These tests drive that shape through
the full parse -> align -> assemble -> observe stack on the
write_quad_run fixture:

- a WIDE 20-coordinate observation sweeping the resolved/unresolved
  classification boundary of the outer orbit (semi ~201.7 AU ->
  boundary at 0.6 * dist ~ 336 pc);
- a hand-computed 2-level photocentric merge (independent numpy
  implementation, no engine code) checked field-by-field;
- the _fetch_attrs size>2 ValueError path, exactly mirroring
  observer.py:127, driven through the observe half of the snapshot
  kernel on Arrow tables (parsed files cannot make a side of more
  than 2 ids: a cm name expands to at most 2).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import (
    SNAPSHOT_DDL,
    assemble_runs,
    assembled_tables,
)
from nbody6_data_pipeline_spark.operators.observe import (
    least_violation,
    observe,
    observe_snapshot,
    raise_violation,
)
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import ATTRS, DC, STARS, write_quad_run

WIDE_COORDS = [(float(d), 0.0, 0.0) for d in range(50, 1001, 50)]  # 20
T_SUN_K = 5772.0
R_TIDAL = 10.0


@pytest.fixture(scope="module")
def quad_rows(spark, tmp_path_factory):
    root = write_quad_run(str(tmp_path_factory.mktemp("quad") / "sim"))
    aligned = align_runs(load_runs(spark, [("runQ", root)]))
    return assemble_runs(aligned, coordinates=WIDE_COORDS)


@pytest.fixture(scope="module")
def quad_obs(quad_rows):
    out = observe(quad_rows)
    out.stars = out.stars.localCheckpoint()
    out.binary_systems = out.binary_systems.localCheckpoint()
    return out


# --- independent numpy photocentric merge (mirrors observer.py:41-86) ---


def _star(n):
    x, y, z, vx, vy, vz, m = STARS[n]
    zlum, rad, _ = ATTRS[n]
    return dict(pos=(x, y, z), vel=(vx, vy, vz), mass=m,
                log_l=zlum, log_r=rad)


def _cm(a, b):
    """Regularized components share their cm particle's pos/vel."""
    ma, mb = a["mass"], b["mass"]
    tot = ma + mb
    pos = tuple((ma * pa + mb * pb) / tot for pa, pb in zip(a["pos"], b["pos"]))
    vel = tuple((ma * va + mb * vb) / tot for va, vb in zip(a["vel"], b["vel"]))
    return {**a, "pos": pos, "vel": vel}, {**b, "pos": pos, "vel": vel}


def _merge(a, b):
    la, lb = 10.0 ** a["log_l"], 10.0 ** b["log_l"]
    tot = la + lb
    photo = lambda pa, pb: tuple(  # noqa: E731
        (la * va + lb * vb) / tot for va, vb in zip(pa, pb)
    )
    log_l = math.log10(tot)
    log_r = 0.5 * math.log10(
        10.0 ** (2 * a["log_r"]) + 10.0 ** (2 * b["log_r"])
    )
    return dict(
        pos=photo(a["pos"], b["pos"]),
        vel=photo(a["vel"], b["vel"]),
        mass=a["mass"] + b["mass"],
        log_l=log_l,
        log_r=log_r,
    )


def expected_quad():
    s1, s2 = _cm(_star(1), _star(2))
    s3, s4 = _cm(_star(3), _star(4))
    top = _merge(_merge(s1, s2), _merge(s3, s4))  # depth-2 composition
    top["log_t"] = (top["log_l"] - 2 * top["log_r"]) / 4.0 + math.log10(
        T_SUN_K
    )
    top["dist_dc"] = math.dist(top["pos"], DC)
    return top


# Kepler III with round astronomical units — independent of the
# engine's pinned SI constants (agreement to ~0.1%, far inside the
# 4% margin the 50-pc coordinate grid leaves around the boundary).
def _semi_au(m_total, log_p_days):
    p_yr = 10.0 ** log_p_days / 365.25
    return (m_total * p_yr * p_yr) ** (1.0 / 3.0)


SEMI_OUTER_AU = _semi_au(11.0, 5.5)  # ~201.7


def test_wide_coords_classification_boundary(quad_obs):
    rows = quad_obs.binary_systems.filter("time = 0.0").collect()
    by = {(r["obs_x"], r["pair"]): r for r in rows}
    assert len({k[1] for k in by}) == 3  # 1+2, 3+4, (1+2)+(3+4)
    for d, _, _ in WIDE_COORDS:
        # tight inner binaries: unresolved at every distance
        assert by[(d, "1+2")]["is_unresolved_binary_system"] is True
        assert by[(d, "3+4")]["is_unresolved_binary_system"] is True
        # outer orbit flips exactly where 0.6 * dist crosses semi
        want = SEMI_OUTER_AU <= 0.6 * by[
            (d, "(1+2)+(3+4)")
        ]["dist_obs_pc"]
        got = by[(d, "(1+2)+(3+4)")]["is_unresolved_binary_system"]
        assert got is want, (d, SEMI_OUTER_AU)
    # and the sweep actually crosses the boundary inside the grid
    flags = [
        by[(d, "(1+2)+(3+4)")]["is_unresolved_binary_system"]
        for d, _, _ in WIDE_COORDS
    ]
    assert flags[0] is False and flags[-1] is True


def test_star_composition_across_boundary(quad_obs):
    rows = quad_obs.stars.filter("time = 0.0").collect()
    by_coord = {}
    for r in rows:
        by_coord.setdefault(r["obs_x"], set()).add(r["name"])
    # resolved outer orbit: members resolved individually, inner pairs
    # merged as top-level unresolved systems
    assert by_coord[50.0] == {"1", "2", "3", "4", "5", "6", "1+2", "3+4"}
    assert by_coord[300.0] == by_coord[50.0]
    # unresolved outer orbit: ONE merged quadruple; the inner pairs are
    # strict subsets and must be trimmed (observer.py:98-109)
    assert by_coord[1000.0] == {"5", "6", "(1+2)+(3+4)"}
    assert by_coord[350.0] == by_coord[1000.0]


def test_quad_merge_matches_hand_computation(quad_obs):
    m = quad_obs.stars.filter(
        "time = 0.0 AND obs_x = 1000 AND name = '(1+2)+(3+4)'"
    ).collect()[0]
    want = expected_quad()
    assert m["mass"] == pytest.approx(want["mass"], rel=1e-12)
    assert m["x"] == pytest.approx(want["pos"][0], rel=1e-12)
    assert m["y"] == pytest.approx(want["pos"][1], rel=1e-12)
    assert m["z"] == pytest.approx(want["pos"][2], rel=1e-12)
    assert m["vx"] == pytest.approx(want["vel"][0], rel=1e-12, abs=1e-15)
    assert m["vy"] == pytest.approx(want["vel"][1], rel=1e-12, abs=1e-15)
    assert m["vz"] == pytest.approx(want["vel"][2], rel=1e-12, abs=1e-15)
    assert m["log_L_L_sol"] == pytest.approx(want["log_l"], rel=1e-12)
    assert m["log_R_R_sol"] == pytest.approx(want["log_r"], rel=1e-12)
    assert m["log_T_eff_K"] == pytest.approx(want["log_t"], rel=1e-12)
    assert m["dist_dc_pc"] == pytest.approx(want["dist_dc"], rel=1e-9)
    assert m["dist_dc_r_tidal"] == pytest.approx(
        want["dist_dc"] / R_TIDAL, rel=1e-9
    )
    assert m["is_within_r_tidal"] is True
    assert m["is_multi_system"] is True
    assert m["is_unresolved_binary"] is True
    # hierarchy: member ids + every contained unresolved pair label,
    # sorted by (length, lexicographic) — observer.py:133-151
    assert m["hierarchy"] == [
        "1", "2", "3", "4", "1+2", "3+4", "(1+2)+(3+4)"
    ]
    # observed distance ~ the 1000 pc coordinate
    assert m["dist_pc"] == pytest.approx(1000.0, rel=0.01)


def test_side_size_above_two_raises(spark, quad_rows):
    """observer.py:127: a component group of size >2 is a hard error —
    depth >2 hierarchies are rejected, never silently mis-merged. The
    observe half of the kernel gets the time-0 snapshot with the outer
    system's obj1 side grown to 3 ids; its violation row, reduced as
    assemble_runs' Observation reduces it, raises."""
    asm = assembled_tables(quad_rows)
    bad_bins = asm.binary_systems.withColumn(
        "obj1_ids",
        F.when(
            F.col("pair").contains("("),
            F.concat("obj1_ids", F.slice("obj2_ids", 1, 1)),
        ).otherwise(F.col("obj1_ids")),
    )
    stars, bins, hdr = (
        t.filter("time = 0.0").toArrow()
        for t in (asm.stars, bad_bins, asm.snapshot_headers)
    )
    schema = to_arrow_schema(_parse_datatype_string(SNAPSHOT_DDL))
    out = observe_snapshot(stars, bins, hdr.to_pylist()[0], schema,
                           np.array([[1000.0, 0.0, 0.0]]))
    bad = spark.createDataFrame(out).agg(least_violation()).first()[0]
    assert bad is not None
    with pytest.raises(ValueError, match="Unsupported unresolved component size"):
        raise_violation(bad)
