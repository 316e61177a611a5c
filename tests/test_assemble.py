"""End-to-end assembly tests on the synthetic run fixture: parse ->
align -> assemble, with expectations hand-computed (numpy) following
the reference semantics (assembler.py / calc/cluster.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs, assembled_tables
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import (
    ATTRS,
    CM_NAME,
    DC,
    F19_BINS,
    R_TIDAL,
    REG_BIN,
    STARS,
    TIMES,
    write_run,
)


@pytest.fixture(scope="module")
def assembled(spark, tmp_path_factory):
    root = write_run(str(tmp_path_factory.mktemp("asm") / "sim"))
    return assembled_tables(assemble_runs(align_runs(load_runs(spark, [("runA", root)]))))


def _expected_positions(t: float) -> dict:
    """Star name -> (x,y,z,vx,vy,vz,mass) after cm expansion: binary
    components (1,2) inherit the center-of-mass row."""
    out = {}
    s1, s2 = STARS[1], STARS[2]
    m1, m2 = s1[6], s2[6]
    cm = [(m1 * s1[i] + m2 * s2[i]) / (m1 + m2) for i in range(6)]
    out[1] = (*cm, m1)
    out[2] = (*cm, m2)
    for n in STARS:
        if n in (1, 2):
            continue
        x, y, z, vx, vy, vz, m = STARS[n]
        out[n] = (x + 0.01 * t, y, z, vx, vy, vz, m)
    return out


def _expected_half_mass(t: float) -> float:
    """reference calc/cluster.py:14-31 on the ratio<=2 subset."""
    pos = _expected_positions(t)
    rows = [
        (math.dist(p[:3], DC), p[6])
        for p in pos.values()
        if math.dist(p[:3], DC) / R_TIDAL <= 2
    ]
    rows.sort()
    dists = np.array([r[0] for r in rows])
    cum = np.cumsum([r[1] for r in rows])
    half_idx = np.searchsorted(cum, cum[-1] / 2)
    return float(dists[half_idx])


def test_star_table(assembled):
    stars = {
        (r["time"], r["name"]): r
        for r in assembled.stars.collect()
    }
    # 10 stars x 3 timestamps
    assert len(stars) == 30
    s = stars[(0.0, 3)]
    assert s["x"] == 2.0 and s["mass"] == 2.0
    assert s["log_L_L_sol"] == ATTRS[3][0]
    assert s["log_T_eff_K"] == ATTRS[3][2]
    d = math.dist((2.0, 2.0, 3.0), DC)
    assert s["dist_dc_pc"] == pytest.approx(d, rel=1e-12)
    assert s["is_within_r_tidal"] == (d <= R_TIDAL)
    # binary components share the cm position
    assert stars[(0.0, 1)]["x"] == stars[(0.0, 2)]["x"]
    assert stars[(0.0, 1)]["mass"] == 5.0 and stars[(0.0, 2)]["mass"] == 3.0
    # star 10 outside 2x r_tidal
    assert stars[(0.0, 10)]["is_within_2x_r_tidal"] is False


def test_half_mass_radius(assembled):
    headers = {r["time"]: r for r in assembled.snapshot_headers.collect()}
    assert sorted(headers) == TIMES
    for t in TIMES:
        assert headers[t]["r_half_mass"] == pytest.approx(
            round(_expected_half_mass(t), 4), abs=1e-9
        )
    h = headers[0.0]
    assert h["r_tidal"] == R_TIDAL
    assert h["n_stars_within_2x_r_tidal"] == 9
    total = sum(s[6] for s in STARS.values())
    assert h["total_mass"] == pytest.approx(round(total, 4))
    assert h["n_binary_system"] == 3
    assert h["n_multi_system"] == 1
    # OUT34 header transforms: rg * rbar, vg * vstar
    assert h["galactic_pos_OUT34"] == [5.0, 6.0, 7.0]
    assert h["galactic_vel_OUT34"] == [0.5, 0.6, 0.7]


def test_binary_systems(assembled):
    bins = {
        (r["time"], r["pair"]): r for r in assembled.binary_systems.collect()
    }
    assert len(bins) == 9  # 3 systems x 3 timestamps
    pairs_t0 = {p for (t, p) in bins if t == 0.0}
    assert pairs_t0 == {"1+2", "3+4", "5+(1+2)"}

    b12 = bins[(0.0, "1+2")]
    assert b12["obj1_ids"] == [1, 2] and b12["obj2_ids"] == [1, 2] or True
    # regularized binary: name1=1 -> not a cm name, so obj ids are atomic
    assert b12["obj1_ids"] == [1] and b12["obj2_ids"] == [2]
    assert b12["obj1_masses"] == [5.0] and b12["obj2_masses"] == [3.0]
    assert b12["is_multi_system"] is False
    # semi-major axis: Kepler on m1+m2=8, P=10^1 days
    from nbody6_data_pipeline_spark.functions.constants import AU_M, DAY_S, KEPLER_K

    p_s = 10.0 ** REG_BIN["p"] * DAY_S
    expected_semi = (KEPLER_K * 8.0 * p_s * p_s) ** (1 / 3) / AU_M
    assert b12["semi"] == pytest.approx(expected_semi, rel=1e-12)

    triple = bins[(0.0, "5+(1+2)")]
    assert triple["obj1_ids"] == [1, 2] and triple["obj2_ids"] == [5]
    assert triple["is_multi_system"] is True
    assert triple["is_top_level"] is True
    assert triple["obj1_masses"] == [5.0, 3.0]
    assert triple["obj1_total_mass"] == 8.0
    # the (1,2) pair is a component of the triple -> not top-level
    assert b12["is_top_level"] is False
    assert bins[(0.0, "3+4")]["is_top_level"] is True


def test_hierarchy(assembled):
    stars = {
        (r["time"], r["name"]): r for r in assembled.stars.collect()
    }
    # star 1 participates in (1,2) and the triple
    h1 = stars[(0.0, 1)]["hierarchy"]
    assert h1 == ["1", "1+2", "5+(1+2)"]
    assert stars[(0.0, 1)]["is_binary"] is True
    assert stars[(0.0, 1)]["is_multi_system"] is True
    h5 = stars[(0.0, 5)]["hierarchy"]
    assert h5 == ["5", "5+(1+2)"]
    assert stars[(0.0, 5)]["is_multi_system"] is False
    # single star
    assert stars[(0.0, 7)]["hierarchy"] == ["7"]
    assert stars[(0.0, 7)]["is_binary"] is False


def test_dissolution_cut(spark, tmp_path_factory):
    root = write_run(
        str(tmp_path_factory.mktemp("asm_d") / "sim"), dissolve_last=True
    )
    out = assembled_tables(assemble_runs(align_runs(load_runs(spark, [("runD", root)]))))
    times = sorted(r["time"] for r in out.snapshot_headers.collect())
    # final timestamp (dissolved) and everything after it dropped
    assert times == TIMES[:-1]
    assert out.stars.filter(f"time = {TIMES[-1]}").count() == 0


def test_strict_missing_name_raises(spark, tmp_path_factory):
    root = write_run(
        str(tmp_path_factory.mktemp("asm_m") / "sim"), drop_name=7
    )
    run = align_runs(load_runs(spark, [("runM", root)]))
    with pytest.raises(ValueError, match="missing from fort.82/83"):
        assemble_runs(run, is_strict=True)


def test_strict_error_names_least_name(spark, tmp_path_factory):
    """The error names the least (kind, run, time, name) violation,
    with name compared as a number: 7 before 10 (as strings, "10"
    would come first)."""
    root = write_run(
        str(tmp_path_factory.mktemp("asm_m2") / "sim"), drop_name=(7, 10)
    )
    run = align_runs(load_runs(spark, [("runM", root)]))
    with pytest.raises(ValueError) as err:
        assemble_runs(run, is_strict=True)
    assert str(err.value) == (
        "[0.0 Myr] Names in OUT34/OUT9 are missing from fort.82/83 (e.g. 7).")


def test_lax_missing_name_drops(spark, tmp_path_factory):
    root = write_run(
        str(tmp_path_factory.mktemp("asm_l") / "sim"), drop_name=7
    )
    run = align_runs(load_runs(spark, [("runL", root)]))
    out = assembled_tables(assemble_runs(run, is_strict=False))
    names = {r["name"] for r in out.stars.filter("time = 0.0").collect()}
    assert 7 not in names and 3 in names


def test_pairing_name_missing_from_catalog(spark, tmp_path_factory, monkeypatch):
    """A fort.19 pair naming a star that no other file has: strict mode
    raises the binary-vs-catalog error, lax mode drops that binary."""
    from tests import nbody6_fixtures

    monkeypatch.setattr(
        nbody6_fixtures,
        "F19_BINS",
        F19_BINS + [dict(ecc=0.2, semi=3.0, p=2.0, m1=1.0, m2=0.5, n1=6, n2=99,
                         hi=0)],
    )
    root = write_run(str(tmp_path_factory.mktemp("asm_c") / "sim"))
    run = align_runs(load_runs(spark, [("runC", root)]))
    with pytest.raises(ValueError, match="Names from binary pairing info"):
        assemble_runs(run, is_strict=True)
    out = assembled_tables(assemble_runs(run, is_strict=False))
    pairs = {r["pair"] for r in out.binary_systems.filter("time = 0.0").collect()}
    assert pairs == {"1+2", "3+4", "5+(1+2)"}
    star6 = out.stars.filter("time = 0.0 AND name = 6").collect()[0]
    assert star6["hierarchy"] == ["6"] and star6["is_binary"] is False
