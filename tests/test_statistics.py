"""A3/A4/A9 statistics on the fixture run, with numpy cross-checks.

The overall and annular statistics are numpy helpers that observe's
kernel calls per snapshot; they are tested here on the fixture's
time-0 assembled tables, on hand-built edge cases, and against the
Spark aggregates whose semantics they follow."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs, assembled_tables
from nbody6_data_pipeline_spark.operators.inclination import inclination_summary
from nbody6_data_pipeline_spark.operators.statistics import (
    ANNULAR_FIELDS,
    DIST_KEYS,
    annular_columns,
    describe,
    overall_columns,
    overall_fields,
    snapshot_statistics,
    timestamp_summary,
)
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import DC, R_TIDAL, STARS, TIMES, write_run


@pytest.fixture(scope="module")
def asm(spark, tmp_path_factory):
    root = write_run(str(tmp_path_factory.mktemp("stats") / "sim"))
    return assembled_tables(assemble_runs(align_runs(load_runs(spark, [("runS", root)]))))


@pytest.fixture(scope="module")
def t0(asm):
    """The time-0 stars, binaries and header as Arrow. The binaries get
    an all-NULL ``is_unresolved_binary_system``: resolvability exists
    only once a snapshot is observed, and a NULL flag counts 0."""
    stars = asm.stars.filter("time = 0").toArrow()
    bins = asm.binary_systems.filter("time = 0").toArrow()
    bins = bins.append_column(
        "is_unresolved_binary_system", pa.nulls(bins.num_rows, pa.bool_())
    )
    hdr = asm.snapshot_headers.filter("time = 0").collect()[0]
    return stars, bins, {"r_tidal": hdr["r_tidal"], "r_half_mass": hdr["r_half_mass"]}


def _rows(part, names) -> list[dict]:
    """One part of ``snapshot_statistics``' result as table rows."""
    groups, cols = part
    return [
        {"group": int(g), **{k: v[i] for k, v in cols.items() if k != "_stats"},
         **dict(zip(names, cols["_stats"][i].as_py()))}
        for i, g in enumerate(groups)
    ]


def _statistics(stars, bins, header, n=1, star_group=None):
    star_group = np.zeros(stars.num_rows, np.int64) if star_group is None else star_group
    overall, annular = snapshot_statistics(
        stars, star_group, bins, np.zeros(bins.num_rows, np.int64), n, header
    )
    return (_rows(overall, [f for f, _ in overall_fields()]),
            _rows(annular, ANNULAR_FIELDS))


def test_overall_statistics(t0):
    (row,), _ = _statistics(*t0)
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


def test_annular_statistics(t0):
    _, rows = _statistics(*t0)
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


STAR_SCHEMA = pa.schema([
    ("mass", pa.float64()), ("is_binary", pa.bool_()),
    ("is_within_r_tidal", pa.bool_()), ("is_within_2x_r_tidal", pa.bool_()),
    ("hierarchy", pa.list_(pa.string())),
    ("dist_dc_r_tidal", pa.float64()), ("dist_dc_r_half_mass", pa.float64()),
])
BIN_SCHEMA = pa.schema([
    ("pair", pa.string()), ("ecc", pa.float64()), ("semi", pa.float64()),
    ("log_period_days", pa.float64()),
    ("is_within_r_tidal", pa.bool_()), ("is_within_2x_r_tidal", pa.bool_()),
    ("is_wide_binary_system", pa.bool_()), ("is_hard_binary_system", pa.bool_()),
    ("is_unresolved_binary_system", pa.bool_()),
    ("dist_dc_r_tidal", pa.float64()), ("dist_dc_r_half_mass", pa.float64()),
])
HEADER = {"r_tidal": 10.0, "r_half_mass": 2.0}


def _star(mass=1.0, name="1", d=0.5, inside=True, hierarchy=None):
    return {"mass": mass, "is_binary": False, "is_within_r_tidal": inside,
            "is_within_2x_r_tidal": inside, "hierarchy": hierarchy or [name],
            "dist_dc_r_tidal": d, "dist_dc_r_half_mass": d}


def _bin(pair="1+2", semi=1.0, d=0.5):
    return {"pair": pair, "ecc": 0.1, "semi": semi, "log_period_days": 2.0,
            "is_within_r_tidal": True, "is_within_2x_r_tidal": True,
            "is_wide_binary_system": False, "is_hard_binary_system": True,
            "is_unresolved_binary_system": None,
            "dist_dc_r_tidal": d, "dist_dc_r_half_mass": d}


def _tables(stars: list[dict], bins: list[dict]):
    return (pa.Table.from_pylist(stars, STAR_SCHEMA),
            pa.Table.from_pylist(bins, BIN_SCHEMA))


def test_one_value_has_null_std():
    (row,), _ = _statistics(*_tables([_star(mass=2.5)], [_bin()]), HEADER)
    assert row["mass_mean"] == row["mass_min"] == row["mass_q3"] == 2.5
    assert row["mass_std"] is None and row["semi_std"] is None
    assert row["semi_median"] == 1.0


def test_equal_values_have_zero_std():
    stars = [_star(mass=0.1, name=str(n)) for n in range(7)]
    (row,), _ = _statistics(*_tables(stars, []), HEADER)
    assert row["mass_std"] == 0.0


def test_null_distance_bins_at_radius_zero():
    stars = [_star(d=None, name="1"), _star(d=-3.0, name="2"), _star(d=0.5, name="3")]
    _, rows = _statistics(*_tables(stars, [_bin(d=None)]), HEADER)
    by = {(r["dist_key"], r["radius"]): r for r in rows}
    for key in DIST_KEYS:
        # NULL and negative distances both land in bin 0 (greatest skips
        # NULL, and max(-3, 0) = 0); so does the binary's NULL distance
        assert by[key, 0]["n_star"] == 2 and by[key, 0]["n_binary_system"] == 1
        assert by[key, 1]["n_star"] == 1 and by[key, 1]["n_binary_system"] == 0


def test_no_binaries_gives_zero_counts_and_null_descriptives():
    (row,), _ = _statistics(*_tables([_star(), _star(name="2")], []), HEADER)
    for prefix in ("", "within_r_tidal_", "within_2x_r_tidal_"):
        assert row[f"{prefix}n_binary_system"] == 0
        assert row[f"{prefix}n_binary_star"] == 0
        for t in ("wide", "hard", "unresolved"):
            assert row[f"{prefix}n_{t}_binary_system"] == 0
        for col in ("ecc", "semi", "log_period_days"):
            for s in ("mean", "std", "min", "q1", "median", "q3", "max"):
                assert row[f"{prefix}{col}_{s}"] is None


def test_empty_scope_gives_zero_mass_and_null_descriptives():
    (row,), _ = _statistics(*_tables([_star(inside=None), _star(inside=False)], []), HEADER)
    assert row["n_star"] == 2
    assert row["within_r_tidal_n_star"] == 0 and row["within_r_tidal_total_mass"] == 0.0
    assert row["within_r_tidal_mass_mean"] is None and row["within_r_tidal_mass_max"] is None


def test_starless_observer_has_no_overall_row():
    stars, bins = _tables([_star(), _star(name="2")], [_bin()])
    # three observers; only observer 1 sees a star
    overall, annular = _statistics(stars, bins, HEADER, n=3,
                                   star_group=np.array([1, 1]))
    assert [r["group"] for r in overall] == [1]
    assert {r["group"] for r in annular} == {1}
    # a snapshot without stars has no statistics at all
    overall, annular = _statistics(*_tables([], [_bin()]), HEADER)
    assert overall == [] and annular == []


def test_binary_star_by_current_pairs():
    """A star is a binary star in the histogram iff its hierarchy holds a
    pair label of the snapshot's binaries, whatever its is_binary flag."""
    stars, bins = _tables(
        [_star(name="1", hierarchy=["1", "1+2"]), _star(name="3", hierarchy=["3", "3+4"])],
        [_bin(pair="1+2")],
    )
    obs, key, cols = annular_columns(stars, bins, np.array([0, 0]), np.array([0]))
    assert list(key) == [0, 1] and list(cols["radius"]) == [1, 1]
    assert list(cols["n_binary_star"]) == [1, 1] and list(cols["n_single"]) == [1, 1]


def test_describe_matches_spark_aggregates(spark):
    """``describe`` against Spark's sum/avg/stddev_samp/min/percentile/max
    per group, with NULLs, NaN, ties, and groups of 0, 1, 2 and many
    values."""
    rng = np.random.default_rng(7)
    groups = [[], [3.5], [1.0, 1.0], [None, 2.0, None], [float("nan"), 1.0],
              list(np.round(rng.normal(size=25), 2)), list(rng.uniform(size=40))]
    data = [(g, None if v is None else float(v)) for g, vs in enumerate(groups) for v in vs]
    df = spark.createDataFrame(data, "g int, v double")
    v = F.col("v")
    got = {r["g"]: r for r in df.groupBy("g").agg(
        F.sum(v).alias("sum"), F.avg(v).alias("mean"), F.stddev_samp(v).alias("std"),
        F.min(v).alias("min"), F.percentile(v, F.lit(0.25)).alias("q1"),
        F.percentile(v, F.lit(0.5)).alias("median"),
        F.percentile(v, F.lit(0.75)).alias("q3"), F.max(v).alias("max"),
    ).collect()}

    values = np.array([np.nan if x is None else x for _, x in data])
    group = np.array([g for g, _ in data])
    keep = np.array([x is not None for _, x in data])
    total, desc = describe(values, keep, group, len(groups))
    for g in range(len(groups)):
        spark_row = got.get(g)
        for s, col in desc.items():
            want = None if spark_row is None else spark_row[s]
            have = None if col.mask[g] else float(col[g])
            if want is None or have is None:
                assert want is None and have is None, (g, s, want, have)
            elif math.isnan(want):
                assert math.isnan(have), (g, s, have)
            else:
                assert have == pytest.approx(want, rel=1e-12, abs=1e-15), (g, s)
        want_sum = 0.0 if spark_row is None or spark_row["sum"] is None else spark_row["sum"]
        assert total[g] == pytest.approx(want_sum, rel=1e-12, nan_ok=True)


def test_overall_columns_cover_overall_fields(t0):
    stars, bins, _ = t0
    cols = overall_columns(stars, bins, np.zeros(stars.num_rows, np.int64),
                           np.zeros(bins.num_rows, np.int64), 1)
    assert set(cols) | {"r_tidal", "r_half_mass"} == {f for f, _ in overall_fields()}


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
