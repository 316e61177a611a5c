"""Snapshot assembly, and the per-snapshot kernel that observes what it
assembles: the reference SnapshotAssembler (assembler.py) builds one
snapshot at a time, and its observer loop observes that same snapshot
(observer.py:293-322).

Every run's six parsed files become ONE tagged ``unionByName`` of
narrow typed projections (strict ANSI casts still raise in Spark);
align_runs has already cut each run at its first dissolved snapshot.
``groupBy("run_id", "time").applyInArrow`` hands each snapshot to one
Python call: ``_assemble_snapshot`` builds its stars, binaries and
header (the reference's per-timestamp dicts and loops over numpy
arrays, with the physics helpers of ``functions/`` on ``xp=NUMPY``),
then ``observe.observe_snapshot`` observes them from every coordinate
and computes their statistics. A snapshot is local to one task, so
assemble and observe share one shuffle, one Arrow round trip and one
``localCheckpoint`` (SURVEY §1.1, §3.1).

The kernel returns tagged rows; ``assembled_tables`` and
``observe.observe`` are narrow projections of the checkpoint. The pair
labels, the star hierarchies and the 4-decimal rounding of the header's
``r_tidal`` and ``r_half_mass`` are made in the kernel, where observe
reads them. Every row has every column, so the rare header row packs
its numbers in ``_stats`` (``_HDR_STATS``), as the statistics rows do,
and the bulk of the rows, the observed stars, carry no column per
header number. Validation failures come back as rows too: an
``Observation`` on the checkpoint's own scan reads the least assemble
and observe violations, and ``assemble_runs`` raises them, assemble's
first, before anything is written. Observe runs only on a snapshot
that assembled cleanly.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from nbody6_data_pipeline_spark.functions.binary import (
    calc_semi_major_axis_au,
    is_hard_binary,
    is_wide_binary,
)
from nbody6_data_pipeline_spark.functions.geometry import (
    dist_to_center,
    within_radius_flags,
)
from nbody6_data_pipeline_spark.functions.hierarchy import (
    is_multi_system_binary,
    is_multi_system_star,
    pair_label,
    sort_hierarchy,
)
from nbody6_data_pipeline_spark.functions.misc import round_half_up
from nbody6_data_pipeline_spark.functions.xp import NUMPY, arrow_rows
from nbody6_data_pipeline_spark.operators.observe import (
    BIN_FIELDS,
    OBSERVED_DDL,
    default_observer_coordinates,
    least_violation,
    observe_snapshot,
    raise_violation,
)
from nbody6_data_pipeline_spark.sources.nbody6 import NBody6Runs

KEY = ["run_id", "time"]


@dataclass
class AssembledTables:
    stars: DataFrame
    binary_systems: DataFrame
    snapshot_headers: DataFrame


# validation kinds, in the reference's check order: assemble_runs raises
# the first kind found, at its earliest (time, name)
_VIOLATIONS = [
    "Duplicate names found in attributes: {name} at {time}.",
    "[{time} Myr] Names in OUT34/OUT9 are missing from fort.82/83 (e.g. {name}).",
    "[{time} Myr] Names in fort.82/83 are missing from OUT34/OUT9 (e.g. {name}).",
    "[{time} Myr] Names from binary pairing info (OUT9/fort.19) are missing "
    "from the star catalog (e.g. {name}).",
]
_DUP, _MISSING_ATTR, _MISSING_PV, _MISSING_COMP = range(4)

# input tags: one per (file, header/data) projection
_DENS, _HDR34, _PV, _BIN9, _BIN19, _ATTR82, _ATTR83 = range(7)
# output tags; observe's rows follow (operators/observe.py)
_STAR, _BIN, _HDR, _VIOL = range(4)

SNAPSHOT_DDL = """
    _tag tinyint, run_id string, time double,
    name bigint, is_binary boolean, hierarchy array<string>, x double,
    y double, z double, vx double, vy double, vz double, mass double,
    log_T_eff_K double, log_L_L_sol double, log_R_R_sol double,
    pair string, obj1_name bigint, obj2_name bigint, obj1_ids array<bigint>,
    obj2_ids array<bigint>, ecc double, semi double,
    log_period_days double, obj1_masses array<double>,
    obj2_masses array<double>, obj1_total_mass double,
    obj2_total_mass double, obj1_dist_dc_pc double,
    obj2_dist_dc_pc double, is_multi_system boolean,
    is_top_level boolean, is_wide_binary_system boolean,
    is_hard_binary_system boolean,
    dist_dc_pc double, dist_dc_r_tidal double, dist_dc_r_half_mass double,
    is_within_r_tidal boolean, is_within_2x_r_tidal boolean,
    density_center array<double>, rd array<double>, rcm array<double>,
    rg array<double>, vg array<double>, _kind tinyint,
""" + OBSERVED_DDL

# the header row's numbers, packed in its ``_stats`` in this order (the
# kernel's, in table order, then OUT34's): one column on every row of
# the snapshot instead of one per number
_HDR_STATS = [
    ("r_tidal", "double"), ("r_half_mass", "double"),
    ("n_stars_within_r_tidal", "int"), ("n_stars_within_2x_r_tidal", "int"),
    ("total_mass", "double"), ("total_mass_within_r_tidal", "double"),
    ("total_mass_within_2x_r_tidal", "double"),
    ("n_binary_system", "int"), ("n_multi_system", "int"),
    ("n_hard_binary_system", "int"), ("n_wide_binary_system", "int"),
    ("n_binary_system_within_r_tidal", "int"), ("n_binary_system_within_2x_r_tidal", "int"),
]
_OUT34_STATS = [("nzero", "int"), ("rbar", "double"), ("vstar", "double"),
                ("rtide", "double"), ("plummer_mass", "double")]


def _seq_sum(vals) -> float | None:
    """Spark's ``aggregate(vals, 0.0, (a, x) -> a + x)``: left to right,
    NULL if any value is NULL."""
    acc = 0.0
    for v in vals:
        if v is None or v != v:
            return None
        acc += v
    return acc


def _mean(vals: list) -> float | None:
    """``_seq_sum / size``, NULL for no values (the reference's None
    when no components are found, assembler.py:289-293)."""
    s = _seq_sum(vals)
    return None if s is None or not vals else s / len(vals)


def _assemble_snapshot(t: pa.Table, schema: pa.Schema,
                       is_strict: bool) -> pa.Table | tuple:
    """One snapshot (reference assembler.py ``_assemble``): its stars,
    binaries and header as three tables of tagged rows of ``schema``,
    and the header values observe reads; or one table of its
    validation violations (empty when there is no snapshot to
    assemble)."""
    # file order: duplicates resolve the same way at any partitioning
    t = t.sort_by("line_no")
    src = t.column("_src").to_numpy()
    part = [t.filter(pa.array(src == tag)) for tag in range(7)]
    dens = part[_DENS]
    if dens.num_rows == 0:
        return schema.empty_table()
    const = {"run_id": t.column("run_id")[0].as_py(), "time": t.column("time")[0].as_py()}
    r_tidal = dens.column("r_tidal")[0].as_py()
    dc = dens.column("density_center")[0].as_py()
    viol: list[tuple] = []

    def violations() -> pa.Table:
        kinds, names = zip(*viol)
        return arrow_rows(schema, len(viol), {"_kind": kinds, "name": names},
                          {**const, "_tag": _VIOL})

    # J3: cm -> component expansion (assembler.py:81-108)
    b9 = part[_BIN9]
    cm_map = {
        cm: (n1, n2)
        for cm, n1, n2 in zip(*(b9.column(c).to_pylist()
                                for c in ("cmName", "name1", "name2")))
        if cm is not None
    }
    pv = part[_PV]
    pv_row, pv_name = [], []
    for i, n in enumerate(pv.column("name").to_pylist()):
        for c in cm_map.get(n, (n,)):
            pv_row.append(i)
            pv_name.append(c)

    # U1/U2/P10: attribute union (assembler.py:110-136); fort.82 names
    # are deduplicated, a name in fort.82 and fort.83 is a duplicate
    attr_cols = ("mass", "zlum", "rad", "tempe")
    a82, seen, attrs = part[_ATTR82], set(), []
    for i in (1, 2):
        cols = [a82.column(f"{c}{i}").to_pylist() for c in ("name", *attr_cols)]
        for row in zip(*cols):
            if row[0] not in seen:
                seen.add(row[0])
                attrs.append(row)
    a83 = part[_ATTR83]
    attrs += zip(*(a83.column(c).to_pylist() for c in ("name", *attr_cols)))
    viol += [(_DUP, n) for n, k in Counter(a[0] for a in attrs).items() if k > 1]
    attr_of = {a[0]: j for j, a in enumerate(attrs) if a[0] is not None}
    if is_strict:
        pv_names = set(pv_name) - {None}
        viol += [(_MISSING_ATTR, n) for n in pv_name if n not in attr_of]
        viol += [(_MISSING_PV, a[0]) for a in attrs if a[0] not in pv_names]
    if viol:
        return violations()

    # stars, in name order: every float reduction below runs in it
    st = sorted((n, k) for k, n in enumerate(pv_name) if n in attr_of)
    names = np.array([n for n, _ in st], dtype=np.int64)
    rows = np.array([pv_row[k] for _, k in st], dtype=np.int64)
    pos = {c: pv.column(c).to_numpy(zero_copy_only=False).astype(float)[rows]
           for c in ("x", "y", "z", "vx", "vy", "vz")}
    attr_vals = np.array([attrs[attr_of[n]][1:] for n, _ in st], dtype=float)
    mass, zlum, rad, tempe = attr_vals.reshape(-1, 4).T

    # F13/F14: distances & flags (assembler.py:191-219)
    center = np.array(dc or [None] * 3, dtype=float)
    dist = dist_to_center(pos["x"], pos["y"], pos["z"], *center, xp=NUMPY)
    with np.errstate(divide="ignore", invalid="ignore"):
        flags = within_radius_flags(dist, r_tidal)
    ratio = flags["dist_dc_r_tidal"]

    # A10/W2: half-mass radius on the ratio<=2 subset (calc/cluster.py:
    # 14-31: first distance, in (distance, name) order, where the
    # cumulative mass reaches half the total)
    sub = np.flatnonzero(ratio <= 2)
    order = sub[np.lexsort((names[sub], dist[sub]))]
    cum = np.cumsum(mass[order])
    reached = cum >= cum[-1] / 2 if len(cum) else cum > 0
    if not reached.any():
        # no half-mass radius: the snapshot has no stars, so no binary
        # (lax) or only missing components (strict) and no header
        names = names[:0]
    r_hm = float(dist[order][np.argmax(reached)]) if reached.any() else None

    # binaries (assembler.py:249-479)
    bcols = ("name1", "name2", "ecc", "p", "mass1", "mass2")
    b19 = part[_BIN19]
    braw = {c: b9.column(c).to_pylist() + b19.column(c).to_pylist() for c in bcols}
    obj1 = [cm_map.get(n, (n,)) for n in braw["name1"]]
    obj2 = [cm_map.get(n, (n,)) for n in braw["name2"]]
    star_of = {int(n): j for j, n in enumerate(names)}
    keep = []
    for b, (o1, o2) in enumerate(zip(obj1, obj2)):
        missing = [i for i in o1 + o2 if i not in star_of]
        if is_strict:
            viol += [(_MISSING_COMP, i) for i in missing]
        if not missing:
            keep.append(b)
    if viol:
        return violations()
    if not len(names):
        return schema.empty_table()

    with np.errstate(divide="ignore", invalid="ignore"):
        ratio_hm = dist / r_hm
    n_within2 = int((ratio <= 2).sum())
    obj1 = [obj1[b] for b in keep]
    obj2 = [obj2[b] for b in keep]
    bval = {c: np.array([braw[c][b] for b in keep], dtype=float)
            for c in ("ecc", "p", "mass1", "mass2")}
    semi = calc_semi_major_axis_au(bval["mass1"], bval["mass2"], bval["p"], xp=NUMPY)
    mass_of = {a[0]: a[1] for a in attrs if a[0] is not None}

    def dist_vals(ids, vals):
        return [float(vals[star_of[i]]) for i in ids if i in star_of]

    bins = {c: [] for c in ("obj1_masses", "obj2_masses", "obj1_total_mass",
                            "obj2_total_mass", "obj1_dist_dc_pc", "obj2_dist_dc_pc",
                            "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass",
                            "is_within_r_tidal", "is_within_2x_r_tidal")}
    for o1, o2 in zip(obj1, obj2):
        for side, ids in (("obj1", o1), ("obj2", o2)):
            masses = [mass_of[i] for i in ids if i in mass_of]
            bins[f"{side}_masses"].append(masses)
            bins[f"{side}_total_mass"].append(_seq_sum(masses))
            bins[f"{side}_dist_dc_pc"].append(_mean(dist_vals(ids, dist)))
        both = o1 + o2
        rt = dist_vals(both, ratio)
        bins["dist_dc_pc"].append(_mean(dist_vals(both, dist)))
        bins["dist_dc_r_tidal"].append(_mean(rt))
        bins["dist_dc_r_half_mass"].append(_mean(dist_vals(both, ratio_hm)))
        # J6: true iff ALL known components satisfy it (assembler.py:401-419)
        bins["is_within_r_tidal"].append(all(v <= 1 for v in rt))
        bins["is_within_2x_r_tidal"].append(all(v <= 2 for v in rt))
    is_multi = is_multi_system_binary(obj1, obj2, xp=NUMPY)
    is_wide = is_wide_binary(semi, xp=NUMPY)
    # the reference rounds r_half_mass to 4 decimals BEFORE the Heggie
    # threshold (assembler.py star stats dict); the header and observe
    # read the rounded value too
    r_hm4 = round_half_up(r_hm, 4)
    is_hard = is_hard_binary(semi, r_hm4, n_within2, xp=NUMPY)
    # J8: top-level = sorted(all components) is no system's obj1/obj2
    # ids (assembler.py:438-451)
    members = set(obj1) | set(obj2)
    top = [tuple(sorted(a + b)) not in members for a, b in zip(obj1, obj2)]
    # F15: the pair labels (assembler.py:260-287)
    pair = [pair_label(a, b) for a, b in zip(obj1, obj2)]
    nb = len(keep)
    bin_rows = arrow_rows(schema, nb, {
        **bins,
        "obj1_name": [braw["name1"][b] for b in keep],
        "obj2_name": [braw["name2"][b] for b in keep],
        "pair": pair, "obj1_ids": obj1, "obj2_ids": obj2,
        "ecc": bval["ecc"], "semi": semi, "log_period_days": bval["p"],
        "is_multi_system": is_multi, "is_top_level": top,
        "is_wide_binary_system": is_wide, "is_hard_binary_system": is_hard,
    }, {**const, "_tag": _BIN})

    # A1/J7/F16: each star's hierarchy, the labels of its systems in
    # binary order with repeats, then its own name, by (length, label);
    # a star in no system is just its name (assembler.py:583-617)
    systems: dict[int, list[str]] = {}
    for b, (o1, o2) in enumerate(zip(obj1, obj2)):
        for i in o1 + o2:
            systems.setdefault(i, []).append(pair[b])
    in_sys = [systems.get(int(n)) for n in names]
    hierarchy = [[str(n)] if s is None else sort_hierarchy([*s, str(n)])
                 for n, s in zip(names, in_sys)]
    star_rows = arrow_rows(schema, len(names), {
        "name": names, **pos, "mass": mass,
        "log_T_eff_K": tempe, "log_L_L_sol": zlum, "log_R_R_sol": rad,
        "dist_dc_pc": dist, "dist_dc_r_half_mass": ratio_hm, **flags,
        "is_binary": [s is not None for s in in_sys], "hierarchy": hierarchy,
        "is_multi_system": is_multi_system_star(hierarchy, xp=NUMPY),
    }, {**const, "_tag": _STAR})

    # A2 + binary counts + OUT34 header (assembler.py:226-246, 461-514)
    def total(sel) -> float | None:
        m = mass[sel]
        m = m[~np.isnan(m)]
        return float(m.sum()) if len(m) else None

    counts = [sum(map(bool, v)) for v in (
        is_multi, is_hard, is_wide,
        bins["is_within_r_tidal"], bins["is_within_2x_r_tidal"])]
    header = {**const, "density_center": dc,
              "r_tidal": round_half_up(r_tidal, 4), "r_half_mass": r_hm4}
    stats = [
        header["r_tidal"], r_hm4, int((ratio <= 1).sum()), n_within2,
        total(slice(None)), total(ratio <= 1), total(ratio <= 2),
        # NULL (not 0) when a snapshot has no binary rows: the
        # reference's header dict lacks these keys then
        # (assembler.py:346-348), NaN in stacked stats
        *([nb, *counts] if nb else [None] * 6),
    ]
    h34 = part[_HDR34]
    out34 = [h34.column(c).to_pylist() if h34.num_rows else [None]
             for c, _ in _OUT34_STATS]
    hdr_rows = arrow_rows(schema, max(h34.num_rows, 1), {
        # not from_pandas: a NaN stays NaN, only None is NULL
        "_stats": pa.array([stats + list(v) for v in zip(*out34)],
                           pa.list_(pa.float64())),
        **{c: h34.column(c) for c in ("rd", "rcm", "rg", "vg") if h34.num_rows},
    }, {**const, "density_center": dc, "_tag": _HDR})
    return star_rows, bin_rows, hdr_rows, header


def _snapshot(t: pa.Table, schema: pa.Schema, is_strict: bool, is_slim: bool,
              coords: np.ndarray) -> pa.Table:
    """The kernel: one snapshot assembled, then observed from every
    coordinate when it assembled cleanly. ``is_slim`` leaves the
    assembled stars and binaries out."""
    asm = _assemble_snapshot(t, schema, is_strict)
    if isinstance(asm, pa.Table):
        return asm
    stars, bins, hdr, header = asm
    out = [hdr, observe_snapshot(stars, bins, header, schema, coords)]
    return pa.concat_tables(out if is_slim else [stars, bins, *out])


def _snapshot_rows(runs: NBody6Runs) -> DataFrame:
    """The tagged union of the six files' typed projections; the aligned
    runs already end before their first dissolved snapshot."""
    parts = [
        (runs.headers("densCentre.txt"), _DENS, "r_tidal", "density_center"),
        (runs.headers("OUT34"), _HDR34, "nzero", "rbar", "vstar",
         "rtide", "plummer_mass", "rd", "rcm", "rg", "vg"),
        (runs.data("OUT34"), _PV, "line_no", "name",
         "x", "y", "z", "vx", "vy", "vz"),
        (runs.data("OUT9"), _BIN9, "line_no", "cmName", "name1", "name2",
         "ecc", "p", "mass1", "mass2"),
        (runs.data("fort.19"), _BIN19, "line_no", "name1", "name2",
         "ecc", "p", "mass1", "mass2"),
        (runs.data("fort.82"), _ATTR82, "line_no", "name1", "name2",
         *[f"{a}{i}" for a in ("mass", "zlum", "rad", "tempe") for i in (1, 2)]),
        (runs.data("fort.83"), _ATTR83, "line_no", "name",
         "mass", "zlum", "rad", "tempe"),
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), [
        df.select(*KEY, F.lit(tag).cast("tinyint").alias("_src"), *cols)
        for df, tag, *cols in parts
    ]).filter(F.col("time").isNotNull())


def assemble_runs(runs: NBody6Runs, is_strict: bool = True,
                  coordinates: list[tuple] | None = None,
                  is_slim: bool = False) -> DataFrame:
    """Assemble every snapshot of ``runs``, then observe it from every
    coordinate: one grouped-map kernel per snapshot, one checkpoint for
    the whole batch. Returns the checkpoint, which ``assembled_tables`` and
    ``observe.observe`` project; ``is_slim`` leaves the assembled stars
    and binaries out of it.

    Validation follows the reference: duplicate attr names always raise
    (assembler.py:130-134); in strict mode, names missing across file
    families raise (assembler.py:168-188, 559-581), while lax mode
    drops binaries with a component missing from the star catalog. The
    dissolution cut (the series ends before the FIRST r_tidal<=0
    timestamp, assembler.py:522-527, 698-704) is made by
    ``align_runs``, so ``runs`` holds only the snapshots to assemble.
    """
    coords = np.array(coordinates or default_observer_coordinates(), dtype=float).reshape(-1, 3)
    schema = to_arrow_schema(_parse_datatype_string(SNAPSHOT_DDL))
    found = Observation("violations")
    # the least violation by (kind, run, time, name), name a bigint
    first = F.when(F.col("_tag") == _VIOL, F.struct("_kind", *KEY, "name"))
    out = (
        _snapshot_rows(runs).groupBy(*KEY)
        .applyInArrow(lambda t: _snapshot(t, schema, is_strict, is_slim, coords),
                      SNAPSHOT_DDL)
        .observe(found, F.min(first).alias("assemble"),
                 least_violation().alias("observe"))
        .localCheckpoint()
    )
    bad = found.get
    if bad["assemble"] is not None:
        raise ValueError(_VIOLATIONS[bad["assemble"]["_kind"]].format(
            **bad["assemble"].asDict()))
    raise_violation(bad["observe"])
    return out


def assembled_tables(rows: DataFrame) -> AssembledTables:
    """stars / binary_systems / snapshot_headers (FIXTURES.md §2):
    narrow projections of ``assemble_runs``' checkpoint ``rows``."""
    tag = F.col("_tag")
    # never NULL in these rows; a literal fallback keeps them non-nullable
    # in the layers' schemas
    stars = rows.filter(tag == _STAR).select(
        *KEY, "name", F.coalesce("is_binary", F.lit(False)).alias("is_binary"),
        "is_multi_system", "hierarchy", "x", "y", "z", "vx", "vy", "vz", "mass",
        "log_T_eff_K", "log_L_L_sol", "log_R_R_sol", "dist_dc_pc", "dist_dc_r_tidal",
        "dist_dc_r_half_mass", "is_within_r_tidal", "is_within_2x_r_tidal",
    )
    bins = rows.filter(tag == _BIN).select(
        *KEY, F.coalesce("pair", F.lit("")).alias("pair"), *BIN_FIELDS[1:])
    round4 = lambda v: F.round(v, 4)  # noqa: E731
    h = {name: F.col("_stats")[i].cast(t)
         for i, (name, t) in enumerate(_HDR_STATS + _OUT34_STATS)}
    headers = rows.filter(tag == _HDR).select(
        *KEY, "density_center",
        *[(round4(h[c]) if c.startswith("total_mass") else h[c]).alias(c)
          for c, _ in _HDR_STATS],
        round4(h["rtide"]).alias("r_tidal_OUT34"),
        F.transform("rd", round4).alias("density_center_OUT34"),
        F.transform("rcm", round4).alias("mass_center_OUT34"),
        F.transform("rg", lambda v: round4(v * h["rbar"])).alias("galactic_pos_OUT34"),
        F.transform("vg", lambda v: round4(v * h["vstar"])).alias("galactic_vel_OUT34"),
        h["nzero"].alias("nzero"), h["plummer_mass"].alias("plummer_mass_OUT34"),
    )
    return AssembledTables(stars=stars, binary_systems=bins, snapshot_headers=headers)
