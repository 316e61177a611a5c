"""M5 — pseudo-observation (reference observer.py), one snapshot at a
time for all observers at once.

For each observer coordinate: pre-filter to 2x tidal radius, trim
hierarchies, transform to the sky offset frame, classify binary
systems as resolved/unresolved by angular separation, and replace each
top-level unresolved system by one photocentric merged source.

The reference loops ``for coord: for ts:`` (observer.py:276-327), and
only the offset frame, the observed distance and the resolvability
test depend on the observer. ``observe_snapshot`` is the observe half
of the per-snapshot kernel that ``assemble_runs`` runs: it takes the
stars and binaries that ``_assemble_snapshot`` has just built for a
snapshot, as Arrow tables, and its header values, and computes all
observers of it in one vectorised pass (observers x stars arrays) with
the physics helpers of ``functions/`` on ``xp=NUMPY``, then each
observer's overall and annular statistics of those rows
(``operators/statistics.py``), as the reference computes them right
after observing a snapshot. Output tags: ``_STAR`` and ``_BIN``
(observed stars and binaries), ``_OVERALL`` (one row per observer that
sees a star) and ``_ANNULAR`` (one row per annular bin), whose values
are packed in ``_stats``, and ``_VIOL``. ``observe`` returns narrow
projections of the kernel's checkpoint and runs no job of its own.

The recursive merge (observer.py:88-171) flattens to TWO merge levels
because ``_fetch_attrs`` only accepts component groups of size 1 or 2
(observer.py:117-127): merge each side's pair (if size 2), then merge
the two sides. A larger unresolved group comes back as a violation
row, which the checkpoint's ``Observation`` reads, and ``assemble_runs``
raises it.
"""

from __future__ import annotations

from dataclasses import dataclass
import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.astro import offset_frame_columns
from nbody6_data_pipeline_spark.functions.binary import (
    calc_log_equivalent_radius, calc_photocentric_scalar, calc_total_log_luminosity,
    calc_total_mass, is_unresolved_binary,
)
from nbody6_data_pipeline_spark.functions.geometry import dist_to_center, within_radius_flags
from nbody6_data_pipeline_spark.functions.hierarchy import is_multi_system_star, sort_hierarchy
from nbody6_data_pipeline_spark.functions.star import calc_log_effective_temperature_K
from nbody6_data_pipeline_spark.functions.xp import NUMPY, arrow_rows
from nbody6_data_pipeline_spark.operators.statistics import snapshot_statistics

KEY = ["run_id", "time"]
OBS = ["obs_x", "obs_y", "obs_z"]
OKEY = [*KEY, *OBS]

_ATTR_FIELDS = [
    "x", "y", "z", "vx", "vy", "vz",
    "mass", "log_L_L_sol", "log_R_R_sol", "log_T_eff_K",
]
# merge output shape == full attr shape (reference _fetch_attrs of a
# single id returns the whole star row, observer.py:117-119)
_DIST_FIELDS = [
    "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass",
    "is_within_r_tidal", "is_within_2x_r_tidal",
]
# the assembled binaries' columns, in the assembled_binary_systems order
BIN_FIELDS = [
    "pair", "obj1_name", "obj2_name", "obj1_ids", "obj2_ids",
    "ecc", "semi", "log_period_days", "obj1_masses", "obj2_masses",
    "obj1_total_mass", "obj2_total_mass", "obj1_dist_dc_pc", "obj2_dist_dc_pc",
    "is_multi_system", "is_top_level", "is_wide_binary_system", "is_hard_binary_system",
    *_DIST_FIELDS,
]
_FRAME_FIELDS = [
    "lon_deg", "lat_deg", "pm_lon_coslat_mas_yr", "pm_lat_mas_yr",
    "dist_pc", "rv_kms",
]
# after the name, which the kernel's rows hold in observed_name
_STAR_OUT = [
    *OKEY, "is_binary", "is_multi_system", "is_unresolved_binary",
    "is_within_r_tidal", "is_within_2x_r_tidal", "hierarchy",
    "x", "y", "z", "vx", "vy", "vz", "mass", "log_T_eff_K", "log_L_L_sol", "log_R_R_sol",
    "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass", *_FRAME_FIELDS,
]

# output tags, after the four of assemble's rows (operators/assemble.py)
_STAR, _BIN, _VIOL, _OVERALL, _ANNULAR = range(4, 9)

# the columns observe's rows add to the snapshot kernel's output; the
# assembled columns (operators/assemble.py) hold the rest
OBSERVED_DDL = """
    obs_x double, obs_y double, obs_z double, observed_name string,
    is_unresolved_binary boolean, lon_deg double, lat_deg double,
    pm_lon_coslat_mas_yr double, pm_lat_mas_yr double, dist_pc double,
    rv_kms double, dist_obs_pc double, is_unresolved_binary_system boolean,
    dist_key string, _stats array<double>
"""


@dataclass
class ObservedTables:
    stars: DataFrame
    binary_systems: DataFrame
    # packed statistics rows, unpacked by operators/statistics.py
    overall_stats: DataFrame
    annular_stats: DataFrame


def default_observer_coordinates() -> list[tuple]:
    """The reference's 18 observer distances along +x
    (collect_simulation_stats.py:100-110)."""
    xs = list(range(50, 551, 50)) + list(range(600, 1201, 100))
    return [(float(x), 0.0, 0.0) for x in xs]


def _merge_pair(s1: dict, s2: dict, hdr: dict) -> dict:
    """Photocentric merge of two component attribute sets
    (observer.py:41-86 _merge_unresolved_binaries), over arrays."""
    l1 = NUMPY.pow(10.0, s1["log_L_L_sol"])
    l2 = NUMPY.pow(10.0, s2["log_L_L_sol"])
    m = {
        f: calc_photocentric_scalar(l1, l2, s1[f], s2[f], eps=1e-8, xp=NUMPY)
        for f in ("x", "y", "z", "vx", "vy", "vz")
    }
    m["mass"] = calc_total_mass(s1["mass"], s2["mass"])
    m["log_L_L_sol"] = calc_total_log_luminosity(
        s1["log_L_L_sol"], s2["log_L_L_sol"], xp=NUMPY
    )
    m["log_R_R_sol"] = calc_log_equivalent_radius(
        s1["log_R_R_sol"], s2["log_R_R_sol"], xp=NUMPY
    )
    m["log_T_eff_K"] = calc_log_effective_temperature_K(
        m["log_L_L_sol"], m["log_R_R_sol"], xp=NUMPY
    )
    dist = dist_to_center(m["x"], m["y"], m["z"], *hdr["density_center"], xp=NUMPY)
    m.update(within_radius_flags(dist, hdr["r_tidal"]))
    m["dist_dc_pc"] = dist
    m["dist_dc_r_half_mass"] = dist / hdr["r_half_mass"]
    return m


def _frame(coords: np.ndarray, s: dict) -> dict:
    """Offset-frame columns of positions ``s`` seen from ``coords``
    (rows aligned, or coords (O, 1) against stars (N,))."""
    ox, oy, oz = coords
    return offset_frame_columns(
        ox + s["x"], oy + s["y"], oz + s["z"],
        s["vx"], s["vy"], s["vz"],
        ox, oy, oz,
        xp=NUMPY,
    )


def observe_snapshot(stars: pa.Table, bins: pa.Table, header: dict,
                     schema: pa.Schema, coords: np.ndarray) -> pa.Table:
    """All observers of one assembled snapshot: the rows of
    ``_observed_rows`` for its stars and binaries within 2x r_tidal (P4
    pre-filter), then each observer's overall and annular statistics
    of them. ``header`` holds the snapshot's key, ``density_center``
    and its rounded ``r_tidal`` and ``r_half_mass``."""
    within = [t.filter(t.column("is_within_2x_r_tidal")) for t in (stars, bins)]
    out = _observed_rows(*within, header, schema, coords)
    if isinstance(out, pa.Table):
        return out
    obs_bins, obs_stars, bin_obs, star_obs = out
    if obs_stars.num_rows == 0:
        return obs_bins
    # an observer is its coordinates, as in a groupBy over the rows
    obs, group = np.unique(coords, axis=0, return_inverse=True)
    group = group.ravel()
    const = {c: header[c] for c in KEY}
    stats = snapshot_statistics(obs_stars, group[star_obs], obs_bins,
                                group[bin_obs], len(obs), header)
    return pa.concat_tables([obs_bins, obs_stars] + [
        arrow_rows(schema, len(o), {**cols, **dict(zip(OBS, obs[o].T))},
                   {**const, "_tag": tag})
        for tag, (o, cols) in zip((_OVERALL, _ANNULAR), stats)
    ])


def _observed_rows(stars: pa.Table, bins: pa.Table, header: dict,
                   schema: pa.Schema, coords: np.ndarray) -> pa.Table | tuple:
    """All observers of one snapshot's ``stars`` and ``bins``: the
    observed binaries and the observed stars (singles, resolved
    members, merged unresolved systems) as tagged rows of ``schema``,
    each with the index into ``coords`` of its observer; or one table
    of violations (empty when there is no star)."""
    # one order at any partitioning: every sum below runs in it
    stars = stars.sort_by("name")
    bins = bins.sort_by([(c, "ascending") for c in ("pair", "obj1_name", "obj2_name")])
    if stars.num_rows == 0:
        return schema.empty_table()
    const = {c: header[c] for c in KEY}
    n_obs, n_star, n_bin = len(coords), stars.num_rows, bins.num_rows

    # F16 trim: keep hierarchy entries that are surviving pairs or
    # atomic ids (observer.py:185-191)
    pair = bins.column("pair").to_pylist()
    pairs = set(pair)
    hierarchy = [
        h if len(h) < 2 else [p for p in h if "+" not in p or p in pairs]
        for h in stars.column("hierarchy").to_pylist()
    ]
    is_binary = NUMPY.size(hierarchy) > 1
    is_multi = is_multi_system_star(hierarchy, xp=NUMPY)
    s = {f: stars.column(f).to_numpy(zero_copy_only=False).astype(float)
         for f in _ATTR_FIELDS}
    # U1: offset frame of every (observer, star) pair, (O, N) arrays
    frame = _frame(coords.T[:, :, None], s)

    # F21: resolvability from the mean observed distance of all
    # components, summed left to right as the reference does
    star_of = {n: j for j, n in enumerate(stars.column("name").to_pylist())}
    obj1 = bins.column("obj1_ids").to_pylist()
    obj2 = bins.column("obj2_ids").to_pylist()
    ids = [a + b for a, b in zip(obj1, obj2)]
    sizes = np.array([(len(a), len(b)) for a, b in zip(obj1, obj2)], np.int64)
    sizes = sizes.reshape(n_bin, 2)
    n_ids = sizes.sum(1)
    slot = np.full((n_bin, max(n_ids, default=0)), -1)
    for b, i in enumerate(ids):
        slot[b, :len(i)] = [star_of.get(n, -1) for n in i]
    found = slot >= 0
    dist_sum = np.zeros((n_obs, n_bin))
    for k in range(slot.shape[1]):
        d = frame["dist_pc"][:, np.maximum(slot[:, k], 0)]
        dist_sum = dist_sum + np.where(found[:, k], d, 0.0)
    semi = bins.column("semi").to_numpy(zero_copy_only=False).astype(float)
    # a component missing from the stars has no distance: NULL
    has_all = ~((np.arange(slot.shape[1]) < n_ids[:, None]) & ~found).any(1)
    with np.errstate(invalid="ignore", divide="ignore"):
        dist_obs = np.where(has_all & (n_ids > 0), dist_sum / n_ids, np.nan)
        known = ~np.isnan(dist_obs) & ~np.isnan(semi)
        unres = is_unresolved_binary(semi, dist_obs, xp=NUMPY) & known

    too_big = unres.any(0) & (sizes.max(1, initial=0) > 2)
    if too_big.any():
        bad = np.flatnonzero(too_big)
        return arrow_rows(schema, len(bad), {
            "obj1_ids": [obj1[b] for b in bad], "obj2_ids": [obj2[b] for b in bad],
        }, {**const, "_tag": _VIOL})

    def obs_cols(o: np.ndarray) -> dict:
        return dict(zip(OBS, coords[o].T))

    bo, bb = np.divmod(np.arange(n_obs * n_bin), max(n_bin, 1))
    tables = [arrow_rows(schema, len(bb), {
        **{f: bins.column(f).take(bb) for f in BIN_FIELDS},
        **obs_cols(bo),
        "dist_obs_pc": dist_obs[bo, bb],
        "is_unresolved_binary_system": pa.array(unres[bo, bb], mask=~known[bo, bb]),
    }, {**const, "_tag": _BIN})]

    # singles and resolved members (observer.py:203-237)
    member = np.zeros((n_bin, n_star), dtype=np.int64)
    sb, sk = np.nonzero(slot >= 0)
    member[sb, slot[sb, sk]] = 1
    resolved = ((known & ~unres).astype(np.int64) @ member) > 0
    so, sj = np.nonzero(np.broadcast_to(~is_binary, (n_obs, n_star)))
    ro, rj = np.nonzero(resolved)
    o, j = np.concatenate([so, ro]), np.concatenate([sj, rj])
    tables.append(arrow_rows(schema, len(j), {
        "observed_name": stars.column("name").cast(pa.string()).take(j),
        "hierarchy": pa.array(hierarchy, pa.list_(pa.string())).take(j),
        "is_binary": np.arange(len(j)) >= len(so),
        "is_multi_system": is_multi[j],
        "is_unresolved_binary": np.zeros(len(j), bool),
        **{f: stars.column(f).take(j) for f in _ATTR_FIELDS + _DIST_FIELDS},
        **{f: v[o, j] for f, v in frame.items()},
        **obs_cols(o),
    }, {**const, "_tag": _STAR}))

    # U2: merge the top-level unresolved systems, those whose member
    # set is no strict subset of another unresolved one's
    # (observer.py:88-171)
    flat = np.array([n for i in ids for n in i], dtype=np.int64)
    uniq, inv = np.unique(flat, return_inverse=True)
    inc = np.zeros((n_bin, len(uniq)), dtype=np.int64)
    inc[np.repeat(np.arange(n_bin), n_ids), inv] = 1
    subset = (inc @ (1 - inc).T) == 0  # [a, b]: members(a) <= members(b)
    n_members = inc.sum(1)
    strict = subset & (n_members[:, None] < n_members[None, :])
    top = unres & ((unres.astype(np.int64) @ strict.T.astype(np.int64)) == 0)
    if not top.any():
        return tables[0], tables[1], bo, o

    h = {c: header[c] for c in ("density_center", "r_tidal", "r_half_mass")}
    h["density_center"] = np.array(h["density_center"] or [None] * 3, dtype=float)
    h = {k: np.nan if v is None else v for k, v in h.items()}
    cand = np.flatnonzero(top.any(0))
    n1, n2 = sizes[cand, 0], sizes[cand, 1]

    def component(pos) -> tuple[dict, np.ndarray]:
        """Attributes of the star at position ``pos`` of each candidate's
        ids (obj1 ids first, then obj2's), and whether it was found."""
        j = slot[cand, np.minimum(pos, slot.shape[1] - 1)]
        return {f: v[np.maximum(j, 0)] for f, v in s.items()}, j >= 0

    (c1a, ok1a), (c1b, ok1b) = component(0), component(1)
    (c2a, ok2a), (c2b, ok2b) = component(n1), component(n1 + 1)
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        m1, m2 = _merge_pair(c1a, c1b, h), _merge_pair(c2a, c2b, h)
        side1 = {f: np.where(n1 == 2, m1[f], c1a[f]) for f in _ATTR_FIELDS}
        side2 = {f: np.where(n2 == 2, m2[f], c2a[f]) for f in _ATTR_FIELDS}
        merged = _merge_pair(side1, side2, h)
    # a component missing from the stars leaves the merged source NULL
    ok = ok1a & (ok1b | (n1 < 2)) & ok2a & (ok2b | (n2 < 2))

    to, tb = np.nonzero(top)
    tc = np.searchsorted(cand, tb)
    # hierarchy: member ids plus the pairs of the unresolved systems
    # contained in this one, by (length, label) (observer.py:133-151)
    labels: dict[tuple, list] = {}
    hier = []
    for b, inner in zip(tb, unres[to] & subset[:, tb].T):
        key = (b, inner.tobytes())
        if key not in labels:
            lab = {str(n) for n in ids[b]}
            lab |= {pair[c] for c in np.flatnonzero(inner) if pair[c] is not None}
            labels[key] = sort_hierarchy(lab)
        hier.append(labels[key])
    mask = ~ok[tc]
    pos = {f: merged[f][tc] for f in ("x", "y", "z", "vx", "vy", "vz")}
    tables.append(arrow_rows(schema, len(tb), {
        "observed_name": [pair[b] for b in tb],
        "hierarchy": hier,
        "is_binary": np.ones(len(tb), bool),
        "is_multi_system": n_members[tb] > 2,
        "is_unresolved_binary": np.ones(len(tb), bool),
        **{f: pa.array(merged[f][tc], mask=mask) for f in _ATTR_FIELDS + _DIST_FIELDS},
        **{f: pa.array(v, mask=mask) for f, v in _frame(coords[to].T, pos).items()},
        **obs_cols(to),
    }, {**const, "_tag": _STAR}))
    return tables[0], pa.concat_tables(tables[1:]), bo, np.concatenate([o, to])


def least_violation() -> Column:
    """The least component-size violation among the kernel's rows: the
    aggregate that ``assemble_runs``' Observation reads."""
    return F.min(F.when(F.col("_tag") == _VIOL, F.struct("obj1_ids", "obj2_ids")))


def raise_violation(bad) -> None:
    """Raise ``least_violation``'s row ``bad``, if there is one: a side
    of more than 2 ids cannot be merged (observer.py:127)."""
    if bad is not None:
        raise ValueError(
            f"Unsupported unresolved component size: {bad['obj1_ids']}/{bad['obj2_ids']}")


def observe(rows: DataFrame) -> ObservedTables:
    """The observed stars and binaries and the packed statistics rows
    of every snapshot, from every coordinate: narrow projections of the
    snapshot checkpoint ``assemble_runs`` returns, with no job of their
    own."""
    tag = F.col("_tag")
    return ObservedTables(
        stars=rows.filter(tag == _STAR).select(
            F.col("observed_name").alias("name"), *_STAR_OUT),
        binary_systems=rows.filter(tag == _BIN).select(
            *KEY, *BIN_FIELDS, *OBS, "dist_obs_pc", "is_unresolved_binary_system",
        ),
        overall_stats=rows.filter(tag == _OVERALL).select(*OKEY, "_stats"),
        annular_stats=rows.filter(tag == _ANNULAR).select(*OKEY, "dist_key", "_stats"),
    )
