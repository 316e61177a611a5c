"""Per-snapshot statistics (SURVEY §2.4 A2-A5).

Reference: snapshot.py:164-305 (overall, 3-scope descriptive stats)
and snapshot.py:314-440 (annular histograms), computed one snapshot at
a time right after observing it. So here: the observe half of the
per-snapshot kernel (``observe.observe_snapshot``) calls
``snapshot_statistics`` on the rows it has just built, for every
observer, and emits tagged rows with the values packed in ``_stats``;
``overall_statistics`` and ``annular_statistics`` unpack them, narrow
projections with no aggregation. Stacking across snapshots/series/
collections (series.py:158-194, collection.py:202-242) is free — the
rows carry the full composite key.

Each statistic is defined once, in numpy, with the semantics of the
Spark aggregate it stands for (exact ``percentile``: linear
interpolation, pandas ``quantile`` parity, SURVEY §7.4.4). Each group's
values are sorted before every float reduction, so the results do not
depend on row order or partitioning.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCOPES = [("", None), ("within_r_tidal_", "is_within_r_tidal"),
          ("within_2x_r_tidal_", "is_within_2x_r_tidal")]

BIN_STAT_COLS = ["ecc", "semi", "log_period_days"]
BIN_TYPES = ["wide", "hard", "unresolved"]
DIST_KEYS = ("dist_dc_r_tidal", "dist_dc_r_half_mass")
DESCRIPTIVE = ("mean", "std", "min", "q1", "median", "q3", "max")
_QUANTILES = {"q1": 0.25, "median": 0.5, "q3": 0.75}

# the key of both statistics tables, in table order
STATS_KEY = ["run_id", "obs_x", "obs_y", "obs_z", "time"]


def overall_fields() -> list[tuple[str, str]]:
    """Name and type of each overall_stats column after the key."""
    fields = []
    for p, _ in SCOPES:
        fields += [(f"{p}n_star", "bigint"), (f"{p}n_binary_star", "bigint"),
                   (f"{p}total_mass", "double")]
        fields += [(f"{p}mass_{s}", "double") for s in DESCRIPTIVE]
    for p, _ in SCOPES:
        fields.append((f"{p}n_binary_system", "bigint"))
        fields += [(f"{p}{c}_{s}", "double") for c in BIN_STAT_COLS for s in DESCRIPTIVE]
        fields += [(f"{p}n_{t}_binary_system", "bigint") for t in BIN_TYPES]
    return fields + [("r_tidal", "double"), ("r_half_mass", "double")]


# annular_stats columns after the key and dist_key, all bigint
ANNULAR_FIELDS = ["radius", "n_star", "n_single", "n_binary_star", "n_binary_system",
                  *sorted(f"n_{t}_binary_system" for t in BIN_TYPES)]


def _values(t: pa.Table, name: str) -> tuple[np.ndarray, np.ndarray]:
    """Column ``name`` as floats (NULL read as 0) and its validity."""
    c = t.column(name)
    return c.fill_null(0).to_numpy().astype(float), pc.is_valid(c).to_numpy()


def _flag(t: pa.Table, name: str) -> np.ndarray:
    """Boolean column ``name``, NULL as false: like ``when(flag, ...)``,
    a NULL scope flag leaves the row out of the scope."""
    return t.column(name).fill_null(False).to_numpy()


def describe(values: np.ndarray, keep: np.ndarray, group: np.ndarray, n: int):
    """Sum and ``DESCRIPTIVE`` of ``values[keep]`` per group 0..n-1, as
    Spark's sum, avg, stddev_samp, min, percentile and max (reference
    calc/summary.py:20-36; std is the pandas sample std, ddof=1). The
    statistics are masked arrays, masked where Spark gives NULL."""
    g, v = group[keep], values[keep]
    order = np.lexsort((v, g))  # NaN sorts last, as in Spark
    # a NaN pad keeps every index below in range for an empty group
    g, v = g[order], np.append(v[order], np.nan)
    cnt = np.bincount(g, minlength=n)
    start = np.cumsum(cnt) - cnt
    total = np.bincount(g, v[:-1], n)
    with np.errstate(invalid="ignore", divide="ignore"):
        # deviations from the group's least value first: equal values
        # give a std of exactly 0
        d = v[:-1] - v[start][g]
        dev = d - (np.bincount(g, d, n) / cnt)[g]
        out = {"mean": total / cnt, "min": v[start], "max": v[start + cnt - 1],
               "std": np.sqrt(np.bincount(g, dev * dev, n) / (cnt - 1))}
        for name, p in _QUANTILES.items():
            # Spark's Percentile.getPercentile, term for term
            pos = (cnt - 1) * p
            lo, hi = np.floor(pos).astype(np.int64), np.ceil(pos).astype(np.int64)
            a, b = v[start + lo], v[start + hi]
            out[name] = np.where((lo == hi) | (a == b), a, (hi - pos) * a + (pos - lo) * b)
    return total, {s: np.ma.masked_array(out[s], cnt < (2 if s == "std" else 1))
                   for s in DESCRIPTIVE}


def overall_columns(stars: pa.Table, bins: pa.Table, star_group: np.ndarray,
                    bin_group: np.ndarray, n: int) -> dict:
    """A3 — scoped descriptive statistics of each group (the three
    mask_specs loops of snapshot.py:181-211), keyed by the names of
    ``overall_fields`` but r_tidal and r_half_mass."""
    out = {}
    (mass, has_mass), is_bin = _values(stars, "mass"), _flag(stars, "is_binary")
    for p, flag in SCOPES:
        scope = np.ones(stars.num_rows, bool) if flag is None else _flag(stars, flag)
        keep = scope & has_mass
        out[f"{p}total_mass"], desc = describe(mass, keep, star_group, n)
        out[f"{p}n_star"] = np.bincount(star_group[keep], minlength=n)
        out[f"{p}n_binary_star"] = np.bincount(star_group[scope & is_bin], minlength=n)
        out.update({f"{p}mass_{s}": v for s, v in desc.items()})
    for p, flag in SCOPES:
        scope = np.ones(bins.num_rows, bool) if flag is None else _flag(bins, flag)
        out[f"{p}n_binary_system"] = np.bincount(bin_group[scope], minlength=n)
        for c in BIN_STAT_COLS:
            vals, ok = _values(bins, c)
            desc = describe(vals, scope & ok, bin_group, n)[1]
            out.update({f"{p}{c}_{s}": v for s, v in desc.items()})
        for t in BIN_TYPES:
            is_t = scope & _flag(bins, f"is_{t}_binary_system")
            out[f"{p}n_{t}_binary_system"] = np.bincount(bin_group[is_t], minlength=n)
    return out


def is_binary_star(stars: pa.Table, bins: pa.Table) -> np.ndarray:
    """A star counts as a binary star in the annular histogram iff its
    hierarchy holds a pair label of the CURRENT snapshot
    (snapshot.py:325-345), not by the static is_binary flag. Every
    observer sees all of a snapshot's binaries, so one label set serves
    all groups."""
    h = stars.column("hierarchy").combine_chunks()
    hit = pc.is_in(pc.list_flatten(h), value_set=bins.column("pair").combine_chunks())
    parent = pc.list_parent_indices(h).to_numpy()
    return np.bincount(parent[hit.to_numpy(zero_copy_only=False)], minlength=len(h)) > 0


def annular_columns(stars: pa.Table, bins: pa.Table, star_group: np.ndarray,
                    bin_group: np.ndarray) -> tuple:
    """A4 — annular histogram per (group, dist_key, radius): the group,
    the index into ``DIST_KEYS`` and the ``ANNULAR_FIELDS`` of each bin,
    sorted. radius = ceil(max(dist, 0)), so a NULL distance bins at 0
    as ``greatest`` skips NULL; np.bincount == groupBy-count. Only bins
    with stars are kept (snapshot.py:417)."""
    k = len(DIST_KEYS)

    def cells(t: pa.Table, group: np.ndarray):
        r = np.stack([np.ceil(np.fmax(_values(t, key)[0], 0.0)) for key in DIST_KEYS])
        return (group * k + np.arange(k)[:, None]).ravel(), r.astype(np.int64).ravel()

    (s_cell, s_r), (b_cell, b_r) = cells(stars, star_group), cells(bins, bin_group)
    width = max(s_r.max(initial=0), b_r.max(initial=0)) + 1
    keys, star_bin = np.unique(s_cell * width + s_r, return_inverse=True)
    b_code = b_cell * width + b_r
    bin_bin = np.searchsorted(keys, b_code)
    found = np.append(keys, -1)[bin_bin] == b_code  # codes are >= 0

    def count(idx: np.ndarray, sel: np.ndarray) -> np.ndarray:
        return np.bincount(idx[sel], minlength=len(keys))

    n_star = np.bincount(star_bin, minlength=len(keys))
    binary_star = is_binary_star(stars, bins)
    n_binary_star = count(star_bin, np.tile(binary_star, k))
    cols = {"radius": keys % width, "n_star": n_star, "n_single": n_star - n_binary_star,
            "n_binary_star": n_binary_star, "n_binary_system": count(bin_bin, found)}
    for t in BIN_TYPES:
        is_t = found & np.tile(_flag(bins, f"is_{t}_binary_system"), k)
        cols[f"n_{t}_binary_system"] = count(bin_bin, is_t)
    return keys // width // k, keys // width % k, cols


def _packed(columns: list, rows: np.ndarray) -> pa.ListArray:
    """The values of ``columns`` at ``rows``, one list<double> per row;
    masked values become NULL."""
    m = np.ma.column_stack(columns)[rows]
    flat = pa.array(m.data.ravel().astype(float), mask=np.ma.getmaskarray(m).ravel())
    offsets = np.arange(len(m) + 1, dtype=np.int32) * m.shape[1]
    return pa.ListArray.from_arrays(pa.array(offsets), flat)


def snapshot_statistics(stars: pa.Table, star_obs: np.ndarray, bins: pa.Table,
                        bin_obs: np.ndarray, n_obs: int, header: dict) -> tuple:
    """Both statistics of one snapshot's observed stars and binaries,
    grouped by observer index: ``(observers, columns)`` for the overall
    rows (one per observer that sees a star) and for the annular rows,
    with the values packed in ``_stats`` for ``overall_statistics`` and
    ``annular_statistics`` to unpack."""
    cols = overall_columns(stars, bins, star_obs, bin_obs, n_obs)
    for f in ("r_tidal", "r_half_mass"):
        v = header.get(f)
        cols[f] = np.ma.masked_array(np.full(n_obs, np.nan if v is None else v), v is None)
    seen = np.flatnonzero(np.bincount(star_obs, minlength=n_obs))
    overall = _packed([cols[f] for f, _ in overall_fields()], seen)
    obs, key, ann = annular_columns(stars, bins, star_obs, bin_obs)
    return (
        (seen, {"_stats": overall}),
        (obs, {"dist_key": np.array(DIST_KEYS)[key],
               "_stats": _packed([ann[f] for f in ANNULAR_FIELDS], slice(None))}),
    )


def _unpacked(rows: DataFrame, fields: list, attrs: dict[str, dict], *key) -> DataFrame:
    """``rows``' key, ``_stats`` as the typed ``fields``, and the per-run
    ``attrs`` (init_mass_lv, ...) as literal columns keyed on run_id."""
    stats, run = F.col("_stats"), F.col("run_id")
    names = sorted({k for a in attrs.values() for k in a})
    return rows.select(*STATS_KEY, *key, *[
        stats[i].cast(t).alias(name) for i, (name, t) in enumerate(fields)
    ], *[
        F.create_map(*[F.lit(x) for r, a in attrs.items() for x in (r, a.get(k))])[run]
        .cast("long").alias(k) for k in names
    ])


def overall_statistics(rows: DataFrame, attrs: dict[str, dict]) -> DataFrame:
    """A3 — overall_stats: one row per (run, observer, time) with an
    observed star, from observe's overall rows."""
    return _unpacked(rows, overall_fields(), attrs)


def annular_statistics(rows: DataFrame, attrs: dict[str, dict]) -> DataFrame:
    """A4 — annular_stats: one row per (run, observer, time, dist_key,
    radius) bin with stars, from observe's annular rows."""
    return _unpacked(rows, [(f, "bigint") for f in ANNULAR_FIELDS], attrs, "dist_key")


def timestamp_summary(headers: DataFrame, group_cols: list[str]) -> DataFrame:
    """A9 — count/min/max/mean-step of timestamps per run
    (reference calc/summary.py:7-17). mean(diff) == (max-min)/(n-1).
    """
    n = F.count(F.lit(1))
    return headers.groupBy(*group_cols).agg(
        n.alias("count"),
        F.min("time").alias("min"),
        F.max("time").alias("max"),
        F.round(
            F.when(n > 1, (F.max("time") - F.min("time")) / (n - 1)), 2
        ).alias("step"),
    )
