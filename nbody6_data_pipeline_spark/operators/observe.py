"""M5 — pseudo-observation (reference observer.py).

For each observer coordinate: pre-filter to 2x tidal radius, trim
hierarchies, transform to the sky offset frame, classify binary
systems as resolved/unresolved by angular separation, and replace each
top-level unresolved system by one photocentric merged source.

The reference's ``for coord: for ts:`` double loop (observer.py:
276-327) becomes a CROSS JOIN with the coordinates table — the
observation grid is just one more key column ``(obs_x, obs_y, obs_z)``
on the same long tables, and Spark parallelizes across the full
(run, coord, time) grid.

The recursive merge (observer.py:88-171) flattens to TWO merge levels
because ``_fetch_attrs`` only accepts component groups of size 1 or 2
(observer.py:117-127): merge each side's pair (if size 2), then merge
the two sides — all native column expressions over joined star
attributes; no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.astro import offset_frame_columns
from nbody6_data_pipeline_spark.functions.binary import (
    calc_log_equivalent_radius,
    calc_total_log_luminosity,
)
from nbody6_data_pipeline_spark.functions.constants import UNRESOLVED_SEP_FACTOR
from nbody6_data_pipeline_spark.functions.star import (
    calc_log_effective_temperature_K,
)
from nbody6_data_pipeline_spark.operators.assemble import AssembledTables

KEY = ["run_id", "time"]
OKEY = [*KEY, "obs_x", "obs_y", "obs_z"]

_ATTR_FIELDS = [
    "x", "y", "z", "vx", "vy", "vz",
    "mass", "log_L_L_sol", "log_R_R_sol", "log_T_eff_K",
]
# merge output shape == full attr shape (reference _fetch_attrs of a
# single id returns the whole star row, observer.py:117-119)
_DIST_FIELDS = [
    "dist_dc_pc",
    "dist_dc_r_tidal",
    "dist_dc_r_half_mass",
    "is_within_r_tidal",
    "is_within_2x_r_tidal",
]
_STRUCT_FIELDS = _ATTR_FIELDS + _DIST_FIELDS


@dataclass
class ObservedTables:
    stars: DataFrame
    binary_systems: DataFrame


def coord_df(spark: SparkSession, coordinates: list[tuple]) -> DataFrame:
    """The observer grid as a (obs_x, obs_y, obs_z) table."""
    return spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in coordinates],
        "obs_x double, obs_y double, obs_z double",
    )


def default_observer_coordinates() -> list[tuple]:
    """The reference's 18 observer distances along +x
    (collect_simulation_stats.py:100-110)."""
    xs = list(range(50, 551, 50)) + list(range(600, 1201, 100))
    return [(float(x), 0.0, 0.0) for x in xs]


def _attr_struct(prefix: str = "") -> Column:
    return F.struct(*[F.col(f"{prefix}{f}").alias(f) for f in _STRUCT_FIELDS])


def _merge_pair(s1: Column, s2: Column, hdr: dict[str, Column]) -> Column:
    """Photocentric merge of two component structs
    (observer.py:41-86 _merge_unresolved_binaries), as one struct."""
    l1 = F.pow(F.lit(10.0), s1.getField("log_L_L_sol"))
    l2 = F.pow(F.lit(10.0), s2.getField("log_L_L_sol"))
    total = l1 + l2

    def photo(f: str) -> Column:
        a, b = s1.getField(f), s2.getField(f)
        return F.when(F.abs(total) < 1e-8, (a + b) / 2.0).otherwise(
            (l1 * a + l2 * b) / total
        )

    px, py, pz = photo("x"), photo("y"), photo("z")
    dc = hdr["density_center"]
    dist_dc = F.sqrt(
        F.pow(px - dc[0], 2) + F.pow(py - dc[1], 2) + F.pow(pz - dc[2], 2)
    )
    log_l = calc_total_log_luminosity(
        s1.getField("log_L_L_sol"), s2.getField("log_L_L_sol")
    )
    log_r = calc_log_equivalent_radius(
        s1.getField("log_R_R_sol"), s2.getField("log_R_R_sol")
    )
    return F.struct(
        px.alias("x"), py.alias("y"), pz.alias("z"),
        photo("vx").alias("vx"), photo("vy").alias("vy"), photo("vz").alias("vz"),
        (s1.getField("mass") + s2.getField("mass")).alias("mass"),
        log_l.alias("log_L_L_sol"),
        log_r.alias("log_R_R_sol"),
        calc_log_effective_temperature_K(log_l, log_r).alias("log_T_eff_K"),
        dist_dc.alias("dist_dc_pc"),
        (dist_dc / hdr["r_tidal"]).alias("dist_dc_r_tidal"),
        (dist_dc / hdr["r_half_mass"]).alias("dist_dc_r_half_mass"),
        (dist_dc <= hdr["r_tidal"]).alias("is_within_r_tidal"),
        (dist_dc <= hdr["r_tidal"] * 2).alias("is_within_2x_r_tidal"),
    )


def observe(
    spark: SparkSession,
    assembled: AssembledTables,
    coordinates: list[tuple] | None = None,
) -> ObservedTables:
    coords = coord_df(spark, coordinates or default_observer_coordinates())

    # ---- P4 pre-filter, fanned out over the observer grid
    stars0 = (
        assembled.stars.filter("is_within_2x_r_tidal")
        .crossJoin(F.broadcast(coords))
    )
    bins0 = (
        assembled.binary_systems.filter("is_within_2x_r_tidal")
        .crossJoin(F.broadcast(coords))
    )

    # ---- F16 trim: keep hierarchy entries that are surviving pairs or
    # atomic ids (observer.py:185-191)
    pair_sets = (
        assembled.binary_systems.filter("is_within_2x_r_tidal")
        .groupBy(*KEY)
        .agg(F.collect_set("pair").alias("_pairs"))
    )
    stars0 = (
        stars0.join(pair_sets, KEY, "left")
        .withColumn(
            "hierarchy",
            F.filter(
                F.col("hierarchy"),
                lambda p: (~p.contains("+"))
                | F.array_contains(F.coalesce("_pairs", F.array()), p),
            ),
        )
        .drop("_pairs")
        .withColumns(
            {
                "is_binary": F.size("hierarchy") > 1,
                "is_multi_system": F.size("hierarchy") > 2,
            }
        )
    )

    # ---- U1: offset-frame transform of all (filtered) stars
    obs_cols = offset_frame_columns(
        F.col("obs_x") + F.col("x"),
        F.col("obs_y") + F.col("y"),
        F.col("obs_z") + F.col("z"),
        F.col("vx"), F.col("vy"), F.col("vz"),
        F.col("obs_x"), F.col("obs_y"), F.col("obs_z"),
    )
    stars_obs = stars0.withColumns(obs_cols).localCheckpoint()

    # ---- F21: resolvability from mean component observed distance
    dist_map = stars_obs.groupBy(*OKEY).agg(
        F.map_from_entries(
            F.collect_list(F.struct("name", "dist_pc"))
        ).alias("_dm")
    )
    all_ids = F.concat("obj1_ids", "obj2_ids")
    bins_obs = (
        bins0.join(dist_map, OKEY)
        .withColumn(
            "dist_obs_pc",
            F.aggregate(
                F.transform(all_ids, lambda i: F.col("_dm")[i]),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / F.size(all_ids),
        )
        .withColumn(
            "is_unresolved_binary_system",
            F.col("semi") <= F.col("dist_obs_pc") * F.lit(UNRESOLVED_SEP_FACTOR),
        )
        .drop("_dm")
        .localCheckpoint()
    )

    # ---- singles and resolved members (observer.py:203-237)
    resolved_names = (
        bins_obs.filter(~F.col("is_unresolved_binary_system"))
        .select(*OKEY, F.explode(all_ids).alias("name"))
        .distinct()
    )
    singles = stars_obs.filter(~F.col("is_binary")).withColumn(
        "is_unresolved_binary", F.lit(False)
    )
    resolved = (
        stars_obs.join(resolved_names, [*OKEY, "name"], "left_semi")
        .withColumns({"is_unresolved_binary": F.lit(False), "is_binary": F.lit(True)})
    )

    # ---- U2: merge top-level unresolved systems
    unres = bins_obs.filter("is_unresolved_binary_system")
    bad = unres.filter(
        (F.size("obj1_ids") > 2) | (F.size("obj2_ids") > 2)
    ).first()
    if bad is not None:
        raise ValueError(
            f"Unsupported unresolved component size: {bad['obj1_ids']}/{bad['obj2_ids']}"
        )

    members = F.array_sort(F.array_distinct(all_ids))
    unres_m = unres.withColumn("members", members)
    # strict-subset check (observer.py:98-109): drop systems whose
    # member set is contained in a LARGER system's member set
    top = unres_m.alias("a").join(
        unres_m.alias("b"),
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in OKEY]
        + [
            F.size(F.array_except("a.members", "b.members")) == 0,
            F.size("a.members") < F.size("b.members"),
        ],
        "left_anti",
    )

    # attach component star attr structs (4 slots: each side 1-2 ids)
    attrs = stars_obs.select(
        *OKEY, F.col("name").alias("_n"), _attr_struct().alias("_s")
    )

    def join_slot(df: DataFrame, ids_col: str, pos: int, alias: str) -> DataFrame:
        a = attrs.select(
            *[F.col(k).alias(f"__{alias}_{k}") for k in OKEY],
            F.col("_n").alias(f"__{alias}_n"),
            F.col("_s").alias(alias),
        )
        # F.get is 0-based and null-safe for out-of-range (a side may
        # have 1 or 2 components; ANSI element_at would throw)
        cond = [df[k] == a[f"__{alias}_{k}"] for k in OKEY] + [
            F.get(df[ids_col], pos - 1) == a[f"__{alias}_n"]
        ]
        return df.join(a, cond, "left").drop(
            *[f"__{alias}_{k}" for k in OKEY], f"__{alias}_n"
        )

    top = join_slot(top, "obj1_ids", 1, "_s1a")
    top = join_slot(top, "obj1_ids", 2, "_s1b")
    top = join_slot(top, "obj2_ids", 1, "_s2a")
    top = join_slot(top, "obj2_ids", 2, "_s2b")

    hdr_df = assembled.snapshot_headers.select(
        *KEY,
        F.col("density_center").alias("_dc"),
        F.col("r_tidal").alias("_rt"),
        F.col("r_half_mass").alias("_rhm"),
    )
    top = top.join(hdr_df, KEY)
    hdr = {
        "density_center": F.col("_dc"),
        "r_tidal": F.col("_rt"),
        "r_half_mass": F.col("_rhm"),
    }

    # Each merge level is materialized as its OWN column before the
    # next level references it: inlining `side1`/`side2` directly into
    # _merge_pair would embed their whole expression trees at every one
    # of the ~20 field references, giving an exponentially duplicated
    # analyzed plan (measured: 40+ s of driver-side Catalyst time for a
    # 10-run batch). As separate non-cheap multi-referenced aliases,
    # CollapseProject keeps the projects layered and every level only
    # references attributes.
    top = top.withColumns(
        {
            "_side1": F.when(
                F.size("obj1_ids") == 2,
                _merge_pair(F.col("_s1a"), F.col("_s1b"), hdr),
            ).otherwise(F.col("_s1a")),
            "_side2": F.when(
                F.size("obj2_ids") == 2,
                _merge_pair(F.col("_s2a"), F.col("_s2b"), hdr),
            ).otherwise(F.col("_s2a")),
        }
    )
    top = top.withColumn(
        "_m", _merge_pair(F.col("_side1"), F.col("_side2"), hdr)
    ).drop("_s1a", "_s1b", "_s2a", "_s2b", "_side1", "_side2")

    # hierarchy: member id strings + pair labels of unresolved systems
    # whose members are a subset of this one (observer.py:133-151)
    sub_pairs = (
        top.select(*OKEY, "pair", "members")
        .join(
            unres_m.select(
                *OKEY,
                F.col("pair").alias("_sub_pair"),
                F.col("members").alias("_sub_members"),
            ),
            OKEY,
        )
        .filter(F.size(F.array_except("_sub_members", "members")) == 0)
        .groupBy(*OKEY, "pair")
        .agg(F.collect_set("_sub_pair").alias("_sub_pairs"))
    )
    top = top.join(sub_pairs, [*OKEY, "pair"], "left")
    hierarchy = F.array_sort(
        F.transform(
            F.array_union(
                F.transform("members", lambda i: i.cast("string")),
                F.coalesce("_sub_pairs", F.array()),
            ),
            lambda p: F.struct(F.length(p).alias("l"), p.alias("p")),
        )
    )
    merged = top.select(
        *OKEY,
        F.col("pair").alias("name_str"),
        F.transform(hierarchy, lambda s: s.getField("p")).alias("hierarchy"),
        (F.size("members") > 2).alias("is_multi_system"),
        F.col("_m").alias("_m"),
    )
    # unpack the merged struct and observe it
    merged = merged.select(
        *OKEY,
        "name_str",
        "hierarchy",
        "is_multi_system",
        *[F.col("_m").getField(f).alias(f) for f in _STRUCT_FIELDS],
    )
    merged = merged.withColumns(
        offset_frame_columns(
            F.col("obs_x") + F.col("x"),
            F.col("obs_y") + F.col("y"),
            F.col("obs_z") + F.col("z"),
            F.col("vx"), F.col("vy"), F.col("vz"),
            F.col("obs_x"), F.col("obs_y"), F.col("obs_z"),
        )
    ).withColumns(
        {"is_binary": F.lit(True), "is_unresolved_binary": F.lit(True)}
    )

    # ---- U1 union: singles + resolved + merged (observer.py:255-257)
    out_common = [
        *OKEY,
        "is_binary", "is_multi_system", "is_unresolved_binary",
        "is_within_r_tidal", "is_within_2x_r_tidal",
        "hierarchy",
        "x", "y", "z", "vx", "vy", "vz",
        "mass", "log_T_eff_K", "log_L_L_sol", "log_R_R_sol",
        "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass",
        "lon_deg", "lat_deg", "pm_lon_coslat_mas_yr", "pm_lat_mas_yr",
        "dist_pc", "rv_kms",
    ]
    stars_out = (
        singles.select(F.col("name").cast("string").alias("name"), *out_common)
        .unionByName(
            resolved.select(
                F.col("name").cast("string").alias("name"), *out_common
            )
        )
        .unionByName(
            merged.select(F.col("name_str").alias("name"), *out_common)
        )
    )
    return ObservedTables(stars=stars_out, binary_systems=bins_obs)
