"""Snapshot assembly — the reference SnapshotAssembler (assembler.py)
re-expressed as set-based DataFrame dataflow over ALL timestamps at
once.

The reference calls its per-timestamp ``_assemble`` in a loop over
pandas frames; here every per-timestamp dict/map becomes a join keyed by
``(run_id, time)`` and every loop becomes a groupBy — one lazy DAG
Catalyst can optimize end-to-end, parallel across the full
run x timestamp grid (SURVEY §1.1, §3.1).

Outputs three long tables (FIXTURES.md §2): ``stars``,
``binary_systems``, ``snapshot_headers``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.binary import calc_semi_major_axis_au
from nbody6_data_pipeline_spark.functions.hierarchy import (
    hierarchy_pair_label,
    sort_hierarchy,
)
from nbody6_data_pipeline_spark.sources.nbody6 import NBody6Runs

KEY = ["run_id", "time"]


@dataclass
class AssembledTables:
    stars: DataFrame
    binary_systems: DataFrame
    snapshot_headers: DataFrame


_VIOLATIONS = {
    "dup": "Duplicate names found in attributes: {name} at {time}.",
    "missing_attr": "[{time} Myr] Names in OUT34/OUT9 are missing from "
    "fort.82/83 (e.g. {name}).",
    "missing_pv": "[{time} Myr] Names in fort.82/83 are missing from "
    "OUT34/OUT9 (e.g. {name}).",
    "missing_comp": "[{time} Myr] Names from binary pairing info "
    "(OUT9/fort.19) are missing from the star catalog (e.g. {name}).",
}


def _mean_over(vals: F.Column) -> F.Column:
    """np.mean of a (possibly empty) array -> NULL when empty
    (reference assembler.py:289-293: None when no components found)."""
    return F.when(
        F.size(vals) > 0,
        F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / F.size(vals),
    )


def assemble_runs(runs: NBody6Runs, is_strict: bool = True) -> AssembledTables:
    """Assemble stars / binary_systems / snapshot_headers for every run
    in ``runs``. The multi-run tables already carry run_id, and every
    aggregation/join keys on (run_id, time), so N runs assemble as ONE
    lazy DAG with O(1) driver actions (one validation ``first()`` and
    the fan-out checkpoints run once for the whole batch).

    Validation side effects follow the reference: duplicate attr names
    always raise (assembler.py:130-134); in strict mode, names missing
    across file families raise (assembler.py:168-188, 559-581), while
    lax mode drops binaries with a component missing from the star
    catalog. The dissolution cut truncates the series at the FIRST
    r_tidal<=0 timestamp (assembler.py:522-527, 698-704) — expressed as
    a min-over-group comparison, not an ordered scan.
    """
    dens = runs.headers("densCentre.txt").select(
        *KEY, "r_tidal", "density_center"
    )
    out34_h = runs.headers("OUT34")
    out34_d = runs.data("OUT34")
    out9_d = runs.data("OUT9")
    f19_d = runs.data("fort.19")
    f82_d = runs.data("fort.82")
    f83_d = runs.data("fort.83")

    # ---- dissolution cut (series truncated strictly BEFORE first dissolved ts)
    cut = dens.groupBy("run_id").agg(
        F.min(F.when(F.col("r_tidal") <= 0, F.col("time"))).alias("cut_time")
    )
    dens = (
        dens.join(cut, "run_id", "left")
        .filter(F.col("cut_time").isNull() | (F.col("time") < F.col("cut_time")))
        .drop("cut_time")
    )
    live = dens.select(*KEY)

    # ---- J3: cm -> component expansion (assembler.py:81-108)
    cm_map = out9_d.select(
        *KEY,
        F.col("cmName").alias("cm_name"),
        F.array("name1", "name2").alias("components"),
    )
    pos_vel = (
        out34_d.join(live, KEY)
        .join(cm_map.withColumnRenamed("cm_name", "name"), [*KEY, "name"], "left")
        .select(
            *KEY,
            F.explode(F.coalesce("components", F.array("name"))).alias("name"),
            "x", "y", "z", "vx", "vy", "vz",
        )
    )

    # ---- U1/U2/P10: attribute union (assembler.py:110-136)
    attr_cols = ["mass", "zlum", "rad", "tempe"]
    f82_parts = []
    for i in (1, 2):
        f82_parts.append(
            f82_d.select(
                *KEY,
                F.col(f"name{i}").alias("name"),
                *[F.col(f"{a}{i}").alias(a) for a in attr_cols],
            )
        )
    reg_attrs = (
        f82_parts[0].unionByName(f82_parts[1]).dropDuplicates([*KEY, "name"])
    )
    # localCheckpoint (not persist): the star table, the per-time attr
    # maps and the validation each join these tables, and each
    # reference would otherwise embed a full copy of the upstream
    # logical plan — plan canonicalization measurably blows up (OOM at
    # ~40 joins). Truncating lineage here is the Spark-native version
    # of the reference's joblib cache layers (SURVEY §1.4).
    attrs = (
        reg_attrs.unionByName(f83_d.select(*KEY, "name", *attr_cols))
        .join(live, KEY)
        .localCheckpoint()
    )
    pos_vel = pos_vel.localCheckpoint()

    stars = pos_vel.join(attrs, [*KEY, "name"], "inner").withColumnsRenamed(
        {
            "tempe": "log_T_eff_K",
            "zlum": "log_L_L_sol",
            "rad": "log_R_R_sol",
        }
    )

    # ---- F13/F14: distances & flags (assembler.py:191-219)
    stars = stars.join(dens, KEY).withColumn(
        "dist_dc_pc",
        F.sqrt(
            F.pow(F.col("x") - F.col("density_center")[0], 2)
            + F.pow(F.col("y") - F.col("density_center")[1], 2)
            + F.pow(F.col("z") - F.col("density_center")[2], 2)
        ),
    )
    stars = stars.withColumns(
        {
            "dist_dc_r_tidal": F.col("dist_dc_pc") / F.col("r_tidal"),
            "is_within_r_tidal": F.col("dist_dc_pc") <= F.col("r_tidal"),
            "is_within_2x_r_tidal": F.col("dist_dc_pc") <= F.col("r_tidal") * 2,
        }
    )

    # ---- A10/W2: half-mass radius on the ratio<=2 subset
    # (calc/cluster.py:14-31 via assembler.py:206-219: searchsorted ==
    # first distance where cumulative mass >= total/2)
    sub = stars.filter(F.col("dist_dc_r_tidal") <= 2)
    w_cum = (
        W.partitionBy(*KEY)
        .orderBy("dist_dc_pc", "name")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy(*KEY)
    cum = sub.select(
        *KEY,
        "dist_dc_pc",
        F.sum("mass").over(w_cum).alias("cum_mass"),
        F.sum("mass").over(w_all).alias("total_mass_sub"),
    )
    r_hm = (
        cum.filter(F.col("cum_mass") >= F.col("total_mass_sub") / 2)
        .groupBy(*KEY)
        .agg(F.min("dist_dc_pc").alias("r_half_mass"))
    )
    stars = (
        stars.join(r_hm, KEY)
        .withColumn(
            "dist_dc_r_half_mass", F.col("dist_dc_pc") / F.col("r_half_mass")
        )
        .localCheckpoint()
    )

    # ---- A2: per-snapshot star statistics (assembler.py:226-246)
    ratio = F.col("dist_dc_r_tidal")
    star_stats = stars.groupBy(*KEY).agg(
        F.first("r_tidal").alias("_r_tidal"),
        F.first("r_half_mass").alias("_r_half_mass"),
        F.count(F.when(ratio <= 1, 1)).cast("int").alias("n_stars_within_r_tidal"),
        F.count(F.when(ratio <= 2, 1)).cast("int").alias("n_stars_within_2x_r_tidal"),
        F.round(F.sum("mass"), 4).alias("total_mass"),
        F.round(F.sum(F.when(ratio <= 1, F.col("mass"))), 4).alias(
            "total_mass_within_r_tidal"
        ),
        F.round(F.sum(F.when(ratio <= 2, F.col("mass"))), 4).alias(
            "total_mass_within_2x_r_tidal"
        ),
    )

    # ---- binaries (assembler.py:249-479)
    bin_raw = out9_d.select(
        *KEY, "ecc", "semi", "p", "mass1", "mass2", "name1", "name2"
    ).unionByName(
        f19_d.select(*KEY, "ecc", "semi", "p", "mass1", "mass2", "name1", "name2")
    ).join(live, KEY)

    def side(i: int) -> DataFrame:
        return cm_map.select(
            *KEY,
            F.col("cm_name").alias(f"name{i}"),
            F.col("components").alias(f"comp{i}"),
        )

    bins = (
        bin_raw.join(side(1), [*KEY, "name1"], "left")
        .join(side(2), [*KEY, "name2"], "left")
        .withColumns(
            {
                "obj1_ids": F.coalesce(F.col("comp1"), F.array("name1")),
                "obj2_ids": F.coalesce(F.col("comp2"), F.array("name2")),
            }
        )
        .drop("comp1", "comp2")
    )

    # F5 Kepler semi-major axis (AU); F15 canonical pair label
    bins = bins.withColumns(
        {
            "semi": calc_semi_major_axis_au(
                F.col("mass1"), F.col("mass2"), F.col("p")
            ),
            "pair": hierarchy_pair_label(F.col("obj1_ids"), F.col("obj2_ids")),
        }
    ).withColumnsRenamed(
        {"p": "log_period_days", "name1": "obj1_name", "name2": "obj2_name"}
    )

    # ---- validation: duplicate attr names, then (strict) bidirectional
    # missing names and binary components missing from the star catalog
    # (assembler.py:559-581), unioned in the reference's check order
    # into ONE driver action: separate actions would each pay plan
    # optimization and scheduling for one pass over checkpointed tables
    all_ids = F.concat("obj1_ids", "obj2_ids")
    missing = bins.select(
        *KEY, "obj1_ids", "obj2_ids", F.explode(all_ids).alias("name")
    ).join(stars.select(*KEY, "name"), [*KEY, "name"], "left_anti")
    checks = [
        attrs.groupBy(*KEY, "name")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .select(F.lit("dup").alias("_kind"), "time", "name")
    ]
    if is_strict:
        checks += [
            pos_vel.join(attrs, [*KEY, "name"], "left_anti").select(
                F.lit("missing_attr").alias("_kind"), "time", "name"
            ),
            attrs.join(pos_vel, [*KEY, "name"], "left_anti").select(
                F.lit("missing_pv").alias("_kind"), "time", "name"
            ),
            missing.select(F.lit("missing_comp").alias("_kind"), "time", "name"),
        ]
    viol = checks[0]
    for c in checks[1:]:
        viol = viol.unionByName(c)
    bad = viol.first()
    if bad is not None:
        raise ValueError(_VIOLATIONS[bad["_kind"]].format(**bad.asDict()))
    if not is_strict:
        # lax: drop binaries with ANY missing component
        bad_bins = missing.select(*KEY, "obj1_ids", "obj2_ids").distinct()
        bins = bins.join(bad_bins, [*KEY, "obj1_ids", "obj2_ids"], "left_anti")

    # ---- J4/J5/J6: per-time attr maps joined to binaries
    mass_map = attrs.groupBy(*KEY).agg(
        F.map_from_entries(
            F.collect_list(F.struct("name", "mass"))
        ).alias("mmap")
    )
    dist_map = stars.groupBy(*KEY).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    "name",
                    F.struct(
                        "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass"
                    ).alias("d"),
                )
            )
        ).alias("dmap")
    )
    # No broadcast hint: the per-time maps scale with the star table
    # itself (cluster size x timestamps); a shuffle join on KEY keeps
    # memory bounded on a real cluster. Catalyst still broadcasts when
    # the run is small enough.
    bins = bins.join(mass_map, KEY).join(dist_map, KEY)

    mmap, dmap = F.col("mmap"), F.col("dmap")

    def known_ids(ids):
        return F.filter(ids, lambda i: F.map_contains_key(mmap, i))

    def dist_vals(ids, field):
        present = F.filter(ids, lambda i: F.map_contains_key(dmap, i))
        return F.transform(present, lambda i: dmap[i].getField(field))

    bins = bins.withColumns(
        {
            "obj1_masses": F.transform(known_ids(F.col("obj1_ids")), lambda i: mmap[i]),
            "obj2_masses": F.transform(known_ids(F.col("obj2_ids")), lambda i: mmap[i]),
        }
    ).withColumns(
        {
            "obj1_total_mass": F.aggregate(
                F.col("obj1_masses"), F.lit(0.0), lambda a, x: a + x
            ),
            "obj2_total_mass": F.aggregate(
                F.col("obj2_masses"), F.lit(0.0), lambda a, x: a + x
            ),
            "obj1_dist_dc_pc": _mean_over(dist_vals(F.col("obj1_ids"), "dist_dc_pc")),
            "obj2_dist_dc_pc": _mean_over(dist_vals(F.col("obj2_ids"), "dist_dc_pc")),
            "dist_dc_pc": _mean_over(dist_vals(all_ids, "dist_dc_pc")),
            "dist_dc_r_tidal": _mean_over(dist_vals(all_ids, "dist_dc_r_tidal")),
            "dist_dc_r_half_mass": _mean_over(
                dist_vals(all_ids, "dist_dc_r_half_mass")
            ),
            # J6: flag true iff ALL (known) components satisfy it —
            # vacuously true when none known (assembler.py:401-419)
            "is_within_r_tidal": F.forall(
                dist_vals(all_ids, "dist_dc_r_tidal"), lambda v: v <= 1
            ),
            "is_within_2x_r_tidal": F.forall(
                dist_vals(all_ids, "dist_dc_r_tidal"), lambda v: v <= 2
            ),
            "is_multi_system": (F.size("obj1_ids") > 1) | (F.size("obj2_ids") > 1),
        }
    ).drop("mmap", "dmap")

    # F7/F8 wide & hard classification using per-snapshot stats
    bins = bins.join(
        F.broadcast(star_stats.select(*KEY, "_r_half_mass", "n_stars_within_2x_r_tidal")),
        KEY,
    ).withColumns(
        {
            "is_wide_binary_system": F.col("semi") > 1000.0,
            # reference rounds r_half_mass to 4 decimals BEFORE the
            # Heggie threshold (assembler.py star stats dict), so
            # borderline systems must see the rounded value
            "is_hard_binary_system": F.col("semi")
            < (F.round(F.col("_r_half_mass"), 4) * F.lit(206264.80624709636))
            / F.col("n_stars_within_2x_r_tidal"),
        }
    ).drop("_r_half_mass", "n_stars_within_2x_r_tidal")
    bins = bins.localCheckpoint()

    # J8: top-level = sorted(all components) matches no other system's
    # obj1_ids/obj2_ids (assembler.py:438-451)
    members = (
        bins.select(*KEY, F.col("obj1_ids").alias("bin_id"))
        .unionByName(bins.select(*KEY, F.col("obj2_ids").alias("bin_id")))
        .distinct()
        .withColumn("_is_member", F.lit(True))
    )
    bins = (
        bins.withColumn("bin_id", F.array_sort(all_ids))
        .join(F.broadcast(members), [*KEY, "bin_id"], "left")
        .withColumn("is_top_level", F.col("_is_member").isNull())
        .drop("bin_id", "_is_member")
        .localCheckpoint()
    )

    # binary stats for headers (assembler.py:461-476)
    bin_stats = bins.groupBy(*KEY).agg(
        F.count(F.lit(1)).cast("int").alias("n_binary_system"),
        F.sum(F.col("is_multi_system").cast("int")).cast("int").alias("n_multi_system"),
        F.sum(F.col("is_hard_binary_system").cast("int"))
        .cast("int")
        .alias("n_hard_binary_system"),
        F.sum(F.col("is_wide_binary_system").cast("int"))
        .cast("int")
        .alias("n_wide_binary_system"),
        F.sum(F.col("is_within_r_tidal").cast("int"))
        .cast("int")
        .alias("n_binary_system_within_r_tidal"),
        F.sum(F.col("is_within_2x_r_tidal").cast("int"))
        .cast("int")
        .alias("n_binary_system_within_2x_r_tidal"),
    )

    # ---- A1/J7/F16/F17: hierarchy (assembler.py:583-617), built from
    # the SURVIVING binary rows (post lax-mode drop)
    hmap = (
        bins.select(
            *KEY,
            "pair",
            F.explode(F.concat("obj1_ids", "obj2_ids")).alias("name"),
        )
        .groupBy(*KEY, "name")
        .agg(F.collect_list("pair").alias("pairs"))
        .select(
            *KEY,
            "name",
            # concat, NOT array_union: the reference builds
            # list(pairs) + [name] keeping duplicate pair labels (a
            # star in two identically-labeled systems has
            # len(hierarchy) > 2 and is_multi_system=True)
            sort_hierarchy(
                F.concat(
                    F.col("pairs"), F.array(F.col("name").cast("string"))
                )
            ).alias("hierarchy"),
        )
    )
    stars = (
        stars.join(hmap, [*KEY, "name"], "left")
        .withColumns(
            {
                "is_binary": F.col("hierarchy").isNotNull(),
                "hierarchy": F.coalesce(
                    F.col("hierarchy"), F.array(F.col("name").cast("string"))
                ),
            }
        )
        .withColumn("is_multi_system", F.size("hierarchy") > 2)
    )

    # ---- final projections (assembler.py:26-69 key tuples)
    stars_out = stars.select(
        *KEY,
        "name",
        "is_binary",
        "is_multi_system",
        "hierarchy",
        "x", "y", "z", "vx", "vy", "vz",
        "mass",
        "log_T_eff_K",
        "log_L_L_sol",
        "log_R_R_sol",
        "dist_dc_pc",
        "dist_dc_r_tidal",
        "dist_dc_r_half_mass",
        "is_within_r_tidal",
        "is_within_2x_r_tidal",
    )
    bins_out = bins.select(
        *KEY,
        "pair",
        "obj1_name", "obj2_name",
        "obj1_ids", "obj2_ids",
        "ecc", "semi", "log_period_days",
        "obj1_masses", "obj2_masses",
        "obj1_total_mass", "obj2_total_mass",
        "obj1_dist_dc_pc", "obj2_dist_dc_pc",
        "is_multi_system",
        "is_top_level",
        "is_wide_binary_system",
        "is_hard_binary_system",
        "dist_dc_pc",
        "dist_dc_r_tidal",
        "dist_dc_r_half_mass",
        "is_within_r_tidal",
        "is_within_2x_r_tidal",
    )

    # ---- snapshot headers (assembler.py:481-514)
    headers = (
        dens.join(star_stats, KEY)
        .join(bin_stats, KEY, "left")
        .join(
            out34_h.select(
                *KEY,
                F.col("time_raw").alias("time_OUT34"),
                "nzero", "rbar", "vstar", "rtide", "plummer_mass",
                "rd", "rcm", "rg", "vg",
            ),
            KEY,
            "left",
        )
        .select(
            *KEY,
            "density_center",
            F.round("_r_tidal", 4).alias("r_tidal"),
            F.round("_r_half_mass", 4).alias("r_half_mass"),
            "n_stars_within_r_tidal",
            "n_stars_within_2x_r_tidal",
            "total_mass",
            "total_mass_within_r_tidal",
            "total_mass_within_2x_r_tidal",
            # NULL (not 0) when a snapshot has no binary rows — the
            # reference's header dict simply lacks these keys then
            # (assembler.py:346-348), surfacing as NaN in stacked stats.
            "n_binary_system",
            "n_multi_system",
            "n_hard_binary_system",
            "n_wide_binary_system",
            "n_binary_system_within_r_tidal",
            "n_binary_system_within_2x_r_tidal",
            F.round("rtide", 4).alias("r_tidal_OUT34"),
            F.transform("rd", lambda v: F.round(v, 4)).alias("density_center_OUT34"),
            F.transform("rcm", lambda v: F.round(v, 4)).alias("mass_center_OUT34"),
            F.transform("rg", lambda v: F.round(v * F.col("rbar"), 4)).alias(
                "galactic_pos_OUT34"
            ),
            F.transform("vg", lambda v: F.round(v * F.col("vstar"), 4)).alias(
                "galactic_vel_OUT34"
            ),
            "nzero",
            F.col("plummer_mass").alias("plummer_mass_OUT34"),
        )
        # computed once: the parquet layer, observe and the
        # statistics' header join each read it
        .localCheckpoint()
    )

    return AssembledTables(
        stars=stars_out, binary_systems=bins_out, snapshot_headers=headers
    )
