"""End-to-end pipeline orchestration (reference entry point 1:
collect_simulation_stats.process_all, SURVEY §3.1).

``process_all`` discovers the runs, skips those already complete, and
sends every pending run through each layer as one batch: parse ->
align -> assemble -> observe (18 coordinates) -> overall + annular
statistics -> parquet layers + CSV export. Parse is one Arrow task
per file (``mapInArrow``); align is a per-run grouped-map kernel keyed
on ``run_id``; one per-snapshot grouped-map kernel keyed on
``(run_id, time)`` assembles each snapshot, observes it and computes
both its statistics. Each kernel's output is materialized by one
checkpoint. The assembled, observed and statistics tables are all
projections of the snapshot checkpoint, which ``assemble_runs`` makes,
so the observe and statistics layers are only their writes. Each layer
runs O(1) Spark actions whatever the run count.
Each parquet layer is a run_id-partitioned dataset written with
dynamic partition overwrite; the CSV export is
``csv/<layer>/run_id=<id>/``. Completed runs are found by listing the
``overall_stats`` partitions (the reference's joblib/CSV
skip-if-exists resume, collect_simulation_stats.py:59-117).

The reference tiers process-level parallelism by cluster mass
(n_jobs=30/12/2) to avoid OOM; here Spark schedules the tasks of the
batched DAG and AQE handles the size skew, so no hand tiering is
needed (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs, assembled_tables
from nbody6_data_pipeline_spark.operators.observe import default_observer_coordinates, observe
from nbody6_data_pipeline_spark.operators.statistics import annular_statistics, overall_statistics
from nbody6_data_pipeline_spark.plans.checkpoints import completed_runs
from nbody6_data_pipeline_spark.sources.discovery import RunInfo, fetch_sim_runs
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from nbody6_data_pipeline_spark.sources.sinks import write_csv, write_parquet

LAYERS = (
    "assembled_stars", "assembled_binary_systems", "snapshot_headers",
    "observed_stars", "observed_binary_systems", "overall_stats", "annular_stats",
)


def process_all(
    spark: SparkSession,
    sim_root_base: str,
    output_base: str,
    coordinates: list[tuple] | None = None,
    is_strict: bool = True,
    is_slim: bool = True,
) -> list[RunInfo]:
    """Discover runs (S9) and process every pending one as a batch;
    returns all discovered runs. ``is_slim`` skips persisting the raw
    (pre-observation) star tables (reference observer.py:268-273).

    load_runs reads and splits every run's files once, one Arrow task
    per file, into one checkpointed block table (its structural check
    rides on that scan), align_runs makes every run's alignment decision and
    dissolution cut in one per-run kernel and checkpoints the aligned
    table, assemble_runs assembles and observes every snapshot in one
    grouped-map kernel into one checkpoint (``assembled_tables`` and
    ``observe`` return projections of it, the statistics included),
    and each layer is ONE partitioned write covering all new runs."""
    coordinates = coordinates or default_observer_coordinates()
    paths = {name: os.path.join(output_base, name) for name in LAYERS}

    runs = fetch_sim_runs(sim_root_base)
    done = completed_runs(spark, paths["overall_stats"])
    pending = [r for r in runs if r.label not in done]
    if not pending:
        return runs

    _process_pending(spark, output_base, paths, coordinates, is_strict, is_slim, pending)
    return runs


# perfbench/run.py calls the orchestrator by this name.
process_all_batched = process_all


def _process_pending(
    spark, output_base, paths, coordinates, is_strict, is_slim, pending
):
    # Per-layer job descriptions: the driver loop is sequential, so the
    # description current when an ACTION fires labels every job of that
    # layer. perfbench/spans.py reads them to attribute jobs to layers,
    # and the scale bench (tools/bench_pipeline_scale.py) reads them
    # back from the status REST API to attribute wall/jobs/shuffle per
    # layer; also what you want in the Spark UI on a real cluster.
    sc = spark.sparkContext
    sc.setJobDescription("layer:parse")
    multi = load_runs(spark, [(r.label, r.path) for r in pending], is_strict=is_strict)
    sc.setJobDescription("layer:align")
    aligned = align_runs(multi)
    sc.setJobDescription("layer:assemble")
    snapshots = assemble_runs(aligned, is_strict, coordinates, is_slim)
    asm = assembled_tables(snapshots)
    if not is_slim:
        write_parquet(asm.stars, paths["assembled_stars"], ["run_id"])
        write_parquet(asm.binary_systems, paths["assembled_binary_systems"], ["run_id"])
    write_parquet(asm.snapshot_headers, paths["snapshot_headers"], ["run_id"])

    sc.setJobDescription("layer:observe")
    obs = observe(snapshots)
    write_parquet(obs.stars, paths["observed_stars"], ["run_id"])
    write_parquet(obs.binary_systems, paths["observed_binary_systems"], ["run_id"])

    # per-(coord, time) statistics of the OBSERVED snapshots — the
    # reference's collection.statistics walk (collection.py:202-242) —
    # with the per-run attrs (init_mass_lv, ...) as literal columns
    attrs = {r.label: r.attrs or {} for r in pending}
    for name, df, order_by in (
        ("overall_stats", overall_statistics(obs.overall_stats, attrs), []),
        ("annular_stats", annular_statistics(obs.annular_stats, attrs),
         ["dist_key", "radius"]),
    ):
        sc.setJobDescription(f"layer:{name}")
        write_parquet(df, paths[name], ["run_id"])
        write_csv(df, os.path.join(output_base, "csv", name),
                  order_by=["obs_x", "obs_y", "obs_z", "time", *order_by],
                  partition_by=["run_id"])
    sc.setJobDescription(None)
