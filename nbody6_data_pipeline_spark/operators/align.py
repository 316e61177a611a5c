"""J10 — cross-file timestamp alignment (reference loader.py:138-200).

The six raw files of a run carry slightly-jittered timestamps. The
reference aligns them by ROW INDEX: the i-th timestamp of every file
must agree within ``tolerance`` (2e-2 Myr); all are renamed to the
OUT34 reference timestamp (rounded to 2 decimals).

The alignment decision itself runs DRIVER-SIDE on the collected
per-file timestamp lists — they are bounded by (n_files x
n_snapshots) ~ thousands of floats per run, and a driver decision
avoids a chain of tiny shuffle jobs. The rename is then applied
distributively as ONE broadcast equi-join of the (run_id, file,
old_time -> ref_time) mapping into the generic block table, whose
result is checkpointed once — the same as-of/tolerance-alignment
pattern as SURVEY §2.3 J10.
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS, NBody6Runs

TOLERANCE = 2e-2  # Myr (reference loader.py:100)


def _decide_alignment(
    by_file: dict[str, list[float]],
    files: list[str],
    tolerance: float,
    allow_trim: bool,
    ctx: str = "",
) -> list[tuple[int, float]]:
    """Driver-side alignment decision for ONE run's timestamp lists:
    returns [(kept_row_index, ref_time)] or raises (loader.py:143-186).
    The lists are bounded by n_files x n_snapshots — thousands of
    floats — so this is deliberately plain Python."""
    n_rows = max((len(v) for v in by_file.values()), default=0)
    if not allow_trim:
        counts = {f: len(v) for f, v in by_file.items()}
        if len(set(counts.values())) > 1:
            raise ValueError(
                f"Timestamps count mismatch across files.{ctx} Counts: {counts}"
            )
        n_bad = sum(
            1
            for i in range(n_rows)
            if max(by_file[f][i] for f in files) - min(by_file[f][i] for f in files)
            > tolerance
        )
        if n_bad:
            raise ValueError(
                f"{n_bad} inconsistent timestamps found{ctx} (tolerance: {tolerance})."
            )
        kept = list(range(n_rows))
    else:
        kept = [
            i
            for i in range(min((len(v) for v in by_file.values()), default=0))
            if max(by_file[f][i] for f in files) - min(by_file[f][i] for f in files)
            <= tolerance
        ]
        if not kept:
            raise ValueError(
                f"No aligned timestamps found across all files{ctx} "
                f"with tolerance {tolerance}."
            )
    ref = [round(by_file["OUT34"][i], 2) for i in kept]
    if ref and ref[0] != 0.0:
        warnings.warn(f"First aligned timestamp is {ref[0]}, not 0.0.{ctx}")
    return list(zip(kept, ref))


def _run_mapping(
    rid: str,
    by_file: dict[str, list[float]],
    files: list[str],
    tolerance: float,
    allow_trim: bool,
) -> list[tuple]:
    """ONE run's (run_id, file, time, ref_time) mapping rows from
    its sorted per-file timestamp lists; raises when a file parsed no
    timestamps or the lists do not align."""
    missing = [f for f in files if f not in by_file]
    if missing:
        raise ValueError(f"Run {rid}: no timestamps parsed for {missing}.")
    return [
        (rid, f, by_file[f][i], ref_t)
        for i, ref_t in _decide_alignment(
            by_file, files, tolerance, allow_trim, ctx=f" [run {rid}]"
        )
        for f in files
    ]


EXECUTOR_ALIGN_THRESHOLD = 100  # runs; above this the decision moves off-driver
# old (per-file) time -> the OUT34 reference time
MAPPING_SCHEMA = "run_id string, file string, time double, ref_time double"


def _alignment_mapping_pdf(files, tolerance, allow_trim):
    """Build the per-run applyInPandas kernel: one run's (file, time)
    rows in, its (run_id, file, time, ref_time) mapping out. The
    mapping is the SAME pure ``_run_mapping`` the driver path uses —
    only the placement changes."""
    import pandas as pd

    def _align_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rid = pdf["run_id"].iloc[0]
        by_file = {
            f: sorted(g["time"].tolist())
            for f, g in pdf.groupby("file", sort=False)
        }
        return pd.DataFrame(
            _run_mapping(rid, by_file, files, tolerance, allow_trim),
            columns=["run_id", "file", "time", "ref_time"],
        )

    return _align_group


def align_runs(
    runs: NBody6Runs,
    tolerance: float = TOLERANCE,
    allow_trim: bool = False,
) -> NBody6Runs:
    """Batched J10: unify timestamps for EVERY run without a per-run
    driver action.

    The per-(run, file) timestamp lists come from the generic table's
    header rows. Two placements of the (pure, per-run-independent)
    alignment decision, dispatched on run count:

    - driver (<= EXECUTOR_ALIGN_THRESHOLD runs, default): ONE
      groupBy/collect_list job gathers the per-(run, file) sorted
      timestamp lists (~n_files x n_snapshots floats per run), the
      decision loops in plain Python, and the mapping is broadcast —
      zero extra shuffles, ideal at the reference's grid sizes.
    - executor (> threshold): the SAME ``_run_mapping`` runs per run
      inside ``applyInPandas`` grouped by run_id, so driver memory no
      longer grows with run count (at 1e5 runs the collected lists
      would be ~160 MB); the join is left to AQE (the mapping has
      n_runs x n_files x n_snapshots rows — too big to force-broadcast).
      Strictness errors surface as the same ValueError text via the
      failed job. The first-timestamp-not-zero *warning* is
      driver-only; the executor path drops it (warnings don't cross
      the JVM boundary).

    Either mapping is joined into the block table ONCE, on (run_id,
    file, time), for header and data rows alike, and the aligned table
    is checkpointed; the one checkpoint is the only action that reads
    the mapping.
    """
    times = runs.blocks.filter(
        (F.col("kind") == "h") & F.col("time").isNotNull()
    ).select("run_id", "file", "time")
    files = list(FILE_CONFIGS)
    if len(runs.run_ids) > EXECUTOR_ALIGN_THRESHOLD:
        mapping = times.groupBy("run_id").applyInPandas(
            _alignment_mapping_pdf(files, tolerance, allow_trim), MAPPING_SCHEMA
        )
    else:
        ts_rows = (
            times.groupBy("run_id", "file")
            .agg(F.sort_array(F.collect_list("time")).alias("times"))
            .collect()  # the ONE driver action for the whole batch
        )
        by_run: dict[str, dict[str, list[float]]] = {}
        for r in ts_rows:
            by_run.setdefault(r["run_id"], {})[r["file"]] = list(r["times"])

        mapping_rows = [
            row
            for rid in sorted(by_run)
            for row in _run_mapping(
                rid, by_run[rid], files, tolerance, allow_trim
            )
        ]
        mapping = F.broadcast(
            runs.blocks.sparkSession.createDataFrame(mapping_rows, MAPPING_SCHEMA)
        )

    aligned = (
        runs.blocks.join(mapping, ["run_id", "file", "time"])
        .drop("time")
        .withColumnRenamed("ref_time", "time")
        .localCheckpoint()
    )
    return NBody6Runs(aligned, runs.run_ids, runs.is_strict)
