"""J10 — cross-file timestamp alignment (reference loader.py:138-200).

The six raw files of a run carry slightly-jittered timestamps. The
reference aligns them by ROW INDEX: the i-th timestamp of every file
must agree within ``tolerance`` (2e-2 Myr); all are renamed to the
OUT34 reference timestamp (rounded to 2 decimals).

The alignment decision itself runs DRIVER-SIDE on the collected
per-file timestamp lists — they are bounded by (n_files x
n_snapshots) ~ thousands of floats per run, and a driver decision
avoids a chain of tiny shuffle jobs. The rename is then applied
distributively as a broadcast equi-join on the (old_time -> ref_time)
mapping — the same as-of/tolerance-alignment pattern as SURVEY §2.3
J10.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.sources.block_text import BlockTables
from nbody6_data_pipeline_spark.sources.nbody6 import NBody6Runs

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
    """ONE run's (run_id, file, old_time, ref_time) mapping rows from
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


def _alignment_mapping_pdf(files, tolerance, allow_trim):
    """Build the per-run applyInPandas kernel: one run's (file, time)
    rows in, its (run_id, file, old_time, ref_time) mapping out. The
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
            columns=["run_id", "file", "old_time", "ref_time"],
        )

    return _align_group


def align_runs(
    runs: NBody6Runs,
    tolerance: float = TOLERANCE,
    allow_trim: bool = False,
) -> NBody6Runs:
    """Batched J10: unify timestamps for EVERY run without a per-run
    driver action.

    Two placements of the (pure, per-run-independent) alignment
    decision, dispatched on run count:

    - driver (<= EXECUTOR_ALIGN_THRESHOLD runs, default): ONE
      groupBy/collect_list job gathers the per-(run, file) sorted
      timestamp lists (~n_files x n_snapshots floats per run), the
      decision loops in plain Python, and the mapping is broadcast —
      zero extra shuffles, ideal at the reference's grid sizes.
    - executor (> threshold): the SAME ``_run_mapping`` runs per run
      inside ``applyInPandas`` grouped by run_id, so driver memory no
      longer grows with run count (at 1e5 runs the collected lists
      would be ~160 MB); the
      remap join is left to AQE (the mapping has n_runs x n_files x
      n_snapshots rows — too big to force-broadcast). Strictness
      errors surface as the same ValueError text via the failed job.
      The first-timestamp-not-zero *warning* is driver-only; the
      executor path drops it (warnings don't cross the JVM boundary).
    """
    parts = []
    for fname, bt in runs.tables.items():
        parts.append(
            bt.headers.select(
                F.lit(fname).alias("file"), "run_id", "time"
            ).distinct()
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)

    files = list(runs.tables)
    spark = runs.tables["OUT34"].headers.sparkSession
    if len(runs.run_ids) > EXECUTOR_ALIGN_THRESHOLD:
        # persist: the mapping feeds 2 x n_files remap joins
        # (headers+data per file), and without it EVERY downstream
        # action would re-run the full union + per-run applyInPandas
        # alignment — exactly at the >100-run scale this branch
        # targets. The mapping is small (n_runs x n_files x
        # n_snapshots skinny rows), MEMORY_AND_DISK by default; it is
        # released by the session's next clearCache/checkpoint cycle
        # (pipeline.py localCheckpoints the observed layer right
        # after).
        mapping = union.groupBy("run_id").applyInPandas(
            _alignment_mapping_pdf(files, tolerance, allow_trim),
            "run_id string, file string, old_time double, ref_time double",
        ).persist()
        force_broadcast = False
    else:
        ts_rows = (
            union.groupBy("run_id", "file")
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
        mapping = spark.createDataFrame(
            mapping_rows,
            "run_id string, file string, old_time double, ref_time double",
        )
        force_broadcast = True

    def _remap(df: DataFrame, fname: str) -> DataFrame:
        m = mapping.filter(F.col("file") == fname).select(
            F.col("run_id").alias("_m_rid"), "old_time", "ref_time"
        )
        if force_broadcast:
            m = F.broadcast(m)
        return (
            df.join(
                m,
                (df["run_id"] == m["_m_rid"]) & (df["time"] == m["old_time"]),
                "inner",
            )
            .drop("time", "old_time", "_m_rid")
            .withColumnRenamed("ref_time", "time")
        )

    aligned = {
        fname: BlockTables(
            headers=_remap(bt.headers, fname), data=_remap(bt.data, fname)
        )
        for fname, bt in runs.tables.items()
    }
    return NBody6Runs(aligned, runs.run_ids)
