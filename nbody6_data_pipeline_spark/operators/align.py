"""J10 — cross-file timestamp alignment and the dissolution cut
(reference loader.py:138-200, assembler.py:522-527, 698-704).

The six raw files of a run carry slightly-jittered timestamps. The
reference aligns them by ROW INDEX: the i-th timestamp of every file
must agree within ``tolerance`` (2e-2 Myr); all are renamed to the
OUT34 reference timestamp (rounded to 2 decimals). The series then
stops at the run's first dissolved snapshot (densCentre r_tidal <= 0).

Both decisions are local to one run, so one per-run ``applyInPandas``
kernel makes them: it gets the run's header timestamps per file (and
densCentre's r_tidal) and returns the run's (file, old time -> ref
time) mapping, without the dissolved snapshots. Alignment errors and
the first-timestamp warning come back as rows of the same output, read
on the driver by an ``Observation`` on the join. The mapping is
joined into the generic block table ONCE and the result checkpointed —
the same as-of/tolerance-alignment pattern as SURVEY §2.3 J10.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Observation
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS, NBody6Runs

TOLERANCE = 2e-2  # Myr (reference loader.py:100)
DENS = "densCentre.txt"

# old (per-file) time -> the OUT34 reference time; a row with ``error``
# or ``warning`` set carries only run_id and that message
MAPPING_SCHEMA = (
    "run_id string, file string, time double, ref_time double, "
    "error string, warning string"
)
_COLS = [c.split()[0] for c in MAPPING_SCHEMA.split(", ")]


def _decide_alignment(
    rid: str,
    by_file: dict[str, list[float]],
    files: list[str],
    tolerance: float,
    allow_trim: bool,
) -> list[tuple[int, float]]:
    """The alignment decision for ONE run's sorted timestamp lists:
    returns [(kept_row_index, ref_time)] or raises when a file parsed no
    timestamps or the lists do not align (loader.py:143-186). The lists
    are bounded by n_files x n_snapshots — thousands of floats — so
    this is deliberately plain Python."""
    missing = [f for f in files if f not in by_file]
    if missing:
        raise ValueError(f"Run {rid}: no timestamps parsed for {missing}.")
    ctx = f" [run {rid}]"
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
    return [(i, round(by_file["OUT34"][i], 2)) for i in kept]


def _align_run(pdf, files: list[str], tolerance: float, allow_trim: bool):
    """ONE run's mapping rows from its header rows (run_id, file, time,
    r_tidal), as MAPPING_SCHEMA: an error row when the alignment
    decision raises; otherwise the mapping without the snapshots at or
    after the first kept one whose densCentre r_tidal <= 0, plus a
    warning row when the first aligned timestamp is not 0.0."""
    import pandas as pd

    rid = pdf["run_id"].iloc[0]
    by_file = {f: sorted(g["time"]) for f, g in pdf.groupby("file", sort=False)}
    try:
        kept = _decide_alignment(rid, by_file, files, tolerance, allow_trim)
    except ValueError as e:
        return pd.DataFrame([(rid, None, None, None, str(e), None)], columns=_COLS)
    rows = [(f, by_file[f][i], ref_t) for i, ref_t in kept for f in files]
    dissolved = set(pdf["time"][(pdf["file"] == DENS) & (pdf["r_tidal"] <= 0)])
    cut = min((r for f, t, r in rows if f == DENS and t in dissolved), default=None)
    out = [(rid, *r, None, None) for r in rows if cut is None or r[2] < cut]
    if kept[0][1] != 0.0:
        msg = f"First aligned timestamp is {kept[0][1]}, not 0.0. [run {rid}]"
        out.append((rid, None, None, None, None, msg))
    return pd.DataFrame(out, columns=_COLS)


def align_runs(
    runs: NBody6Runs,
    tolerance: float = TOLERANCE,
    allow_trim: bool = False,
) -> NBody6Runs:
    """Batched J10 and dissolution cut: unify timestamps for EVERY run
    and drop each run's snapshots from its first dissolved one on, in
    one per-run kernel (``_align_run``, applyInPandas grouped by
    run_id), so neither driver memory nor driver actions grow with the
    run count.

    The mapping is joined into the block table ONCE, on (run_id, file,
    time), for header and data rows alike, and the aligned table is
    checkpointed; the one checkpoint is the only action that reads the
    mapping. An ``Observation`` on the join then gives the first
    run's error, raised here as a ``ValueError``, and each earlier
    run's first-timestamp-not-zero warning, in run order. densCentre's
    r_tidal is a cast of the raw token, so a bad one raises there in
    strict mode.
    """
    dens = runs.headers(DENS).select(
        "run_id", F.lit(DENS).alias("file"), "time", "r_tidal"
    )
    times = (
        runs.blocks.filter((F.col("kind") == "h") & (F.col("file") != DENS))
        .select("run_id", "file", "time")
        .unionByName(dens, allowMissingColumns=True)
        .filter(F.col("time").isNotNull())
    )
    files = list(FILE_CONFIGS)
    found = Observation("alignment")
    mapping = times.groupBy("run_id").applyInPandas(
        lambda pdf: _align_run(pdf, files, tolerance, allow_trim), MAPPING_SCHEMA
    )
    # a right join keeps the message rows (no block matches them) up to
    # the Observation, which no empty-join rewrite can prune there
    aligned = (
        runs.blocks.join(mapping, ["run_id", "file", "time"], "right")
        .observe(
            found,
            F.min(F.when(F.col("error").isNotNull(), F.struct("run_id", "error")))
            .alias("error"),
            F.sort_array(F.collect_list(
                F.when(F.col("warning").isNotNull(), F.struct("run_id", "warning"))
            )).alias("warnings"),
        )
        .filter(F.col("kind").isNotNull())
        .drop("time", "error", "warning")
        .withColumnRenamed("ref_time", "time")
        .localCheckpoint()
    )
    error, warns = found.get["error"], found.get["warnings"]
    for w in warns:
        if error is None or w["run_id"] < error["run_id"]:
            warnings.warn(w["warning"])
    if error is not None:
        raise ValueError(error["error"])
    return NBody6Runs(aligned, runs.is_strict)
