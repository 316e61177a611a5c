"""J10 — cross-file timestamp alignment and the dissolution cut
(reference loader.py:138-200, assembler.py:522-527, 698-704).

The six raw files of a run carry slightly-jittered timestamps. The
reference aligns them by ROW INDEX: the i-th timestamp of every file
must agree within ``TOLERANCE`` (2e-2 Myr); all are renamed to the
OUT34 reference timestamp (rounded to 2 decimals). The series then
stops at the run's first dissolved snapshot (densCentre r_tidal <= 0).

Both decisions are local to one run, so ``groupBy("run_id")
.applyInArrow`` hands each run's own block rows to ``_align_run``,
which decides the alignment on the run's header times, rewrites every
row's ``time`` to the reference time and drops the rows from the first
dissolved snapshot on. Alignment errors and the first-timestamp
warning come back as rows of the same output, read on the driver by an
``Observation`` on the kernel's output; one ``localCheckpoint``
materializes the aligned table (SURVEY §2.3 J10).
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from nbody6_data_pipeline_spark.functions.xp import arrow_rows
from nbody6_data_pipeline_spark.sources.block_text import token_col
from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS, NBody6Runs

TOLERANCE = 2e-2  # Myr (reference loader.py:100)
DENS = "densCentre.txt"
FILES = list(FILE_CONFIGS)

# the aligned block rows (block_text.BLOCKS_SCHEMA plus time_raw); a
# row with ``error`` or ``warning`` set carries only run_id and that
# message
_OUT_DDL = (
    "file string, run_id string, kind string, block_id bigint, "
    "line_no bigint, line_end bigint, time double, toks array<string>, "
    "time_raw double, error string, warning string"
)


def _decide_alignment(rid: str, by_file: dict[str, list[float]]) -> list[float]:
    """The alignment decision for ONE run's sorted timestamp lists:
    returns the reference time of every row index, or raises when a
    file parsed no timestamps or the lists do not align
    (loader.py:143-186). The lists are bounded by n_files x
    n_snapshots — thousands of floats — so this is deliberately plain
    Python."""
    missing = [f for f in FILES if f not in by_file]
    if missing:
        raise ValueError(f"Run {rid}: no timestamps parsed for {missing}.")
    ctx = f" [run {rid}]"
    counts = {f: len(by_file[f]) for f in FILES}
    if len(set(counts.values())) > 1:
        raise ValueError(
            f"Timestamps count mismatch across files.{ctx} Counts: {counts}"
        )
    n_bad = sum(
        1
        for row in zip(*(by_file[f] for f in FILES))
        if max(row) - min(row) > TOLERANCE
    )
    if n_bad:
        raise ValueError(
            f"{n_bad} inconsistent timestamps found{ctx} (tolerance: {TOLERANCE})."
        )
    return [round(t, 2) for t in by_file["OUT34"]]


def _align_run(t: pa.Table, schema: pa.Schema) -> pa.Table:
    """ONE run's block rows (with densCentre's ``r_tidal``) aligned, as
    rows of ``schema``: an error row when the alignment decision raises;
    otherwise every row with its time rewritten to the reference time,
    without the rows at or after the first snapshot whose densCentre
    r_tidal <= 0, plus a warning row when the first aligned timestamp is
    not 0.0."""
    rid = t["run_id"][0].as_py()
    file, kind = (t[c].to_numpy(zero_copy_only=False) for c in ("file", "kind"))
    header, time = kind == "h", t["time"].to_numpy()
    by_file = {
        f: sorted(time[header & (file == f)].tolist())
        for f in np.unique(file[header])
    }
    try:
        ref = np.array(_decide_alignment(rid, by_file))
    except ValueError as e:
        return arrow_rows(schema, 1, {}, {"run_id": rid, "error": str(e)})
    # each row takes the reference time of its block's row index; a NaN
    # time matches no index, so its rows drop
    ref_time = np.full(t.num_rows, np.nan)
    for f in FILES:
        rows = np.flatnonzero(file == f)
        old = np.array(by_file[f])
        i = np.minimum(np.searchsorted(old, time[rows]), len(old) - 1)
        hit = old[i] == time[rows]
        ref_time[rows[hit]] = ref[i[hit]]
    dissolved = header & (file == DENS) & (t["r_tidal"].to_numpy() <= 0)
    cut = ref_time[dissolved].min(initial=np.inf)
    keep = ref_time < cut
    kept = t.filter(keep)
    out = [arrow_rows(schema, kept.num_rows, {
        **{c: kept[c] for c in kept.column_names}, "time": ref_time[keep],
    }, {})]
    if ref[0] != 0.0:
        msg = f"First aligned timestamp is {ref[0]}, not 0.0. [run {rid}]"
        out.append(arrow_rows(schema, 1, {}, {"run_id": rid, "warning": msg}))
    return pa.concat_tables(out)


def align_runs(runs: NBody6Runs) -> NBody6Runs:
    """Batched J10 and dissolution cut: unify timestamps for EVERY run
    and drop each run's snapshots from its first dissolved one on, in
    one per-run kernel (``_align_run``, applyInArrow grouped by run_id)
    over the run's own block rows, so neither driver memory nor driver
    actions grow with the run count.

    Rows with no time are dropped first. densCentre's r_tidal is a
    Spark cast of the raw token, added before the kernel, so a bad one
    raises in strict mode. An ``Observation`` on the kernel's output
    gives the first run's error, raised here as a ``ValueError``, and
    each earlier run's first-timestamp-not-zero warning, in run order;
    the one checkpoint of the aligned table is the only action.
    """
    idx, typ = FILE_CONFIGS[DENS].header_schema["r_tidal"]
    is_dens_header = (F.col("file") == DENS) & (F.col("kind") == "h")
    schema = to_arrow_schema(_parse_datatype_string(_OUT_DDL))
    found = Observation("alignment")
    aligned = (
        runs.blocks.filter(F.col("time").isNotNull())
        .withColumn("r_tidal", F.when(
            is_dens_header, token_col(F.col("toks"), idx, typ, runs.is_strict)
        ))
        .groupBy("run_id")
        .applyInArrow(lambda t: _align_run(t, schema), _OUT_DDL)
        .observe(
            found,
            F.min(F.when(F.col("error").isNotNull(), F.struct("run_id", "error")))
            .alias("error"),
            F.sort_array(F.collect_list(
                F.when(F.col("warning").isNotNull(), F.struct("run_id", "warning"))
            )).alias("warnings"),
        )
        .filter(F.col("kind").isNotNull())
        .drop("error", "warning")
        .localCheckpoint()
    )
    error, warns = found.get["error"], found.get["warnings"]
    for w in warns:
        if error is None or w["run_id"] < error["run_id"]:
            warnings.warn(w["warning"])
    if error is not None:
        raise ValueError(error["error"])
    return NBody6Runs(aligned, runs.is_strict)
