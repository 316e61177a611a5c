"""S3-S8 — the six NBODY6 source configurations + batched loading.

Positional schemas transcribed from the reference parser configs
(token indices and converters cited per source). Vector headers become
ArrayType columns; all ids are LONG, codes INT, physics DOUBLE
(SURVEY §1.2).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from nbody6_data_pipeline_spark.sources.block_text import (
    BlockSourceConfig,
    data_table,
    header_table,
    read_blocks,
)

# reference parser/out34.py:7-33
OUT34_CONFIG = BlockSourceConfig(
    header_prefix="#",
    header_length=1,
    header_schema={
        "time": (7, "double"),
        "nzero": (5, "int"),
        "rbar": (8, "double"),
        "vstar": (9, "double"),
        "rtide": (10, "double"),
        "plummer_mass": (12, "double"),
        "rd": ([13, 14, 15], "double"),
        "rcm": ([16, 17, 18], "double"),
        "rg": ([22, 23, 24], "double"),
        "vg": ([25, 26, 27], "double"),
    },
    data_schema={
        "x": (0, "double"),
        "y": (1, "double"),
        "z": (2, "double"),
        "vx": (3, "double"),
        "vy": (4, "double"),
        "vz": (5, "double"),
        "mass": (6, "double"),
        "name": (7, "long"),
        "kstar": (8, "int"),
    },
)

# reference parser/out9.py:5-23 (3-line header; time at concatenated idx 1)
OUT9_CONFIG = BlockSourceConfig(
    header_prefix="#",
    header_length=3,
    header_schema={
        "time": (1, "double"),
        "npairs": (2, "int"),
    },
    data_schema={
        "ecc": (3, "double"),
        "semi": (4, "double"),
        "p": (5, "double"),
        "mass1": (6, "double"),
        "mass2": (7, "double"),
        "name1": (8, "long"),
        "name2": (9, "long"),
        "cmName": (13, "long"),
    },
)

# reference parser/fort19.py:5-24
FORT19_CONFIG = BlockSourceConfig(
    header_prefix="#",
    header_length=1,
    header_schema={
        "time": (0, "double"),
        "npairs": (1, "int"),
    },
    data_schema={
        "ecc": (3, "double"),
        "semi": (4, "double"),
        "p": (5, "double"),
        "mass1": (6, "double"),
        "mass2": (7, "double"),
        "name1": (8, "long"),
        "name2": (9, "long"),
        "hiarch": (12, "int"),
    },
)

# reference parser/fort82.py:5-25 (## BEGIN / ## END delimited)
FORT82_CONFIG = BlockSourceConfig(
    header_prefix="## BEGIN",
    footer_prefix="## END",
    header_length=1,
    header_schema={"time": (1, "double")},
    data_schema={
        "name1": (0, "long"),
        "name2": (1, "long"),
        "x": (5, "double"),
        "y": (6, "double"),
        "z": (7, "double"),
        "mass1": (11, "double"),
        "mass2": (12, "double"),
        "zlum1": (13, "double"),
        "zlum2": (14, "double"),
        "rad1": (15, "double"),
        "rad2": (16, "double"),
        "tempe1": (17, "double"),
        "tempe2": (18, "double"),
    },
)

# reference parser/fort83.py:5-20
FORT83_CONFIG = BlockSourceConfig(
    header_prefix="## BEGIN",
    footer_prefix="## END",
    header_length=1,
    header_schema={"time": (1, "double")},
    data_schema={
        "name": (0, "long"),
        "x": (2, "double"),
        "y": (3, "double"),
        "z": (4, "double"),
        "mass": (5, "double"),
        "zlum": (6, "double"),
        "rad": (7, "double"),
        "tempe": (8, "double"),
    },
)

# reference parser/density_center.py:12-30 — headers-only file
# (header_prefix "": every line is its own single-line-header block)
DENS_CENTRE_CONFIG = BlockSourceConfig(
    header_prefix="",
    header_length=1,
    header_schema={
        "time": (0, "double"),
        "r_tidal": (1, "double"),
        "density_center": ([2, 3, 4], "double"),
    },
    data_schema={},
)

FILE_CONFIGS: dict[str, BlockSourceConfig] = {
    "OUT34": OUT34_CONFIG,
    "OUT9": OUT9_CONFIG,
    "fort.19": FORT19_CONFIG,
    "fort.82": FORT82_CONFIG,
    "fort.83": FORT83_CONFIG,
    "densCentre.txt": DENS_CENTRE_CONFIG,
}


@dataclass
class NBody6Runs:
    """Batched multi-run tables: ``blocks`` is the checkpointed generic
    block table of every loaded run's six files (block_text.
    BLOCKS_SCHEMA plus ``time_raw``); ``headers(name)``/``data(name)``
    are its narrow typed projections for one file format, each carrying
    a ``run_id`` column spanning every loaded run. ``load_runs`` returns
    the parsed blocks; ``operators.align.align_runs`` returns them with
    every run's timestamps aligned and its series cut at the first
    dissolved snapshot."""

    blocks: DataFrame
    is_strict: bool

    def headers(self, name: str) -> DataFrame:
        return header_table(self.blocks, name, FILE_CONFIGS[name], self.is_strict)

    def data(self, name: str) -> DataFrame:
        return data_table(self.blocks, name, FILE_CONFIGS[name], self.is_strict)


def load_runs(
    spark: SparkSession,
    runs: list[tuple[str, str]],
    is_strict: bool = True,
) -> NBody6Runs:
    """Parse the six raw files of MANY runs (``[(run_id, run_root)]``)
    into one checkpointed block table (reference
    NBODY6DataLoader.__init__/load, loader.py:56-136).

    ONE ``mapInArrow`` reads every (run, format) file of the batch
    once, and the task that reads a file splits it into blocks
    (block_text.read_blocks). Structural validation across all runs x
    formats is an ``Observation`` on the checkpoint's scan, so the whole
    batch costs one job, not 2 jobs per file per run.
    """
    for rid, root in runs:
        for fname in FILE_CONFIGS:
            if not os.path.isfile(os.path.join(root, fname)):
                raise FileNotFoundError(
                    f"Required file '{fname}' not found in '{root}'."
                )
    files = [
        (rid, fname, os.path.join(root, fname))
        for rid, root in runs
        for fname in FILE_CONFIGS
    ]
    blocks = read_blocks(spark, files, FILE_CONFIGS, is_strict=is_strict)
    return NBody6Runs(blocks, is_strict)
