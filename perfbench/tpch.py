"""Registry input tables for the ``registry_mix`` workload.

The query registry reads ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``). They are made by
the repository's own generator, ``tools/make_sf1_testdata.gen_tables``,
at a scale factor and seed the benchmark fixes, so the result hashes
recorded in ``registry_panel.json`` stay valid.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from make_sf1_testdata import gen_tables  # noqa: E402


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in gen_tables(sf, np.random.default_rng(seed)).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="zstd")
    return out_dir
