"""Checkpoint/resume manifests (SURVEY §4 'on-disk resume layers').

The reference resumes per run via skip-if-exists file checks over
joblib/CSV caches (collect_simulation_stats.py:59-117). Spark-native
equivalent: each pipeline layer is a parquet dataset partitioned by
``run_id``; the set of completed runs is the set of partition values,
and resuming = processing only the anti-joined remainder. At 100 TB
this is what makes re-runs O(new data) instead of O(everything).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def completed_runs(spark: SparkSession, layer_path: str) -> set[str]:
    """run_id partition values already materialized in a layer."""
    if not os.path.isdir(layer_path):
        return set()
    out = set()
    for name in os.listdir(layer_path):
        if name.startswith("run_id="):
            out.add(name.split("=", 1)[1])
    return out
