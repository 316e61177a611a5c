"""session.scoped_conf: scoped values inside the block, the previous
values after it. get_spark: Python workers import the package from any
working directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from nbody6_data_pipeline_spark.session import scoped_conf

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sql.test.scopedConfProbe"


def test_scoped_conf_restores_previous_values(spark):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    confs = {SET_KEY: "3", UNSET_KEY: "on"}

    with scoped_conf(spark, confs):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, confs):
            raise RuntimeError("body failed")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


WORKER_PROBE = """
import sys
sys.path.insert(0, {root!r})
from nbody6_data_pipeline_spark.operators.align import align_runs
from nbody6_data_pipeline_spark.operators.assemble import assemble_runs, assembled_tables
from nbody6_data_pipeline_spark.session import get_spark
from nbody6_data_pipeline_spark.sources.nbody6 import load_runs
from tests.nbody6_fixtures import write_run

spark = get_spark("worker-path-probe")
asm = assembled_tables(assemble_runs(align_runs(load_runs(spark, [("r", write_run("sim"))]))))
print("stars", asm.stars.count())
spark.stop()
"""


def test_workers_import_package_outside_checkout(tmp_path):
    """A driver that runs outside the checkout, with no PYTHONPATH, runs
    the grouped-map kernels: their Python workers, started in the
    driver's working directory, find the package through get_spark."""
    root = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", WORKER_PROBE.format(root=root)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "stars 30" in proc.stdout, proc.stdout
