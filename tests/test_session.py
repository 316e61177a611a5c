"""session.scoped_conf: scoped values inside the block, the previous
values after it."""

from __future__ import annotations

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
