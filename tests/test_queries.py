"""Smoke + oracle parity for the driver-facing query registry.

Every registered query must run at sf0.001 and (when it declares an
oracle) match DuckDB exactly under the driver's comparison semantics
(sorted columns, sorted rows, bitwise values)."""

from __future__ import annotations

import pytest

from tools.check_oracle import compare, duck_run


def _all_queries():
    from nbody6_data_pipeline_spark.queries import registry

    return sorted(registry().items())


@pytest.mark.parametrize("name,spec", _all_queries(), ids=lambda x: x if isinstance(x, str) else "")
def test_query_matches_oracle(spark, sf_dir, name, spec):
    sdf = spec["spark"](spark, sf_dir)
    rows = [tuple(r) for r in sdf.collect()]
    assert rows is not None
    if spec["oracle"] is None:
        assert len(rows) >= 0
        return
    duck_cols, duck_rows = duck_run(spec["oracle"], sf_dir)
    problems, ok = compare(rows, sdf.columns, duck_rows, duck_cols)
    assert ok, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(e.queries()) == len(_all_queries())
    assert set(e.oracle_sql()).issubset(set(e.queries()))
