"""U3 stratified split + U4 SWD tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nbody6_data_pipeline_spark.operators.split import (
    apply_ops,
    quantile_bin,
    sliced_wasserstein_distance,
    stratified_group_split,
)


def test_quantile_bin_matches_qcut(spark):
    vals = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = [
        r["x_bin"]
        for r in quantile_bin(df, "x", 4).orderBy("x").collect()
    ]
    want = pd.qcut(
        sorted(vals), q=4, labels=False, duplicates="drop"
    ).tolist()
    assert out == want


def test_stratified_split_properties(spark):
    rng = np.random.RandomState(0)
    rows = []
    for g in range(20):
        n = rng.randint(5, 30)
        for _ in range(n):
            rows.append((f"run{g:02d}", float(rng.uniform(1, 100)), float(rng.uniform(0, 300))))
    df = spark.createDataFrame(rows, ["run_id", "mass", "timestamp"])
    split = stratified_group_split(
        df,
        target_keys=["mass", "timestamp"],
        ops_config={"mass": "log10"},
        ratios=(0.7, 0.2, 0.1),
        row_ratio_weight=0.05,
    )
    all_groups = {r for lst in split.values() for r in lst}
    # coverage and disjointness (dataset_split.ipynb cell 3 asserts)
    assert all_groups == {f"run{g:02d}" for g in range(20)}
    assert (
        len(split["train"]) + len(split["val"]) + len(split["test"]) == 20
    )
    assert len(split["train"]) > len(split["val"]) >= len(split["test"])
    # determinism with the same seed
    split2 = stratified_group_split(
        df,
        target_keys=["mass", "timestamp"],
        ops_config={"mass": "log10"},
        ratios=(0.7, 0.2, 0.1),
        row_ratio_weight=0.05,
    )
    assert split == split2


def test_split_rejects_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None)], ["run_id", "x"]
    )
    with pytest.raises(AssertionError, match="NULL"):
        stratified_group_split(df, target_keys=["x"])


def test_apply_ops_rejects_unknown_op(spark):
    """F22 has one definition, ``functions.misc.log_ops``: a known op
    transforms its column, an unknown one raises instead of leaving the
    column as it is."""
    df = spark.createDataFrame([(100.0, 4.0)], ["mass", "t"])
    row = apply_ops(df, {"mass": "log10", "t": "sqrt"}).first()
    assert (row["mass"], row["t"]) == (2.0, 2.0)
    with pytest.raises(ValueError, match="unknown op 'log2'"):
        apply_ops(df, {"mass": "log2"})


def test_swd_basic_properties():
    rng = np.random.RandomState(1)
    a = rng.normal(0, 1, (400, 2))
    # identical distributions -> ~0
    assert sliced_wasserstein_distance(a, a.copy()) == pytest.approx(0.0, abs=1e-9)
    # shifted distribution -> approximately the shift magnitude
    b = a + np.array([3.0, 0.0])
    d = sliced_wasserstein_distance(a, b, n_projections=2000)
    # E[|<e1, theta>|^2]^(1/2) over random 2D unit vectors = 3/sqrt(2)
    assert d == pytest.approx(3.0 / np.sqrt(2), rel=0.1)
    # determinism
    assert sliced_wasserstein_distance(a, b) == sliced_wasserstein_distance(a, b)
