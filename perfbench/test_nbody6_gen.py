"""Tests for the benchmark's NBODY6 run generator.

    python3 -m pytest perfbench/test_nbody6_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from nbody6_gen import RunShape, write_run  # noqa: E402

FILES = ("OUT34", "OUT9", "fort.19", "fort.82", "fort.83", "densCentre.txt")
SHAPE = RunShape(stars=40, snapshots=6, reg_binaries=5, unreg_binaries=7,
                 triples=3, wide_frac=0.4, outside_frac=0.2, dissolve_at=4)


def _read(root: str) -> dict[str, bytes]:
    out = {}
    for name in FILES:
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


def _blocks(root: str, name: str, header) -> list[list[list[str]]]:
    """Data rows per snapshot block; ``header(line)`` marks a block start."""
    blocks: list[list[list[str]]] = []
    with open(os.path.join(root, name)) as f:
        for line in f:
            if header(line):
                blocks.append([])
            elif not line.startswith("#"):
                blocks[-1].append(line.split())
    return blocks


def test_same_seed_same_bytes(tmp_path):
    a = write_run(str(tmp_path / "a"), SHAPE, seed=7)
    b = write_run(str(tmp_path / "b"), SHAPE, seed=7)
    assert a == b
    assert _read(str(tmp_path / "a")) == _read(str(tmp_path / "b"))
    write_run(str(tmp_path / "c"), SHAPE, seed=8)
    assert _read(str(tmp_path / "a")) != _read(str(tmp_path / "c"))


def test_counts_follow_parameters(tmp_path):
    root = str(tmp_path / "run")
    write_run(root, SHAPE, seed=3)
    n_reg, n_unreg, n_tri = SHAPE.reg_binaries, SHAPE.unreg_binaries, SHAPE.triples

    out9 = _blocks(root, "OUT9", lambda l: l.startswith("# hdr1"))
    assert len(out9) == SHAPE.snapshots
    assert all(len(b) == n_reg for b in out9)

    f19 = _blocks(root, "fort.19", lambda l: l.startswith("# "))
    assert all(len(b) == n_unreg + n_tri for b in f19)
    assert all(sum(r[12] == "1" for r in b) == n_tri for b in f19)
    # wide pairs have the long period
    assert all(sum(float(r[5]) > 5 for r in b) == round(0.4 * n_unreg) for b in f19)

    atoms = SHAPE.stars - 2 * n_reg
    out34 = _blocks(root, "OUT34", lambda l: l.startswith("# "))
    assert all(len(b) == n_reg + atoms for b in out34)
    f82 = _blocks(root, "fort.82", lambda l: l.startswith("## BEGIN"))
    assert all(len(b) == n_reg for b in f82)
    f83 = _blocks(root, "fort.83", lambda l: l.startswith("## BEGIN"))
    assert all(len(b) == atoms for b in f83)

    with open(os.path.join(root, "densCentre.txt")) as f:
        r_tidal = [float(line.split()[1]) for line in f]
    assert len(r_tidal) == SHAPE.snapshots
    assert sum(r <= 0 for r in r_tidal) == SHAPE.snapshots - SHAPE.dissolve_at
    assert all(r > 0 for r in r_tidal[: SHAPE.dissolve_at])


def test_shape_rejects_impossible_counts():
    with pytest.raises(ValueError):
        RunShape(stars=4, reg_binaries=2, unreg_binaries=1, triples=0)
    with pytest.raises(ValueError):
        RunShape(stars=10, reg_binaries=1, triples=2)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run_dir = str(tmp_path_factory.mktemp("spark"))
    run.hygiene(run_dir)
    session = run.start_spark(run_dir)
    yield session
    run.stop_spark(session)


def test_strict_parse_has_no_violations(spark, tmp_path):
    from nbody6_data_pipeline_spark.sources.nbody6 import load_runs

    runs = []
    for k, shape in enumerate((SHAPE, RunShape())):
        root = str(tmp_path / f"run{k}")
        write_run(root, shape, seed=k)
        runs.append((f"run{k}", root))
    # strict mode raises on the first structural violation
    parsed = load_runs(spark, runs, is_strict=True)
    counts = {name: (parsed.headers(name).count(), parsed.data(name).count())
              for name in FILES}
    snapshots = SHAPE.snapshots + RunShape().snapshots
    assert all(h == snapshots for h, _ in counts.values())
    small = RunShape()
    atoms = ((SHAPE.stars - 2 * SHAPE.reg_binaries) * SHAPE.snapshots
             + (small.stars - 2 * small.reg_binaries) * small.snapshots)
    assert counts["fort.83"][1] == atoms
