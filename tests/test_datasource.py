"""Python DataSource façade (spark.read.format("nbody6")) parity vs
the batch parser (load_runs / read_blocks) — same files, same rows,
for every file format, plus duplicate-timestamp last-wins, lax nulls,
and per-file partition planning."""

from __future__ import annotations

import os

import pytest

from nbody6_data_pipeline_spark.functions.misc import round_half_up
from nbody6_data_pipeline_spark.sources.block_text import data_table, read_blocks
from nbody6_data_pipeline_spark.sources.datasource import register_nbody6_source
from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS, load_runs
from tests.nbody6_fixtures import write_run


@pytest.fixture(scope="module")
def runs_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("dsruns")
    write_run(str(root / "a" / "run1"))
    write_run(str(root / "b" / "run2"))
    return str(root)


@pytest.fixture(scope="module")
def loaded(spark, runs_root):
    """Both fixture runs through the batch parser, run_id = the path
    below the root, as the DataSource names them."""
    rids = ["a/run1", "b/run2"]
    return load_runs(spark, [(rid, os.path.join(runs_root, rid)) for rid in rids])


def _native_rows(loaded, rid, kind, table):
    cfg = FILE_CONFIGS[kind]
    if table == "headers":
        cols = ["block_id", "time"] + [
            c for c in cfg.header_schema if c != "time"
        ]
        df = loaded.headers(kind).select("run_id", *cols)
    else:
        cols = ["block_id", "time", "line_no", *cfg.data_schema]
        df = loaded.data(kind).select("run_id", *cols)
    return sorted(tuple(r)[1:] for r in df.filter(df["run_id"] == rid).collect())


def _native_data(spark, path, is_strict=True):
    """One OUT34 file through the batch parser."""
    cfg = FILE_CONFIGS["OUT34"]
    blocks = read_blocks(spark, [("r", "OUT34", path)], {"OUT34": cfg}, is_strict)
    return data_table(blocks, "OUT34", cfg, is_strict)


@pytest.mark.parametrize("kind", sorted(FILE_CONFIGS))
@pytest.mark.parametrize("table", ["data", "headers"])
def test_datasource_matches_native_parser(spark, runs_root, loaded, kind, table):
    register_nbody6_source(spark)
    ds = (
        spark.read.format("nbody6")
        .option("kind", kind)
        .option("table", table)
        .load(runs_root)
    )
    # one InputPartition per discovered file
    assert set(r["run_id"] for r in ds.select("run_id").distinct().collect()) == {
        os.path.join("a", "run1"),
        os.path.join("b", "run2"),
    } or ds.count() == 0  # empty data table (densCentre) has no rows
    for rid in ["a/run1", "b/run2"]:
        got = sorted(
            tuple(r)[1:]  # drop run_id
            for r in ds.filter(ds["run_id"] == rid).collect()
        )
        native = _native_rows(loaded, rid, kind, table)
        assert got == native, f"{kind}/{table}/{rid}"


def test_duplicate_timestamp_last_wins_and_rounding(spark, tmp_path):
    """Two blocks whose times round to the SAME 2-decimal key: the
    later block's rows survive, exactly like the batch parser. Also
    pins the Java HALF_UP rounding twin."""
    register_nbody6_source(spark)
    f = tmp_path / "OUT34"
    toks = ["0"] * 28
    lines = []
    for t, name in [("1.0049", 11), ("1.0051", 22), ("1.005", 33)]:
        h = list(toks)
        h[7] = t
        lines.append("# " + " ".join(h))
        lines.append(" ".join(["0"] * 7 + [str(name), "1"]))
    f.write_text("\n".join(lines) + "\n")

    ds = (
        spark.read.format("nbody6")
        .option("kind", "OUT34")
        .load(str(f))
    )
    native = _native_data(spark, str(f))
    got = sorted((r["time"], r["name"]) for r in ds.collect())
    want = sorted((r["time"], r["name"]) for r in native.collect())
    assert got == want
    # 1.0049 -> 1.0 ; 1.0051 and 1.005 -> 1.01 (HALF_UP), later wins
    assert got == [(1.0, 11), (1.01, 33)]
    assert round_half_up(1.005, 2) == 1.01
    assert round_half_up(-1.005, 2) == -1.01
    assert round_half_up(1.0049, 2) == 1.0


def test_lax_mode_matches_try_cast(spark, tmp_path):
    """A short data line: strict raises on both paths; lax yields the
    same nulls as the batch parser's try_cast."""
    register_nbody6_source(spark)
    f = tmp_path / "OUT34"
    h = ["0"] * 28
    h[7] = "2.5"
    f.write_text(
        "# " + " ".join(h) + "\n"
        + "1 2 3 4 5 6 7 44 1\n"
        + "1 2 3 4 5 6 notanumber\n"  # mass unparsable, name/kstar missing
    )
    ds = (
        spark.read.format("nbody6")
        .option("kind", "OUT34")
        .option("mode", "lax")
        .load(str(f))
    )
    native = _native_data(spark, str(f), is_strict=False)
    cols = ["time", "line_no", *FILE_CONFIGS["OUT34"].data_schema]
    got = sorted(tuple(r) for r in ds.select(*cols).collect())
    want = sorted(tuple(r) for r in native.select(*cols).collect())
    assert got == want
    assert any(r[-3] is None for r in got)  # mass null in the lax row

    with pytest.raises(Exception):
        (
            spark.read.format("nbody6")
            .option("kind", "OUT34")
            .load(str(f))
            .collect()
        )


def test_structural_error_message_parity(spark, tmp_path):
    """A data line before any header raises the reference's message
    on both paths."""
    register_nbody6_source(spark)
    f = tmp_path / "OUT34"
    f.write_text("1 2 3 4 5 6 7 8 9\n")
    with pytest.raises(Exception, match="Expected a header line"):
        spark.read.format("nbody6").load(str(f)).collect()


def test_stream_reader_ingests_new_runs_only(spark, tmp_path):
    """readStream on the nbody6 source: first micro-batch picks up the
    runs present at start; after new runs LAND, a restart from the
    same checkpoint ingests ONLY the new files (offset = seen-file
    log), and the union equals a batch read of the root."""
    register_nbody6_source(spark)
    root = tmp_path / "sims"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_run(str(root / "run1"))

    def drain():
        q = (
            spark.readStream.format("nbody6")
            .option("kind", "OUT34")
            .load(str(root))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return {
            (r["run_id"], r["block_id"], r["line_no"])
            for r in spark.read.parquet(out).collect()
        }

    first = drain()
    assert first and all(rid == "run1" for rid, _, _ in first)

    write_run(str(root / "run2"))
    both = drain()
    new = both - first
    assert new and all(rid == "run2" for rid, _, _ in new)

    batch = {
        (r["run_id"], r["block_id"], r["line_no"])
        for r in spark.read.format("nbody6")
        .option("kind", "OUT34")
        .load(str(root))
        .collect()
    }
    assert both == batch


def test_run_id_pushdown_prunes_file_partitions(spark, runs_root):
    """WHERE run_id = ... reaches pushFilters and prunes the planned
    InputPartitions to the matching files only — the Python-DataSource
    analogue of partition pruning. Results stay identical to post-hoc
    filtering; unsupported predicates still evaluate in Spark."""
    register_nbody6_source(spark)
    base = spark.read.format("nbody6").option("kind", "OUT34").load(runs_root)
    all_rows = {tuple(r) for r in base.collect()}

    eq = base.filter(base["run_id"] == "a/run1")
    assert eq.rdd.getNumPartitions() == 1  # 2 files discovered, 1 planned
    assert {tuple(r) for r in eq.collect()} == {
        t for t in all_rows if t[0] == "a/run1"
    }

    isin = base.filter(base["run_id"].isin("a/run1", "b/run2"))
    assert isin.rdd.getNumPartitions() == 2
    assert {tuple(r) for r in isin.collect()} == all_rows

    none = base.filter(base["run_id"] == "nope")
    assert none.count() == 0

    # non-pushable residue (time filter) must still apply post-scan
    mixed = base.filter(
        (base["run_id"] == "a/run1") & (base["time"] > 0.0)
    )
    assert {tuple(r) for r in mixed.collect()} == {
        t for t in all_rows if t[0] == "a/run1" and t[2] > 0.0
    }
