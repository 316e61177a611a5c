"""S1/S2 block-text reader tests against the synthetic NBODY6 fixture
files (reference semantics: parser/base.py:156-332)."""

from __future__ import annotations

import itertools
import os
from types import SimpleNamespace

import pytest

from nbody6_data_pipeline_spark.functions.misc import round_half_up
from nbody6_data_pipeline_spark.sources.block_text import (
    BlockSourceConfig,
    data_table,
    header_table,
    read_blocks,
)
from nbody6_data_pipeline_spark.sources.nbody6 import (
    DENS_CENTRE_CONFIG,
    FILE_CONFIGS,
    FORT82_CONFIG,
    OUT9_CONFIG,
    OUT34_CONFIG,
    load_runs,
)
from tests.nbody6_fixtures import CM_NAME, R_TIDAL, STARS, TIMES, write_run


@pytest.fixture(scope="module")
def run_root(tmp_path_factory):
    return write_run(str(tmp_path_factory.mktemp("run") / "sim"))


def _read(spark, path, cfg, is_strict=True):
    """One file through the batch parser (run_id "r"); raises its
    structural violation, as load_runs does for a batch."""
    blocks = read_blocks(spark, [("r", "f", path)], {"f": cfg}, is_strict)
    return SimpleNamespace(
        headers=header_table(blocks, "f", cfg, is_strict),
        data=data_table(blocks, "f", cfg, is_strict),
    )


def test_out34_blocks(spark, run_root):
    bt = _read(spark, os.path.join(run_root, "OUT34"), OUT34_CONFIG)
    headers = {r["time"]: r for r in bt.headers.collect()}
    assert sorted(headers) == TIMES
    h0 = headers[0.0]
    assert h0["nzero"] == 10
    assert h0["rtide"] == R_TIDAL
    assert h0["rd"] == [1.0, 2.0, 3.0]
    assert h0["rg"] == [5.0, 6.0, 7.0]
    data = bt.data.filter("time = 0.0").collect()
    # 8 atomic stars + 1 center-of-mass particle
    assert len(data) == 9
    names = {r["name"] for r in data}
    assert CM_NAME in names and 1 not in names and 2 not in names


def test_out9_multiline_header(spark, run_root):
    bt = _read(spark, os.path.join(run_root, "OUT9"), OUT9_CONFIG)
    headers = {r["time"]: r for r in bt.headers.collect()}
    # jitter 0.004 rounds away at 2 decimals
    assert sorted(headers) == TIMES
    assert headers[1.0]["npairs"] == 1
    rows = bt.data.filter("time = 1.0").collect()
    assert len(rows) == 1
    assert rows[0]["cmName"] == CM_NAME and rows[0]["name1"] == 1


def test_fort82_footer_and_lstrip(spark, run_root):
    bt = _read(spark, os.path.join(run_root, "fort.82"), FORT82_CONFIG)
    headers = sorted(r["time"] for r in bt.headers.collect())
    assert headers == TIMES
    row = bt.data.filter("time = 0.0").collect()[0]
    assert (row["name1"], row["name2"]) == (1, 2)
    assert row["zlum1"] == 1.0 and row["tempe2"] == 3.8


def test_dens_centre_headers_only(spark, run_root):
    bt = _read(
        spark, os.path.join(run_root, "densCentre.txt"), DENS_CENTRE_CONFIG
    )
    rows = {r["time"]: r for r in bt.headers.collect()}
    assert sorted(rows) == TIMES
    assert rows[0.0]["r_tidal"] == R_TIDAL
    assert rows[0.0]["density_center"] == [1.0, 2.0, 3.0]
    assert bt.data.count() == 0


def test_load_run_all_six(spark, run_root):
    run = load_runs(spark, [("r", run_root)])
    assert {r["file"] for r in run.blocks.select("file").distinct().collect()} == {
        "OUT34", "OUT9", "fort.19", "fort.82", "fort.83", "densCentre.txt",
    }
    for name in FILE_CONFIGS:
        assert sorted(r["time"] for r in run.headers(name).collect()) == TIMES
    assert run.data("fort.19").filter("time = 0.0").count() == 2


SIMPLE = BlockSourceConfig(
    header_prefix="#",
    header_length=1,
    header_schema={"time": (0, "double"), "n": (1, "int")},
    data_schema={"a": (0, "double"), "b": (1, "long")},
)


@pytest.fixture
def parse(spark, tmp_path):
    """Parse ``text`` as one run's file through the batch parser."""
    n = itertools.count()

    def _parse(text, cfg=SIMPLE, is_strict=True):
        f = tmp_path / f"file{next(n)}"
        f.write_text(text)
        return _read(spark, str(f), cfg, is_strict)

    return _parse


def test_duplicate_timestamp_last_wins(parse):
    # reference parser/base.py:217-223: duplicate ts overwrites
    bt = parse("# 1.0 1\n10.0 1\n# 1.0 1\n20.0 2\n")
    assert bt.headers.count() == 1
    rows = bt.data.collect()
    assert len(rows) == 1 and rows[0]["a"] == 20.0


def test_data_before_header_raises(parse):
    with pytest.raises(ValueError, match="Expected a header line"):
        parse("10.0 1\n# 1.0 1\n")


def test_incomplete_multiline_header_raises(parse):
    cfg = BlockSourceConfig(
        header_prefix="#",
        header_length=2,
        header_schema={"time": (0, "double")},
        data_schema={"a": (0, "double")},
    )
    with pytest.raises(ValueError, match="Incomplete header"):
        parse("# 1.0\n# x\n1.0\n# 2.0\n", cfg)


def test_lax_mode_bad_token_null(parse):
    bt = parse("# 1.0 1\nBAD 7\n", is_strict=False)
    row = bt.data.collect()[0]
    assert row["a"] is None and row["b"] == 7


def test_strict_mode_bad_token_raises(parse):
    bt = parse("# 1.0 1\nBAD 7\n", is_strict=True)
    with pytest.raises(Exception):
        bt.data.collect()


def test_empty_lines_skipped(parse):
    bt = parse("\n# 1.0 1\n\n10.0 1\n\n\n# 2.0 1\n20.0 2\n\n")
    assert bt.headers.count() == 2
    assert bt.data.count() == 2


def test_strict_mode_bad_time_token_raises(parse):
    # the time key is split in the task; the header's time_raw is a
    # Spark cast that the parse checkpoint evaluates
    with pytest.raises(Exception, match="'BAD'"):
        parse("# BAD 1\n10.0 1\n", is_strict=True)


def test_lax_mode_bad_time_token_null_time(parse):
    bt = parse("# BAD 1\n10.0 1\n", is_strict=False)
    (h,) = bt.headers.collect()
    assert h["time"] is None and h["time_raw"] is None and h["n"] == 1
    (d,) = bt.data.collect()
    assert d["time"] is None and d["a"] == 10.0


# Time tokens where Python's float() and Spark's cast disagree: the
# block's time key must follow the cast that strict mode validates.
# Spark rejects "1_0" (float() reads 10.0) and accepts "1.0d" as 1.0
# (float() raises).
@pytest.mark.parametrize("tok", ["1_0", "1.0d"])
def test_strict_mode_time_token_follows_spark_cast(parse, tok):
    if tok == "1_0":
        with pytest.raises(Exception, match=f"'{tok}'"):
            parse(f"# {tok} 1\n10.0 1\n", is_strict=True)
        return
    bt = parse(f"# {tok} 1\n10.0 1\n", is_strict=True)
    (h,) = bt.headers.collect()
    assert h["time"] == h["time_raw"] == 1.0
    assert [d["time"] for d in bt.data.collect()] == [1.0]


@pytest.mark.parametrize("tok, want", [("1_0", None), ("1.0d", 1.0)])
def test_lax_mode_time_token_follows_spark_cast(parse, tok, want):
    bt = parse(f"# {tok} 1\n10.0 1\n", is_strict=False)
    (h,) = bt.headers.collect()
    assert h["time"] == h["time_raw"] == want
    (d,) = bt.data.collect()
    assert d["time"] == want and d["a"] == 10.0


def test_duplicate_time_key_last_wins_and_rounding(spark, tmp_path):
    """Three OUT34 blocks whose times round to two keys: the later block
    of a key keeps its rows, and the key rounds half up (the Java
    HALF_UP twin, also for negative values)."""
    f = tmp_path / "OUT34"
    lines = []
    for t, name in [("1.0049", 11), ("1.0051", 22), ("1.005", 33)]:
        h = ["0"] * 28
        h[7] = t
        lines.append("# " + " ".join(h))
        lines.append(" ".join(["0"] * 7 + [str(name), "1"]))
    f.write_text("\n".join(lines) + "\n")
    data = _read(spark, str(f), OUT34_CONFIG).data
    # 1.0049 -> 1.0 ; 1.0051 and 1.005 -> 1.01 (HALF_UP), later wins
    assert sorted((r["time"], r["name"]) for r in data.collect()) == [
        (1.0, 11), (1.01, 33)
    ]
    assert round_half_up(1.005, 2) == 1.01
    assert round_half_up(-1.005, 2) == -1.01
    assert round_half_up(1.0049, 2) == 1.0


def test_reader_decodes_like_hadoop_text(spark, tmp_path):
    """Raw bytes decode as Hadoop's ``Text`` decodes them: CRLF line
    ends lose their "\\r", a lone "\\r" inside a line separates tokens
    (no universal newlines), and each malformed UTF-8 sequence (a bad
    byte, a truncated "\\xe2\\x82") becomes one U+FFFD."""
    f = tmp_path / "crlf"
    f.write_bytes(
        b"# 1.0 1\r\n10.0 1\r\n20.0\r2\r\n\r\n# 2.0 \xff1\r\n"
        b"30.0 3x\xfe\r\n40.0 \xe2\x82 \xe2\x82\xac\r\n"
    )
    blocks = read_blocks(spark, [("r", "f", str(f))], {"f": SIMPLE}, False)
    rows = [tuple(r) for r in blocks.orderBy("line_no").collect()]
    assert rows == [
        ("f", "r", "h", 0, 1, 1, 1.0, ["1.0", "1"], 1.0),
        ("f", "r", "d", 0, 2, None, 1.0, ["10.0", "1"], None),
        ("f", "r", "d", 0, 3, None, 1.0, ["20.0", "2"], None),
        ("f", "r", "h", 1, 5, 5, 2.0, ["2.0", "\ufffd1"], 2.0),
        ("f", "r", "d", 1, 6, None, 2.0, ["30.0", "3x\ufffd"], None),
        ("f", "r", "d", 1, 7, None, 2.0, ["40.0", "\ufffd", "\u20ac"], None),
    ]
    (h0, h1) = header_table(blocks, "f", SIMPLE, False).orderBy("time").collect()
    assert (h0["n"], h1["n"]) == (1, None)
