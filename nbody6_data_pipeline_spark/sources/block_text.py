"""S1/S2 — block-structured text scan, split in the task that reads
the file.

Reference spec: parser/base.py:156-239 (parse), 241-307 (_iter_block),
309-332 (_apply_schema). A file is a sequence of blocks: each block is
``header_length`` header lines (prefix-tagged) followed by data lines
until the next header/footer. Multi-line header tokens concatenate.
Empty lines are skipped everywhere; footer lines terminate a block and
are never parsed. ``time`` (rounded to 2 decimals) keys the block;
duplicate timestamps keep the LAST block (parser/base.py:217-223).

Spark recipe (SURVEY §2.1 S1): ``read_blocks`` runs ONE
``mapInArrow`` over the indices of every (run, format) file of a batch;
the task that opens a file runs ``split_blocks`` on its whole text, so
block numbering, the time key and the last-wins dedup happen where the
file is read — no shuffle, window or join. The result is one generic row
table, ``BLOCKS_SCHEMA``, materialized once with ``localCheckpoint``;
``header_table``/``data_table`` are narrow typed projections of it
(S2). One NBODY6 file is single-machine-sized, and scale lives in the
run dimension.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nbody6_data_pipeline_spark.functions.misc import round_half_up

Index = int | list[int]


@dataclass(frozen=True)
class BlockSourceConfig:
    """Declarative, positional schema for one file format
    (reference FileParserConfig, parser/base.py:44-69)."""

    header_prefix: str
    header_length: int
    # name -> (token index or index list, Spark type name)
    header_schema: dict[str, tuple[Index, str]]
    data_schema: dict[str, tuple[Index, str]]
    footer_prefix: str | None = None


# One row per header block ("h"), data line ("d") or structural
# violation ("v") of a (file, run_id) pair. Header rows span
# line_no..line_end; a violation row carries the offending line in
# line_no and its text as the one token (line_no is null for an
# incomplete header at end of file).
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("block_id", T.LongType(), True),
        T.StructField("line_no", T.LongType(), True),
        T.StructField("line_end", T.LongType(), True),
        T.StructField("time", T.DoubleType(), True),
        T.StructField("toks", T.ArrayType(T.StringType()), False),
    ]
)

# Java's \s — what Spark's split(col, "\\s+") splits on; Python's \s
# also matches Unicode spaces.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


# What Spark's string -> double cast accepts: Java's Double.valueOf
# grammar (ASCII digits, optional exponent, a trailing f/F/d/D type
# suffix, hex floats, NaN/Infinity) after trimming characters <= ' ',
# plus Spark's case-insensitive inf/infinity/nan literals.
_JAVA_DEC = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[fFdD]?)",
    re.ASCII,
)
_JAVA_HEX = re.compile(
    r"([+-]?)0[xX]((?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?\d+)"
    r"[fFdD]?",
    re.ASCII,
)
_SPARK_SPECIAL = {
    "inf": math.inf, "+inf": math.inf, "infinity": math.inf,
    "+infinity": math.inf, "-inf": -math.inf, "-infinity": -math.inf,
    "nan": math.nan,
}


def spark_double(tok: str) -> float | None:
    """``tok`` cast to double as Spark casts a string, or None where
    the cast fails (``try_cast`` null, ANSI ``cast`` error)."""
    s = tok.strip("".join(map(chr, range(33))))
    if _JAVA_DEC.fullmatch(s):
        return float(s.rstrip("fFdD").replace("Infinity", "inf"))
    m = _JAVA_HEX.fullmatch(s)
    if m:
        return float.fromhex(m[1] + "0x" + m[2])
    return _SPARK_SPECIAL.get(s.lower())


def _time_key(toks: list[str], idx: int) -> float | None:
    """The block's 2-decimal time key, or None for a missing token or
    one Spark's cast rejects (strict mode raises on it through
    ``time_raw``)."""
    t = spark_double(toks[idx]) if idx < len(toks) else None
    return None if t is None else round_half_up(t, 2)


def split_blocks(content: str, cfg: BlockSourceConfig):
    """Split one whole file into generic rows
    ``(kind, block_id, line_no, line_end, time, toks)``.

    Lines are split on "\\n" and lose a trailing "\\r"; spaces (only)
    are trimmed and empty lines skipped; footer lines are never parsed;
    header tokens (after stripping the prefix characters) concatenate
    across the block's header lines; tokens split on Java ``\\s+``, as
    Spark's ``split`` does. A data line before a complete header group,
    or a trailing incomplete header group, yields one "v" row and
    nothing else. Duplicate timestamps keep the LAST block
    (parser/base.py:217-223); data rows carry their block's time.
    """
    hl = cfg.header_length
    strip_chars = "".join(sorted(set(cfg.header_prefix)))
    lines = content.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    blocks: list[tuple[list, list]] = []  # ([start, end, toks], data rows)
    hdr_cum = 0
    for line_no, raw in enumerate(lines, 1):
        txt = raw.rstrip("\r").strip(" ")
        if not txt or (
            cfg.footer_prefix is not None and txt.startswith(cfg.footer_prefix)
        ):
            continue
        if txt.startswith(cfg.header_prefix):
            if hdr_cum % hl == 0:
                blocks.append(([line_no, line_no, []], []))
            hdr = blocks[-1][0]
            hdr[1] = line_no
            hdr[2] += _JAVA_WS.split(txt.lstrip(strip_chars).strip(" "))
            hdr_cum += 1
        elif hdr_cum % hl or not hdr_cum:
            yield ("v", None, line_no, None, None, [txt])
            return
        else:
            blocks[-1][1].append((line_no, _JAVA_WS.split(txt)))
    if hdr_cum % hl:
        yield ("v", None, None, None, None, [])
        return
    time_idx = cfg.header_schema["time"][0]
    times = [_time_key(hdr[2], time_idx) for hdr, _ in blocks]
    last = {t: i for i, t in enumerate(times)}
    for i, ((start, end, toks), data) in enumerate(blocks):
        if last[times[i]] != i:
            continue
        yield ("h", i, start, end, times[i], toks)
        for line_no, dtoks in data:
            yield ("d", i, line_no, None, times[i], dtoks)


def token_col(tokens: F.Column, idx: Index, typ: str, is_strict: bool) -> F.Column:
    """S2 positional token projection (parser/base.py:309-332).

    strict: out-of-range index or bad conversion raises (ANSI
    element_at / cast). lax: null instead (F.get / try_cast)."""

    def one(i: int) -> F.Column:
        tok = F.element_at(tokens, i + 1) if is_strict else F.get(tokens, i)
        return tok.cast(typ) if is_strict else tok.try_cast(typ)

    if isinstance(idx, int):
        return one(idx)
    return F.array(*[one(i) for i in idx])


def read_blocks(
    spark: SparkSession,
    files: list[tuple[str, str, str]],
    configs: dict[str, BlockSourceConfig],
    is_strict: bool = True,
) -> DataFrame:
    """Parse ``files`` (``[(run_id, file, path)]``, ``file`` a key of
    ``configs``) into ONE checkpointed generic block table.

    Each file is read and split once, by the ``mapInArrow`` task that
    gets its index into ``files``. Its bytes decode as UTF-8 with
    U+FFFD for each malformed sequence, as Hadoop's ``Text`` decodes
    them; a lone "\\r" stays inside its line. ``time_raw``, the
    header's unrounded time, is a Spark cast evaluated by the
    checkpoint, so a bad time token raises there in strict mode (and
    is null in lax mode). The structural check is an ``Observation``
    on the checkpoint's own scan, so it costs no job of its own; it
    raises the reference's message for the first violation (by file,
    run and line).
    """
    schema = to_arrow_schema(BLOCKS_SCHEMA)

    def split_files(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                rid, fname, path = files[i]
                with open(path, "rb") as f:
                    text = f.read().decode("utf-8", errors="replace")
                rows = [(fname, rid, *r) for r in split_blocks(text, configs[fname])]
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, fld.type) for c, fld in zip(zip(*rows), schema)],
                        schema=schema,
                    )

    time_raw = None
    for fname, cfg in configs.items():
        cond = (F.col("kind") == "h") & (F.col("file") == fname)
        val = token_col(F.col("toks"), *cfg.header_schema["time"], is_strict)
        time_raw = F.when(cond, val) if time_raw is None else time_raw.when(cond, val)
    violations = Observation("block_violations")
    first_violation = F.when(
        F.col("kind") == "v",
        F.struct(
            "file",
            "run_id",
            F.col("line_no").alias("bad_line"),
            F.get("toks", 0).alias("bad_txt"),
            F.col("line_no").isNull().alias("incomplete_header"),
        ),
    )
    blocks = (
        spark.range(0, len(files), 1, min(len(files), 256))
        .mapInArrow(split_files, BLOCKS_SCHEMA)
        .withColumn("time_raw", time_raw)
        .observe(violations, F.min(first_violation).alias("bad"))
        .localCheckpoint()
    )
    bad = violations.get["bad"]
    if bad is not None:
        raise_block_violation(bad)
    return blocks


def header_table(
    blocks: DataFrame, name: str, cfg: BlockSourceConfig, is_strict: bool
) -> DataFrame:
    """One row per (deduplicated) block of ``name``: run_id, block_id,
    the header's line span, ``time``, the typed header columns and
    ``time_raw``."""
    cols = [
        token_col(F.col("toks"), idx, typ, is_strict).alias(col)
        for col, (idx, typ) in cfg.header_schema.items()
        if col != "time"
    ]
    return blocks.filter((F.col("file") == name) & (F.col("kind") == "h")).select(
        "run_id",
        "block_id",
        F.col("line_no").alias("header_line_start"),
        F.col("line_end").alias("header_line_end"),
        "time",
        *cols,
        "time_raw",
    )


def data_table(
    blocks: DataFrame, name: str, cfg: BlockSourceConfig, is_strict: bool
) -> DataFrame:
    """One row per data line of ``name``: run_id, block_id, its block's
    ``time``, line_no and the typed data columns."""
    cols = [
        token_col(F.col("toks"), idx, typ, is_strict).alias(col)
        for col, (idx, typ) in cfg.data_schema.items()
    ]
    return blocks.filter((F.col("file") == name) & (F.col("kind") == "d")).select(
        "run_id", "block_id", "time", "line_no", *cols
    )


def raise_block_violation(bad) -> None:
    """Raise the reference's parse error message for one violation row
    (parser/base.py:272-283 wording)."""
    if bad["bad_line"] is not None:
        ctx = "".join(
            f" [{c}={bad[c]}]"
            for c in bad.asDict()
            if c not in ("bad_line", "bad_txt", "incomplete_header")
        )
        raise ValueError(
            f"[LINE {bad['bad_line']}]{ctx} Expected a header line, "
            f"but got: '{bad['bad_txt']}'"
        )
    raise ValueError("Incomplete header at end of file.")
