"""S1/S2 — block-structured text scan, Spark-native.

Reference spec: parser/base.py:156-239 (parse), 241-307 (_iter_block),
309-332 (_apply_schema). A file is a sequence of blocks: each block is
``header_length`` header lines (prefix-tagged) followed by data lines
until the next header/footer. Multi-line header tokens concatenate.
Empty lines are skipped everywhere; footer lines terminate a block and
are never parsed. ``time`` (rounded to 2 decimals) keys the block;
duplicate timestamps keep the LAST block (parser/base.py:217-223).

Spark recipe (SURVEY §2.1 S1): ``read_lines_runs`` reads every run's
file of one format as (run_id, line_no, raw) — order must be carried
explicitly because Spark rows are unordered — then ``parse_blocks``
flags header/footer lines, assigns block ids with a running
``sum(is_header) over (partition by run_id order by line_no)`` window,
aggregates header tokens per block and projects data tokens
positionally. Every window and aggregation is partitioned by
``run_id``, so thousands of runs parse as ONE shuffle-parallel job;
one NBODY6 file is single-machine-sized, and scale lives in the run
dimension.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


@dataclass
class BlockTables:
    """Parsed output: one row per block in ``headers``, one row per
    data line in ``data`` — both keyed by ``time`` (the reference's
    dict[timestamp -> FileBlock] flattened into long tables).

    ``violations`` is a lazy DataFrame of structural errors (one row
    per bad run) that the caller unions across file formats and checks
    in ONE job; ``raise_block_violation`` turns a row into the
    reference's error. It is None once the tables are aligned."""

    headers: DataFrame
    data: DataFrame
    violations: DataFrame | None = None


def _lstrip_class(prefix: str) -> str:
    """Regex matching the reference's str.lstrip(prefix) semantics:
    lstrip strips any leading chars IN THE SET of prefix chars
    (parser/base.py:288: ``ln_txt.lstrip(header_prefix)``)."""
    chars = "".join(sorted(set(prefix)))
    return "^[" + re.escape(chars) + "]+" if chars else ""


def read_lines_runs(
    spark: SparkSession, run_paths: list[tuple[str, str]]
) -> DataFrame:
    """Batched multi-run line source: (run_id, line_no, raw) for the
    SAME file format across many runs, in ONE lazy source — no
    per-file driver action (zipWithIndex runs a job per call; at
    thousands of runs that serializes the driver).

    Built on wholeTextFiles: each file is one record whose task
    enumerates line numbers locally. Per-task memory is one whole
    file — fine for NBODY6 outputs (single-machine-sized by format;
    scale lives in the run dimension).
    """
    abs_map = {os.path.abspath(p): rid for rid, p in run_paths}
    paths = ",".join(abs_map)
    minp = min(len(abs_map), 256)

    def split_file(rec):
        path, content = rec
        p = path
        for pre in ("file:", "hdfs://"):
            if p.startswith(pre):
                p = p[len(pre):]
                p = "/" + p.lstrip("/")
                break
        rid = abs_map.get(os.path.abspath(p))
        lines = content.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        for i, ln in enumerate(lines):
            yield (rid, i + 1, ln.rstrip("\r"))

    rdd = spark.sparkContext.wholeTextFiles(paths, minp).flatMap(split_file)
    return spark.createDataFrame(
        rdd,
        schema=T.StructType(
            [
                T.StructField("run_id", T.StringType(), False),
                T.StructField("line_no", T.LongType(), False),
                T.StructField("raw", T.StringType(), True),
            ]
        ),
    )


def _token_col(tokens: F.Column, idx: Index, typ: str, is_strict: bool) -> F.Column:
    """S2 positional token projection (parser/base.py:309-332).

    strict: out-of-range index or bad conversion raises (ANSI
    element_at / cast). lax: null instead (F.get / try_cast)."""

    def one(i: int) -> F.Column:
        tok = F.element_at(tokens, i + 1) if is_strict else F.get(tokens, i)
        return tok.cast(typ) if is_strict else tok.try_cast(typ)

    if isinstance(idx, int):
        return one(idx)
    return F.array(*[one(i) for i in idx])


def parse_blocks(
    lines: DataFrame, cfg: BlockSourceConfig, is_strict: bool = True
) -> BlockTables:
    """Split ordered (run_id, line_no, raw) lines into blocks and apply
    the positional schema.

    Returns headers (run_id, block_id, time, line-span meta, header
    columns), data (run_id, block_id, time, data columns) and the lazy
    structural ``violations``. Duplicate timestamps: last block wins,
    matching parser/base.py:217-223. Every window and aggregation is
    partitioned by run_id.
    """
    stripped = lines.select(
        "run_id", "line_no", F.trim(F.col("raw")).alias("txt")
    )
    nonempty = stripped.filter(F.col("txt") != "")

    is_footer = (
        F.col("txt").startswith(cfg.footer_prefix)
        if cfg.footer_prefix is not None
        else F.lit(False)
    )
    # header match is tested BEFORE footer only when the prefixes don't
    # shadow each other; reference checks footer first in the data loop
    # and skips footer lines during header collection — net effect:
    # a footer line is never a header line.
    is_header = F.col("txt").startswith(cfg.header_prefix) & ~is_footer

    w = (
        W.partitionBy("run_id")
        .orderBy("line_no")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = nonempty.select(
        "run_id",
        "line_no",
        "txt",
        is_header.alias("is_header"),
        is_footer.alias("is_footer"),
        F.sum(is_header.cast("long")).over(w).alias("hdr_cum"),
    )

    hl = cfg.header_length
    # Structural validation (parser/base.py:272-283), ONE aggregation:
    # - a data line must appear only after a COMPLETE header group
    # - EOF inside a header group is an incomplete-header error
    bad_cond = (
        ~F.col("is_header")
        & ~F.col("is_footer")
        & ((F.col("hdr_cum") % hl != 0) | (F.col("hdr_cum") == 0))
    )
    chk_df = flagged.groupBy("run_id").agg(
        F.max("hdr_cum").alias("tail"),
        F.min(F.when(bad_cond, F.col("line_no"))).alias("bad_line"),
        F.min_by(F.col("txt"), F.when(bad_cond, F.col("line_no"))).alias("bad_txt"),
    )
    violations = chk_df.filter(
        F.col("bad_line").isNotNull()
        | (F.coalesce(F.col("tail"), F.lit(0)) % hl != 0)
    ).select(
        "run_id",
        "bad_line",
        "bad_txt",
        (F.coalesce(F.col("tail"), F.lit(0)) % hl != 0).alias(
            "incomplete_header"
        ),
    )

    blocked = flagged.filter(~F.col("is_footer")).select(
        "run_id",
        "line_no",
        "txt",
        "is_header",
        F.when(
            F.col("is_header"), (F.col("hdr_cum") - 1) / hl
        ).otherwise(F.col("hdr_cum") / hl - 1)
        .cast("long")
        .alias("block_id"),
    )

    strip_re = _lstrip_class(cfg.header_prefix)
    header_txt = (
        F.regexp_replace(F.col("txt"), strip_re, "") if strip_re else F.col("txt")
    )
    header_lines = blocked.filter("is_header").select(
        "run_id",
        "block_id",
        "line_no",
        F.split(F.trim(header_txt), r"\s+").alias("toks"),
    )
    # multi-line headers: concatenate tokens in line order
    # (parser/base.py:258: flat token list across header rows)
    header_tok = (
        header_lines.groupBy("run_id", "block_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "toks"))
                    ),
                    lambda s: s.getField("toks"),
                )
            ).alias("toks"),
            F.min("line_no").alias("header_line_start"),
            F.max("line_no").alias("header_line_end"),
        )
    )

    hdr_cols = [
        _token_col(F.col("toks"), idx, typ, is_strict).alias(name)
        for name, (idx, typ) in cfg.header_schema.items()
    ]
    headers = header_tok.select(
        "run_id", "block_id", "header_line_start", "header_line_end", *hdr_cols
    )
    # time keys the block, rounded to 2 decimals (parser/base.py:215);
    # the unrounded value is preserved as time_raw (the reference keeps
    # it inside the block header dict).
    headers = headers.withColumn("time_raw", F.col("time")).withColumn(
        "time", F.round(F.col("time"), 2)
    )

    # duplicate timestamps: LAST block wins (parser/base.py:217-223)
    w_dup = W.partitionBy("run_id", "time").orderBy(F.col("block_id").desc())
    headers = (
        headers.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    data_lines = blocked.filter(~F.col("is_header")).select(
        "run_id",
        "block_id",
        "line_no",
        F.split(F.col("txt"), r"\s+").alias("toks"),
    )
    data_cols = [
        _token_col(F.col("toks"), idx, typ, is_strict).alias(name)
        for name, (idx, typ) in cfg.data_schema.items()
    ]
    data = data_lines.join(
        headers.select("run_id", "block_id", "time"),
        ["run_id", "block_id"],
    ).select("run_id", "block_id", "time", "line_no", *data_cols)

    return BlockTables(headers=headers, data=data, violations=violations)


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
