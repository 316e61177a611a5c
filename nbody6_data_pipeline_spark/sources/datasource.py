"""Spark 4 Python DataSource façade for NBODY6 run files.

``spark.read.format("nbody6")`` — the one-line ingestion surface on
top of the engine's block-text model (reference parser/base.py:156-307
semantics, implemented once in sources/block_text.py):

    register_nbody6_source(spark)
    df = (spark.read.format("nbody6")
          .option("kind", "OUT34")         # any FILE_CONFIGS key
          .option("table", "data")          # or "headers"
          .option("mode", "strict")         # or "lax"
          .load("/sims/batch42"))           # run root, dir of runs, or file

Scale shape: ``partitions()`` plans ONE InputPartition PER FILE, so a
directory of thousands of runs scans embarrassingly parallel with no
driver loop; each partition parses locally and ships its rows to the
JVM as ONE Arrow RecordBatch (columnar, no per-row pickling). This is
the discovery/convenience path — per-file-sized memory, like
block_text.read_blocks, the batch parser.

Parity contract: each file is split by the SAME ``split_blocks`` the
batch parser runs in its tasks (tokens, the HALF_UP-rounded time key
and duplicate-timestamp last-wins included); only the typed
conversion differs — Python casts here, Spark casts there — and
tests/test_datasource.py asserts DataSource output == load_runs
tables row-for-row on every fixture format (multi-line headers,
footers, duplicate-timestamp last-wins, lax nulls).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
)
from pyspark.sql import Row
from pyspark.sql import types as T

from nbody6_data_pipeline_spark.sources.block_text import (
    BlockSourceConfig,
    raise_block_violation,
    split_blocks,
)
from nbody6_data_pipeline_spark.sources.nbody6 import FILE_CONFIGS

_SPARK_TYPES = {
    "double": T.DoubleType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "string": T.StringType(),
}

_PY_CASTS = {
    "double": float,
    "int": int,
    "long": int,
    "string": str,
}


def _field_type(idx, typ: str) -> T.DataType:
    base = _SPARK_TYPES[typ]
    return T.ArrayType(base) if isinstance(idx, list) else base


def _source_schema(cfg: BlockSourceConfig, table: str) -> T.StructType:
    fields = [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("time", T.DoubleType(), True),
    ]
    schema = cfg.header_schema if table == "headers" else cfg.data_schema
    if table == "data":
        fields.append(T.StructField("line_no", T.LongType(), False))
    for name, (idx, typ) in schema.items():
        if table == "headers" and name == "time":
            continue  # rounded `time` is already a top-level key column
        fields.append(T.StructField(name, _field_type(idx, typ), True))
    return T.StructType(fields)


def _convert(toks: list[str], idx, typ: str, strict: bool):
    """Python twin of block_text._token_col (S2 positional projection):
    strict raises on out-of-range / bad cast, lax yields None."""

    def one(i: int):
        if i >= len(toks):
            if strict:
                raise ValueError(
                    f"token index {i} out of range ({len(toks)} tokens)"
                )
            return None
        try:
            return _PY_CASTS[typ](toks[i])
        except ValueError:
            if strict:
                raise
            return None

    if isinstance(idx, int):
        return one(idx)
    return [one(i) for i in idx]


def _parse_file(
    path: str, run_id: str, cfg: BlockSourceConfig, table: str, strict: bool
):
    """Parse one file into typed row tuples for the requested table.
    ``split_blocks`` applies the time-2dp rounding and the
    duplicate-timestamp last-wins policy (parser/base.py:215-223)."""
    with open(path, encoding="utf-8", errors="replace", newline="") as fh:
        content = fh.read()
    time_idx, time_typ = cfg.header_schema["time"]
    hdr_items = [
        (idx, typ) for n, (idx, typ) in cfg.header_schema.items() if n != "time"
    ]
    for kind, block_id, line_no, _, t, toks in split_blocks(content, cfg):
        if kind == "v":
            raise_block_violation(
                Row(
                    bad_line=line_no,
                    bad_txt=toks[0] if toks else None,
                    incomplete_header=line_no is None,
                )
            )
        if kind == "h":
            if strict and t is None:
                _convert(toks, time_idx, time_typ, strict)  # raises
            if table == "headers":
                yield (
                    run_id, block_id, t,
                    *(_convert(toks, idx, typ, strict) for idx, typ in hdr_items),
                )
        elif table == "data":
            yield (
                run_id, block_id, t, line_no,
                *(
                    _convert(toks, idx, typ, strict)
                    for idx, typ in cfg.data_schema.values()
                ),
            )


def _discover(path: str, kind: str) -> list[tuple[str, str]]:
    """(run_id, file) pairs: a direct file, a run dir containing
    ``kind``, or a root whose subtree holds many runs' ``kind`` files
    (run_id = dir path relative to the root)."""
    if os.path.isfile(path):
        return [(os.path.basename(os.path.dirname(path)) or ".", path)]
    direct = os.path.join(path, kind)
    if os.path.isfile(direct):
        return [(os.path.basename(os.path.normpath(path)), direct)]
    out = []
    for f in sorted(
        glob.glob(os.path.join(path, "**", kind), recursive=True)
    ):
        out.append((os.path.relpath(os.path.dirname(f), path), f))
    return out


class _FilePartition(InputPartition):
    def __init__(self, run_id: str, path: str):
        self.run_id = run_id
        self.path = path


class NBody6Reader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("nbody6 source requires a load(path)")
        self.kind = options.get("kind", "OUT34")
        if self.kind not in FILE_CONFIGS:
            raise ValueError(
                f"unknown kind {self.kind!r}; one of {sorted(FILE_CONFIGS)}"
            )
        self.table = options.get("table", "data")
        if self.table not in ("data", "headers"):
            raise ValueError("table must be 'data' or 'headers'")
        self.strict = options.get("mode", "strict") != "lax"
        self.run_id_allow: set[str] | None = None  # None = no constraint

    def pushFilters(self, filters):
        """Partition-level pushdown: run_id equality/IN constraints
        prune which FILES get opened and parsed at all — the Python-
        DataSource analogue of parquet partition pruning (at a sims
        root with thousands of runs, `WHERE run_id = 'batch42/run7'`
        plans exactly one InputPartition). Handled filters are exact
        (a file's rows all carry its run_id), so they are consumed
        here; everything else is returned for Spark to evaluate."""
        for f in filters:
            allow = None
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("run_id",):
                allow = {f.value}
            elif isinstance(f, In) and tuple(f.attribute) == ("run_id",):
                allow = set(f.value)
            if allow is None:
                yield f
            else:
                self.run_id_allow = (
                    allow
                    if self.run_id_allow is None
                    else self.run_id_allow & allow
                )

    def partitions(self):
        found = _discover(self.path, self.kind)
        if not found:
            raise FileNotFoundError(
                f"no {self.kind} files under {self.path}"
            )
        if self.run_id_allow is not None:
            found = [
                (rid, p) for rid, p in found if rid in self.run_id_allow
            ]
        if not found:
            # Pushdown pruned EVERY file. pyspark's Python-DataSource
            # runner calls read(None) when partitions() is empty, so a
            # fully-pruned scan (a routine production shape) must plan a
            # sentinel partition whose read yields an empty batch.
            return [_FilePartition(None, None)]
        return [_FilePartition(rid, p) for rid, p in found]

    def read(self, partition: _FilePartition):
        import pyarrow as pa

        cfg = FILE_CONFIGS[self.kind]
        if partition is None or partition.path is None:
            rows = []
        else:
            rows = list(
                _parse_file(
                    partition.path,
                    partition.run_id,
                    cfg,
                    self.table,
                    self.strict,
                )
            )
        schema = _source_schema(cfg, self.table)
        arrow_schema = pa.schema(
            [
                (f.name, _arrow_type(f.dataType))
                for f in schema.fields
            ]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(c, type=t)
                for c, t in zip(cols, arrow_schema.types)
            ],
            schema=arrow_schema,
        )


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    return pa.string()


class NBody6StreamReader(DataSourceStreamReader):
    """Micro-batch ingestion of simulation runs AS THEY LAND: each
    trigger's offset is the sorted list of run files visible under the
    root; a batch's partitions are the files that appeared since the
    last offset — one InputPartition per new file, parsed ON THE
    EXECUTORS by the same code path as the batch reader (this is the
    partition-planning API, not SimpleDataSourceStreamReader, whose
    read() would funnel every byte through the driver).

    Offset bound: O(total files seen) strings per offset JSON — the
    same bookkeeping Spark's built-in file source keeps in its
    file-stream log. A run file is assumed immutable once present
    (NBODY6 writes per-run outputs then moves on); appends to an
    already-seen file are not re-read.
    """

    def __init__(self, batch: NBody6Reader):
        self._b = batch

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {
            "seen": sorted(
                p for _, p in _discover(self._b.path, self._b.kind)
            )
        }

    def partitions(self, start: dict, end: dict):
        prev = set(start.get("seen", []))
        new = [p for p in end.get("seen", []) if p not in prev]
        rid = {p: r for r, p in _discover(self._b.path, self._b.kind)}
        return [
            _FilePartition(rid.get(p, os.path.basename(os.path.dirname(p))), p)
            for p in new
        ]

    def read(self, partition: _FilePartition):
        return self._b.read(partition)

    def commit(self, end: dict) -> None:
        pass


class NBody6DataSource(DataSource):
    """format("nbody6") — options: kind (FILE_CONFIGS key, default
    OUT34), table (data|headers), mode (strict|lax). Supports both
    batch reads and readStream (new run files per micro-batch)."""

    @classmethod
    def name(cls) -> str:
        return "nbody6"

    def schema(self) -> T.StructType:
        kind = self.options.get("kind", "OUT34")
        table = self.options.get("table", "data")
        return _source_schema(FILE_CONFIGS[kind], table)

    def reader(self, schema: T.StructType) -> NBody6Reader:
        return NBody6Reader(self.options)

    def streamReader(self, schema: T.StructType) -> NBody6StreamReader:
        reader = NBody6Reader(dict(self.options))
        return NBody6StreamReader(reader)


def register_nbody6_source(spark) -> None:
    """Register format("nbody6") and enable Python-DataSource filter
    pushdown (a runtime conf, default false — Spark hard-errors on a
    reader that merely IMPLEMENTS pushFilters while it's off)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NBody6DataSource)
