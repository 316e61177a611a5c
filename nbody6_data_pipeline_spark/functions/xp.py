"""The two array namespaces the scalar catalog is written over.

Every physics helper in this package takes ``xp``. ``SPARK`` (the
default) builds the same native ``Column`` expression the helper has
always built; ``NUMPY`` evaluates the same formula on numpy arrays
inside the per-snapshot grouped-map kernels (operators/assemble.py,
operators/observe.py). Arithmetic operators are shared; only the named
functions differ, so each formula has one definition for both.
``arrow_rows`` turns what those kernels compute into their Arrow output
rows.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

SPARK = SimpleNamespace(
    lit=F.lit,
    abs=F.abs,
    sqrt=F.sqrt,
    cbrt=F.cbrt,
    pow=F.pow,
    log10=F.log10,
    sin=F.sin,
    cos=F.cos,
    asin=F.asin,
    atan2=F.atan2,
    degrees=F.degrees,
    greatest=F.greatest,
    size=F.size,
    where=lambda cond, a, b: F.when(cond, a).otherwise(b),
)

NUMPY = SimpleNamespace(
    lit=lambda v: v,
    abs=np.abs,
    sqrt=np.sqrt,
    cbrt=np.cbrt,
    pow=np.power,
    log10=np.log10,
    sin=np.sin,
    cos=np.cos,
    asin=np.arcsin,
    atan2=np.arctan2,
    degrees=np.degrees,
    greatest=np.maximum,
    size=lambda arrays: np.fromiter(map(len, arrays), np.int64, len(arrays)),
    where=np.where,
)


def arrow_rows(schema: pa.Schema, n: int, cols: dict, const: dict) -> pa.Table:
    """An ``n``-row table of ``schema``: ``cols`` are per-row values
    (arrays or lists; numpy NaN becomes null), ``const`` one value
    repeated; every other column is null."""
    arrays = []
    for f in schema:
        if f.name in const:
            arrays.append(pa.repeat(pa.scalar(const[f.name], f.type), n))
        elif f.name in cols:
            v = cols[f.name]
            if isinstance(v, (pa.Array, pa.ChunkedArray)):
                arrays.append(v.cast(f.type))
            else:
                arrays.append(pa.array(v, type=f.type, from_pandas=True))
        else:
            arrays.append(pa.nulls(n, f.type))
    return pa.Table.from_arrays(arrays, schema=schema)
