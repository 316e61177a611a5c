"""Miscellaneous scalar helpers (SURVEY §2.8 F18-F25)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def ceil_bin(dist: Column) -> Column:
    """F19 — annulus bin index: ceil(max(d, 0)) (snapshot.py:360-374)."""
    return F.ceil(F.greatest(dist, F.lit(0.0)))


def null_safe_ratio(num: Column, denom: Column) -> Column:
    """F20 — num/denom with 0-denominator -> NULL (notebook derived
    metrics; pandas 0/0 -> NaN mapped deliberately to Spark NULL).
    """
    return num / F.nullif(denom, F.lit(0))


def run_id_label(
    rad: Column, zmet: Column, mass_lv: Column, pos: Column
) -> Column:
    """F24 — 'Rad%02d-zmet%04d-M%d-%04d' (utils.py:72)."""
    return F.format_string("Rad%02d-zmet%04d-M%d-%04d", rad, zmet, mass_lv, pos)


def log_ops(col: Column, op: str) -> Column:
    """F22 — configurable per-column transform before binning
    (dataset_split.ipynb `_apply_ops`).
    """
    ops = {
        "log": F.log,
        "log1p": F.log1p,
        "log10": F.log10,
        "sqrt": F.sqrt,
        "identity": lambda c: c,
    }
    if op not in ops:
        raise ValueError(f"unknown op {op!r}; expected one of {sorted(ops)}")
    return ops[op](col)


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``round(x, digits)`` of one double, in Python: HALF_UP
    on the shortest decimal that round-trips (Java's Double.toString
    and Python's repr emit the same digits). ``+ 0.0`` drops the sign
    of a zero result, which a BigDecimal does not keep. NaN and the
    infinities come back as they are, as in Spark."""
    if not math.isfinite(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)) + 0.0
