"""Hierarchy labeling functions (SURVEY §2.8 F15-F17).

Parity targets: reference assembler.py:260-287 (pair label),
assembler.py:589-617 (per-star hierarchy list), observer.py:185-191.

Labels: a component group of ids [1,2] renders as ``"(1+2)"``; a
singleton [3] as ``"3"``; a pair of groups joins with ``+`` in
canonical order (singletons before groups, then by first id).
The pair label has a Spark form (``hierarchy_pair_label``, the registry
query's) and a Python form (``pair_label``, the per-snapshot kernel's);
the hierarchy sort is Python only, since only the kernel sorts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.xp import SPARK


def _group_label(ids: Column) -> Column:
    """ids ARRAY<BIGINT> -> '(1+2)' or '3' (assembler.py:260-274)."""
    joined = F.concat_ws("+", F.transform(F.array_sort(ids), lambda x: x.cast("string")))
    return F.when(F.size(ids) > 1, F.concat(F.lit("("), joined, F.lit(")"))).otherwise(
        joined
    )


def hierarchy_pair_label(ids1: Column, ids2: Column) -> Column:
    """F15 — canonical 'A+B' pair label (assembler.py:276-287).

    Canonical order: non-group (singleton) labels sort before group
    labels; within the same kind, order by smallest member id.
    """
    l1, l2 = _group_label(ids1), _group_label(ids2)
    k1 = F.struct(
        (F.size(ids1) > 1).cast("int").alias("grp"),
        F.array_min(ids1).alias("mn"),
    )
    k2 = F.struct(
        (F.size(ids2) > 1).cast("int").alias("grp"),
        F.array_min(ids2).alias("mn"),
    )
    return F.when(k1 <= k2, F.concat_ws("+", l1, l2)).otherwise(
        F.concat_ws("+", l2, l1)
    )


def pair_label(ids1: list[int], ids2: list[int]) -> str:
    """F15 in Python, for the per-snapshot kernel: the label that
    ``hierarchy_pair_label`` builds in Spark (test_functions pins the
    two together)."""

    def group(ids):
        joined = "+".join(map(str, sorted(ids)))
        return f"({joined})" if len(ids) > 1 else joined

    l1, l2 = group(ids1), group(ids2)
    if (len(ids1) > 1, min(ids1)) <= (len(ids2) > 1, min(ids2)):
        return f"{l1}+{l2}"
    return f"{l2}+{l1}"


def sort_hierarchy(labels: list[str]) -> list[str]:
    """F16 — sort pair labels by (length, lexicographic)
    (assembler.py:596-599): shorter labels first, ties lexicographic.
    """
    return sorted(labels, key=lambda p: (len(p), p))


def is_multi_system_star(hierarchy: Column, xp=SPARK) -> Column:
    """F17 (stars) — len(hierarchy) > 2 (assembler.py:605-617)."""
    return xp.size(hierarchy) > 2


def is_multi_system_binary(ids1: Column, ids2: Column, xp=SPARK) -> Column:
    """F17 (binaries) — either side is itself a group
    (assembler.py:420-425).
    """
    return (xp.size(ids1) > 1) | (xp.size(ids2) > 1)
