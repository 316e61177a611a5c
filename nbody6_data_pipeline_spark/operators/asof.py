"""General as-of join (pandas ``merge_asof`` semantics, backward,
inclusive): every left row picks the LATEST right row with the same
``by`` keys and right.on <= left.on, optionally within a tolerance.

The classic distributed formulation — union both sides with a side
tag, one window per ``by`` partition carrying the last-seen right
payload forward — so the cost is ONE shuffle on the by-keys and a
partition-local sort: no range-condition join (which Spark would plan
as a broadcast-nested-loop or an exploded inequality join, both
quadratic shapes), and no per-key driver loop. This generalizes the
windowed single-table variant (queries_window.py
asof_join_prior_view) to two arbitrary tables. The NBODY6 timestamp
alignment (operators/align.py, reference loader.py:138-200) needs no
as-of join: it matches by row index inside one per-run kernel.

Ties: the right side is first reduced to ONE row per (by, on) — the
maximum of the payload struct — so the match is deterministic and
cross-engine reproducible (DuckDB's native ASOF JOIN leaves the
equal-timestamp choice unspecified; the reduction makes both engines
agree by construction).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["merge_asof"]


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    right_cols: Sequence[str],
    tolerance: int | float | None = None,
    suffix: str = "_match",
    direction: str = "backward",
) -> DataFrame:
    """As-of join ``left`` with ``right``.

    ``on``: ordering column, present in both (numeric or anything with
    a total order under Spark comparison; the tolerance check uses
    subtraction, so numeric/epoch columns for that).
    ``by``: equality key columns present in both.
    ``right_cols``: right-side payload columns to attach; each appears
    in the output as ``<col><suffix>``, plus ``<on><suffix>`` (the
    matched right timestamp). All NULL when no match (or none within
    tolerance).
    ``direction`` (pandas semantics, all inclusive at equal ``on``):
    ``backward`` = latest right at-or-before; ``forward`` = earliest
    right at-or-after (one more backward pass over the reversed
    ordering — still a single shuffle on the by-keys); ``nearest`` =
    whichever of the two is closer (ties to the earlier right row, as
    pandas resolves them).
    """
    if direction == "nearest":
        b = _asof_one_dir(
            left, right, on, by, right_cols, tolerance, "_b", "backward"
        )
        both = _asof_one_dir(
            b, right, on, by, right_cols, tolerance, "_f", "forward"
        )
        db = F.col(on) - F.col(f"{on}_b")
        df_ = F.col(f"{on}_f") - F.col(on)
        pick_b = F.col(f"{on}_f").isNull() | (
            F.col(f"{on}_b").isNotNull() & (db <= df_)
        )
        cols = [on, *right_cols]
        return both.select(
            *[c for c in left.columns],
            *[
                F.when(pick_b, F.col(f"{c}_b"))
                .otherwise(F.col(f"{c}_f"))
                .alias(f"{c}{suffix}")
                for c in cols
            ],
        )
    return _asof_one_dir(
        left, right, on, by, right_cols, tolerance, suffix, direction
    )


def _asof_one_dir(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    right_cols: Sequence[str],
    tolerance,
    suffix: str,
    direction: str,
) -> DataFrame:
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction!r}")
    fwd = direction == "forward"
    by = list(by)
    # one deterministic right row per (by, on): max payload struct
    r = right.groupBy(*by, on).agg(
        F.max(F.struct(*right_cols)).alias("_rp")
    )
    rpay = r.select(
        *by,
        F.col(on).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(F.col(on).alias("_ron"), F.col("_rp").alias("_rv")).alias(
            "_r"
        ),
    )
    rtype = rpay.schema["_r"].dataType
    lt = left.select(
        *by,
        F.col(on).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rtype).alias("_r"),
        F.struct(*left.columns).alias("_l"),
    )
    rt = rpay.withColumn("_l", F.lit(None).cast(lt.schema["_l"].dataType))
    u = lt.unionByName(rt)

    # backward: right rows (side 0) sort before left rows at the same
    # _t, so an equal-timestamp right row IS visible (inclusive), and
    # the carried value is the LAST right row at or before. forward:
    # reverse the time order — the same window then carries the
    # EARLIEST right row at or after.
    order = (
        [F.col("_t").desc(), F.col("_side").asc()]
        if fwd
        else [F.col("_t").asc(), F.col("_side").asc()]
    )
    w = (
        W.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = F.last("_r", ignorenulls=True).over(w)
    out = u.withColumn("_m", matched).filter(F.col("_side") == 1)
    if tolerance is not None:
        gap = (
            F.col("_m._ron") - F.col("_t")
            if fwd
            else F.col("_t") - F.col("_m._ron")
        )
        out = out.withColumn(
            "_m", F.when(gap <= F.lit(tolerance), F.col("_m"))
        )
    return out.select(
        F.col("_l.*"),
        F.col("_m._ron").alias(f"{on}{suffix}"),
        *[
            F.col(f"_m._rv.{c}").alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
