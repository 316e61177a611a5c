"""Geometry / kinematics column expressions (SURVEY §2.8 F13-F14, F6 support).

Parity targets: reference assembler.py:191-219, calc/cluster.py:22-26,
collect_inclination_stats.py:25-34.
"""

from __future__ import annotations

from pyspark.sql import Column

from nbody6_data_pipeline_spark.functions.xp import SPARK


def euclidean_norm(x: Column, y: Column, z: Column, xp=SPARK) -> Column:
    """|(x, y, z)|."""
    return xp.sqrt(x * x + y * y + z * z)


def dist_to_center(
    x: Column, y: Column, z: Column, cx: Column, cy: Column, cz: Column,
    xp=SPARK,
) -> Column:
    """F13 — Euclidean distance to a center point (assembler.py:191-194)."""
    return euclidean_norm(x - cx, y - cy, z - cz, xp)


def cross_product(
    a: tuple[Column, Column, Column], b: tuple[Column, Column, Column]
) -> tuple[Column, Column, Column]:
    """Component-wise 3-vector cross product (calc/binary.py:74-80)."""
    ax, ay, az = a
    bx, by, bz = b
    return (ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx)


def within_radius_flags(dist: Column, r_tidal: Column) -> dict:
    """F14 — within-radius flags and normalized distances
    (assembler.py:196-219). Returns named columns to attach with
    ``withColumns``.
    """
    return {
        "dist_dc_r_tidal": dist / r_tidal,
        "is_within_r_tidal": dist <= r_tidal,
        "is_within_2x_r_tidal": dist <= r_tidal * 2.0,
    }
