"""Binary-system scalar functions (SURVEY §2.8 F1-F8).

Parity targets: reference calc/binary.py. All are native column
expressions; the log-space numerically-stable forms are preserved
(reference uses np.logaddexp-style formulations).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.constants import (
    AU_M,
    DAY_S,
    KEPLER_K,
    PC_AU,
    UNRESOLVED_SEP_FACTOR,
    WIDE_BINARY_AU,
)
from nbody6_data_pipeline_spark.functions.xp import SPARK


def calc_total_log_luminosity(log_l1: Column, log_l2: Column, xp=SPARK) -> Column:
    """F1 — log10(10^a + 10^b), numerically stable (calc/binary.py:10-17).

    Stable log-sum-exp form: max + log10(1 + 10^(-|a-b|)) avoids
    overflow for large log-luminosities.
    """
    return xp.greatest(log_l1, log_l2) + xp.log10(
        xp.lit(1.0) + xp.pow(xp.lit(10.0), -xp.abs(log_l1 - log_l2))
    )


def calc_equivalent_radius(r1: Column, r2: Column) -> Column:
    """F2 — sqrt(r1^2 + r2^2) (calc/binary.py:20-27)."""
    return F.sqrt(r1 * r1 + r2 * r2)


def calc_log_equivalent_radius(log_r1: Column, log_r2: Column, xp=SPARK) -> Column:
    """F2 (log form) — 0.5 * log10(10^(2a) + 10^(2b)) (calc/binary.py:30-35)."""
    return calc_total_log_luminosity(log_r1 * 2.0, log_r2 * 2.0, xp) * 0.5


def calc_total_mass(m1: Column, m2: Column) -> Column:
    """F3 — m1 + m2 (calc/binary.py:38-40)."""
    return m1 + m2


def calc_photocentric_scalar(
    lum1: Column, lum2: Column, v1: Column, v2: Column, eps: float = 1e-12,
    xp=SPARK,
) -> Column:
    """F4 — luminosity-weighted mean of a scalar component
    (calc/binary.py:43-54). Near-zero total luminosity falls back to
    the geometric midpoint.

    ``lum1``/``lum2`` are LINEAR luminosities (callers convert from
    log10 with ``pow(10, log_l)``).
    """
    total = lum1 + lum2
    return xp.where(
        xp.abs(total) < xp.lit(eps), (v1 + v2) / 2.0, (lum1 * v1 + lum2 * v2) / total
    )


def calc_semi_major_axis_au(
    m1: Column, m2: Column, log_period_days: Column, xp=SPARK
) -> Column:
    """F5 — Kepler III: a = (G * M_tot * P^2 / 4pi^2)^(1/3), in AU
    (calc/binary.py:57-66). Masses in M_sun, period as log10(days).

    The physical-unit constants are folded to literals
    (functions/constants.py) so Catalyst constant-folds the whole
    coefficient.
    """
    period_s = xp.pow(xp.lit(10.0), log_period_days) * xp.lit(DAY_S)
    a_m = xp.cbrt(xp.lit(KEPLER_K) * (m1 + m2) * period_s * period_s)
    return a_m / xp.lit(AU_M)


def calc_orbital_plane_inclination_rad(
    rel_pos: tuple[Column, Column, Column],
    rel_vel: tuple[Column, Column, Column],
    eps: float = 1e-12,
) -> Column:
    """F6 — inclination of the orbital plane (calc/binary.py:69-92).

    h = rel_pos x rel_vel; i = arccos(clip(h_z / |h|, -1, 1));
    degenerate (radial) orbits with |h| ~ 0 return 0.0.
    """
    rx, ry, rz = rel_pos
    vx, vy, vz = rel_vel
    hx = ry * vz - rz * vy
    hy = rz * vx - rx * vz
    hz = rx * vy - ry * vx
    norm = F.sqrt(hx * hx + hy * hy + hz * hz)
    cos_i = F.least(F.greatest(hz / norm, F.lit(-1.0)), F.lit(1.0))
    return F.when(norm < F.lit(eps), F.lit(0.0)).otherwise(F.acos(cos_i))


def is_wide_binary(semi_au: Column, xp=SPARK) -> Column:
    """F7 — a > 1000 AU (calc/binary.py:95-96)."""
    return semi_au > xp.lit(WIDE_BINARY_AU)


def is_hard_binary(
    semi_au: Column, r_half_mass_pc: Column, n_stars_within_2x_r_tidal: Column,
    xp=SPARK,
) -> Column:
    """F8 — Heggie hard-binary criterion: a < r_hm[pc->AU] / N
    (calc/binary.py:99-107).
    """
    return semi_au < (r_half_mass_pc * xp.lit(PC_AU)) / n_stars_within_2x_r_tidal


def is_unresolved_binary(semi_au: Column, dist_pc: Column, xp=SPARK) -> Column:
    """F21 — unresolved when the angular separation a[AU] / d[pc] is at
    most the resolution limit in arcsec (observer.py:22)."""
    return semi_au <= dist_pc * xp.lit(UNRESOLVED_SEP_FACTOR)
