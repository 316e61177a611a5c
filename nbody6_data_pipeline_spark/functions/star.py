"""Single-star scalar functions (SURVEY §2.8 F9-F12).

Parity targets: reference calc/star.py. IAU nominal solar values
folded from functions/constants.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nbody6_data_pipeline_spark.functions.constants import M_BOL_SUN, T_SUN_K
from nbody6_data_pipeline_spark.functions.xp import SPARK


def calc_log_surface_flux_ratio(log_t_eff: Column) -> Column:
    """F9 — 4 * (logT - log(5772 K)) (calc/star.py:5-9)."""
    return (log_t_eff - F.log10(F.lit(T_SUN_K))) * 4.0


def calc_effective_temperature_K(lum_l_sol: Column, rad_r_sol: Column) -> Column:
    """F10 — T = (L / R^2)^(1/4) * 5772 K (calc/star.py:12-19).

    Linear luminosity/radius in solar units.
    """
    return F.pow(lum_l_sol / (rad_r_sol * rad_r_sol), 0.25) * F.lit(T_SUN_K)


def calc_log_effective_temperature_K(
    log_lum: Column, log_rad: Column, xp=SPARK
) -> Column:
    """F10 (log form) — logT = (logL - 2 logR)/4 + log(5772)
    (calc/star.py:22-27).
    """
    return (log_lum - log_rad * 2.0) / 4.0 + xp.log10(xp.lit(T_SUN_K))


def calc_bolometric_magnitude(log_lum: Column) -> Column:
    """F11 — M_bol = -2.5 * logL + M_bol_sun (calc/star.py:30-35)."""
    return log_lum * -2.5 + F.lit(M_BOL_SUN)


def calc_apparent_magnitude(abs_mag: Column, dist_pc: Column) -> Column:
    """F12 — m = M + 5 * (log10(d) - 1) (calc/star.py:38-41)."""
    return abs_mag + (F.log10(dist_pc) - F.lit(1.0)) * 5.0
