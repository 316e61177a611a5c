"""Scalar function catalog (SURVEY.md §2.8).

Every function here is a pure ``Column -> Column`` expression built
from ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no
Python UDFs. They are the engine's equivalent of a SQL scalar
function registry. The physics formulas the per-snapshot kernels need
take ``xp`` (``functions/xp.py``), so the same definition also
evaluates on numpy arrays.
"""

from nbody6_data_pipeline_spark.functions.binary import (
    calc_equivalent_radius,
    calc_log_equivalent_radius,
    calc_orbital_plane_inclination_rad,
    calc_photocentric_scalar,
    calc_semi_major_axis_au,
    calc_total_log_luminosity,
    calc_total_mass,
    is_hard_binary,
    is_wide_binary,
)
from nbody6_data_pipeline_spark.functions.geometry import (
    cross_product,
    dist_to_center,
    euclidean_norm,
    within_radius_flags,
)
from nbody6_data_pipeline_spark.functions.hierarchy import (
    hierarchy_pair_label,
    is_multi_system_binary,
    is_multi_system_star,
)
from nbody6_data_pipeline_spark.functions.misc import (
    ceil_bin,
    log_ops,
    null_safe_ratio,
    run_id_label,
)
from nbody6_data_pipeline_spark.functions.star import (
    calc_apparent_magnitude,
    calc_bolometric_magnitude,
    calc_effective_temperature_K,
    calc_log_effective_temperature_K,
    calc_log_surface_flux_ratio,
)

__all__ = [
    "calc_total_log_luminosity",
    "calc_equivalent_radius",
    "calc_log_equivalent_radius",
    "calc_total_mass",
    "calc_photocentric_scalar",
    "calc_semi_major_axis_au",
    "calc_orbital_plane_inclination_rad",
    "is_wide_binary",
    "is_hard_binary",
    "calc_log_surface_flux_ratio",
    "calc_effective_temperature_K",
    "calc_log_effective_temperature_K",
    "calc_bolometric_magnitude",
    "calc_apparent_magnitude",
    "euclidean_norm",
    "dist_to_center",
    "cross_product",
    "within_radius_flags",
    "hierarchy_pair_label",
    "is_multi_system_star",
    "is_multi_system_binary",
    "ceil_bin",
    "null_safe_ratio",
    "run_id_label",
    "log_ops",
]
