"""Sky offset-frame transform as native column expressions (SURVEY
§2.9 U1; reference calc/cluster.py:34-79 uses astropy SkyOffsetFrame).

Geometry: stars live in galactic cartesian coordinates (cluster
position ``c`` + cluster-centric offsets); the observer sits at the
galactic ORIGIN. The offset frame is the spherical frame rotated so
the direction of ``c`` maps to (lon=0, lat=0) with zero roll — i.e.
rotate by -lon0 about z, then by +lat0 about y, where
lon0 = atan2(cy, cx) and lat0 = atan2(cz, hypot(cx, cy)). Astropy's
SkyOffsetFrame applies exactly this rotation pair for a rotation=0
frame and wraps offset longitude at 180 deg — matching atan2 output.

Outputs (matching the reference's column contract):
lon_deg, lat_deg, pm_lon_coslat_mas_yr, pm_lat_mas_yr, dist_pc,
rv_kms. Proper motions use the Julian year and the IAU parsec, folded
into one constant (astropy does the same unit algebra).

Implemented natively (no astropy dependency, whole-stage codegen, or
numpy inside the observe kernel through ``xp``); validated against an
independent numpy implementation and analytic invariants in
tests/test_observe.py.
"""

from __future__ import annotations

from pyspark.sql import Column

from nbody6_data_pipeline_spark.functions.xp import SPARK

# IAU parsec [km] and Julian year [s]
PC_KM = 3.0856775814913673e13
JULIAN_YR_S = 365.25 * 86400.0
MAS_PER_RAD = 180.0 / 3.141592653589793 * 3600.0 * 1000.0
# (km/s per pc) -> mas/yr
KMS_PER_PC_TO_MAS_YR = MAS_PER_RAD * JULIAN_YR_S / PC_KM


def offset_frame_columns(
    x: Column, y: Column, z: Column,
    vx: Column, vy: Column, vz: Column,
    cx: Column, cy: Column, cz: Column,
    xp=SPARK,
) -> dict[str, Column]:
    """Observed quantities for a star at galactic position (x,y,z) [pc]
    with velocity (vx,vy,vz) [km/s], for an offset frame centered on
    (cx,cy,cz). Positions are ABSOLUTE galactic cartesian (callers add
    the cluster center to cluster-centric offsets first)."""
    lon0 = xp.atan2(cy, cx)
    lat0 = xp.atan2(cz, xp.sqrt(cx * cx + cy * cy))
    cl, sl = xp.cos(lon0), xp.sin(lon0)
    cb, sb = xp.cos(lat0), xp.sin(lat0)

    def rot(px: Column, py: Column, pz: Column) -> tuple[Column, Column, Column]:
        # R_y(+lat0) @ R_z(-lon0)
        x1 = cl * px + sl * py
        y1 = -sl * px + cl * py
        z1 = pz
        return (cb * x1 + sb * z1, y1, -sb * x1 + cb * z1)

    X, Y, Z = rot(x, y, z)
    VX, VY, VZ = rot(vx, vy, vz)

    dist = xp.sqrt(X * X + Y * Y + Z * Z)
    rho = xp.sqrt(X * X + Y * Y)  # in-plane distance
    lon = xp.atan2(Y, X)
    lat = xp.asin(Z / dist)

    # spherical unit vectors: r_hat, lon_hat = (-sin lon, cos lon, 0),
    # lat_hat = (-sin lat cos lon, -sin lat sin lon, cos lat)
    sin_lon, cos_lon = Y / rho, X / rho
    sin_lat, cos_lat = Z / dist, rho / dist

    v_r = (X * VX + Y * VY + Z * VZ) / dist
    v_lon = -sin_lon * VX + cos_lon * VY
    v_lat = -sin_lat * cos_lon * VX - sin_lat * sin_lon * VY + cos_lat * VZ

    to_mas_yr = xp.lit(KMS_PER_PC_TO_MAS_YR)
    return {
        "lon_deg": xp.degrees(lon),
        "lat_deg": xp.degrees(lat),
        "pm_lon_coslat_mas_yr": v_lon / dist * to_mas_yr,
        "pm_lat_mas_yr": v_lat / dist * to_mas_yr,
        "dist_pc": dist,
        "rv_kms": v_r,
    }
