"""Geo distance — spherical (haversine) great-circle distance.

Reproduces MySQL's ``ST_Distance_Sphere`` used by the reference's geo index
scan (models/egraph_index_model.erl:322-328, 361-367): sphere radius
6,370,986 m (SURVEY.md §7 risk 3).  Pure column arithmetic — JVM-side,
whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# MySQL ST_Distance_Sphere default sphere radius in meters.
SPHERE_RADIUS_M = 6370986.0


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters between two (lon, lat) degree pairs."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * SPHERE_RADIUS_M) * F.asin(F.sqrt(a))


def bbox_prefilter(
    lon: Column, lat: Column, center_lon: float, center_lat: float, dist_m: float
) -> Column:
    """Sargable bounding-box superset of the haversine-≤dist disk.

    At scale the exact haversine is not pushdown-able, but this lat/lon
    range IS — it reaches parquet min/max stats and partition pruning, so
    the expensive trig only runs on the bbox survivors.  The box is padded
    (×1.01) so it strictly contains the disk; the exact predicate still
    decides membership, results are unchanged.

    Near the poles (|lat|+Δ ≥ 89°) or across the antimeridian the longitude
    window degenerates; we widen to all longitudes there — still a superset.
    """
    import math

    dlat = math.degrees(dist_m / SPHERE_RADIUS_M) * 1.01
    lat_ok = lat.between(center_lat - dlat, center_lat + dlat)
    max_abs_lat = min(abs(center_lat) + dlat, 90.0)
    if max_abs_lat >= 89.0:
        return lat_ok
    dlon = math.degrees(dist_m / (SPHERE_RADIUS_M * math.cos(math.radians(max_abs_lat)))) * 1.01
    if dlon >= 180.0 or center_lon - dlon < -180.0 or center_lon + dlon > 180.0:
        return lat_ok
    return lat_ok & lon.between(center_lon - dlon, center_lon + dlon)

