"""Geodesic math — NumPy kernels and ANSI-SQL strings.

Semantics mirror the reference exactly:

* haversine distance in meters with sphere radius R=6378137 over *radian*
  inputs — reference ``HaversineD`` (include/queries/distance.h:8,25-30);
* the distance-query refine predicate is inclusive ``HaversineD <= radius``
  (include/queries/distance.h:42);
* circle -> candidate bounding box via the Matuschek algorithm
  (include/utils/GeographyUtils.hpp:108-152).  NOTE the reference divides
  the radius by 1000 (meters->km) but then normalizes by the earth radius
  in meters (GeographyUtils.hpp:110-121), making its filter bbox ~1000x
  tighter than geometrically correct.  We implement the *correct*
  conservative bbox (never drops a true hit); parity is defined against the
  refine predicate, which both engines share (SURVEY.md §7.3(c)).

Convention throughout (reference include/ds/geography/DataTypes.hpp:13-15):
``x`` is latitude, ``y`` is longitude.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6378137.0  # include/queries/distance.h:8
MIN_LAT_R = -np.pi / 2
MAX_LAT_R = np.pi / 2
MIN_LON_R = -np.pi
MAX_LON_R = np.pi


# ---------------------------------------------------------------- NumPy ---

def circle_bbox_radians_np(latr, lonr, radius_m):
    """Matuschek bounding box (radians) for circle centers, vectorized.

    Correct-units variant of GeographyUtils::boundingRectangle
    (include/utils/GeographyUtils.hpp:108-152): rad_dist = radius_m / R.
    Near-pole centers widen to the full longitude range; antimeridian
    wraps are widened to the full range too (a candidate *filter* may be
    loose, never tight).  Returns (min_lat, max_lat, min_lon, max_lon).
    """
    latr = np.asarray(latr, dtype=np.float64)
    lonr = np.asarray(lonr, dtype=np.float64)
    rad_dist = np.asarray(radius_m, dtype=np.float64) / EARTH_RADIUS_M

    min_lat = latr - rad_dist
    max_lat = latr + rad_dist
    ok = (min_lat > MIN_LAT_R) & (max_lat < MAX_LAT_R)

    with np.errstate(invalid="ignore"):
        delta_lon = np.arcsin(np.clip(np.sin(rad_dist) / np.cos(latr), -1.0, 1.0))
    min_lon = lonr - delta_lon
    max_lon = lonr + delta_lon
    # wrap -> widen to the whole range (GeographyUtils.hpp:127-131 wraps
    # instead; a wrapped interval is not a box, so we stay conservative)
    wrap = (min_lon < MIN_LON_R) | (max_lon > MAX_LON_R)
    min_lon = np.where(wrap, MIN_LON_R, min_lon)
    max_lon = np.where(wrap, MAX_LON_R, max_lon)

    min_lat = np.where(ok, min_lat, np.maximum(min_lat, MIN_LAT_R))
    max_lat = np.where(ok, max_lat, np.minimum(max_lat, MAX_LAT_R))
    min_lon = np.where(ok, min_lon, MIN_LON_R)
    max_lon = np.where(ok, max_lon, MAX_LON_R)
    return min_lat, max_lat, min_lon, max_lon


# ------------------------------------------------------------------ SQL ---

def haversine_s2_sql(lat1r: str, lon1r: str, lat2r: str, lon2r: str) -> str:
    """The haversine's s^2 term (sin^2(dlat/2) + cos*cos*sin^2(dlon/2))
    as an ANSI-SQL string — monotone in great-circle distance and
    well-conditioned (no asin amplification near the antipode), which is
    what conservative distance GATES should compare on.  The products
    associate left to right exactly as in the NumPy kernel
    (``probes.haversine_m``), so both engines round alike."""
    two = "cast(2 as double)"
    u = f"sin(({lat2r} - ({lat1r})) / {two})"
    v = f"sin(({lon2r} - ({lon1r})) / {two})"
    return f"{u}*{u} + cos({lat1r})*cos({lat2r})*{v}*{v}"


def haversine_m_sql(lat1r: str, lon1r: str, lat2r: str, lon2r: str) -> str:
    """The same formula as an ANSI-SQL string (DuckDB oracle side)."""
    two = "cast(2 as double)"
    s = f"sqrt({haversine_s2_sql(lat1r, lon1r, lat2r, lon2r)})"
    return f"{two} * cast('{EARTH_RADIUS_M!r}' as double) * asin(least({s}, cast(1 as double)))"
