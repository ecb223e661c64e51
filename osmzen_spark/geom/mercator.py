"""Web-Mercator (EPSG:3857) projection, numpy-vectorized, and the
WGS84 validity predicate the sources apply before projecting.

Matches the projection the reference uses for planar area/length
(ref:filter/context.go:120-143 projects to Mercator before measuring;
the golden fixture area 11528 in ref:process_test.go:58 depends on the
spherical radius 6378137 m and this exact formula).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

EARTH_RADIUS = 6378137.0  # spherical Mercator radius, meters
_D2R = np.pi / 180.0
MAX_LAT = 85.05112877980659  # atan(sinh(pi)) — Web-Mercator clip latitude
WORLD_BOUND = (-180.0, -MAX_LAT, 180.0, MAX_LAT)


def mercator_x(lon):
    return EARTH_RADIUS * np.asarray(lon, dtype=np.float64) * _D2R


def mercator_y(lat):
    lat = np.asarray(lat, dtype=np.float64)
    return EARTH_RADIUS * np.log(np.tan(np.pi / 4.0 + lat * _D2R / 2.0))


def unproject_lon(x):
    return np.asarray(x, dtype=np.float64) / EARTH_RADIUS / _D2R


def unproject_lat(y):
    return (2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / EARTH_RADIUS)) - np.pi / 2.0) / _D2R


def wgs84_position(lon: Column, lat: Column) -> Column:
    """True where (lon, lat) is a WGS84 position: lat in [-90, 90] and
    lon in [-180, 180]. Spark orders NaN above every number, so NaN
    fails the range test; a NULL coordinate gives NULL, which a filter
    drops too."""
    return lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0)
