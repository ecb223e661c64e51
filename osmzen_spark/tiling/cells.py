"""z/x/y tile + Morton (Z-order) cell encoding as pure Column expressions.

Slippy-map tile scheme (the reference's maptile.Tile z/x/y —
ref:process.go:22-24 takes a tile bound; golden tile ids come from the
same Web-Mercator formula):

    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - asinh(tan(lat))/pi) / 2 * 2^z)

The cell id packs (z, x, y) into one int64:

    cell = (z << 58) | morton(x, y)

Morton interleave keeps spatially close cells numerically close, so a
range/equi-join on cell ids is a locality-preserving shuffle key (the
same role H3/S2 indexes play; we build our own since this engine is
dependency-free). Everything here is Column math that Catalyst
evaluates JVM-side, interpreted like every engine expression (see
session.py) — no UDFs, no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmzen_spark.geom.mercator import MAX_LAT


def tile_x_col(lon: Column, z: int) -> Column:
    n = float(2**z)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), x))


def tile_y_col(lat: Column, z: int) -> Column:
    n = float(2**z)
    lat_c = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat))
    lat_r = F.radians(lat_c)
    y = F.floor(
        (F.lit(1.0) - F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    ).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), y))


def _spread_bits(c: Column) -> Column:
    """Spread the low 29 bits of c so there is a 0 bit between each
    (standard Morton magic-number sequence, 64-bit)."""
    c = c.bitwiseAND(F.lit(0x1FFFFFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x3333333333333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return c


def morton_col(x: Column, y: Column) -> Column:
    return _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))


def cell_from_xy_col(x: Column, y: Column, z: int) -> Column:
    return F.shiftleft(F.lit(z).cast("long"), 58).bitwiseOR(morton_col(x, y))


def with_tile(df: DataFrame, z: int, lon: str = "clon", lat: str = "clat") -> DataFrame:
    """Append tile_z/tile_x/tile_y/cell columns from centroid columns."""
    return (
        df.withColumn("tile_z", F.lit(z))
        .withColumn("tile_x", tile_x_col(F.col(lon), z))
        .withColumn("tile_y", tile_y_col(F.col(lat), z))
        .withColumn("cell", cell_from_xy_col(F.col("tile_x"), F.col("tile_y"), z))
    )


def tile_bound(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(minlon, minlat, maxlon, maxlat) of Web-Mercator tile z/x/y —
    the inverse of tile_x_col/tile_y_col (maptile.Tile.Bound analog,
    used by the reference's full-tile entry point)."""
    n = float(1 << z)

    def lat(yy: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return (x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y))
