"""Cell (tile) math as PURE Catalyst expressions — zero Python in the hot
path. These mirror kernels/geo.py bit-for-bit (same float64 ops, same
epsilon constants) but run JVM-side inside whole-stage codegen.

P1 encode: reference tiles/collection.py:86-117.
P2 decode: reference tiles/tile.py:58-77.
P3 mercator bounds: reference images/collection.py:86-97.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tilegrab_spark.kernels.geo import (
    EPSILON,
    LL_EPSILON,  # noqa: F401  (re-export for callers building bbox corners)
    WEB_MERCATOR_EXTENT,
)
from tilegrab_spark.sources.images import cell_id_col  # noqa: F401  (re-export)


def _encode_axis(v: Column, z2: Column) -> Column:
    """floor((v + EPSILON) * 2^z) with the reference's world-edge clamps."""
    return (
        F.when(v <= 0, F.lit(0).cast("long"))
        .when(v >= 1, (z2 - 1).cast("long"))
        .otherwise(F.floor((v + F.lit(EPSILON)) * z2))
    )


def cell_encode_cols(lon: Column, lat: Column, zoom: Column | int):
    """(xtile, ytile) long columns for lon/lat degree columns at a zoom.

    Pure Catalyst: sin/log/floor/pow only — stays in whole-stage codegen.
    """
    zoom = F.lit(zoom) if isinstance(zoom, int) else zoom
    z2 = F.pow(F.lit(2.0), zoom.cast("double"))
    x = lon / F.lit(360.0) + F.lit(0.5)
    sinlat = F.sin(F.radians(lat))
    y = (
        F.lit(0.5)
        - F.lit(0.25)
        * F.log((F.lit(1.0) + sinlat) / (F.lit(1.0) - sinlat))
        / F.lit(math.pi)
    )
    return _encode_axis(x, z2), _encode_axis(y, z2)


def tile_bounds_cols(x: Column, y: Column, zoom: Column | int):
    """(min_lon, min_lat, max_lon, max_lat) double columns for tile indices.

    degrees(atan(sinh(pi*(1-2*y/2^z)))) — all Spark SQL built-ins.
    """
    zoom = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    xd = x.cast("double")
    yd = y.cast("double")
    min_lon = xd / n * 360.0 - 180.0
    max_lon = (xd + 1) / n * 360.0 - 180.0
    pi = F.lit(math.pi)

    def y_to_lat(yt: Column) -> Column:
        return F.degrees(F.atan(F.sinh(pi * (F.lit(1.0) - F.lit(2.0) * yt / n))))

    return min_lon, y_to_lat(yd + 1), max_lon, y_to_lat(yd)


# cell_id_col and tile_bounds_cols over the columns z, x, y, as SQL text:
# the same int64/float64 operations in the same order, so the values are
# bit-identical. Parsing one string is a single driver round trip, where
# building the Column tree takes dozens.
CELL_ID_SQL = "shiftleft(CAST(z AS BIGINT), 58) | shiftleft(CAST(x AS BIGINT), 29) | CAST(y AS BIGINT)"
_N_SQL = "pow(2.0d, CAST(z AS DOUBLE))"
_LON_SQL = "{} / " + _N_SQL + " * 360.0d - 180.0d"
_LAT_SQL = f"degrees(atan(sinh({math.pi!r}d * (1.0d - 2.0d * {{}} / {_N_SQL}))))"
TILE_BOUNDS_SQL = (  # min_lon, min_lat, max_lon, max_lat
    _LON_SQL.format("CAST(x AS DOUBLE)"),
    _LAT_SQL.format("(CAST(y AS DOUBLE) + 1.0d)"),
    _LON_SQL.format("(CAST(x AS DOUBLE) + 1.0d)"),
    _LAT_SQL.format("CAST(y AS DOUBLE)"),
)


def tile_mercator_bounds_cols(x: Column, y: Column, zoom: Column | int):
    """EPSG:3857 meter bounds of a single tile (P3)."""
    zoom = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    ext = F.lit(WEB_MERCATOR_EXTENT)
    ts = F.lit(2.0) * ext / n
    xd = x.cast("double")
    yd = y.cast("double")
    xmin = -ext + xd * ts
    xmax = -ext + (xd + 1) * ts
    ymax = ext - yd * ts
    ymin = ext - (yd + 1) * ts
    return xmin, ymin, xmax, ymax


def tile_geojson_col(min_lon, min_lat, max_lon, max_lat) -> Column:
    """P4: tile bounds as a GeoJSON Polygon string (reference
    tiles/tile.py:79-93) — ``to_json`` over a struct, no UDF."""
    ring = F.array(
        F.array(min_lon, min_lat),
        F.array(min_lon, max_lat),
        F.array(max_lon, max_lat),
        F.array(max_lon, min_lat),
        F.array(min_lon, min_lat),
    )
    return F.to_json(
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(ring).alias("coordinates"),
        )
    )


def with_tile_bounds(df: DataFrame, zoom_col: str = "z") -> DataFrame:
    mnl, mnt, mxl, mxt = tile_bounds_cols(F.col("x"), F.col("y"), F.col(zoom_col))
    return (
        df.withColumn("min_lon", mnl)
        .withColumn("min_lat", mnt)
        .withColumn("max_lon", mxl)
        .withColumn("max_lat", mxt)
    )
