"""Tile enumeration + spatial semi/anti join (F1/F4/F2/F3/J2/J3/L1).

A request's selection (``tiles_for``) is the reference's small driver
step (tiles/collection.py:119-152), done as one vectorized numpy pass:
the bbox tile range in x-major, y-minor generation order
(collection.py:141-143), masked by the exact box-vs-ring kernel (F2,
collection.py:144-150; inversion F3 negates it), cut to the
``safe_limit`` prefix (L1, collection.py:56-59). The result is a local
relation: every consumer (fetch broadcast, mosaic extent) reads the same
rows, and no Spark job runs to select them.

The distributed operators serve many geometries and unbounded sets:

- ``enumerate_tiles``: one geometry's bbox as ``spark.range`` mapped to
  (x, y) in generation order;
- ``enumerate_tiles_for_geoms``: bbox corners -> Catalyst cell-encode ->
  ``sequence`` + two ``explode``s, no driver loop at all;
- ``refine_by_shape``: an Arrow-batched pandas UDF running the same
  box-vs-ring predicate (``shape_mask``) against the *broadcast*
  geometry set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tilegrab_spark.functions.cells import CELL_ID_SQL, TILE_BOUNDS_SQL, cell_encode_cols
from tilegrab_spark.kernels import geo
from tilegrab_spark.sources.geometries import GeometrySet

DEFAULT_SAFE_LIMIT = 250  # reference: tiles/collection.py:38

def _tile_range(geom: GeometrySet, zoom: int, buffer_m: float) -> tuple:
    """(x0, x1, y0, y1) of ``geom``'s bbox at ``zoom``, the bbox first
    grown by ``buffer_m`` Web-Mercator meters."""
    if buffer_m < 0:
        raise ValueError(f"buffer_m must be >= 0, got {buffer_m}")
    if buffer_m == 0:
        return geom.tile_range(zoom)
    w, sl, e, n = geom.bbox
    mx, my = geo.lonlat_to_mercator(
        np.array([w, e]), np.array([max(sl, -geo.MERCATOR_LAT_LIMIT),
                                    min(n, geo.MERCATOR_LAT_LIMIT)])
    )
    lon2, lat2 = geo.mercator_to_lonlat(
        np.array([mx[0] - buffer_m, mx[1] + buffer_m]),
        np.array([my[0] - buffer_m, my[1] + buffer_m]),
    )
    w2 = max(-180.0, float(lon2[0]))
    e2 = min(180.0, float(lon2[1]))
    s2 = max(-geo.MERCATOR_LAT_LIMIT, float(lat2[0]))
    n2 = min(geo.MERCATOR_LAT_LIMIT, float(lat2[1]))
    return geo.bbox_tile_range(w2, s2, e2, n2, zoom)


def shape_mask(polys, mnl, mnt, mxl, mxt, buffer_m: float = 0.0) -> np.ndarray:
    """Which lon/lat tile boxes intersect ``polys`` (one geometry's
    polygons, rings of [lon, lat]) — or, with ``buffer_m > 0``, lie within
    ``buffer_m`` Web-Mercator meters of them."""
    if buffer_m <= 0:
        return geo.boxes_intersect_polygons(mnl, mnt, mxl, mxt, polys)
    # metric space: project boxes + rings to 3857 meters
    # (y(lat) is monotonic, so lon/lat boxes map to boxes)
    mpolys = [
        [np.column_stack(geo.lonlat_to_mercator(*np.asarray(r, np.float64).T)) for r in poly]
        for poly in polys
    ]
    return geo.boxes_within_distance_of_polygons(
        *geo.lonlat_to_mercator(mnl, mnt), *geo.lonlat_to_mercator(mxl, mxt), mpolys, buffer_m
    )


def enumerate_tiles(
    spark: SparkSession,
    geom: GeometrySet,
    zoom: int,
    *,
    buffer_m: float = 0.0,
) -> DataFrame:
    """Tiles covering ``geom``'s bbox at ``zoom`` (F1+F4), in the
    reference's generation order (x-major, y-minor) encoded as the range
    index so downstream ``limit`` keeps the same prefix (L1 parity).

    ``buffer_m > 0`` expands the bbox by that many Web-Mercator meters
    before enumeration (P9 support — the generate-as-predicate stage of
    a buffered selection; ``refine_by_shape(buffer_m=...)`` applies the
    exact distance refine).

    Columns: x, y, z, geom_id, cell_id, min_lon, min_lat, max_lon, max_lat.
    """
    x0, x1, y0, y1 = _tile_range(geom, zoom, buffer_m)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    df = (
        spark.range(nx * ny)
        .withColumn("x", F.lit(x0) + (F.col("id") / ny).cast("long"))
        .withColumn("y", F.lit(y0) + F.pmod(F.col("id"), F.lit(ny)).cast("long"))
        .withColumn("z", F.lit(zoom))
        .withColumn("geom_id", F.lit(geom.geom_id))
    )
    return _with_derived(df).drop("id")


def enumerate_tiles_for_geoms(geoms_df: DataFrame, zoom: int) -> DataFrame:
    """Distributed enumeration for MANY geometries: input is a DataFrame
    ``(geom_id, minx, miny, maxx, maxy)`` (one row per geometry); output is
    the union of each geometry's bbox tile set. Pure Catalyst —
    cell-encode on the bbox corners (with the reference's Mercator clamp
    F4 and LL_EPSILON shrink) then ``explode(sequence(...))`` twice.
    """
    clamp_needed = (F.col("miny") < -geo.MERCATOR_LAT_LIMIT) | (
        F.col("maxy") > geo.MERCATOR_LAT_LIMIT
    )

    def cl(c: Column, lo: float, hi: float) -> Column:
        return F.when(clamp_needed, F.greatest(F.lit(lo), F.least(F.lit(hi), c))).otherwise(c)

    w = cl(F.col("minx"), -180.0, 180.0)
    s = cl(F.col("miny"), -geo.MERCATOR_LAT_LIMIT, geo.MERCATOR_LAT_LIMIT)
    e = cl(F.col("maxx"), -180.0, 180.0)
    n = cl(F.col("maxy"), -geo.MERCATOR_LAT_LIMIT, geo.MERCATOR_LAT_LIMIT)

    ulx, uly = cell_encode_cols(w, n, zoom)
    lrx, lry = cell_encode_cols(e - F.lit(geo.LL_EPSILON), s + F.lit(geo.LL_EPSILON), zoom)

    df = (
        geoms_df.withColumn("_x0", ulx)
        .withColumn("_x1", lrx)
        .withColumn("_y0", uly)
        .withColumn("_y1", lry)
        .withColumn("x", F.explode(F.sequence("_x0", "_x1")))
        .withColumn("y", F.explode(F.sequence("_y0", "_y1")))
        .withColumn("z", F.lit(zoom))
        .select("geom_id", "z", "x", "y")
    )
    return _with_derived(df)


def _with_derived(df: DataFrame) -> DataFrame:
    # from SQL text: five parsed expressions, bit-identical to
    # cell_id_col and tile_bounds_cols, cost a driver round trip each,
    # where the Column forms cost one per Column operation
    mnl, mnt, mxl, mxt = TILE_BOUNDS_SQL
    return df.withColumns(
        {
            "cell_id": F.expr(CELL_ID_SQL),
            "min_lon": F.expr(mnl),
            "min_lat": F.expr(mnt),
            "max_lon": F.expr(mxl),
            "max_lat": F.expr(mxt),
        }
    )


def refine_by_shape(
    tiles_df: DataFrame,
    geoms: list[GeometrySet] | GeometrySet,
    *,
    invert: bool = False,
    buffer_m: float = 0.0,
) -> DataFrame:
    """Exact tile-box ∩ geometry filter (F2/F3 ≙ J2 semi / J3 anti join)
    over a distributed tile set, for many geometries or selections too
    large for the driver (``tiles_for`` applies the same ``shape_mask``
    in one driver pass).

    ``shapely box.intersects(geometry).any()`` at collection.py:145
    becomes a vectorized Arrow UDF over the four bound columns against the
    broadcast geometry rings — executors get the (small) geometry once.

    ``buffer_m > 0`` selects tiles intersecting the BUFFERED geometry
    (P9 — the reference exposes a buffer parameter but no-ops it,
    SURVEY §8 Q7; here it is real): re-expressed as an exact
    distance-to-geometry predicate in Web-Mercator meters
    (``geo.boxes_within_distance_of_polygons``) — no Minkowski-sum
    polygon is ever constructed, so there are no offset-robustness
    failure modes. EPSG:3857 meters scale by cos(lat) vs ground meters
    (the standard slippy-map convention; at |lat|<60° the factor is
    ≤2×). Negative buffers (erosion) are not supported.
    """
    if buffer_m < 0:
        raise ValueError(f"buffer_m must be >= 0, got {buffer_m}")
    if isinstance(geoms, GeometrySet):
        geoms = [geoms]
    spark = tiles_df.sparkSession
    payload = {
        g.geom_id: [[r.tolist() for r in poly] for poly in g.polygons] for g in geoms
    }
    bc = spark.sparkContext.broadcast(payload)
    buf = float(buffer_m)

    @F.pandas_udf("boolean")
    def intersects(
        geom_id: pd.Series,
        mnl: pd.Series,
        mnt: pd.Series,
        mxl: pd.Series,
        mxt: pd.Series,
    ) -> pd.Series:
        polys_by_id = bc.value
        out = pd.Series(False, index=geom_id.index)
        for gid, idx in geom_id.groupby(geom_id).groups.items():
            polys = polys_by_id.get(gid)
            if not polys:
                continue
            bounds = (c[idx].to_numpy(np.float64) for c in (mnl, mnt, mxl, mxt))
            out[idx] = shape_mask(polys, *bounds, buf)
        return out

    pred = intersects("geom_id", "min_lon", "min_lat", "max_lon", "max_lat")
    return tiles_df.filter(~pred if invert else pred)


def tiles_for(
    spark: SparkSession,
    geom: GeometrySet,
    zoom: int,
    *,
    by: str = "shape",
    invert: bool = False,
    safe_limit: int | None = DEFAULT_SAFE_LIMIT,
    buffer_m: float = 0.0,
) -> DataFrame:
    """Full tile-selection query ≙ ``TilesByBBox`` / ``TilesByShape``
    (tiles/selectors.py:10-36 + collection.py:37-61): enumerate, optionally
    refine by exact shape (inverted = anti), truncate to ``safe_limit`` in
    generation order.

    Selected on the driver in one numpy pass and returned as a local
    relation with ``enumerate_tiles``' columns. The bbox range is built
    in memory, so for unbounded selections compose ``enumerate_tiles``
    and ``refine_by_shape`` instead.
    """
    if by not in ("shape", "bbox"):
        raise ValueError(f"by must be 'shape' or 'bbox', got {by!r}")
    if safe_limit is not None and safe_limit < 0:
        raise ValueError(f"safe_limit must be >= 0, got {safe_limit}")
    x0, x1, y0, y1 = _tile_range(geom, zoom, buffer_m)
    # generation order = x-major, y-minor (collection.py:141-143)
    xs = np.repeat(np.arange(x0, x1 + 1, dtype=np.int64), y1 - y0 + 1)
    ys = np.tile(np.arange(y0, y1 + 1, dtype=np.int64), x1 - x0 + 1)
    if by == "shape":
        hit = shape_mask(geom.polygons, *geo.tile_bounds(xs, ys, zoom), buffer_m)
        xs, ys = xs[hit != invert], ys[hit != invert]
    if safe_limit is not None:
        xs, ys = xs[:safe_limit], ys[:safe_limit]
    # an Arrow table plans as a LocalTableScan even when empty (an empty
    # pandas frame would become an RDD scan that runs a job per read)
    keys = spark.createDataFrame(pa.table({"x": xs, "y": ys}), "x long, y long")
    return _with_derived(keys.withColumns({"z": F.lit(zoom), "geom_id": F.lit(geom.geom_id)}))
