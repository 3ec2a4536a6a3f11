"""Sample a raster along polylines — elevation / value profiles.

"Give me the terrain profile under this pipeline route" / "NDVI along
this transect" is linear referencing against the tile store: generate
STATIONS every ``spacing_m`` along each line, locate each station's
pixel, and gather the values — without ever stitching a mosaic or
shipping rasters to the lines.

Shape (all pure Catalyst until the final gather):

1. lines explode to Mercator segments (snap.py's ``explode_segments``),
   a per-line window accumulates segment start measures (partitioned by
   line_id — bounded by one line's own vertex count, the opposite of
   the few-fat-keys hazard);
2. stations are a ``sequence`` explode per segment at global measures
   ``k * spacing_m`` (half-open per segment so a station on a segment
   boundary emits exactly once; station 0 = the line start), linearly
   interpolated IN MERCATOR METERS then mapped straight to global pixel
   indices (gx = (x/2πR + 0.5)·n_px — no lat round trip);
3. one equi-join of station rows to the image table on the packed tile
   key (co-keyed stores join without a raster shuffle), grouped per
   tile, ONE decode per touched tile, vectorized gather of all its
   stations.

Stations per tile ride as scalar rows; the raster never moves. Missing
tiles surface as status='no_tile' rows, undecodable payloads as
status='decode_error' (never task failures — the change.py policy).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import WGS84_RADIUS
from tilegrab_spark.operators.snap import explode_segments
from tilegrab_spark.sources.images import cell_id_col

__all__ = ["sample_raster_along"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.StringType(), False),
        T.StructField("station", T.LongType(), False),
        T.StructField("measure_m", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("gx", T.LongType(), False),
        T.StructField("gy", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("value", T.IntegerType(), True),
    ]
)


def sample_raster_along(
    lines: DataFrame,
    images: DataFrame,
    *,
    zoom: int,
    spacing_m: float,
    band="max",
    tile_px: int = 256,
    line_id: str = "line_id",
    coords_col: str = "coords",
) -> DataFrame:
    """Profile rows ``[line_id, station, measure_m, lon, lat, gx, gy,
    status, value]`` — one per station every ``spacing_m`` Mercator
    meters along each line (station 0 at the line start), ``value`` =
    the ``band`` channel ('max' or index) of the pixel under the
    station. ``lines`` needs (line_id, coords: array of [lon, lat]);
    ``images`` is the image-table shape at ``zoom`` with ``tile_px``
    tiles. Module docstring for the distributed shape; distances are
    planar Mercator meters (the snap.py contract — stretch by 1/cos(lat)
    away from the equator)."""
    if spacing_m <= 0:
        raise ValueError(f"spacing_m must be positive, got {spacing_m}")
    z = int(zoom)
    sp = float(spacing_m)
    n_px = float((1 << z) * tile_px)
    circ = 2.0 * math.pi * WGS84_RADIUS

    segs = explode_segments(lines, line_id=line_id, coords_col=coords_col)
    seg_len = F.sqrt(
        (F.col("bx") - F.col("ax")) ** 2 + (F.col("by") - F.col("ay")) ** 2
    )
    w = (
        Window.partitionBy(line_id)
        .orderBy("seg_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    segs = segs.withColumn("_len", seg_len).withColumn(
        "_base", F.coalesce(F.sum("_len").over(w), F.lit(0.0))
    )
    # stations at global measures k*sp in (base, base+len], plus k=0 on
    # the first segment — half-open so boundary stations emit once
    kmin = F.when(F.col("seg_idx") == 0, F.lit(0)).otherwise(
        F.floor(F.col("_base") / sp) + 1
    )
    kmax = F.floor((F.col("_base") + F.col("_len")) / sp)
    st = (
        segs.filter(F.col("_len") > 0)
        .withColumn("station", F.explode(F.sequence(kmin, kmax)))
        .withColumn("measure_m", F.col("station") * sp)
        .withColumn("_t", (F.col("measure_m") - F.col("_base")) / F.col("_len"))
        .withColumn("_x", F.col("ax") + F.col("_t") * (F.col("bx") - F.col("ax")))
        .withColumn("_y", F.col("ay") + F.col("_t") * (F.col("by") - F.col("ay")))
    )
    gx = F.floor((F.col("_x") / circ + 0.5) * n_px).cast("long")
    gy = F.floor((0.5 - F.col("_y") / circ) * n_px).cast("long")
    lim = int(n_px)
    st = (
        st.withColumn("gx", F.greatest(F.lit(0), F.least(F.lit(lim - 1), gx)))
        .withColumn("gy", F.greatest(F.lit(0), F.least(F.lit(lim - 1), gy)))
        .withColumn(
            "lon", F.degrees(F.col("_x") / F.lit(WGS84_RADIUS))
        )
        .withColumn(
            "lat",
            F.degrees(
                F.lit(2.0) * F.atan(F.exp(F.col("_y") / F.lit(WGS84_RADIUS)))
                - F.lit(math.pi / 2.0)
            ),
        )
    )
    tkey = cell_id_col(F.lit(z), F.col("gx") / tile_px, F.col("gy") / tile_px)
    pix = ((F.col("gy") % tile_px) * tile_px + (F.col("gx") % tile_px)).cast("int")
    stations = st.select(
        F.col(line_id).cast("string").alias("line_id"),
        F.col("station").cast("long"),
        "measure_m", "lon", "lat", "gx", "gy",
        tkey.alias("_tk"), pix.alias("_pix"),
    )
    per_tile = stations.groupBy("_tk").agg(
        F.collect_list(
            F.struct("line_id", "station", "measure_m", "lon", "lat", "gx", "gy", "_pix")
        ).alias("sts")
    )
    img = images.filter(F.col("z") == z).select(
        cell_id_col().alias("_ik"),
        "fmt", "bytes", "w", "h",
    )
    joined = per_tile.join(img, on=F.col("_tk") == F.col("_ik"), how="left")

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_OUT_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                chan = None
                status = "ok"
                if t.fmt is None:
                    status = "no_tile"
                else:
                    try:
                        arr = decode_payload(
                            bytes(t.bytes), t.fmt, int(t.w), int(t.h)
                        )
                        chan = arr.max(axis=2) if band == "max" else arr[:, :, int(band)]
                        if chan.shape != (tile_px, tile_px):
                            status, chan = "size_mismatch", None
                    except (ValueError, NotImplementedError):
                        status, chan = "decode_error", None
                flat = chan.ravel() if chan is not None else None
                for p in t.sts:
                    recs.append({
                        "line_id": p["line_id"], "station": int(p["station"]),
                        "measure_m": float(p["measure_m"]),
                        "lon": float(p["lon"]), "lat": float(p["lat"]),
                        "gx": int(p["gx"]), "gy": int(p["gy"]),
                        "status": status,
                        "value": int(flat[int(p["_pix"])]) if flat is not None else None,
                    })
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    return joined.mapInPandas(gather, schema=_OUT_SCHEMA)
