"""Cross-zoom raster warp: resample a tile layer to a different zoom.

Aligning two layers on one grid (epoch diff across zooms, serving a
fixed-zoom basemap from mixed sources) needs both directions:

- DOWN (z → z−k): repeated 2:1 block-mean rollups — exactly
  ``pyramid.build_parent_level`` chained k times (each step one
  output-sized shuffle, 4× smaller than its input);
- UP (z → z+k): each tile independently emits its 4^k children, each
  child a resampled sub-window of the parent — a PURE MAP SIDE
  transform (``mapInPandas``, ZERO shuffle: at 10^12 tiles the explode
  is embarrassingly parallel and Catalyst leaves it wherever the
  tiles already live).

Resampling follows the GDAL conventions: ``nearest`` picks the source
pixel containing the target pixel center; ``bilinear`` maps target
pixel centers to source coordinates with the half-pixel alignment
(src = (dst + 0.5)/scale − 0.5), clamped at tile edges (edge
replication — consistent with the focal/terrain boundary rule).
Inverse pair invariant: a 2^k× nearest upsample followed by k
block-mean rollups reproduces the original tiles BYTE-EXACTLY
(tests/test_warp.py pins it).

The reference tops out at stitching same-zoom tiles (images/
collection.py); cross-zoom warp is engine extension in the zonal/
focal family.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tilegrab_spark.kernels import decode_payload, png
from tilegrab_spark.kernels.geo import pack_cell_id

WARP_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, zoom int, bucket int"
)

__all__ = ["resample_window", "upsample_tiles", "warp_tiles"]


def resample_window(
    arr: np.ndarray, x0: float, y0: float, scale: int, out_px: int, method: str
) -> np.ndarray:
    """Resample the window of ``arr`` starting at source pixel (x0, y0)
    with extent ``out_px/scale`` source pixels to an (out_px, out_px)
    target — vectorized nearest / bilinear with GDAL half-pixel
    alignment and edge clamping."""
    h, w = arr.shape[:2]
    t = np.arange(out_px, dtype=np.float64)
    sx = x0 + (t + 0.5) / scale - 0.5
    sy = y0 + (t + 0.5) / scale - 0.5
    if method == "nearest":
        ix = np.clip(np.floor(sx + 0.5), 0, w - 1).astype(np.int64)
        iy = np.clip(np.floor(sy + 0.5), 0, h - 1).astype(np.int64)
        return arr[iy[:, None], ix[None, :]]
    # bilinear
    fx = np.clip(sx, 0.0, w - 1.0)
    fy = np.clip(sy, 0.0, h - 1.0)
    x1 = np.floor(fx).astype(np.int64)
    y1 = np.floor(fy).astype(np.int64)
    x2 = np.minimum(x1 + 1, w - 1)
    y2 = np.minimum(y1 + 1, h - 1)
    wx = (fx - x1)[None, :, None]
    wy = (fy - y1)[:, None, None]
    a = arr.astype(np.float64)
    top = a[y1[:, None], x1[None, :]] * (1 - wx) + a[y1[:, None], x2[None, :]] * wx
    bot = a[y2[:, None], x1[None, :]] * (1 - wx) + a[y2[:, None], x2[None, :]] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def upsample_tiles(
    images: DataFrame,
    *,
    from_zoom: int,
    to_zoom: int,
    resample: str = "bilinear",
    tile_px: int = 256,
    src: str = "0",
    n_buckets: int = 16,
    png_level: int = 3,
) -> DataFrame:
    """Children of every ``from_zoom`` tile at ``to_zoom`` (> from_zoom):
    one decode per parent (``kernels.decode_payload``, so any image
    ``fmt``), 4^(Δz) resampled PNG child tiles, zero shuffle. Output
    rows carry the image-table schema (``WARP_SCHEMA``)."""
    if to_zoom <= from_zoom:
        raise ValueError(
            f"to_zoom must exceed from_zoom, got {from_zoom}->{to_zoom}"
        )
    if resample not in ("nearest", "bilinear"):
        raise ValueError(f"resample must be nearest|bilinear, got {resample!r}")
    dz = to_zoom - from_zoom
    if dz > 4:
        raise ValueError(
            f"refusing a {4**dz}x tile explosion (dz={dz} > 4); chain calls"
        )
    scale = 1 << dz
    sub = tile_px / scale  # source pixels per child tile (float-exact: pow2)

    df = images.filter(F.col("z") == from_zoom).select("x", "y", "bytes", "fmt")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for x, y, data, fmt in zip(pdf["x"], pdf["y"], pdf["bytes"], pdf["fmt"]):
                if data is None:
                    continue
                arr = decode_payload(bytes(data), fmt, tile_px, tile_px)
                for dyy in range(scale):
                    for dxx in range(scale):
                        child = resample_window(
                            arr, dxx * sub, dyy * sub, scale, tile_px, resample
                        )
                        cx = (int(x) << dz) | dxx
                        cy = (int(y) << dz) | dyy
                        cell = int(pack_cell_id(cx, cy, to_zoom))
                        rows.append(
                            {
                                "image_id": f"{to_zoom}_{cx}_{cy}_{src}",
                                "bytes": png.encode_png(
                                    child, filter_type=2, level=png_level
                                ),
                                "w": tile_px,
                                "h": tile_px,
                                "fmt": "png",
                                "caption": (
                                    f"tile {to_zoom}/{cx}/{cy} src={src} "
                                    f"warp {resample} from z{from_zoom}"
                                ),
                                "phash": png.phash64(child),
                                "zoom": to_zoom,
                                "bucket": cell % n_buckets,
                            }
                        )
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(gen, WARP_SCHEMA)


def warp_tiles(
    images: DataFrame,
    *,
    from_zoom: int,
    to_zoom: int,
    resample: str = "bilinear",
    **kw,
) -> DataFrame:
    """Dispatch: up → :func:`upsample_tiles`; down → chained
    ``pyramid.build_parent_level`` block-mean rollups (the correct
    anti-aliased downsample); equal zoom raises (nothing to do)."""
    if to_zoom == from_zoom:
        raise ValueError("to_zoom == from_zoom: nothing to warp")
    if to_zoom > from_zoom:
        return upsample_tiles(
            images, from_zoom=from_zoom, to_zoom=to_zoom, resample=resample, **kw
        )
    from tilegrab_spark.operators.pyramid import build_parent_level

    level = images
    for z in range(from_zoom, to_zoom, -1):
        parents = build_parent_level(level, z, **kw)
        # parent rows come back in the image-table shape; re-derive the
        # x/y/z key columns the next rollup expects
        level = parents.select(
            F.split(F.col("image_id"), "_")[1].cast("long").alias("x"),
            F.split(F.col("image_id"), "_")[2].cast("long").alias("y"),
            F.col("zoom").alias("z"),
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "zoom", "bucket",
        )
    return level
