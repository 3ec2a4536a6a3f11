"""Proximity raster — per-pixel distance to the nearest feature pixel.

The ``gdal_proximity.py`` staple ("distance to nearest road / water /
built-up cell"), built as pure composition over the engine's audited
min-plus wavefront: feature pixels of a mask layer become sources, the
friction surface is uniform 1, and :func:`cost_distance` then computes
the 8-connected shortest-path distance — which on a uniform surface is
EXACTLY the octile metric ``max(|dx|,|dy|) + (sqrt(2)-1)*min(|dx|,|dy|)``
(closed form; the tests pin it at rtol 1e-12 — the wavefront
accumulates sqrt(2) per diagonal step so values sit a few ULPs off
the one-multiply closed form). The companion
``alloc`` raster is the nearest-feature assignment (a discrete Voronoi
by the same metric; ties to the smaller packed site id).

METRIC HONESTY: this is the octile distance, not Euclidean —
``gdal_proximity`` with ``-distunits PIXEL`` computes true Euclidean.
The two agree on horizontals/verticals/diagonals and differ by at most
the factor sec(pi/8) = 1.0824 (worst at 22.5 deg), always >= Euclidean.
Exact tiled Euclidean EDT needs the separable two-pass structure
(per-column scan + per-row lower envelope, both with cross-tile
exchanges); naive border-winner flooding provably accrues up to +1 px
error per tile hop, so it is NOT offered as "euclidean" here. If the
8.2% bound matters, treat this as the fast upper bound.

Coverage semantics inherit cost_distance: distances propagate only
through covered tiles — a coverage hole blocks, so distances are
per-4-connected-coverage-component (gdal, operating on one monolithic
raster, has no analogue of a hole). Uncovered pixels are absent;
unreached covered pixels are +inf.

Scale shape: one decode pass emits feature-pixel source rows (mask-
sparsity-sized — the realistic road/water/built-up masks are sparse);
the uniform friction layer is generated as raw tiles from the mask's
own key set (no second scan of the real payloads); everything after is
cost_distance's perimeter-scale wavefront.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.operators.costdistance import cost_distance

__all__ = ["proximity", "feature_pixels"]


def feature_pixels(
    images: DataFrame,
    *,
    zoom: int,
    band="max",
    threshold: int = 1,
    tile_px: int = 256,
) -> DataFrame:
    """Global-pixel coordinates ``[gx, gy]`` of every mask pixel whose
    ``band`` value is >= ``threshold`` — the source extraction pass
    (one decode per tile, output sized by mask sparsity). Undecodable
    tiles contribute nothing (they are also uncovered for the
    wavefront, so no distance is reported there either)."""
    if not (0 <= zoom <= 22):
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    z = int(zoom)
    tp = int(tile_px)
    thr = int(threshold)
    src = images.filter(F.col("z") == z).select("x", "y", "bytes", "w", "h", "fmt")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gxs, gys = [], []
            for row in pdf.itertuples(index=False):
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    continue
                chan = arr.max(axis=2) if band == "max" else arr[:, :, int(band)]
                ys, xs = np.nonzero(chan >= thr)
                gxs.append(xs.astype(np.int64) + int(row.x) * tp)
                gys.append(ys.astype(np.int64) + int(row.y) * tp)
            if gxs:
                yield pd.DataFrame(
                    {"gx": np.concatenate(gxs), "gy": np.concatenate(gys)}
                )
            else:
                yield pd.DataFrame({"gx": pd.Series([], dtype="int64"),
                                    "gy": pd.Series([], dtype="int64")})

    return src.mapInPandas(extract, schema="gx long, gy long")


def proximity(
    images: DataFrame,
    *,
    zoom: int,
    band="max",
    threshold: int = 1,
    tile_px: int = 256,
    max_rounds: int = 256,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Octile distance-to-nearest-feature raster over the mask layer's
    own coverage: the :func:`cost_distance` output shape ``[key, z, x,
    y, w, h, status, dist, alloc, min_dist, reached_px]`` with ``dist``
    in PIXELS (float64; exact octile metric — module docstring) and
    ``alloc`` the nearest-feature discrete Voronoi labels (packed
    ``gy * world_px + gx`` of the winning feature pixel).

    ``sources`` overrides the mask extraction with an explicit
    ``[gx, gy]`` frame (e.g. reuse :func:`feature_pixels` output, or
    point features that never existed as a raster)."""
    z = int(zoom)
    tp = int(tile_px)
    if sources is None:
        sources = feature_pixels(
            images, zoom=zoom, band=band, threshold=threshold, tile_px=tp
        )
    # uniform friction 1 over the mask's own tile keys — raw tiles, so
    # the wavefront's decode pass is a frombuffer, not a codec run
    keys = images.filter(F.col("z") == z).select("x", "y", "w", "h").distinct()
    ones = bytes(np.ones(tp * tp * 3, dtype=np.uint8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "z": np.full(len(pdf), z, dtype=np.int32),
                    "x": pdf["x"].astype("int64"),
                    "y": pdf["y"].astype("int64"),
                    "bytes": pd.Series([ones] * len(pdf), dtype=object),
                    "w": np.full(len(pdf), tp, dtype=np.int32),
                    "h": np.full(len(pdf), tp, dtype=np.int32),
                    "fmt": pd.Series(["raw"] * len(pdf), dtype=object),
                }
            )

    friction = keys.mapInPandas(
        gen, schema="z int, x long, y long, bytes binary, w int, h int, fmt string"
    )
    # band applies to the MASK extraction above; the friction layer is
    # uniform ones on every channel, so 'max' is always correct here
    return cost_distance(
        friction, sources, zoom=z, band="max", tile_px=tp, max_rounds=max_rounds
    )
