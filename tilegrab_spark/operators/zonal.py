"""Zonal statistics — exact per-zone raster stats over the tile store.

Beyond-reference raster analytics (the reference stops at stitching —
images/mosaic.py — and offers no zonal reduction), shaped for 100 TB:

- **Interior/boundary classification is the workhorse optimization.**
  A tile whose box crosses no zone-ring segment is either fully inside
  (count every pixel — no mask, no per-pixel geometry) or fully outside
  (contributes nothing).  Only the O(perimeter) boundary tiles pay the
  per-pixel point-in-polygon mask; the O(area) interior pays decode-only.
- **Per-tile partials are algebraic.** Each task emits (n, sum, min,
  max) per band per tile — the only shuffle moves those tiny rows into
  `groupBy(geom_id, band)`, never pixels.  Map-side partial aggregation
  applies on top.
- **Zones are broadcast** (same prepared-geometry broadcast as the F2
  refine, operators/tiles.py); executors get the ring set once.

Masking semantics: a pixel belongs to the zone iff its CENTER is inside
the polygon (even-odd ray cast — the raster convention GDAL's
all-touched=False uses).  Pixel centers are exact tile math: lon linear
in global pixel index, lat = atan(sinh(π(1−2·py_frac))) (Web-Mercator
inverse, kernels/geo.py:63).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tilegrab_spark.kernels import decode_payload, geo
from tilegrab_spark.sources.geometries import GeometrySet
from tilegrab_spark.sources.images import cell_id_col

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("geom_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("s", T.LongType(), False),
    T.StructField("mn", T.IntegerType(), False),
    T.StructField("mx", T.IntegerType(), False),
])


def _pixel_centers(x: int, y: int, z: int, w: int, h: int):
    """Lon/lat of every pixel center of tile (x, y, z) at w×h px."""
    n = float(1 << z)
    lon = ((x + (np.arange(w) + 0.5) / w) / n) * 360.0 - 180.0
    py = (y + (np.arange(h) + 0.5) / h) / n
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * py))))
    return lon, lat


def _mask_for_tile(x, y, z, w, h, rings) -> np.ndarray:
    """(h, w) bool — pixel centers inside the polygon (even-odd)."""
    lon, lat = _pixel_centers(x, y, z, w, h)
    # separable ray cast: the crossing test depends on (lat row, lon col)
    # — evaluate per row against all columns at once
    mask = np.zeros((h, w), dtype=bool)
    for ring in rings:
        xs, ys = ring[:, 0], ring[:, 1]
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        cond = (y1[None, :] > lat[:, None]) != (y2[None, :] > lat[:, None])
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = x1[None, :] + (lat[:, None] - y1[None, :]) * (
                x2 - x1
            )[None, :] / (y2 - y1)[None, :]
        # crossings per (row, col): count segments with cond & lon < xint
        # — do it row-wise to bound memory at (w × segs)
        for r in range(h):
            seg = np.flatnonzero(cond[r])
            if seg.size:
                cr = (lon[:, None] < xint[r, seg][None, :]).sum(axis=1)
                mask[r] ^= (cr % 2).astype(bool)
    return mask


def classify_tiles(tiles_df: DataFrame, geoms: list[GeometrySet] | GeometrySet) -> DataFrame:
    """Adds ``zone_class``: 0 outside, 1 boundary (a ring segment crosses
    the tile box), 2 interior (fully inside).  Pure Arrow batch against
    the broadcast ring set — this is the planner that keeps per-pixel
    work off the O(area) interior."""
    if isinstance(geoms, GeometrySet):
        geoms = [geoms]
    payload = {
        g.geom_id: [[np.asarray(r, np.float64).tolist() for r in poly] for poly in g.polygons]
        for g in geoms
    }
    bc = tiles_df.sparkSession.sparkContext.broadcast(payload)

    @F.pandas_udf("tinyint")
    def cls(
        geom_id: pd.Series,
        mnl: pd.Series,
        mnt: pd.Series,
        mxl: pd.Series,
        mxt: pd.Series,
    ) -> pd.Series:
        out = pd.Series(0, index=geom_id.index, dtype="int8")
        for gid, idx in geom_id.groupby(geom_id).groups.items():
            polys = bc.value.get(gid)
            if not polys:
                continue
            bx0 = mnl[idx].to_numpy(np.float64)
            by0 = mnt[idx].to_numpy(np.float64)
            bx1 = mxl[idx].to_numpy(np.float64)
            by1 = mxt[idx].to_numpy(np.float64)
            boundary = np.zeros(len(bx0), dtype=bool)
            inside = np.zeros(len(bx0), dtype=bool)
            for poly in polys:
                rings = []
                segs = []
                for r in poly:
                    r = np.asarray(r, np.float64)
                    if not (r[0] == r[-1]).all():
                        r = np.vstack([r, r[:1]])
                    rings.append(r)
                    segs.append(np.column_stack([r[:-1], r[1:]]))
                boundary |= geo._segments_intersect_boxes(
                    bx0, by0, bx1, by1, np.vstack(segs)
                )
                inside ^= geo._point_in_rings(
                    (bx0 + bx1) / 2.0, (by0 + by1) / 2.0, rings
                )
            v = np.zeros(len(bx0), dtype=np.int8)
            v[inside] = 2
            v[boundary] = 1
            out[idx] = v
        return out

    return tiles_df.withColumn(
        "zone_class", cls("geom_id", "min_lon", "min_lat", "max_lon", "max_lat")
    )


def zonal_stats(
    joined: DataFrame,
    geoms: list[GeometrySet] | GeometrySet,
    *,
    exact: bool = True,
) -> DataFrame:
    """Per-zone per-band pixel statistics over a (tiles ⋈ images) frame
    (needs geom_id, z, x, y, min/max lon/lat, fmt, bytes, w, h).

    ``exact=True`` masks boundary-tile pixels by center-in-polygon;
    ``exact=False`` is tile-granular (every pixel of every intersecting
    tile counts — cheaper, upper-bounds the exact result).

    Returns (geom_id, band, n_px, sum_v, min_v, max_v, mean_v), band
    0/1/2 = R/G/B.  Scale: pixels never shuffle — each task reduces its
    tiles to 3 partial rows apiece; the combine is one tiny groupBy."""
    if isinstance(geoms, GeometrySet):
        geoms = [geoms]
    classed = classify_tiles(joined, geoms).filter(F.col("zone_class") > 0)
    payload = {
        g.geom_id: [[np.asarray(r, np.float64) for r in poly] for poly in g.polygons]
        for g in geoms
    }
    bc = classed.sparkSession.sparkContext.broadcast(payload)
    cols = ["geom_id", "z", "x", "y", "fmt", "bytes", "w", "h", "zone_class"]

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = decode_payload(bytes(r.bytes), r.fmt, r.w, r.h)
                if exact and r.zone_class == 1:
                    polys = bc.value[r.geom_id]
                    m = np.zeros(px.shape[:2], dtype=bool)
                    for poly in polys:
                        rings = []
                        for rg in poly:
                            if not (rg[0] == rg[-1]).all():
                                rg = np.vstack([rg, rg[:1]])
                            rings.append(rg)
                        m ^= _mask_for_tile(
                            int(r.x), int(r.y), int(r.z),
                            px.shape[1], px.shape[0], rings,
                        )
                    if not m.any():
                        continue
                    sel = px[m]
                else:
                    sel = px.reshape(-1, 3)
                n = sel.shape[0]
                s = sel.sum(axis=0, dtype=np.int64)
                mn = sel.min(axis=0)
                mx = sel.max(axis=0)
                for b in range(3):
                    rows.append(
                        (r.geom_id, b, n, int(s[b]), int(mn[b]), int(mx[b]))
                    )
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in _PARTIAL_SCHEMA.fields])

    part = classed.select(*cols).mapInPandas(partials, schema=_PARTIAL_SCHEMA)
    return (
        part.groupBy("geom_id", "band")
        .agg(
            F.sum("n").alias("n_px"),
            F.sum("s").alias("sum_v"),
            F.min("mn").alias("min_v"),
            F.max("mx").alias("max_v"),
        )
        .withColumn("mean_v", F.col("sum_v") / F.col("n_px"))
    )


_LABEL_PARTIAL_SCHEMA = T.StructType([
    T.StructField("label", T.LongType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("s", T.LongType(), False),
    T.StructField("mn", T.IntegerType(), False),
    T.StructField("mx", T.IntegerType(), False),
])


def zonal_from_labels(
    labels_df: DataFrame,
    values_df: DataFrame,
    *,
    label_col: str = "labels",
    band="max",
    exclude_labels: tuple = (),
) -> DataFrame:
    """Per-zone stats where the zones are a COMPUTED label raster
    instead of vector polygons — e.g. rainfall per drainage basin:
    ``zonal_from_labels(watersheds(dem, zoom=z), rainfall_tiles)``.

    ``labels_df``: tile-keyed rows with ``key`` (packed cell id) and a
    binary little-endian int64 ``label_col`` raster (the watersheds /
    cost-allocation output shape). ``values_df``: the image-table shape
    (z, x, y, bytes, w, h, fmt); value = the ``band`` channel ('max' or
    index). ``exclude_labels``: label values to drop (e.g.
    ``(OFFMAP_LABEL,)`` to ignore off-coverage water).

    Returns ``[label, n_px, sum_v, min_v, max_v, mean_v]``. Scale shape
    matches :func:`zonal_stats`: the tile join is ONE co-keyed
    equi-join (labels and values share the tile key, so bucketed/
    co-partitioned stores join without a raster shuffle), each task
    reduces its tiles to one partial row per DISTINCT LABEL PRESENT in
    the tile (np.unique + add.at — never a row per pixel), and the only
    shuffle is the tiny label-keyed combine with map-side partials.
    Tiles missing from either side, size mismatches, and value decode
    errors contribute nothing (zones are exact over the intersection).
    """
    lab = labels_df.select(
        F.col("key").alias("lk_"), F.col(label_col).alias("lab_"),
        F.col("w").alias("lw_"), F.col("h").alias("lh_"),
    ).filter(F.col("lab_").isNotNull())
    val = values_df.select(
        cell_id_col().alias("vk_"),
        "fmt", "bytes", "w", "h",
    )
    joined = lab.join(val, on=F.col("lk_") == F.col("vk_"))
    excl = set(int(e) for e in exclude_labels)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in _LABEL_PARTIAL_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = decode_payload(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                except (ValueError, NotImplementedError):
                    continue
                chan = px.max(axis=2) if band == "max" else px[:, :, int(band)]
                if chan.shape != (int(r.lh_), int(r.lw_)):
                    continue  # mixed dims: outside the uniform contract
                labs = np.frombuffer(r.lab_, dtype="<i8")
                v = chan.ravel().astype(np.int64)
                uniq, inv = np.unique(labs, return_inverse=True)
                k = uniq.shape[0]
                n = np.bincount(inv, minlength=k).astype(np.int64)
                s = np.zeros(k, dtype=np.int64)
                np.add.at(s, inv, v)
                mn = np.full(k, 256, dtype=np.int64)
                mx = np.full(k, -1, dtype=np.int64)
                np.minimum.at(mn, inv, v)
                np.maximum.at(mx, inv, v)
                for i in range(k):
                    u = int(uniq[i])
                    if u in excl:
                        continue
                    rows.append((u, int(n[i]), int(s[i]), int(mn[i]), int(mx[i])))
            if rows:
                yield pd.DataFrame(rows, columns=names)

    part = joined.mapInPandas(partials, schema=_LABEL_PARTIAL_SCHEMA)
    return (
        part.groupBy("label")
        .agg(
            F.sum("n").alias("n_px"),
            F.sum("s").alias("sum_v"),
            F.min("mn").alias("min_v"),
            F.max("mx").alias("max_v"),
        )
        .withColumn("mean_v", F.col("sum_v") / F.col("n_px"))
    )
