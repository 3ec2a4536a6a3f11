"""Terrain derivatives (Horn slope / aspect / hillshade) across tile
boundaries — the raster-analytics pair to focal.py's box stats.

Every output pixel needs its 3×3 neighborhood (Horn 1981, the
gdaldem/ESRI kernel), which crosses tile edges exactly like a focal
window, so the plan is the same relational HALO EXCHANGE with an
interior/border split (see focal.py's module docstring for the full
argument — this operator reuses its strip geometry and boundary rule):

1. map stage, ONE decode per tile: gradients for pixels ≥1 from the
   tile edge never cross it — their statistics (exact int64 Horn
   numerator sums + float slope/hillshade sums + integer aspect-bucket
   counts) leave as a dozen scalars.  Only PERIMETER data ships: the
   tile's own 2-deep edge bands and the 1-deep strips its 8 neighbors
   need.
2. border assembly per tile: rebuild the 3-deep ring (own bands +
   neighbor strips where they exist, edge replication where they
   don't), run the same kernel on the four border bands, merge.

Per-tile outputs keep the UNDIVIDED Horn numerators ``gx_sum`` /
``gy_sum`` as exact integers (pinned against an independent
whole-mosaic numpy oracle in tests/test_terrain.py), alongside the
float means and the integer aspect histogram.

Kernel contract (documented, deterministic):
- elevation = the max-channel of the decoded tile (the same proxy the
  focal/zonal suite uses);
- Horn numerators over window [[a b c] [d e f] [g h i]]:
  ``gx = (c + 2f + i) - (a + 2d + g)``, ``gy = (g + 2h + i) - (a + 2b
  + c)`` (y grows downward = southward);
- ``slope = atan(z_factor/8 * hypot(gx, gy))``;
- ``hillshade = clip(cos(zen)cos(slope) + sin(zen)sin(slope)
  cos(az - aspect), 0, 1)`` with ``aspect = atan2(gy, -gx)``,
  ``zen = radians(90 - altitude)``, ``az = radians(azimuth)`` — the
  gdaldem formula family;
- aspect buckets on the exact integers: flat iff gx == gy == 0; else
  east/west when ``|gx| >= |gy|`` (sign of gx; ties go to the x axis),
  north/south otherwise (sign of gy, north = gy < 0).

The reference has no terrain analogue; this extends the raster surface
the way gdaldem does, Spark-first.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import pack_cell_id
from tilegrab_spark.operators.focal import _strip

__all__ = ["terrain_stats"]

_PART_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("sx", T.IntegerType(), False),
        T.StructField("sy", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("pw", T.IntegerType(), False),
        T.StructField("ph", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("gx_sum", T.LongType(), True),
        T.StructField("gy_sum", T.LongType(), True),
        T.StructField("slope_sum", T.DoubleType(), True),
        T.StructField("hs_sum", T.DoubleType(), True),
        T.StructField("n_flat", T.LongType(), True),
        T.StructField("n_north", T.LongType(), True),
        T.StructField("n_east", T.LongType(), True),
        T.StructField("n_south", T.LongType(), True),
        T.StructField("n_west", T.LongType(), True),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("gx_sum", T.LongType(), True),
        T.StructField("gy_sum", T.LongType(), True),
        T.StructField("slope_mean", T.DoubleType(), True),
        T.StructField("hillshade_mean", T.DoubleType(), True),
        T.StructField("n_flat", T.LongType(), True),
        T.StructField("n_north", T.LongType(), True),
        T.StructField("n_east", T.LongType(), True),
        T.StructField("n_south", T.LongType(), True),
        T.StructField("n_west", T.LongType(), True),
        T.StructField("replicated_sides", T.IntegerType(), True),
    ]
)

_STAT_KEYS = (
    "gx_sum", "gy_sum", "slope_sum", "hs_sum",
    "n_flat", "n_north", "n_east", "n_south", "n_west",
)


def _horn(chan: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Undivided Horn numerators for the interior of ``chan`` (int64 in,
    outputs shape (H-2, W-2))."""
    c = chan.astype(np.int64)
    a, b_, cc = c[:-2, :-2], c[:-2, 1:-1], c[:-2, 2:]
    d, f = c[1:-1, :-2], c[1:-1, 2:]
    g, h_, i = c[2:, :-2], c[2:, 1:-1], c[2:, 2:]
    gx = (cc + 2 * f + i) - (a + 2 * d + g)
    gy = (g + 2 * h_ + i) - (a + 2 * b_ + cc)
    return gx, gy


def _kernel_stats(
    gx: np.ndarray, gy: np.ndarray, z_factor: float, zen: float, az: float
) -> dict:
    """Partial sums over one gradient block (exact ints + float sums)."""
    slope = np.arctan(z_factor / 8.0 * np.hypot(gx, gy))
    aspect = np.arctan2(gy, -gx)
    hs = np.clip(
        math.cos(zen) * np.cos(slope)
        + math.sin(zen) * np.sin(slope) * np.cos(az - aspect),
        0.0, 1.0,
    )
    ax, ay = np.abs(gx), np.abs(gy)
    flat = (gx == 0) & (gy == 0)
    xdom = (ax >= ay) & ~flat
    ydom = ~xdom & ~flat
    return {
        "gx_sum": int(gx.sum()),
        "gy_sum": int(gy.sum()),
        "slope_sum": float(slope.sum()),
        "hs_sum": float(hs.sum()),
        "n_flat": int(flat.sum()),
        "n_north": int((ydom & (gy < 0)).sum()),
        "n_east": int((xdom & (gx > 0)).sum()),
        "n_south": int((ydom & (gy > 0)).sum()),
        "n_west": int((xdom & (gx < 0)).sum()),
    }


def terrain_stats(
    images: DataFrame,
    *,
    z_factor: float = 1.0,
    azimuth: float = 315.0,
    altitude: float = 45.0,
) -> DataFrame:
    """Per-tile Horn slope/aspect/hillshade aggregates with true
    cross-tile halos: ``[key, status, n_px, gx_sum, gy_sum, slope_mean,
    hillshade_mean, n_flat, n_north, n_east, n_south, n_west,
    replicated_sides]``.  ``images`` needs (z, x, y, bytes, w, h, fmt)
    — the `read_image_table` shape; duplicate cells must be deduped
    upstream.  Boundary rule, error surfacing and the
    ``replicated_sides`` audit column follow focal_box_stats exactly."""
    zen = math.radians(90.0 - float(altitude))
    az = math.radians(float(azimuth))
    zf = float(z_factor)
    cols = ["z", "x", "y", "bytes", "w", "h", "fmt"]
    src = images.select(*cols)
    names = list(_PART_SCHEMA.fieldNames())

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {n: [] for n in names}

            def push(tk, sx, sy, payload, pw, ph, fmt, stats=None):
                out["tkey"].append(int(tk)); out["sx"].append(sx)
                out["sy"].append(sy); out["payload"].append(payload)
                out["pw"].append(pw); out["ph"].append(ph); out["fmt"].append(fmt)
                for k in _STAT_KEYS:
                    out[k].append(None if stats is None else stats[k])

            for row in pdf.itertuples(index=False):
                z, x, y = int(row.z), int(row.x), int(row.y)
                self_key = int(pack_cell_id(x, y, z))
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    push(self_key, 0, 0, None, int(row.w), int(row.h), "decode_error")
                    continue
                chan8 = arr.max(axis=2)
                h, w = chan8.shape
                if min(h, w) < 3:
                    push(self_key, 0, 0, bytes(row.bytes), w, h, row.fmt)
                else:
                    gx, gy = _horn(chan8)  # gradients for pixels [1,h-1)
                    push(
                        self_key, 0, 0, None, w, h, "stats",
                        _kernel_stats(gx, gy, zf, zen, az),
                    )
                    # own 2-deep edge bands (|2| codes, focal convention)
                    for (sx, sy) in ((0, -2), (0, 2), (-2, 0), (2, 0)):
                        band = np.ascontiguousarray(_strip(chan8, -sx, -sy, 2))
                        push(self_key, sx, sy, band.tobytes(),
                             band.shape[1], band.shape[0], "npy")
                n = 1 << z
                for sy in (-1, 0, 1):
                    for sx in (-1, 0, 1):
                        if sx == 0 and sy == 0:
                            continue
                        nx, ny = x + sx, y + sy
                        if not (0 <= nx < n and 0 <= ny < n):
                            continue
                        s = np.ascontiguousarray(_strip(chan8, -sx, -sy, 1))
                        push(
                            int(pack_cell_id(nx, ny, z)), -sx, -sy,
                            s.tobytes(), s.shape[1], s.shape[0], "npy",
                        )
            yield pd.DataFrame(out, columns=names)

    parts = src.mapInPandas(emit, schema=_PART_SCHEMA)

    def _paste_strips(canvas, strips, h, w) -> int:
        dropped = 0
        for (sx, sy, payload, pw, ph) in strips:
            ys = slice(0, 1) if sy < 0 else slice(h + 1, h + 2) if sy > 0 else slice(1, h + 1)
            xs = slice(0, 1) if sx < 0 else slice(w + 1, w + 2) if sx > 0 else slice(1, w + 1)
            if (ph, pw) != (ys.stop - ys.start, xs.stop - xs.start):
                dropped += 1  # mixed tile sizes: keep edge replication
                continue
            canvas[ys, xs] = np.frombuffer(payload, dtype=np.uint8).reshape(ph, pw)
        return dropped

    def _one(key: int, group: list) -> dict:
        rec = {n: None for n in _OUT_SCHEMA.fieldNames()}
        rec.update(key=key, status="error")
        me, bands, strips = None, {}, []
        for p in group:
            sx, sy = int(p["sx"]), int(p["sy"])
            if sx == 0 and sy == 0:
                me = p
            elif abs(sx) == 2 or abs(sy) == 2:
                bands[(sx, sy)] = p
            else:
                strips.append((sx, sy, p["payload"], int(p["pw"]), int(p["ph"])))
        if me is None:
            rec["status"] = "no_tile"
            return rec
        fmt = me["fmt"]
        if fmt == "decode_error":
            return rec
        h, w = int(me["ph"]), int(me["pw"])

        def finish(stats, n_px, dropped):
            rec.update(
                status="ok", n_px=int(n_px), replicated_sides=int(dropped),
                gx_sum=stats["gx_sum"], gy_sum=stats["gy_sum"],
                slope_mean=float(stats["slope_sum"] / n_px),
                hillshade_mean=float(stats["hs_sum"] / n_px),
                n_flat=stats["n_flat"], n_north=stats["n_north"],
                n_east=stats["n_east"], n_south=stats["n_south"],
                n_west=stats["n_west"],
            )
            return rec

        if fmt != "stats":
            # small-tile fallback: whole-tile assembly
            try:
                center = decode_payload(bytes(me["payload"]), fmt, w, h)
            except (ValueError, NotImplementedError):
                return rec
            canvas = np.pad(center.max(axis=2), 1, mode="edge")
            dropped = _paste_strips(canvas, strips, h, w)
            gx, gy = _horn(canvas)
            return finish(_kernel_stats(gx, gy, zf, zen, az), h * w, dropped)

        # border assembly on the 3-deep ring only (focal geometry, r=1)
        canvas = np.zeros((h + 2, w + 2), dtype=np.uint8)
        for (sx, sy), p in bands.items():
            band = np.frombuffer(p["payload"], dtype=np.uint8).reshape(
                int(p["ph"]), int(p["pw"])
            )
            if sy == -2:
                canvas[1:3, 1:w + 1] = band
            elif sy == 2:
                canvas[h - 1:h + 1, 1:w + 1] = band
            elif sx == -2:
                canvas[1:h + 1, 1:3] = band
            else:
                canvas[1:h + 1, w - 1:w + 1] = band
        canvas[1:h + 1, 0:1] = canvas[1:h + 1, 1:2]
        canvas[1:h + 1, w + 1:w + 2] = canvas[1:h + 1, w:w + 1]
        canvas[0:1, :] = canvas[1:2, :]
        canvas[h + 1:h + 2, :] = canvas[h:h + 1, :]
        dropped = _paste_strips(canvas, strips, h, w)

        # four border bands of outputs; 3x3 windows stay inside the ring
        pieces = [
            _horn(canvas[0:3, :]),                 # output row 0, all cols
            _horn(canvas[h - 1:h + 2, :]),         # row h-1, all cols
            _horn(canvas[1:h + 1, 0:3]),           # rows [1, h-1), col 0
            _horn(canvas[1:h + 1, w - 1:w + 2]),   # rows [1, h-1), col w-1
        ]
        merged = {k: me[k] for k in _STAT_KEYS}
        merged = {
            k: (int(v) if k.startswith(("gx", "gy", "n_")) else float(v))
            for k, v in merged.items()
        }
        for gx, gy in pieces:
            s = _kernel_stats(gx, gy, zf, zen, az)
            for k in _STAT_KEYS:
                merged[k] += s[k]
        return finish(merged, h * w, dropped)

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_names = list(_OUT_SCHEMA.fieldNames())
        for pdf in batches:
            recs = [_one(int(t.tkey), t.parts) for t in pdf.itertuples(index=False)]
            yield pd.DataFrame(recs, columns=out_names)

    grouped = parts.groupBy("tkey").agg(
        F.collect_list(F.struct(*names[1:])).alias("parts")
    )
    return grouped.mapInPandas(assemble, schema=_OUT_SCHEMA)
