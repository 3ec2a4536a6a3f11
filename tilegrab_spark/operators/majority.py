"""Majority (mode) filter over the tile lake — classified-raster
smoothing, the standard pre-`sieve`/pre-`polygonize` step.

Each pixel takes the most frequent label in its (2r+1)² window, with
true cross-tile halos. Tie rule (deterministic, pinned by tests): if
the center's own label is among the tied maxima the pixel KEEPS it
(QGIS majority-filter behavior — flat areas and clean edges are
stable); otherwise the smallest tied label wins.

Unlike ``focal_box_stats`` (scalar stats → the interior/border split
keeps compressed tiles from re-shuffling), a filter's OUTPUT is
pixel-sized, so one exchange carrying each compressed tile plus its
eight r-deep neighbor strips (corners included — the mode window
needs them, unlike the box-sum trick) is inherent: the same cost
class as mosaic/warp, ~1× input bytes. Absent neighbors (coverage
edges) fall back to edge replication; mismatched-size strips are
dropped and counted in ``replicated_sides`` (focal's never-fail
boundary policy).

Per-tile kernel: pad → ``sliding_window_view`` → per-window label
counts (k² vectorized equality passes — k² ≤ 49, bounded) → tie rule →
PNG re-encode. Output mirrors the input schema (+``status``,
``replicated_sides``); undecodable tiles pass through unchanged with
``status='decode_error'``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import pack_cell_id
from tilegrab_spark.kernels.png import encode_png
from tilegrab_spark.operators.focal import _strip

__all__ = ["majority_filter", "window_mode"]

_PART_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("sx", T.IntegerType(), False),
        T.StructField("sy", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("pw", T.IntegerType(), False),
        T.StructField("ph", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("replicated_sides", T.IntegerType(), False),
    ]
)


def window_mode(canvas: np.ndarray, r: int) -> np.ndarray:
    """Mode of each (2r+1)² window of a padded uint8 canvas; center
    kept on ties it participates in, else smallest tied label.
    ``canvas`` is (h+2r, w+2r); returns (h, w) uint8."""
    from numpy.lib.stride_tricks import sliding_window_view

    k = 2 * r + 1
    h, w = canvas.shape[0] - 2 * r, canvas.shape[1] - 2 * r
    flat = sliding_window_view(canvas, (k, k)).reshape(h, w, k * k)
    counts = np.empty((h, w, k * k), dtype=np.int16)
    for i in range(k * k):
        counts[..., i] = (flat == flat[..., i : i + 1]).sum(-1)
    best = counts.max(-1)
    center = canvas[r : r + h, r : r + w]
    center_count = (flat == center[..., None]).sum(-1)
    tied_min = np.where(counts == best[..., None], flat.astype(np.int16), 256).min(-1)
    return np.where(center_count == best, center, tied_min).astype(np.uint8)


def majority_filter(
    images: DataFrame,
    *,
    radius: int = 1,
    band="max",
) -> DataFrame:
    """Mode-filter every tile's label raster with cross-tile halos
    (module docstring for the exact tie and boundary rules). ``images``
    needs (z, x, y, bytes, w, h, fmt); duplicate cells dedup upstream
    (same rule as focal/tile_diff). Labels = ``band`` ('max' or channel
    index); output tiles are grayscale×3 PNG."""
    if not 1 <= radius <= 3:
        raise ValueError(f"radius must be in [1, 3], got {radius}")
    r = int(radius)
    src = images.select("z", "x", "y", "bytes", "w", "h", "fmt")

    def labels_of(arr: np.ndarray) -> np.ndarray:
        if band == "max":
            return arr.max(axis=2)
        return arr[:, :, int(band)]

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_PART_SCHEMA.fieldNames())
        for pdf in batches:
            out = {n: [] for n in names}

            def push(tk, sx, sy, payload, pw, ph, fmt, z, tx, ty):
                out["tkey"].append(int(tk)); out["sx"].append(sx)
                out["sy"].append(sy); out["payload"].append(payload)
                out["pw"].append(pw); out["ph"].append(ph)
                out["fmt"].append(fmt); out["z"].append(z)
                out["tx"].append(tx); out["ty"].append(ty)

            for row in pdf.itertuples(index=False):
                z, x, y = int(row.z), int(row.x), int(row.y)
                self_key = int(pack_cell_id(x, y, z))
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    push(self_key, 0, 0, bytes(row.bytes), int(row.w),
                         int(row.h), "decode_error", z, x, y)
                    continue
                lab = np.ascontiguousarray(labels_of(arr))
                h, w = lab.shape
                push(self_key, 0, 0, lab.tobytes(), w, h, "lab", z, x, y)
                n = 1 << z
                for sy in (-1, 0, 1):
                    for sx in (-1, 0, 1):
                        if sx == 0 and sy == 0:
                            continue
                        nx, ny = x + sx, y + sy
                        if not (0 <= nx < n and 0 <= ny < n):
                            continue
                        s = np.ascontiguousarray(_strip(lab, -sx, -sy, r))
                        push(int(pack_cell_id(nx, ny, z)), -sx, -sy,
                             s.tobytes(), s.shape[1], s.shape[0], "npy",
                             z, nx, ny)
            yield pd.DataFrame(out, columns=names)

    parts = src.mapInPandas(emit, schema=_PART_SCHEMA)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        me, strips = None, []
        for p in pdf.itertuples(index=False):
            if p.sx == 0 and p.sy == 0:
                me = p
            else:
                strips.append((int(p.sx), int(p.sy), p.payload, int(p.pw), int(p.ph)))
        empty = pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in _OUT_SCHEMA.fields}
        )
        if me is None:
            return empty  # strips for an absent tile (coverage ring)
        if me.fmt == "decode_error":
            return pd.DataFrame(
                [
                    {
                        "z": int(me.z), "x": int(me.tx), "y": int(me.ty),
                        "bytes": me.payload, "w": int(me.pw), "h": int(me.ph),
                        "fmt": "png", "status": "decode_error",
                        "replicated_sides": 0,
                    }
                ]
            )
        h, w = int(me.ph), int(me.pw)
        lab = np.frombuffer(me.payload, dtype=np.uint8).reshape(h, w)
        canvas = np.pad(lab, r, mode="edge")
        dropped = 0
        pasted: set = set()
        for (sx, sy, payload, pw, ph) in strips:
            ys = (
                slice(0, r) if sy < 0
                else slice(h + r, h + 2 * r) if sy > 0
                else slice(r, h + r)
            )
            xs = (
                slice(0, r) if sx < 0
                else slice(w + r, w + 2 * r) if sx > 0
                else slice(r, w + r)
            )
            want = (ys.stop - ys.start, xs.stop - xs.start)
            if (ph, pw) != want:
                dropped += 1
                continue
            canvas[ys, xs] = np.frombuffer(payload, dtype=np.uint8).reshape(ph, pw)
            pasted.add((sx, sy))
        # corner blocks with no diagonal neighbor replicate from the
        # adjacent pasted strip (matching full-raster edge-pad
        # semantics: pad[i, j] = raster[clip(i), clip(j)]); own-corner
        # replication only remains where neither side has a neighbor
        for cy, cx in ((-1, -1), (-1, 1), (1, -1), (1, 1)):
            if (cx, cy) in pasted:
                continue
            ys = slice(0, r) if cy < 0 else slice(h + r, h + 2 * r)
            xs = slice(0, r) if cx < 0 else slice(w + r, w + 2 * r)
            if (0, cy) in pasted:  # vertical strip exists: extend it
                col = r if cx < 0 else w + r - 1
                canvas[ys, xs] = canvas[ys, col : col + 1]
            elif (cx, 0) in pasted:  # horizontal strip exists
                row = r if cy < 0 else h + r - 1
                canvas[ys, xs] = canvas[row : row + 1, xs]
        mode = window_mode(canvas, r)
        rgb = np.repeat(mode[:, :, None], 3, axis=2)
        return pd.DataFrame(
            [
                {
                    "z": int(me.z), "x": int(me.tx), "y": int(me.ty),
                    "bytes": bytes(encode_png(rgb)), "w": w, "h": h,
                    "fmt": "png", "status": "ok", "replicated_sides": dropped,
                }
            ]
        )

    return parts.groupBy("tkey").applyInPandas(assemble, _OUT_SCHEMA)
