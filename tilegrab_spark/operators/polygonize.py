"""Raster polygonize — categorical tile rasters → vector polygons.

The `gdal_polygonize` staple, distributed: pixels sharing a label value
and 4-connected form a region; the output is each region's boundary as
closed rectilinear rings (one exterior + zero or more holes) in GLOBAL
pixel coordinates. Completes the raster→vector path next to
operators/contour.py — contours trace iso-lines of a CONTINUOUS field;
polygonize traces the exact pixel outlines of a CATEGORICAL one
(classified land cover, segmentation masks, rendered density classes).

Plan shape (the focal/contour halo recipe — pixels never shuffle):

1. **map stage** (``mapInPandas``, one decode per tile): per-tile
   4-connectivity labeling (vectorized run-merge union-find), then
   - directed boundary edges INTERIOR to the tile (between its own
     pixels), run-length-merged along each boundary line — output-sized;
   - one (label, pixel-count) stat row per local region;
   - four PERIMETER strips (border labels + local region ids, a few KB
     per tile) keyed to the shared border with each neighbor.
2. **border stage** (``groupBy(border)``): each border group holds the
   two facing strips (or one, at a coverage edge). Differing labels →
   boundary edges for both sides; equal labels → a merge pair between
   the two tile-local regions. Mixed tile sizes can't align — both
   sides become coverage edges and no merge is emitted (the same
   never-fail policy as focal/contour).
3. **global regions**: pointer-jumping connected components over the
   merge pairs (operators/components.py) — node count is region count,
   edge count is border-run count, never pixels.
4. **assembly** (one Arrow grouped map per region): chain the directed
   edges into closed rings with a rightmost-turn rule at pinch vertices,
   drop collinear vertices, orient by construction (interior on the
   left → exterior rings have positive shoelace area, holes negative).

Exactness contract: every edge is emitted with integer global pixel
endpoints computed the same way on both sides of a tile border, so
cross-tile chains meet in bit-identical int64 vertices — no snapping,
no geometry library. The invariant ``sum(signed area over a region's
rings) == the region's pixel count`` holds exactly and is pinned by
tests/test_polygonize.py against a flood-fill + rasterize-back oracle.

Scale notes: every stage is perimeter- or output-sized except the one
decode pass; a pathological lake-spanning region assembles its
(coastline-length) ring in one task — the same bound every polygon
assembler has, documented here like contour's. Region keys pack
(tile x, tile y, local region id) into one int64 — valid for zoom ≤ 22
and tiles up to 512×512 (≤ 2^18 local regions); both are validated.

The reference has no analogue (one-shot fetch tool); this is engine
surface beyond SURVEY §2, sibling of extract_contours/dissolve_tiles.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.operators.components import connected_components
from tilegrab_spark.operators.dedup import _persist_signatures

__all__ = ["polygonize", "polygons_lonlat", "polygons_geojson"]

_RID_BITS = 18  # ≤ 2^18 local regions/tile → tiles up to 512x512
_TY_BITS = 22  # ty < 2^22 → zoom ≤ 22; tx gets the remaining 23 bits

# stage-1 union frame: kind 0 = edge, 1 = stat, 2 = strip
_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("rkey", T.LongType(), True),
        T.StructField("x1", T.LongType(), True),
        T.StructField("y1", T.LongType(), True),
        T.StructField("x2", T.LongType(), True),
        T.StructField("y2", T.LongType(), True),
        T.StructField("label", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("bkey", T.LongType(), True),
        T.StructField("side", T.ByteType(), True),
        T.StructField("tx", T.LongType(), True),
        T.StructField("ty", T.LongType(), True),
        T.StructField("pw", T.IntegerType(), True),
        T.StructField("ph", T.IntegerType(), True),
        T.StructField("labels", T.BinaryType(), True),
        T.StructField("rids", T.BinaryType(), True),
    ]
)

# border stage output: kind 0 = edge, 1 = merge pair
_BORDER_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("rkey", T.LongType(), False),
        T.StructField("x1", T.LongType(), True),
        T.StructField("y1", T.LongType(), True),
        T.StructField("x2", T.LongType(), True),
        T.StructField("y2", T.LongType(), True),
        T.StructField("rkey_b", T.LongType(), True),
    ]
)

_RING_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.LongType(), False),
        T.StructField("ring_idx", T.IntegerType(), False),
        T.StructField("is_hole", T.BooleanType(), False),
        T.StructField("closed", T.BooleanType(), False),
        T.StructField("signed_area_px", T.LongType(), False),
        T.StructField("n_vertices", T.IntegerType(), False),
        T.StructField("xs", T.ArrayType(T.LongType()), False),
        T.StructField("ys", T.ArrayType(T.LongType()), False),
    ]
)


def _labels_of(arr: np.ndarray, band) -> np.ndarray:
    if band == "max":
        return arr.max(axis=2)
    return arr[:, :, int(band)]


def _label_regions(lab: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connectivity connected components of a label raster: dense
    int64 local region ids (h, w) + region count. Vectorized row runs,
    union-find over the (runs-count-bounded) adjacent-row pairs."""
    h, w = lab.shape
    breaks = np.ones((h, w), dtype=bool)
    breaks[:, 1:] = lab[:, 1:] != lab[:, :-1]
    run_id = np.cumsum(breaks.ravel()).reshape(h, w) - 1
    n_runs = int(run_id[-1, -1]) + 1
    parent = np.arange(n_runs, dtype=np.int64)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = int(parent[a])
        return a

    if h > 1:
        same = lab[1:] == lab[:-1]
        if same.any():
            # pack each pair into one int64 — np.unique(axis=0) views
            # rows as structured dtypes and costs ~50x the 1-D path
            packed = (run_id[:-1][same].astype(np.int64) << 32) | run_id[1:][same]
            for k in np.unique(packed):
                ra, rb = find(int(k >> 32)), find(int(k & 0xFFFFFFFF))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # full resolve, vectorized path doubling
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    roots, dense = np.unique(parent, return_inverse=True)
    return dense[run_id.ravel()].reshape(h, w).astype(np.int64), int(roots.size)


def _runs(mask: np.ndarray, region: np.ndarray):
    """Maximal same-region runs of True cells along axis 1.
    Returns (rows, c0, c1_exclusive, region) int64 arrays."""
    idx = np.flatnonzero(mask.ravel())
    if idx.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    w = mask.shape[1]
    rows, cols = idx // w, idx % w
    reg = region.ravel()[idx]
    new = np.ones(idx.size, dtype=bool)
    new[1:] = (
        (np.diff(idx) != 1) | (rows[1:] != rows[:-1]) | (reg[1:] != reg[:-1])
    )
    s = np.flatnonzero(new)
    e = np.append(s[1:], idx.size) - 1
    return rows[s], cols[s], cols[e] + 1, reg[s]


def _pack_rkey(tx: int, ty: int, rid_arr):
    return (
        (np.int64(tx) << np.int64(_RID_BITS + _TY_BITS))
        | (np.int64(ty) << np.int64(_RID_BITS))
        | np.asarray(rid_arr, dtype=np.int64)
    )


def _pack_bkey(z: int, axis: int, bx: int, by: int) -> int:
    # by bits 0..22, bx bits 23..45, z bits 46..51, axis bit 52
    return (axis << 52) | (z << 46) | (bx << 23) | by


def _edge_cols(rk, x1, y1, x2, y2) -> dict:
    n = len(rk)
    return {
        "kind": np.zeros(n, dtype=np.int8),
        "rkey": np.asarray(rk, dtype=np.int64),
        "x1": np.asarray(x1, dtype=np.int64),
        "y1": np.asarray(y1, dtype=np.int64),
        "x2": np.asarray(x2, dtype=np.int64),
        "y2": np.asarray(y2, dtype=np.int64),
    }


def _interior_edges(lab, loc, gx0: int, gy0: int, tx: int, ty: int) -> list:
    """Directed boundary edges between the tile's OWN pixels, interior
    on the left, run-length merged. Global integer endpoints."""
    out = []
    if lab.shape[0] > 1:
        m = lab[:-1, :] != lab[1:, :]
        # upper pixel's bottom edge: right → left at y = gy0 + r + 1
        r, c0, c1, reg = _runs(m, loc[:-1, :])
        if r.size:
            y = gy0 + r + 1
            out.append(_edge_cols(_pack_rkey(tx, ty, reg), gx0 + c1, y, gx0 + c0, y))
        # lower pixel's top edge: left → right
        r, c0, c1, reg = _runs(m, loc[1:, :])
        if r.size:
            y = gy0 + r + 1
            out.append(_edge_cols(_pack_rkey(tx, ty, reg), gx0 + c0, y, gx0 + c1, y))
    if lab.shape[1] > 1:
        m = (lab[:, :-1] != lab[:, 1:]).T  # rows ↔ boundary x, cols ↔ y
        # left pixel's right edge: downward at x = gx0 + c + 1
        r, c0, c1, reg = _runs(m, loc[:, :-1].T)
        if r.size:
            x = gx0 + r + 1
            out.append(_edge_cols(_pack_rkey(tx, ty, reg), x, gy0 + c0, x, gy0 + c1))
        # right pixel's left edge: upward
        r, c0, c1, reg = _runs(m, loc[:, 1:].T)
        if r.size:
            x = gx0 + r + 1
            out.append(_edge_cols(_pack_rkey(tx, ty, reg), x, gy0 + c1, x, gy0 + c0))
    return out


def _border_rows(z, tx, ty, w, h, lab, loc) -> list:
    """The tile's four perimeter strips, keyed to the shared border.
    side 0 = the -x/-y side of the border (this tile is left/above)."""
    rows = []

    def strip(axis, bx, by, side, labels, rids):
        rows.append(
            {
                "kind": np.int8(2),
                "bkey": _pack_bkey(z, axis, bx, by),
                "side": np.int8(side),
                "tx": tx,
                "ty": ty,
                "pw": w,
                "ph": h,
                "labels": np.ascontiguousarray(labels).tobytes(),
                "rids": np.ascontiguousarray(rids.astype(np.int32)).tobytes(),
            }
        )

    strip(0, tx + 1, ty, 0, lab[:, -1], loc[:, -1])  # my right border
    strip(0, tx, ty, 1, lab[:, 0], loc[:, 0])  # my left border
    strip(1, tx, ty + 1, 0, lab[-1, :], loc[-1, :])  # my bottom border
    strip(1, tx, ty, 1, lab[0, :], loc[0, :])  # my top border
    return rows


def _resolve_one_border(bkey: int, sides_raw) -> tuple[list, list]:
    """Both facing strips of one border (or one, at a coverage edge) →
    (boundary-edge column dicts, merge-pair arrays). axis 0 = vertical
    border (strips run along y), axis 1 = horizontal (along x)."""
    axis = (bkey >> 52) & 1
    sides: dict[int, tuple] = {}
    for r in sides_raw:
        sides[int(r["side"])] = (
            int(r["tx"]),
            int(r["ty"]),
            int(r["pw"]),
            int(r["ph"]),
            np.frombuffer(r["labels"], dtype=np.uint8),
            np.frombuffer(r["rids"], dtype=np.int32),
        )
    a, b = sides.get(0), sides.get(1)
    mismatched = a is not None and b is not None and a[4].size != b[4].size
    frames, merges = [], []

    def boundary_mask(own, other):
        if other is None or mismatched:
            return np.ones(own[4].size, dtype=bool)
        return own[4] != other[4]

    for side, own, other in ((0, a, b), (1, b, a)):
        if own is None:
            continue
        tx, ty, w, h, labels, rids = own
        m = boundary_mask(own, other)
        r, c0, c1, reg = _runs(m[np.newaxis, :], rids[np.newaxis, :])
        if reg.size == 0:
            continue
        rk = _pack_rkey(tx, ty, reg)
        if axis == 0:  # vertical border at x = bx * w, runs along y
            x = np.full(reg.size, ((bkey >> 23) & ((1 << 23) - 1)) * w, dtype=np.int64)
            ya, yb = ty * h + c0, ty * h + c1
            if side == 0:  # left tile's right edge: downward
                frames.append(_edge_cols(rk, x, ya, x, yb))
            else:  # right tile's left edge: upward
                frames.append(_edge_cols(rk, x, yb, x, ya))
        else:  # horizontal border at y = by * h, runs along x
            y = np.full(reg.size, (bkey & ((1 << 23) - 1)) * h, dtype=np.int64)
            xa, xb = tx * w + c0, tx * w + c1
            if side == 0:  # upper tile's bottom edge: right → left
                frames.append(_edge_cols(rk, xb, y, xa, y))
            else:  # lower tile's top edge: left → right
                frames.append(_edge_cols(rk, xa, y, xb, y))

    if a is not None and b is not None and not mismatched:
        eq = a[4] == b[4]
        if eq.any():
            pa = _pack_rkey(a[0], a[1], a[5][eq])
            pb = _pack_rkey(b[0], b[1], b[5][eq])
            uniq = np.unique(np.stack([pa, pb], axis=1), axis=0)
            merges.append(uniq)
    return frames, merges


def _resolve_borders_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batched border resolve: each input row carries ONE border's
    collected strips (1-2 structs). Per-group pandas overhead measured
    ~ms across thousands of tiny border groups (the epoch-stack lesson,
    PLANS.md PLAN 41), so borders are aggregated JVM-side and an Arrow
    batch carries thousands of them per Python call."""
    cols = [f.name for f in _BORDER_SCHEMA.fields]
    for pdf in batches:
        frames, merges = [], []
        for r in pdf.itertuples(index=False):
            f, m = _resolve_one_border(int(r.bkey), r.sides)
            frames += f
            merges += m
        parts = []
        for fr in frames:
            df = pd.DataFrame(fr)
            df["rkey_b"] = np.int64(0)
            parts.append(df)
        if merges:
            mg = np.concatenate(merges, axis=0)
            parts.append(
                pd.DataFrame(
                    {
                        "kind": np.ones(mg.shape[0], dtype=np.int8),
                        "rkey": mg[:, 0],
                        "x1": np.int64(0),
                        "y1": np.int64(0),
                        "x2": np.int64(0),
                        "y2": np.int64(0),
                        "rkey_b": mg[:, 1],
                    }
                )
            )
        if parts:
            yield pd.concat(parts, ignore_index=True)[cols]


_TURN_SCORE = {  # (cross, dot sign) → preference; rightmost turn first.
    # At a pinch vertex (degree 4: two loops of the same region meeting
    # at a point) the most-RIGHT turn relative to the incoming direction
    # stays on the current loop under the interior-on-the-left
    # convention — the leftmost turn would jump to the other loop and
    # weld them into one self-crossing ring (pinned by
    # test_pinch_vertex_decomposes_cleanly).
    (-1, 0): 0,  # right
    (0, 1): 1,  # straight
    (1, 0): 2,  # left
    (0, -1): 3,  # u-turn
}


def _chain_one(region_id: int, edge_rows) -> list[dict]:
    """Chain one region's directed edges into closed rings (rightmost
    turn at pinch vertices), drop collinear vertices, start each ring
    at its minimal corner. Exterior rings come out with POSITIVE
    shoelace area (interior-on-the-left construction), holes negative."""
    edges = sorted(
        (int(e["x1"]), int(e["y1"]), int(e["x2"]), int(e["y2"])) for e in edge_rows
    )
    out_map: dict[tuple, list[int]] = {}
    for i, (x1, y1, *_rest) in enumerate(edges):
        out_map.setdefault((x1, y1), []).append(i)
    used = [False] * len(edges)
    rings = []
    for start_i in range(len(edges)):
        if used[start_i]:
            continue
        x1, y1, x2, y2 = edges[start_i]
        used[start_i] = True
        path = [(x1, y1), (x2, y2)]
        dx, dy = (x2 > x1) - (x2 < x1), (y2 > y1) - (y2 < y1)
        closed = False
        while True:
            cur = path[-1]
            if cur == path[0]:
                closed = True
                break
            best = None
            for i in out_map.get(cur, ()):  # noqa: B007 — tiny fan-out
                if used[i]:
                    continue
                ex1, ey1, ex2, ey2 = edges[i]
                ndx = (ex2 > ex1) - (ex2 < ex1)
                ndy = (ey2 > ey1) - (ey2 < ey1)
                cross = dx * ndy - dy * ndx
                dot = dx * ndx + dy * ndy
                score = _TURN_SCORE[(int(np.sign(cross)), int(np.sign(dot)))]
                cand = (score, (ex2, ey2), i)
                if best is None or cand < best:
                    best = cand
            if best is None:
                break  # open chain — surfaced via closed=False
            _, nxt, i = best
            used[i] = True
            path.append(nxt)
            ex1, ey1, ex2, ey2 = edges[i]
            dx = (ex2 > ex1) - (ex2 < ex1)
            dy = (ey2 > ey1) - (ey2 < ey1)
        rings.append((path, closed))

    recs = []
    for path, closed in rings:
        verts = path[:-1] if closed and len(path) > 1 else path
        if closed and len(verts) >= 3:
            k = verts.index(min(verts))
            verts = verts[k:] + verts[:k]
            kept = []
            n = len(verts)
            for i in range(n):
                px, py = verts[(i - 1) % n]
                cx, cy = verts[i]
                nx_, ny_ = verts[(i + 1) % n]
                if (cx - px) * (ny_ - cy) != (cy - py) * (nx_ - cx):
                    kept.append((cx, cy))
            verts = kept or verts
        a2 = 0
        n = len(verts)
        if closed:
            for i in range(n):
                x0, y0 = verts[i]
                x1_, y1_ = verts[(i + 1) % n]
                a2 += x0 * y1_ - x1_ * y0
        ring_pts = verts + [verts[0]] if closed else verts
        recs.append(
            {
                "region_id": region_id,
                "is_hole": a2 < 0,
                "closed": closed,
                "signed_area_px": a2 // 2,
                "n_vertices": len(ring_pts),
                "xs": [p[0] for p in ring_pts],
                "ys": [p[1] for p in ring_pts],
            }
        )
    recs.sort(key=lambda r: (-r["signed_area_px"], r["xs"][0], r["ys"][0]))
    for i, r in enumerate(recs):
        r["ring_idx"] = i
    return recs


def _chain_rings_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batched ring assembly: each input row is one region's collected
    edge structs; an Arrow batch carries thousands of regions per
    Python call (the same per-group-overhead fix as the border stage)."""
    cols = [f.name for f in _RING_SCHEMA.fields]
    for pdf in batches:
        recs = []
        for r in pdf.itertuples(index=False):
            recs += _chain_one(int(r.region_id), r.es)
        if recs:
            yield pd.DataFrame(recs, columns=cols)


def polygonize(
    images: DataFrame,
    *,
    zoom: int,
    band="max",
    max_iter: int = 20,
) -> DataFrame:
    """Vectorize same-label 4-connected pixel regions of one zoom level
    of an image table (module docstring for the distributed shape and
    the exactness contract). ``images`` needs (z, x, y, bytes, w, h,
    fmt) — the `read_image_table` shape; duplicate cells must be deduped
    upstream (same rule as focal/contour/tile_diff). ``band``: ``'max'``
    (default) or a channel index — the label value of each pixel.

    Returns one row per ring: ``[region_id, z, label, region_px,
    ring_idx, is_hole, closed, signed_area_px, n_vertices, xs, ys]``
    with xs/ys closed integer global-pixel rings, exterior first.
    Invariant: per region, sum(signed_area_px) == region_px.

    Caches intermediates through the tracked persist registry — call
    ``tilegrab_spark.operators.dedup.release_signature_caches()`` after
    collecting results (same contract as contours/dissolve)."""
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom must be in [0, 22] for packed region keys, got {zoom}")
    z = int(zoom)
    src = images.filter(F.col("z") == z).select("x", "y", "bytes", "w", "h", "fmt")

    cols = [f.name for f in _PART_SCHEMA.fields]

    def pad(df: pd.DataFrame) -> pd.DataFrame:
        # add each kind's absent union-schema columns as None-object —
        # NEVER via concat/reindex NaN-fill, which coerces int64 keys to
        # float64 and rounds 2^56-scale region keys to multiples of 8
        for c in cols:
            if c not in df.columns:
                df[c] = pd.Series([None] * len(df), dtype=object)
        return df[cols]

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # accumulate per KIND across the whole Arrow batch and yield
            # three frames total — per-tile yields cost one Arrow batch
            # each (~6/tile) and dominated the stage; per-kind frames
            # also never mix columns, so int64 keys stay exact
            edge_parts: list[dict] = []
            stat_parts: list[dict] = []
            strip_rows: list[dict] = []
            for row in pdf.itertuples(index=False):
                tx, ty = int(row.x), int(row.y)
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    continue  # neighbors see a coverage edge (contour policy)
                lab = _labels_of(arr, band)
                h, w = lab.shape
                if w * h > (1 << _RID_BITS) * 2:
                    raise ValueError(
                        f"tile {w}x{h} exceeds the {1 << _RID_BITS}-region "
                        "key budget (tiles up to 512x512 supported)"
                    )
                loc, n_loc = _label_regions(lab)
                gx0, gy0 = tx * w, ty * h
                edge_parts += _interior_edges(lab, loc, gx0, gy0, tx, ty)
                counts = np.bincount(loc.ravel(), minlength=n_loc)
                labmap = np.zeros(n_loc, dtype=np.int64)
                labmap[loc.ravel()] = lab.ravel()
                stat_parts.append(
                    {
                        "kind": np.ones(n_loc, dtype=np.int8),
                        "rkey": _pack_rkey(tx, ty, np.arange(n_loc)),
                        "label": labmap.astype(np.int32),
                        "n_px": counts.astype(np.int64),
                    }
                )
                strip_rows += _border_rows(z, tx, ty, w, h, lab, loc)
            for group in (edge_parts, stat_parts):
                if group:
                    merged = {
                        k: np.concatenate([p[k] for p in group]) for k in group[0]
                    }
                    yield pad(pd.DataFrame(merged))
            if strip_rows:
                yield pad(pd.DataFrame(strip_rows))

    parts = _persist_signatures(src.mapInPandas(emit, schema=_PART_SCHEMA))
    strips = parts.filter(F.col("kind") == 2).select(
        "bkey", "side", "tx", "ty", "pw", "ph", "labels", "rids"
    )
    # borders aggregate JVM-side (map-side partial collect_list) and the
    # batched kernel sees thousands of borders per Arrow call — per-group
    # applyInPandas paid ~ms of pandas overhead per 2-row border group
    border_groups = strips.groupBy("bkey").agg(
        F.collect_list(
            F.struct("side", "tx", "ty", "pw", "ph", "labels", "rids")
        ).alias("sides")
    )
    resolved = _persist_signatures(
        border_groups.mapInPandas(_resolve_borders_batch, _BORDER_SCHEMA)
    )

    pairs = resolved.filter(F.col("kind") == 1).select("rkey", "rkey_b")
    # merge pairs are border-RUN counts (perimeter crossings), orders of
    # magnitude below region count; the driver union-find shortcut skips
    # N fixed-cost distributed rounds when they fit (~16 MB at cutoff)
    comp = connected_components(
        pairs,
        a_col="rkey",
        b_col="rkey_b",
        max_iter=max_iter,
        driver_cutoff=500_000,
    )
    comp = comp.select(F.col("node").alias("rkey"), F.col("component").alias("_rid"))

    edges = (
        parts.filter(F.col("kind") == 0)
        .select("rkey", "x1", "y1", "x2", "y2")
        .unionByName(
            resolved.filter(F.col("kind") == 0).select("rkey", "x1", "y1", "x2", "y2")
        )
        .join(comp, "rkey", "left")
        .select(
            F.coalesce(F.col("_rid"), F.col("rkey")).alias("region_id"),
            "x1",
            "y1",
            "x2",
            "y2",
        )
    )
    stats = (
        parts.filter(F.col("kind") == 1)
        .select("rkey", "label", "n_px")
        .join(comp, "rkey", "left")
        .groupBy(F.coalesce(F.col("_rid"), F.col("rkey")).alias("region_id"))
        .agg(F.first("label").alias("label"), F.sum("n_px").alias("region_px"))
    )
    # same shape for assembly: one collected-edge row per region, the
    # chainer batched over thousands of regions per Arrow call; memory
    # per row is one region's perimeter (the documented assembler bound)
    ring_groups = edges.groupBy("region_id").agg(
        F.collect_list(F.struct("x1", "y1", "x2", "y2")).alias("es")
    )
    rings = ring_groups.mapInPandas(_chain_rings_batch, _RING_SCHEMA)
    return rings.join(stats, "region_id").select(
        "region_id",
        F.lit(z).alias("z"),
        "label",
        "region_px",
        "ring_idx",
        "is_hole",
        "closed",
        "signed_area_px",
        "n_vertices",
        "xs",
        "ys",
    )


def polygons_lonlat(rings: DataFrame, *, tile_px: int = 256) -> DataFrame:
    """Add ``lons``/``lats`` vertex arrays — the pure-Catalyst inverse
    of the P1 pixel mapping applied element-wise (contour_lonlat's
    formulas lifted over the ring arrays with ``transform``)."""
    n_px = F.pow(F.lit(2.0), F.col("z").cast("double")) * F.lit(float(tile_px))
    lons = F.transform(
        F.col("xs"), lambda gx: (gx.cast("double") / n_px - F.lit(0.5)) * F.lit(360.0)
    )
    lats = F.transform(
        F.col("ys"),
        lambda gy: F.degrees(
            F.atan(
                F.sinh(
                    F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * gy.cast("double") / n_px)
                )
            )
        ),
    )
    return rings.withColumn("lons", lons).withColumn("lats", lats)


def polygons_geojson(rings: DataFrame, *, tile_px: int = 256) -> DataFrame:
    """One GeoJSON ``Polygon`` feature per region — exterior ring first
    then holes (``ring_idx`` order), coordinates global-pixel → lon/lat
    by the same formulas as :func:`polygons_lonlat`, each ring REVERSED
    so the RFC 7946 winding holds in lon/lat space (our pixel-space
    orientation flips under the y-down → lat-up mapping: exterior
    becomes counterclockwise, holes clockwise). Open chains (coverage
    anomalies) are excluded — they are not valid polygon rings. All
    higher-order-array Catalyst, one region-keyed aggregation, no
    Python. Output: [region_id, z, label, region_px, n_rings, geojson]."""
    n_px = F.pow(F.lit(2.0), F.col("z").cast("double")) * F.lit(float(tile_px))
    lon = F.transform(
        F.col("xs"), lambda gx: (gx.cast("double") / n_px - F.lit(0.5)) * F.lit(360.0)
    )
    lat = F.transform(
        F.col("ys"),
        lambda gy: F.degrees(
            F.atan(
                F.sinh(
                    F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * gy.cast("double") / n_px)
                )
            )
        ),
    )
    ring = F.reverse(F.zip_with(lon, lat, lambda a, b: F.array(a, b)))
    grouped = (
        rings.filter(F.col("closed"))
        .withColumn("_ring", ring)
        .groupBy("region_id", "z", "label", "region_px")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ring_idx", "_ring"))),
                lambda s: s["_ring"],
            ).alias("_rings")
        )
    )
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Polygon").alias("type"),
                F.col("_rings").alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("label").alias("label"),
                F.col("region_px").alias("region_px"),
            ).alias("properties"),
        )
    )
    return grouped.select(
        "region_id",
        "z",
        "label",
        "region_px",
        F.size("_rings").alias("n_rings"),
        feature.alias("geojson"),
    )
