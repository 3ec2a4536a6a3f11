"""Iso-contour extraction over the tile lake — raster → vector lines.

``extract_contours`` runs marching squares (kernels/contour.py) over
every tile at one or more levels and emits line segments in GLOBAL
pixel coordinates; ``link_contours`` stitches the segments into
labeled contour components (closed-loop detection included) with the
engine's connected-components machinery; ``assemble_contours`` orders
each component into a vertex polyline; ``contour_lonlat`` converts
global pixel coordinates to lon/lat as pure Catalyst expressions.

Distribution follows the focal/terrain halo recipe (PLAN 14/21): the
marching-squares cell anchored at a tile's last pixel row/column needs
the FIRST row/column of the +y/+x neighbor (and the +xy corner pixel),
so:

1. **map stage** (``mapInPandas``, one decode per tile): interior
   cells — all but the last anchor row/column — are contoured right
   here and leave as packed float64 segment payloads (output-sized).
   What ships besides output is PERIMETER scalars only: the tile's own
   last row + column, and the row-0 / col-0 / corner-(0,0) strips its
   -y / -x / -xy neighbors need. Compressed tiles never re-shuffle.
2. **border assembly** (``groupBy(cell)``): rebuild just the one-cell
   L-band (own last row/col + received strips, NaN where no neighbor
   exists — those cells are skipped, so contours simply stop at true
   coverage edges) and contour it with the SAME kernel.

Endpoint exactness: every edge crossing is interpolated from the same
ordered pixel pair regardless of which cell or tile computes it
(kernels/contour.py), so segments from adjacent tiles meet in
bit-identical float64 endpoints — ``link_contours`` joins them by
exact 64-bit endpoint hash, no tolerance snapping, no geometry
library. Zero-length segments (a level exactly grazing a corner) are
dropped before linking.

Scale shape: the stage-1 exchange carries segments + perimeter floats
(never pixels); linking runs pointer-jumping CC on the segment graph
(edges = segments — output-sized); assembly is one Arrow grouped map
per contour component (a component is one polyline; document: a
pathological single contour spanning the whole lake lands in one
task, the same bound every contour assembler has).

Undecodable payloads emit no segments (decode health is audited by
``multimodal.decode_summary``; policy: never task failures).
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.contour import marching_squares
from tilegrab_spark.kernels.geo import pack_cell_id
from tilegrab_spark.operators.components import connected_components
from tilegrab_spark.operators.dedup import _persist_signatures

__all__ = [
    "extract_contours",
    "link_contours",
    "assemble_contours",
    "simplify_contours",
    "contour_lonlat",
    "contours_geojson",
]

_PART_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # segs|own|row|col|corner
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("pw", T.IntegerType(), False),
        T.StructField("ph", T.IntegerType(), False),
    ]
)

_SEG_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("level", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("x2", T.DoubleType(), False),
        T.StructField("y2", T.DoubleType(), False),
    ]
)


def _channel(arr: np.ndarray, band) -> np.ndarray:
    if band == "max":
        return arr.max(axis=2).astype(np.float64)
    if band == "luma":
        w = np.array([0.299, 0.587, 0.114])
        return (arr[:, :, :3].astype(np.float64) * w).sum(axis=2)
    return arr[:, :, int(band)].astype(np.float64)


def _pack_segs(levels_segs: list) -> bytes:
    """[(level, (n,4) array), ...] -> packed (n,5) float64 bytes."""
    rows = [
        np.concatenate([np.full((s.shape[0], 1), lv), s], axis=1)
        for lv, s in levels_segs
        if s.shape[0]
    ]
    if not rows:
        return b""
    return np.ascontiguousarray(np.concatenate(rows, axis=0)).tobytes()


def extract_contours(
    images: DataFrame,
    *,
    levels: Sequence[float],
    band="max",
) -> DataFrame:
    """Marching-squares segments for every tile at each of ``levels``:
    ``[z, x, y, level, x1, y1, x2, y2]`` with (x1..y2) in GLOBAL pixel
    coordinates at the tile's zoom (pixel (r, c) of tile (tx, ty) sits
    at ``(ty*h + r, tx*w + c)``). ``images`` needs (z, x, y, bytes, w,
    h, fmt) — the `read_image_table` shape; duplicate cells must be
    deduped upstream (same rule as focal/tile_diff). ``band``:
    ``'max'`` (default, matches focal), ``'luma'``, or a channel
    index."""
    lvls = [float(v) for v in levels]
    if not lvls:
        raise ValueError("levels must be non-empty")
    src = images.select("z", "x", "y", "bytes", "w", "h", "fmt")

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_PART_SCHEMA.fieldNames())
        for pdf in batches:
            out = {n: [] for n in names}

            def push(tk, kind, payload, z, tx, ty, pw, ph):
                out["tkey"].append(int(tk)); out["kind"].append(kind)
                out["payload"].append(payload); out["z"].append(z)
                out["tx"].append(tx); out["ty"].append(ty)
                out["pw"].append(pw); out["ph"].append(ph)

            for row in pdf.itertuples(index=False):
                z, x, y = int(row.z), int(row.x), int(row.y)
                key = int(pack_cell_id(x, y, z))
                try:
                    arr = decode_payload(bytes(row.bytes), row.fmt, int(row.w), int(row.h))
                except (ValueError, NotImplementedError):
                    continue
                chan = _channel(arr, band)
                h, w = chan.shape
                oy, ox = float(y) * h, float(x) * w
                interior = [
                    (lv, marching_squares(chan, lv, origin=(oy, ox))) for lv in lvls
                ]
                push(key, "segs", _pack_segs(interior), z, x, y, w, h)
                own = np.concatenate([chan[h - 1, :], chan[:, w - 1]])
                push(key, "own", own.tobytes(), z, x, y, w, h)
                if y > 0:  # my row 0 -> the tile above me
                    push(int(pack_cell_id(x, y - 1, z)), "row",
                         np.ascontiguousarray(chan[0, :]).tobytes(), z, x, y - 1, w, h)
                if x > 0:  # my col 0 -> the tile left of me
                    push(int(pack_cell_id(x - 1, y, z)), "col",
                         np.ascontiguousarray(chan[:, 0]).tobytes(), z, x - 1, y, w, h)
                if x > 0 and y > 0:  # my (0,0) -> up-left diagonal
                    push(int(pack_cell_id(x - 1, y - 1, z)), "corner",
                         chan[0:1, 0].tobytes(), z, x - 1, y - 1, w, h)
            yield pd.DataFrame(out, columns=names)

    parts = src.mapInPandas(emit, schema=_PART_SCHEMA)

    def border(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = {k: None for k in ("segs", "own", "row", "col", "corner")}
        meta = None
        for r in pdf.itertuples(index=False):
            rows[r.kind] = r.payload
            if r.kind in ("segs", "own"):
                meta = (int(r.z), int(r.tx), int(r.ty), int(r.pw), int(r.ph))
        empty = pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _SEG_SCHEMA})
        if meta is None or rows["own"] is None:
            return empty  # strips for an absent tile, or decode failure
        z, tx, ty, w, h = meta
        segs = [np.frombuffer(rows["segs"], dtype=np.float64).reshape(-1, 5)] if rows["segs"] else []
        own = np.frombuffer(rows["own"], dtype=np.float64)
        # padded L-band field: own last row/col + neighbor strips
        Vp = np.full((h + 1, w + 1), np.nan)
        Vp[h - 1, :w] = own[:w]
        Vp[:h, w - 1] = own[w:]
        # strips from a different-sized neighbor can't align with this
        # grid — leave NaN (contour stops there; same never-fail policy
        # as focal's replicated_sides fallback)
        if rows["col"] is not None:
            s = np.frombuffer(rows["col"], dtype=np.float64)
            if s.shape[0] == h:
                Vp[:h, w] = s
        if rows["row"] is not None:
            s = np.frombuffer(rows["row"], dtype=np.float64)
            if s.shape[0] == w:
                Vp[h, :w] = s
        if rows["corner"] is not None:
            Vp[h, w] = np.frombuffer(rows["corner"], dtype=np.float64)[0]
        oy, ox = float(ty) * h, float(tx) * w
        for lv in lvls:
            bottom = marching_squares(Vp[h - 1: h + 1, :], lv, origin=(oy + h - 1, ox))
            right = marching_squares(Vp[:h, w - 1: w + 1], lv, origin=(oy, ox + w - 1))
            for s in (bottom, right):
                if s.shape[0]:
                    segs.append(np.concatenate([np.full((s.shape[0], 1), lv), s], axis=1))
        if not segs:
            return empty
        all_ = np.concatenate(segs, axis=0)
        keep = (all_[:, 1] != all_[:, 3]) | (all_[:, 2] != all_[:, 4])
        all_ = all_[keep]
        return pd.DataFrame(
            {
                "z": np.full(all_.shape[0], z, dtype=np.int32),
                "x": np.full(all_.shape[0], tx, dtype=np.int64),
                "y": np.full(all_.shape[0], ty, dtype=np.int64),
                "level": all_[:, 0],
                "x1": all_[:, 1],
                "y1": all_[:, 2],
                "x2": all_[:, 3],
                "y2": all_[:, 4],
            }
        )

    return parts.groupBy("tkey").applyInPandas(border, _SEG_SCHEMA)


def link_contours(segments: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Label each segment with its contour component: input columns +
    ``contour_id`` (long — min endpoint hash of the component) +
    ``closed`` (true iff every endpoint of the component is shared by
    exactly two segments). Linking is by EXACT endpoint identity
    (bit-identical floats across tiles by construction) hashed to
    int64; per (z, level) so contours of different levels never merge."""
    zl = F.xxhash64("z", F.col("level").cast("double"))
    seg = segments.withColumn(
        "_na", F.xxhash64(zl, F.col("x1").cast("double"), F.col("y1").cast("double"))
    ).withColumn(
        "_nb", F.xxhash64(zl, F.col("x2").cast("double"), F.col("y2").cast("double"))
    )
    seg = _persist_signatures(seg)
    comp = connected_components(
        seg.select("_na", "_nb"), a_col="_na", b_col="_nb", max_iter=max_iter
    )
    deg = (
        seg.select(F.col("_na").alias("node"))
        .unionAll(seg.select(F.col("_nb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    node_info = comp.join(deg, "node")
    comp_flags = node_info.groupBy("component").agg(
        (F.min("_deg") == 2).cast("boolean").alias("_min2"),
        (F.max("_deg") == 2).cast("boolean").alias("_max2"),
    )
    lab = comp.join(comp_flags, "component").select(
        F.col("node").alias("_na"),
        F.col("component").alias("contour_id"),
        (F.col("_min2") & F.col("_max2")).alias("closed"),
    )
    return seg.join(lab, "_na").drop("_na", "_nb")


def assemble_contours(labeled: DataFrame) -> DataFrame:
    """Order each contour component into a vertex polyline:
    ``[contour_id, z, level, closed, n_vertices, length_px, xs, ys]``
    (xs/ys double arrays; closed loops repeat the first vertex last).
    One Arrow grouped map per component — components are single
    contour lines, naturally bounded; branching junctions (degree > 2
    nodes, possible when a level exactly hits pixel values) fall back
    to segment order with ``closed = false``."""
    out_schema = T.StructType(
        [
            T.StructField("contour_id", T.LongType(), False),
            T.StructField("z", T.IntegerType(), False),
            T.StructField("level", T.DoubleType(), False),
            T.StructField("closed", T.BooleanType(), False),
            T.StructField("n_vertices", T.IntegerType(), False),
            T.StructField("length_px", T.DoubleType(), False),
            T.StructField("xs", T.ArrayType(T.DoubleType()), False),
            T.StructField("ys", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def one(key, pdf: pd.DataFrame) -> pd.DataFrame:
        adj = {}
        for r in pdf.itertuples(index=False):
            a, b = (r.x1, r.y1), (r.x2, r.y2)
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        degs = {p: len(v) for p, v in adj.items()}
        branching = any(d > 2 for d in degs.values())
        closed = bool(pdf["closed"].iloc[0]) and not branching
        if branching:
            verts = []
            for r in pdf.itertuples(index=False):
                verts += [(r.x1, r.y1), (r.x2, r.y2)]
        else:
            ends = sorted(p for p, d in degs.items() if d == 1)
            start = ends[0] if ends else min(adj)
            verts, prev, cur = [start], None, start
            while True:
                nxts = [p for p in adj[cur] if p != prev or adj[cur].count(prev) > 1]
                nxt = None
                for p in nxts:
                    if p != prev:
                        nxt = p
                        break
                if nxt is None and nxts:
                    nxt = nxts[0]
                if nxt is None:
                    break
                verts.append(nxt)
                prev, cur = cur, nxt
                if cur == start or len(verts) > 2 * len(pdf) + 2:
                    break
        xs = [v[0] for v in verts]
        ys = [v[1] for v in verts]
        length = float(
            sum(
                math.hypot(xs[i + 1] - xs[i], ys[i + 1] - ys[i])
                for i in range(len(xs) - 1)
            )
        )
        return pd.DataFrame(
            {
                "contour_id": [int(pdf["contour_id"].iloc[0])],
                "z": [int(pdf["z"].iloc[0])],
                "level": [float(pdf["level"].iloc[0])],
                "closed": [closed],
                "n_vertices": [len(verts)],
                "length_px": [length],
                "xs": [xs],
                "ys": [ys],
            }
        )

    return labeled.groupBy("contour_id").applyInPandas(one, out_schema)


def _dp_keep_mask(xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask, iterative (explicit stack). Endpoints
    always kept; a vertex is kept when its perpendicular distance to
    the current chord exceeds ``tol`` (ties dropped). Deterministic:
    the max-distance vertex with the LOWEST index splits."""
    n = xs.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        px, py = xs[i + 1: j], ys[i + 1: j]
        dx, dy = xs[j] - xs[i], ys[j] - ys[i]
        L2 = dx * dx + dy * dy
        if L2 == 0.0:
            d2 = (px - xs[i]) ** 2 + (py - ys[i]) ** 2
        else:
            cross = (px - xs[i]) * dy - (py - ys[i]) * dx
            d2 = cross * cross / L2
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_contours(assembled: DataFrame, *, tolerance_px: float) -> DataFrame:
    """Douglas-Peucker simplification of ``assemble_contours`` output:
    same columns, with ``xs/ys/n_vertices/length_px`` replaced by the
    simplified polyline (endpoints pinned; closed loops keep the
    repeated first-vertex-last convention and are split at their first
    vertex — the standard ring treatment). One Arrow-vectorized scalar
    pass, no shuffle: each row is simplified independently, so the
    stage is embarrassingly parallel at any table size."""
    if tolerance_px < 0:
        raise ValueError(f"tolerance_px must be >= 0, got {tolerance_px}")
    tol = float(tolerance_px)
    out_schema = assembled.schema

    def simp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            new_xs, new_ys, nv, ln = [], [], [], []
            for xs, ys in zip(pdf["xs"], pdf["ys"]):
                x = np.asarray(list(xs), dtype=np.float64)
                y = np.asarray(list(ys), dtype=np.float64)
                if x.shape[0] > 2:
                    m = _dp_keep_mask(x, y, tol)
                    x, y = x[m], y[m]
                new_xs.append(list(x))
                new_ys.append(list(y))
                nv.append(len(x))
                ln.append(float(np.hypot(np.diff(x), np.diff(y)).sum()))
            pdf = pdf.copy()
            pdf["xs"], pdf["ys"] = new_xs, new_ys
            pdf["n_vertices"] = pd.Series(nv, dtype="int32", index=pdf.index)
            pdf["length_px"] = pd.Series(ln, dtype="float64", index=pdf.index)
            yield pdf

    return assembled.mapInPandas(simp, out_schema)


def contour_lonlat(segments: DataFrame, *, tile_px: int = 256) -> DataFrame:
    """Add lon/lat endpoint columns to an ``extract_contours`` output —
    pure Catalyst inverse of the P1 pixel mapping: ``lon = (gx/n_px -
    0.5)*360``, ``lat = degrees(atan(sinh(pi*(1 - 2*gy/n_px))))``."""
    n_px = F.pow(F.lit(2.0), F.col("z").cast("double")) * F.lit(float(tile_px))

    def lon(c):
        return (F.col(c) / n_px - F.lit(0.5)) * F.lit(360.0)

    def lat(c):
        return F.degrees(
            F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * F.col(c) / n_px)))
        )

    return (
        segments.withColumn("lon1", lon("x1"))
        .withColumn("lat1", lat("y1"))
        .withColumn("lon2", lon("x2"))
        .withColumn("lat2", lat("y2"))
    )


def contours_geojson(assembled: DataFrame, *, tile_px: int = 256) -> DataFrame:
    """GeoJSON export of assembled (optionally simplified) contours:
    input columns + a ``geojson`` string per contour — a LineString
    feature with the level in ``properties``, coordinates converted
    global-pixel → lon/lat by the same pure-Catalyst formulas as
    :func:`contour_lonlat` (footprint.py speaks the same format for
    coverage polygons). All higher-order-array Catalyst — no Python."""
    n_px = F.pow(F.lit(2.0), F.col("z").cast("double")) * F.lit(float(tile_px))
    lon = F.transform(
        F.col("xs"), lambda gx: (gx / n_px - F.lit(0.5)) * F.lit(360.0)
    )
    lat = F.transform(
        F.col("ys"),
        lambda gy: F.degrees(
            F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * gy / n_px)))
        ),
    )
    coords = F.zip_with(lon, lat, lambda a, b: F.array(a, b))
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("LineString").alias("type"),
                coords.alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("level").alias("level"),
                F.col("closed").alias("closed"),
            ).alias("properties"),
        )
    )
    return assembled.withColumn("geojson", feature)
