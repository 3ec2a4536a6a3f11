"""Distributed viewshed (XDraw) over the tile store.

"Which pixels can the observer see?" is the classic radially-sequential
raster op: a pixel's visibility depends on the horizon accumulated
along the whole ray back to the observer. The XDraw formulation
(Franklin & Ray's approximation, the one GRASS-class engines use for
speed) makes that dependency LOCAL: a pixel at Chebyshev ring k from
the observer needs only the interpolated horizon of its one or two
PARENT pixels at ring k-1 — and parents are componentwise no farther
from the observer than the pixel (px in {X, X-sgn(dx)}, py in
{Y, Y-sgn(dy)}), which is the key to the distributed schedule:

* a pixel's parents live in its own tile or in the 1-px halo toward
  the observer, and the tile a parent crosses into always has STRICTLY
  smaller Manhattan tile distance |TX|+|TY| to the observer's tile;
* so tiles are processed in MANHATTAN-RING rounds — every tile of ring
  r computes in parallel from 1-px horizon strips emitted by rings
  < r, and emits its own edge/corner strips outward. Rounds = the
  Manhattan tile diameter of the coverage (viewshed's radial data
  dependency is irreducible — each round is a fully parallel
  anti-diagonal of tiles, and everything that moves between rounds is
  perimeter-scale float strips, never rasters.

Per-tile sweep: pixels in ascending Chebyshev ring, one vectorized
gather per ring against the padded horizon canvas (tile + inbound
halo). Semantics pinned for the oracle (tests/test_viewshed.py mirrors
bit-for-bit): angle = (elev - h_obs) / euclid_px_dist; x-dominant
(|dx| >= |dy|) parents ((X-s, Y), (X-s, Y-t)) blended by f = |dy|/|dx|,
y-dominant symmetric; visible iff angle >= interpolated horizon;
horizon = max(angle, interpolated). The observer pixel is visible with
horizon -inf. Out-of-coverage terrain is TRANSPARENT (missing strips
stay -inf — rays cross holes unobstructed; the documented policy, the
conservative alternative being opaque).

``max_dist_px`` bounds the computation: pixels beyond the radius are
marked not-visible without work and tiles entirely beyond it never
enter a round.

The reference has no viewshed analogue; this is the r.viewshed-class
member of the raster suite (terrain.py, hydrology.py, costdistance.py).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import unpack_cell_id

__all__ = ["viewshed"]

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("rid", T.IntegerType(), False),  # manhattan tile ring
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("elev", T.BinaryType(), True),  # w*h uint8
    ]
)

# strips: horizon values crossing a tile border. side: 0=W,1=E,2=N,3=S
# edges (length tp float64), 4..7 = NW,NE,SW,SE corner (length 1).
_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),  # destination tile
        T.StructField("dst_rid", T.IntegerType(), False),
        T.StructField("side", T.ByteType(), False),
        T.StructField("hvals", T.BinaryType(), False),  # float64 LE
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("vis", T.BinaryType(), True),  # w*h uint8 0/1
        T.StructField("n_visible", T.LongType(), True),
    ]
)


def _xdraw_tile(elev, gx0, gy0, ox, oy, h_obs, halo, max_d2):
    """Sweep one tile: ``elev`` (tp,tp) float64, tile origin (gx0,gy0),
    observer (ox,oy,h_obs), ``halo`` dict side->float64 array (the
    inbound horizon strips), ``max_d2`` squared radius or None.
    Returns (vis uint8, H float64, edges dict for outbound strips)."""
    tp = elev.shape[0]
    # padded horizon canvas: [0,:] = north halo row, [:,0] = west, etc.
    H = np.full((tp + 2, tp + 2), -np.inf)
    if "W" in halo:
        H[1:-1, 0] = halo["W"]
    if "E" in halo:
        H[1:-1, -1] = halo["E"]
    if "N" in halo:
        H[0, 1:-1] = halo["N"]
    if "S" in halo:
        H[-1, 1:-1] = halo["S"]
    for c, (yy, xx) in (("NW", (0, 0)), ("NE", (0, -1)),
                        ("SW", (-1, 0)), ("SE", (-1, -1))):
        if c in halo:
            H[yy, xx] = halo[c][0]
    gy, gx = np.mgrid[gy0:gy0 + tp, gx0:gx0 + tp]
    dx = gx - ox
    dy = gy - oy
    adx, ady = np.abs(dx), np.abs(dy)
    k = np.maximum(adx, ady)
    d2 = (dx * dx + dy * dy).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        ang = (elev - h_obs) / np.sqrt(d2)
    vis = np.zeros((tp, tp), dtype=np.uint8)
    inside = np.ones((tp, tp), dtype=bool) if max_d2 is None else (d2 <= max_d2)
    kmin = int(k.min())
    kmax = int(k.max())
    sgnx = np.sign(dx).astype(np.int64)
    sgny = np.sign(dy).astype(np.int64)
    lx = gx - gx0 + 1  # padded-canvas coords
    ly = gy - gy0 + 1
    for ring in range(max(kmin, 0), kmax + 1):
        m = (k == ring) & inside
        if not m.any():
            continue
        if ring == 0:
            vis[m] = 1
            H[ly[m], lx[m]] = -np.inf
            continue
        mdx, mdy = dx[m], dy[m]
        madx, mady = adx[m], ady[m]
        msx, msy = sgnx[m], sgny[m]
        mlx, mly = lx[m], ly[m]
        xdom = madx >= mady
        f = np.empty(mdx.shape[0])
        p1x = np.empty_like(mlx)
        p1y = np.empty_like(mly)
        p2x = np.empty_like(mlx)
        p2y = np.empty_like(mly)
        # x-dominant: parents (X-s, Y) and (X-s, Y-t), f = |dy|/|dx|
        p1x[xdom] = mlx[xdom] - msx[xdom]
        p1y[xdom] = mly[xdom]
        p2x[xdom] = mlx[xdom] - msx[xdom]
        p2y[xdom] = mly[xdom] - msy[xdom]
        with np.errstate(invalid="ignore"):
            f[xdom] = mady[xdom] / madx[xdom]
        yd = ~xdom
        p1x[yd] = mlx[yd]
        p1y[yd] = mly[yd] - msy[yd]
        p2x[yd] = mlx[yd] - msx[yd]
        p2y[yd] = mly[yd] - msy[yd]
        f[yd] = madx[yd] / mady[yd]
        h1 = H[p1y, p1x]
        h2 = H[p2y, p2x]
        # -inf parents: plain blend keeps -inf when either side is -inf
        # and f in (0,1); at f==0/1 the other side alone decides (the
        # errstate guards the 0*inf lanes np.where discards anyway)
        with np.errstate(invalid="ignore"):
            hp = np.where(
                f >= 1.0, h2, np.where(f <= 0.0, h1, (1.0 - f) * h1 + f * h2)
            )
        a = ang[m]
        vis[m] = (a >= hp).astype(np.uint8)
        H[mly, mlx] = np.maximum(a, hp)
    Hc = H[1:-1, 1:-1]
    edges = {
        "W": Hc[:, 0].copy(), "E": Hc[:, -1].copy(),
        "N": Hc[0, :].copy(), "S": Hc[-1, :].copy(),
        "NW": Hc[0:1, 0].copy(), "NE": Hc[0:1, -1].copy(),
        "SW": Hc[-1:, 0].copy(), "SE": Hc[-1:, -1].copy(),
    }
    vis[~inside] = 0
    return vis, Hc, edges


# which of MY edges/corners does the neighbor at offset (sx, sy) need as
# ITS observer-facing halo side? (neighbor's side name from its view)
_EMIT = {
    (1, 0): ("E", "W"), (-1, 0): ("W", "E"),
    (0, 1): ("S", "N"), (0, -1): ("N", "S"),
    (1, 1): ("SE", "NW"), (-1, 1): ("SW", "NE"),
    (1, -1): ("NE", "SW"), (-1, -1): ("NW", "SE"),
}
_SIDE_CODE = {"W": 0, "E": 1, "N": 2, "S": 3, "NW": 4, "NE": 5, "SW": 6, "SE": 7}
_CODE_SIDE = {v: k for k, v in _SIDE_CODE.items()}


def viewshed(
    images: DataFrame,
    *,
    zoom: int,
    observer: tuple,
    height: float = 2.0,
    observer_elev: float | None = None,
    band="max",
    tile_px: int = 256,
    max_dist_px: float | None = None,
) -> DataFrame:
    """Visibility raster from one observer: ``[key, z, x, y, w, h,
    status, vis, n_visible]`` with ``vis`` the w*h uint8 0/1 array.
    ``observer`` = (gx, gy) global pixel at ``zoom``; ``h_obs`` =
    terrain elevation under the observer (read from the store; pass
    ``observer_elev`` to override / when the observer is off coverage)
    + ``height``. XDraw semantics and the Manhattan-round schedule in
    the module docstring. ``max_dist_px`` bounds the radius (tiles
    wholly outside never compute)."""
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    if max_dist_px is not None and max_dist_px <= 0:
        raise ValueError(f"max_dist_px must be positive, got {max_dist_px}")
    z, tp = int(zoom), int(tile_px)
    ox, oy = int(observer[0]), int(observer[1])
    n_world = (1 << z) * tp
    if not (0 <= ox < n_world and 0 <= oy < n_world):
        raise ValueError(f"observer {observer} outside the zoom-{z} pixel grid")
    otx, oty = ox // tp, oy // tp

    src = images.filter(F.col("z") == z).select("z", "x", "y", "bytes", "w", "h", "fmt")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_STATE_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                tx, ty = int(row.x), int(row.y)
                tk = (z << 58) | (tx << 29) | ty
                rid = abs(tx - otx) + abs(ty - oty)
                try:
                    arr = decode_payload(bytes(row.bytes), row.fmt, int(row.w), int(row.h))
                except (ValueError, NotImplementedError):
                    recs.append({"tkey": tk, "tx": tx, "ty": ty, "rid": rid,
                                 "w": int(row.w), "h": int(row.h),
                                 "status": "decode_error", "elev": None})
                    continue
                chan = arr.max(axis=2) if band == "max" else arr[:, :, int(band)]
                if chan.shape != (tp, tp):
                    recs.append({"tkey": tk, "tx": tx, "ty": ty, "rid": rid,
                                 "w": chan.shape[1], "h": chan.shape[0],
                                 "status": "size_mismatch", "elev": None})
                    continue
                recs.append({"tkey": tk, "tx": tx, "ty": ty, "rid": rid,
                             "w": tp, "h": tp, "status": "ok",
                             "elev": np.ascontiguousarray(chan).tobytes()})
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    state = src.mapInPandas(decode, schema=_STATE_SCHEMA).localCheckpoint()

    # tiles that participate: within the radius (if bounded)
    if max_dist_px is not None:
        r_t = int(math.ceil(max_dist_px / tp)) + 1
        state_in = state.filter(
            (F.abs(F.col("tx") - otx) <= r_t) & (F.abs(F.col("ty") - oty) <= r_t)
        )
    else:
        state_in = state

    # observer elevation: one bounded driver read
    h_obs = observer_elev
    if h_obs is None:
        row = (
            state.filter((F.col("tx") == otx) & (F.col("ty") == oty))
            .select("status", "elev").collect()
        )
        if not row or row[0]["status"] != "ok":
            raise ValueError(
                "observer tile missing or undecodable; pass observer_elev="
            )
        e = np.frombuffer(row[0]["elev"], dtype=np.uint8).reshape(tp, tp)
        h_obs = float(e[oy % tp, ox % tp])
    h_obs = float(h_obs) + float(height)
    max_d2 = None if max_dist_px is None else float(max_dist_px) ** 2

    rids = [r["rid"] for r in state_in.select("rid").distinct().collect()]
    spark = images.sparkSession
    pending = spark.createDataFrame([], _STRIP_SCHEMA)
    outs = []
    for rid in sorted(rids):
        ring = state_in.filter(F.col("rid") == rid)
        strips = pending.groupBy("tkey").agg(
            F.collect_list(F.struct("side", "hvals")).alias("halo")
        )
        work = ring.join(strips, on="tkey", how="left")

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # union-schema: kind 1 -> OUT rows, kind 2 -> strip rows
            names = ["kind", "key", "z", "x", "y", "w", "h", "status",
                     "vis", "n_visible", "s_tkey", "s_rid", "side", "hvals"]
            for pdf in batches:
                recs = []
                for t in pdf.itertuples(index=False):
                    tx, ty = int(t.tx), int(t.ty)
                    base = {n: None for n in names}
                    base.update(kind=1, key=int(t.tkey), z=z, x=tx, y=ty,
                                w=t.w, h=t.h, status=t.status)
                    if t.status != "ok":
                        recs.append(base)
                        continue
                    elev = np.frombuffer(t.elev, dtype=np.uint8).reshape(tp, tp).astype(np.float64)
                    halo = {}
                    hl = t.halo
                    if not isinstance(hl, float) and hl is not None:
                        for p in hl:
                            halo[_CODE_SIDE[int(p["side"])]] = np.frombuffer(
                                p["hvals"], dtype="<f8"
                            )
                    vis, Hc, edges = _xdraw_tile(
                        elev, tx * tp, ty * tp, ox, oy, h_obs, halo, max_d2
                    )
                    base.update(status="ok", vis=vis.tobytes(),
                                n_visible=int(vis.sum()))
                    recs.append(base)
                    nw = 1 << z
                    for (sx, sy), (mine, theirs) in _EMIT.items():
                        nx, ny = tx + sx, ty + sy
                        if not (0 <= nx < nw and 0 <= ny < nw):
                            continue
                        # only neighbors FARTHER from the observer use it
                        if abs(nx - otx) + abs(ny - oty) <= rid:
                            continue
                        rec = {n: None for n in names}
                        rec.update(kind=2,
                                   s_tkey=(z << 58) | (nx << 29) | ny,
                                   s_rid=abs(nx - otx) + abs(ny - oty),
                                   side=_SIDE_CODE[theirs],
                                   hvals=np.ascontiguousarray(
                                       edges[mine], dtype="<f8").tobytes())
                        recs.append(rec)
                yield pd.DataFrame(
                    {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
                )

        out_schema = T.StructType(
            [
                T.StructField("kind", T.ByteType(), True),
                T.StructField("key", T.LongType(), True),
                T.StructField("z", T.IntegerType(), True),
                T.StructField("x", T.LongType(), True),
                T.StructField("y", T.LongType(), True),
                T.StructField("w", T.IntegerType(), True),
                T.StructField("h", T.IntegerType(), True),
                T.StructField("status", T.StringType(), True),
                T.StructField("vis", T.BinaryType(), True),
                T.StructField("n_visible", T.LongType(), True),
                T.StructField("s_tkey", T.LongType(), True),
                T.StructField("s_rid", T.IntegerType(), True),
                T.StructField("side", T.ByteType(), True),
                T.StructField("hvals", T.BinaryType(), True),
            ]
        )
        res = work.mapInPandas(run, schema=out_schema).localCheckpoint()
        outs.append(res.filter(F.col("kind") == 1).select(
            "key", "z", "x", "y", "w", "h", "status", "vis", "n_visible"
        ))
        # strips ACCUMULATE across rounds — a diagonal donor at Manhattan
        # ring r feeds a receiver at ring r+2, so last-round-only
        # delivery would drop corner halos (caught by the random-terrain
        # oracle test — 4 corner pixels flipped) — but strips whose
        # destination ring has now been processed are DELIVERED and can
        # drop, keeping the pending table O(frontier), not O(history)
        new_strips = res.filter(F.col("kind") == 2).select(
            F.col("s_tkey").alias("tkey"), F.col("s_rid").alias("dst_rid"),
            "side", "hvals",
        )
        pending = (
            pending.filter(F.col("dst_rid") > rid)
            .unionByName(new_strips)
            .localCheckpoint()
        )

    if not outs:
        return spark.createDataFrame([], _OUT_SCHEMA)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
