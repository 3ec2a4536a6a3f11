"""Cost distance (least-cost-path surface) across tile boundaries.

The GDAL / ArcGIS CostDistance classic: given a friction raster (cost
per pixel) and a set of source cells, compute for every pixel the
cheapest accumulated cost of reaching it from any source, moving
8-connected with the standard step cost ``dist(a,b) * (c(a)+c(b))/2``
(dist 1 straight, sqrt(2) diagonal). Like flow accumulation this is
"looks local, is global" — the optimal path can snake through many
tiles — but the semiring is MIN-PLUS instead of SUM, so the
distributed shape is monotone value iteration over perimeter-scale
wavefronts (the third iteration pattern in this engine, next to
flow_accumulation's one-shot linear delta routing and watersheds'
pointer doubling):

1. **static state** — one decode per tile, the friction channel is
   materialized once (localCheckpoint) and every round joins against
   it; rasters are never re-decoded or re-shuffled.
2. **wavefront rounds** (driver loop) — pending rows are per-CELL
   seed candidates: in-tile sources (exact dist) or border offers
   ``(src_dist, src_cost, step)`` whose arrival cost the RECEIVER
   completes with its own friction value (so no halo exchange at
   all). A tile with candidates checks them against its best-known
   table (perimeter-scale, accumulated across rounds); only strict
   improvements trigger a local Dijkstra seeded by the improved
   entries, emitting new border offers. Non-improving offers die, so
   the loop terminates (every accepted offer strictly lowers a
   bounded value over a finite path set); rounds ~ the cost
   landscape's tile diameter.
3. **final assembly** — one Dijkstra per tile seeded by its converged
   best-entry set emits the full float64 distance raster plus the
   ALLOCATION raster (which source won each pixel — GDAL's
   cost-allocation output): source labels ride the same machinery as
   a lexicographic (dist, label) min-plus semiring, so equal-cost ties
   break to the smaller label deterministically everywhere.

Float results are EXACTLY the sequential oracle's: a path's cost is
accumulated left-to-right along the path in both implementations, so
the optimal value is bit-identical (tested with exact equality).

Coverage semantics: movement exists only between covered pixels —
holes and the coverage edge BLOCK travel (unlike hydrology's
edge-drains rule, which models water leaving; unreachable cells stay
+inf). Uniform tile size per zoom is required (``tile_px``), the same
contract as the rest of the raster suite.

The per-tile solve is a vectorized directional-sweeping kernel
(see ``_dijkstra``): row/column-vector edge relaxations in exact
Dijkstra float order, iterated to the unique min-plus fixed point —
iterations track the number of direction reversals in optimal paths,
so a 256px tile visit costs milliseconds, not a 65k-cell Python heap
walk. Everything between tiles is relational and perimeter-scale.

The reference has no cost-surface analogue; this extends the raster
suite the way GDAL's proximity/cost tools would, Spark-first.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import unpack_cell_id
from tilegrab_spark.sources.images import cell_id_col

__all__ = ["cost_distance"]

_SQ2 = math.sqrt(2.0)
# (dx, dy, step length)
_MOVES = (
    (1, 0, 1.0), (1, 1, _SQ2), (0, 1, 1.0), (-1, 1, _SQ2),
    (-1, 0, 1.0), (-1, -1, _SQ2), (0, -1, 1.0), (1, -1, _SQ2),
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("cost", T.BinaryType(), True),  # w*h uint8 friction
    ]
)

# pending candidate: a seed (src_cost null -> dist = src_dist) or a
# border offer completed receiver-side:
#   dist = src_dist + step * (src_cost + my_cost[idx]) / 2
_PEND_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("src_dist", T.DoubleType(), False),
        T.StructField("src_cost", T.DoubleType(), True),
        T.StructField("step", T.DoubleType(), True),
        T.StructField("sid", T.LongType(), False),
    ]
)

# round output: kind 1 = improved best row, kind 2 = outbound offer
_ROUND_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("tkey", T.LongType(), False),
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("src_dist", T.DoubleType(), False),
        T.StructField("src_cost", T.DoubleType(), True),
        T.StructField("step", T.DoubleType(), True),
        T.StructField("sid", T.LongType(), False),
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
        T.StructField("dist", T.BinaryType(), True),  # w*h float64 LE, inf = unreachable
        T.StructField("alloc", T.BinaryType(), True),  # w*h int64 LE, -1 = unreachable
        T.StructField("min_dist", T.DoubleType(), True),
        T.StructField("reached_px", T.LongType(), True),
    ]
)


def _relax_cols(dist, lab, c, x_from, x_to, step_s, step_d):
    """Relax the three edges entering column ``x_to`` from column
    ``x_from`` (straight + the two diagonals), row-vectorized. Exact
    per-edge arithmetic — identical float op order to the scalar
    Dijkstra (``d + step*(ca+cb)/2``), so fixed-point values match the
    oracle bit-for-bit. Returns True when anything improved."""
    changed = False
    src_d = dist[:, x_from]
    src_l = lab[:, x_from]
    src_c = c[:, x_from]
    dst_c = c[:, x_to]
    for shift, step in ((0, step_s), (1, step_d), (-1, step_d)):
        if shift == 0:
            sd, sl, sc = src_d, src_l, src_c
            dv, lv, cv = dist[:, x_to], lab[:, x_to], dst_c
        elif shift == 1:  # source row r -> dest row r+1
            sd, sl, sc = src_d[:-1], src_l[:-1], src_c[:-1]
            dv, lv, cv = dist[1:, x_to], lab[1:, x_to], dst_c[1:]
        else:  # source row r -> dest row r-1
            sd, sl, sc = src_d[1:], src_l[1:], src_c[1:]
            dv, lv, cv = dist[:-1, x_to], lab[:-1, x_to], dst_c[:-1]
        nd = sd + step * (sc + cv) / 2.0
        take = (nd < dv) | ((nd == dv) & (sl < lv))
        if take.any():
            changed = True
            dv[take] = nd[take]
            lv[take] = sl[take]
    return changed


def _dijkstra(cost: np.ndarray, seeds: dict):
    """Exact single-tile shortest-path solve over the 8-connected grid
    with step cost ``len * (c(a)+c(b))/2``; ``seeds`` maps flat idx ->
    (start dist, source label). The semiring is lexicographic
    (dist, label) min-plus: equal-cost ties resolve to the SMALLER
    label, deterministically matching the sequential oracle.

    Implementation is DIRECTIONAL SWEEPING, not a heap: four passes
    (E, W, S, N) per iteration, each relaxing — column by column (row
    by row), vectorized across the other axis — the three edges
    entering from the pass direction. One pass fully propagates any
    path that is monotone in that direction, so iterations ~ the
    number of direction reversals in the optimal paths (a handful even
    around walls), each costing O(tile px) vector work — ~50-100x the
    throughput of a per-cell Python heap at 256px tiles. Every edge
    relaxation uses the exact per-edge expression, so the converged
    values are bit-identical to Dijkstra's (same additions in the same
    order along every optimal path). Returns (dist float64, label
    int64, -1 = unreachable), both shaped (h*w,)."""
    h, w = cost.shape
    c = cost.astype(np.float64)
    dist = np.full((h, w), np.inf)
    lab = np.full((h, w), np.int64(2 ** 62))  # sentinel > any real sid
    for i, (d0, s0) in seeds.items():
        y, x = divmod(int(i), w)
        if (d0, s0) < (dist[y, x], lab[y, x]):
            dist[y, x], lab[y, x] = d0, s0
    sq2 = math.sqrt(2.0)
    for _ in range(8 * (h + w)):  # safety bound; loop exits on no change
        changed = False
        for x in range(1, w):  # east pass
            changed |= _relax_cols(dist, lab, c, x - 1, x, 1.0, sq2)
        for x in range(w - 2, -1, -1):  # west pass
            changed |= _relax_cols(dist, lab, c, x + 1, x, 1.0, sq2)
        dT, lT, cT = dist.T, lab.T, c.T
        for y in range(1, h):  # south pass (on the transpose)
            changed |= _relax_cols(dT, lT, cT, y - 1, y, 1.0, sq2)
        for y in range(h - 2, -1, -1):  # north pass
            changed |= _relax_cols(dT, lT, cT, y + 1, y, 1.0, sq2)
        if not changed:
            break
    lab_out = np.where(np.isfinite(dist), lab, np.int64(-1)).ravel()
    return dist.ravel(), lab_out


def _border_offers(z: int, X: int, Y: int, w: int, h: int, dist, lab, cost):
    """Outbound offers from every border cell with a finite dist: one
    row per outward 8-neighbor position inside the world. Arrival cost
    is completed receiver-side, so only (dist, own friction, step
    length, source label) travel."""
    n = 1 << z
    rows = []
    dist2 = dist.reshape(h, w)
    lab2 = lab.reshape(h, w)
    cost2 = cost
    for (bx, by) in _border_cells(w, h):
        d = dist2[by, bx]
        if not np.isfinite(d):
            continue
        s0 = int(lab2[by, bx])
        cb = float(cost2[by, bx])
        for dx, dy, step in _MOVES:
            tx, ty = bx + dx, by + dy
            if 0 <= tx < w and 0 <= ty < h:
                continue  # interior move, not an offer
            ox = -1 if tx < 0 else (1 if tx >= w else 0)
            oy = -1 if ty < 0 else (1 if ty >= h else 0)
            NX, NY = X + ox, Y + oy
            if not (0 <= NX < n and 0 <= NY < n):
                continue
            ex, ey = tx - ox * w, ty - oy * h
            dst_key = (z << 58) | (NX << 29) | NY
            rows.append((dst_key, ey * w + ex, float(d), cb, step, s0))
    return rows


def _border_cells(w: int, h: int):
    for bx in range(w):
        yield (bx, 0)
        if h > 1:
            yield (bx, h - 1)
    for by in range(1, h - 1):
        yield (0, by)
        if w > 1:
            yield (w - 1, by)


def cost_distance(
    images: DataFrame,
    sources: DataFrame,
    *,
    zoom: int,
    band="max",
    tile_px: int = 256,
    max_rounds: int = 256,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Accumulated least cost from the nearest source for every pixel,
    plus which source won it (cost ALLOCATION): ``[key, z, x, y, w, h,
    status, dist, alloc, min_dist, reached_px]`` with ``dist`` the w*h
    little-endian float64 array (+inf unreachable) and ``alloc`` the
    w*h little-endian int64 source-label array (-1 unreachable).
    ``images`` is the image-table shape (z, x, y, bytes, w, h, fmt),
    friction = the ``band`` channel ('max' or index), tiles must all be
    ``tile_px`` square at this zoom. ``sources`` needs global-pixel
    columns ``gx``/``gy`` and may carry an integer ``sid`` label
    (defaults to the source's global pixel id ``gy*world_px + gx``);
    equal-cost ties allocate to the smaller sid, deterministically.
    Sources on uncovered cells are ignored.
    Algorithm, step-cost formula and blocking-coverage semantics in
    the module docstring. ``on_nonconverged``: 'raise' (default) or
    'return' (distances reachable within ``max_rounds`` wavefront
    rounds — an upper bound everywhere it is finite)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if on_nonconverged not in ("raise", "return"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'return', got {on_nonconverged!r}"
        )
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    z = int(zoom)
    src = images.filter(F.col("z") == z).select("z", "x", "y", "bytes", "w", "h", "fmt")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_STATE_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                tk = (z << 58) | (int(row.x) << 29) | int(row.y)
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    recs.append({"tkey": tk, "w": int(row.w), "h": int(row.h),
                                 "status": "decode_error", "cost": None})
                    continue
                chan = arr.max(axis=2) if band == "max" else arr[:, :, int(band)]
                hh, ww = chan.shape
                if (hh, ww) != (tile_px, tile_px):
                    recs.append({"tkey": tk, "w": ww, "h": hh,
                                 "status": "size_mismatch", "cost": None})
                    continue
                recs.append({"tkey": tk, "w": ww, "h": hh, "status": "ok",
                             "cost": np.ascontiguousarray(chan).tobytes()})
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    state = src.mapInPandas(decode, schema=_STATE_SCHEMA).localCheckpoint()
    ok_state = state.filter(F.col("status") == "ok")

    # sources -> (tkey, idx) seed rows, coverage-filtered via semi join
    tkey_expr = cell_id_col(
        F.lit(z), F.floor(F.col("gx") / tile_px), F.floor(F.col("gy") / tile_px)
    )
    idx_expr = (
        (F.col("gy") % tile_px).cast("int") * tile_px + (F.col("gx") % tile_px).cast("int")
    )
    n_world = (1 << z) * tile_px
    sid_col = (
        F.col("sid").cast("long")
        if "sid" in sources.columns
        else F.col("gy") * F.lit(n_world) + F.col("gx")
    )
    seeds = (
        sources.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            *(["sid"] if "sid" in sources.columns else []),
        )
        .filter(
            (F.col("gx") >= 0) & (F.col("gx") < n_world)
            & (F.col("gy") >= 0) & (F.col("gy") < n_world)
        )
        .select(
            tkey_expr.alias("tkey"), idx_expr.alias("idx"),
            F.lit(0.0).alias("src_dist"),
            F.lit(None).cast("double").alias("src_cost"),
            F.lit(None).cast("double").alias("step"),
            sid_col.alias("sid"),
        )
        .join(ok_state.select("tkey"), on="tkey", how="leftsemi")
        .distinct()
    )

    pending = seeds.localCheckpoint()
    best = pending.sparkSession.createDataFrame(
        [], "tkey long, idx int, dist double, sid long"
    )

    def make_round(best_df: DataFrame, pending_df: DataFrame) -> DataFrame:
        pend = pending_df.groupBy("tkey").agg(
            F.collect_list(
                F.struct("idx", "src_dist", "src_cost", "step", "sid")
            ).alias("cands")
        )
        bst = best_df.groupBy("tkey").agg(
            F.collect_list(F.struct("idx", "dist", "sid")).alias("best")
        )
        joined = pend.join(ok_state, on="tkey").join(bst, on="tkey", how="left")

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            names = list(_ROUND_SCHEMA.fieldNames())
            for pdf in batches:
                recs = []
                for t in pdf.itertuples(index=False):
                    tk = int(t.tkey)
                    xs_, ys_, _zs = unpack_cell_id(tk)
                    X, Y = int(xs_), int(ys_)
                    w, h = int(t.w), int(t.h)
                    cost = np.frombuffer(t.cost, dtype=np.uint8).reshape(h, w)
                    cf = cost.ravel().astype(np.float64)
                    inf_pair = (np.inf, np.inf)
                    known = {}
                    bl = t.best
                    if not isinstance(bl, float) and bl is not None:
                        for p in bl:
                            known[int(p["idx"])] = (float(p["dist"]), int(p["sid"]))
                    improved = {}
                    for p in t.cands:
                        i = int(p["idx"])
                        sd = float(p["src_dist"])
                        sc = p["src_cost"]
                        s0 = int(p["sid"])
                        if sc is None or (isinstance(sc, float) and np.isnan(sc)):
                            cand = (sd, s0)
                        else:
                            cand = (sd + float(p["step"]) * (float(sc) + cf[i]) / 2.0, s0)
                        cur = min(known.get(i, inf_pair), improved.get(i, inf_pair))
                        if cand < cur:
                            improved[i] = cand
                    if not improved:
                        continue
                    for i, (d, s0) in improved.items():
                        recs.append({"kind": 1, "tkey": tk, "idx": i,
                                     "src_dist": d, "src_cost": None,
                                     "step": None, "sid": s0})
                    dist, lab = _dijkstra(cost, improved)
                    for (dk, di, sd, sc, st, s0) in _border_offers(
                        z, X, Y, w, h, dist, lab, cost
                    ):
                        recs.append({"kind": 2, "tkey": dk, "idx": di,
                                     "src_dist": sd, "src_cost": sc,
                                     "step": st, "sid": s0})
                yield pd.DataFrame(
                    {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
                )

        return joined.mapInPandas(run, schema=_ROUND_SCHEMA)

    converged = pending.isEmpty()
    for _ in range(max_rounds):
        if converged:
            break
        out = make_round(best, pending).localCheckpoint()
        new_best = out.filter(F.col("kind") == 1).select(
            "tkey", "idx", F.col("src_dist").alias("dist"), "sid"
        )
        best = (
            best.unionByName(new_best)
            .groupBy("tkey", "idx")
            .agg(F.min(F.struct("dist", "sid")).alias("_b"))
            .select("tkey", "idx", F.col("_b.dist").alias("dist"), F.col("_b.sid").alias("sid"))
            .localCheckpoint()
        )
        pending = out.filter(F.col("kind") == 2).select(
            "tkey", "idx", "src_dist", "src_cost", "step", "sid"
        ).localCheckpoint()
        converged = pending.isEmpty()
    if not converged and on_nonconverged == "raise":
        raise RuntimeError(
            f"cost_distance did not converge in {max_rounds} wavefront rounds; "
            "raise max_rounds or pass on_nonconverged='return'"
        )

    seeded = state.join(
        best.groupBy("tkey").agg(
            F.collect_list(F.struct("idx", "dist", "sid")).alias("best")
        ),
        on="tkey",
        how="left",
    )

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_OUT_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs_, ys_, zs = unpack_cell_id(tk)
                rec = {
                    "key": tk, "z": int(zs), "x": int(xs_), "y": int(ys_),
                    "w": int(t.w) if t.w is not None else None,
                    "h": int(t.h) if t.h is not None else None,
                    "status": t.status, "dist": None, "alloc": None,
                    "min_dist": None, "reached_px": None,
                }
                if t.status == "ok":
                    w, h = int(t.w), int(t.h)
                    cost = np.frombuffer(t.cost, dtype=np.uint8).reshape(h, w)
                    seeds_ = {}
                    bl = t.best
                    if not isinstance(bl, float) and bl is not None:
                        seeds_ = {
                            int(p["idx"]): (float(p["dist"]), int(p["sid"]))
                            for p in bl
                        }
                    if seeds_:
                        dist, lab = _dijkstra(cost, seeds_)
                    else:
                        dist = np.full(h * w, np.inf)
                        lab = np.full(h * w, np.int64(-1))
                    fin = np.isfinite(dist)
                    rec.update(
                        dist=dist.astype("<f8").tobytes(),
                        alloc=lab.astype("<i8").tobytes(),
                        min_dist=float(dist[fin].min()) if fin.any() else None,
                        reached_px=int(fin.sum()),
                    )
                recs.append(rec)
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    return seeded.mapInPandas(finish, schema=_OUT_SCHEMA)
