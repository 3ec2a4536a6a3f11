"""D8 hydrology across tile boundaries: flow direction + global flow
accumulation.

Flow accumulation — for every pixel, how many cells drain through it —
is the classic "looks local, is global" raster op: water entering a tile
at one border pixel can exit at another and keep going for thousands of
tiles, so no fixed-radius halo is enough. The distributed shape here is
the linear-transfer decomposition used by parallel hydrology engines
(TauDEM's parallel D8 contributing-area approach):

1. **halo + direction** — one 1-px halo exchange (focal.py's strip
   pattern, 8 neighbors incl. 1x1 corners) gives every tile its true
   cross-border D8 direction field. Missing / misshapen neighbor strips
   are treated as elevation -inf: water drains off coverage edges and
   into holes (the standard edge-drains rule), and the drop is counted
   in ``dropped_strips`` so the approximation is auditable.
2. **local solve** (same grouped kernel) — within a tile, accumulation
   is linear in its border inflows, and each border cell's water leaves
   through exactly ONE exit cell (flow paths merge, never split). So a
   tile compresses to (a) ``acc0``: its accumulation with zero inflow,
   (b) a perimeter-sized TRANSFER map entry-cell -> (next tile, entry
   cell there | absorbed), and (c) its initial cross-border outflows.
   Nothing raster-sized ever re-shuffles after this point.
3. **delta routing** (driver loop, POINTER-DOUBLED) — instead of
   hopping flux parcels one tile per round, the perimeter-scale
   transfer maps are composed with themselves each round (the
   watersheds doubling discipline): round k pushes every entry's
   accumulated flux along its 2^k-step pointer and then squares the
   pointer map, so inflows converge in O(log D) rounds for flow paths
   D tiles long — a continental river crossing 10^3 tiles costs ~10
   perimeter-scale joins, not 10^3. Strictly-downhill D8 guarantees a
   DAG, so the pointer map provably empties. Each round is two
   perimeter-scale equi-joins + a groupBy-sum, localCheckpoint'ed.
4. **final assembly** — converged inflows are injected and the local
   solve re-runs once per tile (Kahn waves over the in-tile flow DAG,
   ``np.add.at`` per wave — no per-pixel Python), emitting the exact
   per-pixel int64 accumulation raster.

Per-tile conservation invariant (tested): ``w*h + inflow_flux ==
outflow_flux + sink_flux`` — every pixel's unit of water either leaves
across a border (incl. off-coverage) or terminates in a pit.

D8 semantics (matches the sequential oracle in tests/test_hydrology.py
bit-for-bit): steepest strictly-positive distance-weighted drop among
the 8 neighbors, ESRI direction codes (E=1, SE=2, S=4, SW=8, W=16,
NW=32, N=64, NE=128), ties broken by that code order, no lower
neighbor -> 0 (pit). Out-of-coverage neighbors are -inf, so edge
pixels drain off the map.

The reference has no hydrology analogue (its rasters never leave single
tiles); this extends the terrain surface (terrain.py) the way GDAL /
WhiteboxTools FlowAccumulation would, Spark-first.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.kernels.geo import pack_cell_id, unpack_cell_id
from tilegrab_spark.sources.images import cell_id_col

__all__ = [
    "flow_direction",
    "flow_accumulation",
    "watersheds",
    "stream_network",
    "OFFMAP_LABEL",
]

# observability hook for tests/bench: number of doubling rounds the last
# flow_accumulation call ran (asserted log-bounded in test_hydrology.py)
_ACC_ROUTING_ROUNDS = 0

# ESRI D8: (code, dx, dy, distance). Order IS the tie-break.
_D8 = (
    (1, 1, 0, 1.0),
    (2, 1, 1, math.sqrt(2.0)),
    (4, 0, 1, 1.0),
    (8, -1, 1, math.sqrt(2.0)),
    (16, -1, 0, 1.0),
    (32, -1, -1, math.sqrt(2.0)),
    (64, 0, -1, 1.0),
    (128, 1, -1, math.sqrt(2.0)),
)
_LUT_DX = np.zeros(256, dtype=np.int64)
_LUT_DY = np.zeros(256, dtype=np.int64)
for _c, _dx, _dy, _ in _D8:
    _LUT_DX[_c] = _dx
    _LUT_DY[_c] = _dy

_PART_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("sx", T.IntegerType(), False),
        T.StructField("sy", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("pw", T.IntegerType(), False),
        T.StructField("ph", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

_DIR_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("dirs", T.BinaryType(), True),  # w*h uint8 codes
        T.StructField("n_sinks", T.LongType(), True),
        T.StructField("dropped_strips", T.IntegerType(), True),
    ]
)

# union-schema rows out of the accumulation grouped kernel
# (polygonize.py's kind pattern): kind 1 = tile state, kind 2 =
# transfer-map row (one per border cell), kind 3 = initial outflow.
_ACC_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("tkey", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("dirs", T.BinaryType(), True),
        T.StructField("dropped", T.IntegerType(), True),
        T.StructField("entry", T.IntegerType(), True),
        T.StructField("dst_tkey", T.LongType(), True),  # -1 = absorbed
        T.StructField("dst_entry", T.IntegerType(), True),
        T.StructField("flux", T.LongType(), True),
    ]
)

_ACC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("acc", T.BinaryType(), True),  # w*h int64 LE
        T.StructField("max_acc", T.LongType(), True),
        T.StructField("inflow_flux", T.LongType(), True),
        T.StructField("outflow_flux", T.LongType(), True),
        T.StructField("sink_flux", T.LongType(), True),
        T.StructField("dropped_strips", T.IntegerType(), True),
    ]
)


def _chan_of(arr: np.ndarray, band) -> np.ndarray:
    """Elevation channel: 'max' (default) or a channel index — the
    polygonize/terrain band rule."""
    if band == "max":
        return arr.max(axis=2)
    return arr[:, :, int(band)]


def _strip(arr: np.ndarray, sx: int, sy: int) -> np.ndarray:
    """1-px-deep slice of ``arr`` facing a neighbor at offset (sx, sy)
    FROM the target tile (focal.py's convention, r=1): diagonal offsets
    yield the 1x1 corner pixel."""
    h, w = arr.shape
    ys = slice(0, 1) if sy > 0 else slice(h - 1, h) if sy < 0 else slice(0, h)
    xs = slice(0, 1) if sx > 0 else slice(w - 1, w) if sx < 0 else slice(0, w)
    return arr[ys, xs]


def _emit_parts(src: DataFrame, band) -> DataFrame:
    """Stage 1: one decode per tile; emit the elevation channel to the
    tile's own group plus 1-px strips (and 1x1 corners) to each of the
    8 neighbors. Shuffle payload per tile = one uncompressed channel +
    perimeter strips — the compressed image is never re-shuffled."""

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_PART_SCHEMA.fieldNames())
        for pdf in batches:
            out = {n: [] for n in names}

            def push(tk, sx, sy, payload, pw, ph, fmt):
                out["tkey"].append(int(tk)); out["sx"].append(sx)
                out["sy"].append(sy); out["payload"].append(payload)
                out["pw"].append(pw); out["ph"].append(ph); out["fmt"].append(fmt)

            for row in pdf.itertuples(index=False):
                z, x, y = int(row.z), int(row.x), int(row.y)
                self_key = int(pack_cell_id(x, y, z))
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    push(self_key, 0, 0, None, int(row.w), int(row.h),
                         "decode_error")
                    continue
                chan = np.ascontiguousarray(_chan_of(arr, band))
                h, w = chan.shape
                push(self_key, 0, 0, chan.tobytes(), w, h, "chan")
                n = 1 << z
                for sy in (-1, 0, 1):
                    for sx in (-1, 0, 1):
                        if sx == 0 and sy == 0:
                            continue
                        nx, ny = x + sx, y + sy
                        if not (0 <= nx < n and 0 <= ny < n):
                            continue
                        s = np.ascontiguousarray(_strip(chan, -sx, -sy))
                        push(int(pack_cell_id(nx, ny, z)), -sx, -sy,
                             s.tobytes(), s.shape[1], s.shape[0], "npy")
            yield pd.DataFrame(out, columns=names)

    return src.mapInPandas(emit, schema=_PART_SCHEMA)


def _assemble_canvas(me, strips) -> tuple[np.ndarray, frozenset, int]:
    """(h+2, w+2) float32 canvas: center = the tile, ring = neighbor
    strips where present and well-shaped, -inf elsewhere (edge-drains
    rule). Returns (canvas, set of (sx, sy) pasted OK, dropped count).
    """
    h, w = int(me["ph"]), int(me["pw"])
    canvas = np.full((h + 2, w + 2), -np.inf, dtype=np.float32)
    canvas[1:-1, 1:-1] = np.frombuffer(me["payload"], dtype=np.uint8).reshape(h, w)
    ok, dropped = set(), 0
    for (sx, sy, payload, pw, ph) in strips:
        ys = slice(0, 1) if sy < 0 else slice(h + 1, h + 2) if sy > 0 else slice(1, h + 1)
        xs = slice(0, 1) if sx < 0 else slice(w + 1, w + 2) if sx > 0 else slice(1, w + 1)
        if (ph, pw) != (ys.stop - ys.start, xs.stop - xs.start):
            dropped += 1  # mixed tile sizes: that side stays -inf
            continue
        canvas[ys, xs] = np.frombuffer(payload, dtype=np.uint8).reshape(ph, pw)
        ok.add((sx, sy))
    return canvas, frozenset(ok), dropped


def _d8_dirs(canvas: np.ndarray) -> np.ndarray:
    """Vectorized D8 over the haloed canvas: steepest strictly-positive
    distance-weighted drop, first code in _D8 order wins ties, 0 = pit.
    -inf neighbors give +inf drop, so coverage edges always win —
    water drains off the map."""
    h, w = canvas.shape[0] - 2, canvas.shape[1] - 2
    c = canvas[1:-1, 1:-1].astype(np.float64)
    best = np.zeros((h, w), dtype=np.float64)
    code = np.zeros((h, w), dtype=np.uint8)
    for (k, dx, dy, dist) in _D8:
        nb = canvas[1 + dy:1 + dy + h, 1 + dx:1 + dx + w].astype(np.float64)
        slope = (c - nb) / dist
        take = slope > best
        code[take] = k
        best[take] = slope[take]
    return code


def _split_parts(group):
    me, strips = None, []
    for p in group:
        sx, sy = int(p["sx"]), int(p["sy"])
        if sx == 0 and sy == 0:
            me = p
        else:
            strips.append((sx, sy, p["payload"], int(p["pw"]), int(p["ph"])))
    return me, strips


def _nxt_of(dirs: np.ndarray) -> np.ndarray:
    """Flat in-tile successor per cell (-1 = pit or leaves the tile)."""
    h, w = dirs.shape
    yy, xx = np.divmod(np.arange(h * w, dtype=np.int64), w)
    d = dirs.ravel()
    tx = xx + _LUT_DX[d]
    ty = yy + _LUT_DY[d]
    inside = (d != 0) & (tx >= 0) & (tx < w) & (ty >= 0) & (ty < h)
    return np.where(inside, ty * w + tx, np.int64(-1))


def _kahn_accumulate(nxt: np.ndarray, init: np.ndarray) -> np.ndarray:
    """Exact accumulation over the in-tile flow DAG: topological waves
    (Kahn), each wave one vectorized np.add.at. Raises on a cycle —
    impossible for strictly-downhill D8, so it would mean corrupt
    input."""
    n = nxt.shape[0]
    acc = init.astype(np.int64).copy()
    indeg = np.bincount(nxt[nxt >= 0], minlength=n)
    ready = np.flatnonzero(indeg == 0)
    done = 0
    while ready.size:
        done += ready.size
        flow = ready[nxt[ready] >= 0]
        if flow.size:
            tgt = nxt[flow]
            np.add.at(acc, tgt, acc[flow])
            np.subtract.at(indeg, tgt, 1)
            ready = np.unique(tgt[indeg[tgt] == 0])
        else:
            ready = np.empty(0, dtype=np.int64)
    if done != n:
        raise ValueError(f"cycle in D8 flow graph: {n - done} cells unresolved")
    return acc


def _border_idx(w: int, h: int) -> np.ndarray:
    """Flat indices of the tile's border cells (entry candidates)."""
    m = np.zeros((h, w), dtype=bool)
    m[0, :] = m[-1, :] = True
    m[:, 0] = m[:, -1] = True
    return np.flatnonzero(m.ravel())


def _exit_targets(dirs: np.ndarray, z: int, X: int, Y: int, ok_sides: frozenset):
    """For each exit cell (points off-tile): (flat idx, dst tile key,
    dst entry flat idx). dst = -1 when the water leaves coverage (world
    edge, hole, or a dropped/mismatched strip side) — it vanishes, the
    documented edge-drains rule. Strip presence guarantees the
    neighbor's dims match ours, so dst_entry is valid there."""
    h, w = dirs.shape
    d = dirs.ravel()
    nxt = _nxt_of(dirs)
    ex = np.flatnonzero((nxt < 0) & (d != 0))
    if ex.size == 0:
        z3 = np.empty(0, dtype=np.int64)
        return ex, z3, z3.astype(np.int32)
    yy, xx = np.divmod(ex, w)
    dx, dy = _LUT_DX[d[ex]], _LUT_DY[d[ex]]
    txg, tyg = xx + dx, yy + dy
    ox = np.where(txg < 0, -1, np.where(txg >= w, 1, 0))
    oy = np.where(tyg < 0, -1, np.where(tyg >= h, 1, 0))
    n = 1 << z
    nx, ny = X + ox, Y + oy
    in_world = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
    side_ok = np.array([(int(a), int(b)) in ok_sides for a, b in zip(ox, oy)])
    valid = in_world & side_ok
    dst_key = np.where(valid, pack_cell_id(nx, ny, z), np.int64(-1))
    e_x, e_y = txg - ox * w, tyg - oy * h
    dst_entry = np.where(valid, e_y * w + e_x, -1).astype(np.int32)
    return ex, dst_key, dst_entry


def flow_direction(images: DataFrame, *, zoom: int, band="max") -> DataFrame:
    """Per-tile D8 direction raster with true cross-tile halos:
    ``[key, z, x, y, w, h, status, dirs, n_sinks, dropped_strips]``
    where ``dirs`` is the w*h uint8 ESRI code array (row-major).
    ``images`` needs (z, x, y, bytes, w, h, fmt) — the
    `read_image_table` shape; duplicate cells must be deduped upstream
    (same rule as focal/tile_diff). Semantics in the module docstring.
    """
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    z = int(zoom)
    src = images.filter(F.col("z") == z).select("z", "x", "y", "bytes", "w", "h", "fmt")
    parts = _emit_parts(src, band)

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_DIR_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs, ys, zs = unpack_cell_id(tk)
                X, Y = int(xs), int(ys)
                rec = {
                    "key": tk, "z": int(zs), "x": X, "y": Y, "w": None,
                    "h": None, "status": "error", "dirs": None,
                    "n_sinks": None, "dropped_strips": None,
                }
                me, strips = _split_parts(t.parts)
                if me is None:
                    rec["status"] = "no_tile"
                elif me["fmt"] == "decode_error":
                    rec.update(status="decode_error", w=int(me["pw"]), h=int(me["ph"]))
                else:
                    canvas, _ok, dropped = _assemble_canvas(me, strips)
                    dirs = _d8_dirs(canvas)
                    rec.update(
                        status="ok", w=dirs.shape[1], h=dirs.shape[0],
                        dirs=dirs.tobytes(), n_sinks=int((dirs == 0).sum()),
                        dropped_strips=int(dropped),
                    )
                recs.append(rec)
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    grouped = parts.groupBy("tkey").agg(
        F.collect_list(F.struct("sx", "sy", "payload", "pw", "ph", "fmt")).alias("parts")
    )
    out = grouped.mapInPandas(assemble, schema=_DIR_SCHEMA)
    return out.filter(F.col("status") != "no_tile")


def flow_accumulation(
    images: DataFrame,
    *,
    zoom: int,
    band="max",
    max_rounds: int = 64,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Global D8 flow accumulation (upstream cell count INCLUDING the
    cell itself) with exact cross-tile routing: ``[key, z, x, y, w, h,
    status, acc, max_acc, inflow_flux, outflow_flux, sink_flux,
    dropped_strips]`` where ``acc`` is the w*h little-endian int64
    array (row-major). Algorithm and conservation invariant in the
    module docstring. Routing rounds are pointer-DOUBLED, so
    ``max_rounds`` bounds log2 of the longest flow path in tile hops
    (the default 64 covers any finite path); after k rounds all flux
    injected within < 2^k tile hops has been routed.
    ``on_nonconverged``: 'raise' (default) or 'return' (emit with
    whatever flux has been routed after ``max_rounds`` — a lower bound
    everywhere).

    The returned frame is computed eagerly up to the routed-flux fixed
    point (the driver loop runs on materialized localCheckpoints); only
    the final per-tile assembly is lazy."""
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
    parts = _emit_parts(src, band)

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_ACC_PART_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []

            def push(**kw):
                rec = {n: None for n in names}
                rec.update(kw)
                recs.append(rec)

            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs, ys, zs = unpack_cell_id(tk)
                X, Y = int(xs), int(ys)
                me, strips = _split_parts(t.parts)
                if me is None:
                    continue  # strip-only ring cell: no tile, no output
                if me["fmt"] == "decode_error":
                    push(kind=1, tkey=tk, w=int(me["pw"]), h=int(me["ph"]),
                         status="decode_error")
                    continue
                canvas, ok_sides, dropped = _assemble_canvas(me, strips)
                dirs = _d8_dirs(canvas)
                h, w = dirs.shape
                nxt = _nxt_of(dirs)
                acc0 = _kahn_accumulate(nxt, np.ones(h * w, dtype=np.int64))
                push(kind=1, tkey=tk, w=w, h=h, status="ok",
                     dirs=dirs.tobytes(), dropped=int(dropped))
                # transfer map: where does water entering each border
                # cell leave? terminal = pointer-doubled successor.
                term = np.where(nxt >= 0, nxt, np.arange(h * w, dtype=np.int64))
                for _ in range(max(1, int(math.ceil(math.log2(h * w + 1))))):
                    term = term[term]
                ex, dst_key, dst_entry = _exit_targets(dirs, int(zs), X, Y, ok_sides)
                exit_dst = {int(e): (int(k), int(de))
                            for e, k, de in zip(ex, dst_key, dst_entry)}
                for e in _border_idx(w, h):
                    tcell = int(term[int(e)])
                    dk, de = exit_dst.get(tcell, (-1, -1))
                    push(kind=2, tkey=tk, entry=int(e), dst_tkey=dk, dst_entry=de)
                # initial outflows (zero-inflow accumulation at exits)
                for e, dk, de in zip(ex, dst_key, dst_entry):
                    if dk != -1:
                        push(kind=3, tkey=tk, dst_tkey=int(dk),
                             dst_entry=int(de), flux=int(acc0[int(e)]))
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    grouped = parts.groupBy("tkey").agg(
        F.collect_list(F.struct("sx", "sy", "payload", "pw", "ph", "fmt")).alias("parts")
    )
    solved = grouped.mapInPandas(solve, schema=_ACC_PART_SCHEMA).localCheckpoint()

    # pointer-doubling delta routing (the watersheds discipline, lifted
    # here per VERDICT r4 #4): ``ptr`` holds the 2^k-step composition of
    # the perimeter-scale transfer maps, ``inflow`` accumulates, for
    # every border entry, the flux injected within < 2^k hops upstream
    # (c_{k+1}(w) = c_k(w) + Σ_{v: ptr_k(v)=w} c_k(v) — each round one
    # perimeter-scale equi-join each for the push and the squaring).
    # O(log D) rounds for flow paths D tiles long, vs the O(D)
    # one-hop-per-round loop this replaces; both exact (the strictly-
    # downhill DAG guarantees ptr reaches empty).
    inflow = (
        solved.filter(F.col("kind") == 3)
        .select(F.col("dst_tkey").alias("tkey"), F.col("dst_entry").alias("entry"), "flux")
        .groupBy("tkey", "entry")
        .agg(F.sum("flux").alias("flux"))
        .localCheckpoint()
    )
    ptr = (
        solved.filter((F.col("kind") == 2) & (F.col("dst_tkey") != -1))
        .select("tkey", "entry", "dst_tkey", "dst_entry")
        .localCheckpoint()
    )
    global _ACC_ROUTING_ROUNDS
    rounds = 0
    converged = inflow.isEmpty() or ptr.isEmpty()
    while not converged and rounds < max_rounds:
        push = inflow.join(ptr, on=["tkey", "entry"]).select(
            F.col("dst_tkey").alias("tkey"),
            F.col("dst_entry").alias("entry"),
            "flux",
        )
        inflow = (
            inflow.unionByName(push)
            .groupBy("tkey", "entry")
            .agg(F.sum("flux").alias("flux"))
            .localCheckpoint()
        )
        rounds += 1
        j = ptr.select(
            F.col("tkey").alias("j_tkey"), F.col("entry").alias("j_entry"),
            F.col("dst_tkey").alias("j_dtk"), F.col("dst_entry").alias("j_de"),
        )
        ptr = (
            ptr.join(
                j,
                on=(F.col("dst_tkey") == F.col("j_tkey"))
                & (F.col("dst_entry") == F.col("j_entry")),
            )
            .select(
                "tkey", "entry",
                F.col("j_dtk").alias("dst_tkey"),
                F.col("j_de").alias("dst_entry"),
            )
            .localCheckpoint()
        )
        converged = ptr.isEmpty()
    _ACC_ROUTING_ROUNDS = rounds
    if not converged and on_nonconverged == "raise":
        raise RuntimeError(
            f"flow_accumulation did not converge in {max_rounds} rounds; "
            "raise max_rounds or pass on_nonconverged='return'"
        )
    inflow_per_tile = inflow.groupBy("tkey").agg(
        F.collect_list(F.struct("entry", "flux")).alias("inflows")
    )

    state = solved.filter(F.col("kind") == 1).select(
        "tkey", "w", "h", "status", "dirs", "dropped"
    )
    final_in = state.join(inflow_per_tile, on="tkey", how="left")

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_ACC_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs, ys, zs = unpack_cell_id(tk)
                rec = {
                    "key": tk, "z": int(zs), "x": int(xs), "y": int(ys),
                    "w": int(t.w) if t.w is not None else None,
                    "h": int(t.h) if t.h is not None else None,
                    "status": t.status, "acc": None, "max_acc": None,
                    "inflow_flux": None, "outflow_flux": None,
                    "sink_flux": None,
                    "dropped_strips": int(t.dropped) if pd.notna(t.dropped) else None,
                }
                if t.status == "ok":
                    w, h = int(t.w), int(t.h)
                    dirs = np.frombuffer(t.dirs, dtype=np.uint8).reshape(h, w)
                    nxt = _nxt_of(dirs)
                    init = np.ones(h * w, dtype=np.int64)
                    inflow_total = 0
                    ins = t.inflows
                    if isinstance(ins, float):  # left-join null as NaN
                        ins = None
                    if ins is not None:
                        border = set(int(b) for b in _border_idx(w, h))
                        for p in ins:
                            e, fl = int(p["entry"]), int(p["flux"])
                            if e not in border:
                                # mixed-dim neighbor computed our entry
                                # with its own geometry — outside the
                                # uniform-grid contract; the water
                                # vanishes (edge-drains fallback)
                                continue
                            init[e] += fl
                            inflow_total += fl
                    acc = _kahn_accumulate(nxt, init)
                    is_exit = (nxt < 0) & (dirs.ravel() != 0)
                    is_sink = dirs.ravel() == 0
                    rec.update(
                        acc=acc.astype("<i8").tobytes(),
                        max_acc=int(acc.max()),
                        inflow_flux=int(inflow_total),
                        outflow_flux=int(acc[is_exit].sum()),
                        sink_flux=int(acc[is_sink].sum()),
                    )
                recs.append(rec)
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    return final_in.mapInPandas(finish, schema=_ACC_SCHEMA)


_WS_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("tkey", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("dirs", T.BinaryType(), True),
        T.StructField("dropped", T.IntegerType(), True),
        T.StructField("entry", T.IntegerType(), True),   # kind 2: border cell
        T.StructField("p_tkey", T.LongType(), True),     # hop target tile
        T.StructField("p_entry", T.IntegerType(), True),
        T.StructField("root", T.LongType(), True),       # resolved label
        T.StructField("exit_idx", T.IntegerType(), True),  # kind 3: exit hop
    ]
)

_WS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("labels", T.BinaryType(), True),  # w*h int64 LE
        T.StructField("n_basins", T.IntegerType(), True),  # own pits
        T.StructField("offmap_px", T.LongType(), True),
        T.StructField("dropped_strips", T.IntegerType(), True),
    ]
)

# label of water that leaves coverage (world edge / hole / dropped strip)
OFFMAP_LABEL = -2


def _pit_label(z: int, X: int, Y: int, w: int, h: int, idx) -> np.ndarray:
    """Globally-unique int64 basin label for a pit cell: dense packing
    ((x << z | y) * w*h + cell). Fits in 63 bits for z <= 22 and tiles
    up to 512x512 (same budget as polygonize's region keys)."""
    base = ((np.int64(X) << z) | np.int64(Y)) * np.int64(w * h)
    return base + np.asarray(idx, dtype=np.int64)


def watersheds(
    images: DataFrame,
    *,
    zoom: int,
    band="max",
    pour_points: DataFrame | None = None,
    tile_px: int = 256,
    max_rounds: int = 64,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Watershed (drainage-basin) segmentation: every pixel labeled by
    the PIT its water terminates in (``OFFMAP_LABEL`` = -2 when it
    drains off coverage instead): ``[key, z, x, y, w, h, status,
    labels, n_basins, offmap_px, dropped_strips]`` with ``labels`` the
    w*h little-endian int64 array (row-major); basin ids are globally
    unique and deterministic (the pit cell's dense global index).

    Same halo + local-terminal machinery as flow_accumulation, but the
    cross-tile stage only needs each border cell's ROOT, not a path
    sum — so it resolves by POINTER DOUBLING over the border-cell
    functional graph: each round composes hop maps via one self-join,
    halving the unresolved chain length. O(log D) rounds for flow
    paths D tiles long (vs the accumulation loop's O(D)); each round
    shuffles only perimeter-scale rows. D8 semantics, edge-drains rule
    and the uniform-grid contract are identical to flow_direction.

    ``pour_points`` (optional, the ArcGIS Watershed-tool shape): a
    DataFrame of global-pixel ``gx``/``gy`` columns at this zoom
    (tiles must be ``tile_px`` square when given). Each pour cell is
    CUT into a pit before routing, so its basin is exactly its
    upstream catchment (gauge catchment delineation); the cut only
    changes that cell's own outflow, never upstream paths, so the
    basin size equals flow_accumulation's value at the pour cell."""
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
    parts = _emit_parts(src, band)
    if pour_points is not None:
        # pour cells ride the parts union as fmt='pour' rows with the
        # flat cell index in the (otherwise unused) pw column — one
        # groupBy delivers them to the right kernel group for free
        n_world = (1 << z) * tile_px
        tkey_expr = cell_id_col(
            F.lit(z), F.floor(F.col("gx") / tile_px), F.floor(F.col("gy") / tile_px)
        )
        idx_expr = (
            (F.col("gy") % tile_px).cast("int") * tile_px
            + (F.col("gx") % tile_px).cast("int")
        )
        pours = (
            pour_points.select(
                F.col("gx").cast("long").alias("gx"), F.col("gy").cast("long").alias("gy")
            )
            .filter(
                (F.col("gx") >= 0) & (F.col("gx") < n_world)
                & (F.col("gy") >= 0) & (F.col("gy") < n_world)
            )
            .select(
                tkey_expr.alias("tkey"), F.lit(2).alias("sx"), F.lit(2).alias("sy"),
                F.lit(None).cast("binary").alias("payload"),
                idx_expr.alias("pw"), F.lit(0).alias("ph"),
                F.lit("pour").alias("fmt"),
            )
            .distinct()
        )
        parts = parts.unionByName(pours)

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_WS_PART_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []

            def push(**kw):
                rec = {n: None for n in names}
                rec.update(kw)
                recs.append(rec)

            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs_, ys_, zs = unpack_cell_id(tk)
                X, Y = int(xs_), int(ys_)
                pour_idx = [int(p["pw"]) for p in t.parts if p["fmt"] == "pour"]
                grp = [p for p in t.parts if p["fmt"] != "pour"]
                me, strips = _split_parts(grp)
                if me is None:
                    continue
                if me["fmt"] == "decode_error":
                    push(kind=1, tkey=tk, w=int(me["pw"]), h=int(me["ph"]),
                         status="decode_error")
                    continue
                canvas, ok_sides, dropped = _assemble_canvas(me, strips)
                dirs = _d8_dirs(canvas)
                h, w = dirs.shape
                if w * h > (1 << 18):
                    raise ValueError(
                        f"tile {w}x{h} exceeds the 512x512 basin-label "
                        "key budget (same cap as polygonize region keys)"
                    )
                if pour_idx:
                    cut = np.asarray(
                        [i for i in pour_idx if 0 <= i < h * w], dtype=np.int64
                    )
                    dirs.ravel()[cut] = 0  # pour cells become pits
                push(kind=1, tkey=tk, w=w, h=h, status="ok",
                     dirs=dirs.tobytes(), dropped=int(dropped))
                nxt = _nxt_of(dirs)
                term = np.where(nxt >= 0, nxt, np.arange(h * w, dtype=np.int64))
                for _ in range(max(1, int(math.ceil(math.log2(h * w + 1))))):
                    term = term[term]
                ex, dst_key, dst_entry = _exit_targets(dirs, int(zs), X, Y, ok_sides)
                exit_dst = {int(e): (int(k), int(de))
                            for e, k, de in zip(ex, dst_key, dst_entry)}
                d = dirs.ravel()
                # kind 2: one hop-map row per border cell
                for e in _border_idx(w, h):
                    tcell = int(term[int(e)])
                    if d[tcell] == 0:  # pit: resolved immediately
                        push(kind=2, tkey=tk, entry=int(e),
                             root=int(_pit_label(int(zs), X, Y, w, h, tcell)))
                    else:
                        dk, de = exit_dst.get(tcell, (-1, -1))
                        if dk == -1:
                            push(kind=2, tkey=tk, entry=int(e),
                                 root=OFFMAP_LABEL)
                        else:
                            push(kind=2, tkey=tk, entry=int(e),
                                 p_tkey=dk, p_entry=de, root=-1)
                # kind 3: this tile's exit cells and their first hop
                for e, dk, de in zip(ex, dst_key, dst_entry):
                    push(kind=3, tkey=tk, exit_idx=int(e),
                         p_tkey=int(dk), p_entry=int(de))
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    grouped = parts.groupBy("tkey").agg(
        F.collect_list(F.struct("sx", "sy", "payload", "pw", "ph", "fmt")).alias("parts")
    )
    solved = grouped.mapInPandas(solve, schema=_WS_PART_SCHEMA).localCheckpoint()

    # pointer doubling over the border-cell hop map
    nmap = solved.filter(F.col("kind") == 2).select(
        "tkey", "entry", "p_tkey", "p_entry", "root"
    ).localCheckpoint()
    converged = nmap.filter(F.col("root") == -1).isEmpty()
    for _ in range(max_rounds):
        if converged:
            break
        j = nmap.select(
            F.col("tkey").alias("j_tkey"), F.col("entry").alias("j_entry"),
            F.col("p_tkey").alias("j_ptk"), F.col("p_entry").alias("j_pe"),
            F.col("root").alias("j_root"),
        )
        nmap = (
            nmap.join(
                j,
                on=(F.col("p_tkey") == F.col("j_tkey"))
                & (F.col("p_entry") == F.col("j_entry")),
                how="left",
            )
            .select(
                "tkey", "entry",
                F.when(F.col("root") != -1, F.col("p_tkey"))
                .otherwise(F.coalesce("j_ptk", F.lit(-1))).alias("p_tkey"),
                F.when(F.col("root") != -1, F.col("p_entry"))
                .otherwise(F.coalesce("j_pe", F.lit(-1))).alias("p_entry"),
                F.when(F.col("root") != -1, F.col("root"))
                .otherwise(
                    # hop into a tile that never produced a hop map
                    # (decode_error): the water's fate is unknowable —
                    # treat as off-coverage, the edge-drains fallback
                    F.coalesce("j_root", F.lit(OFFMAP_LABEL))
                ).alias("root"),
            )
            .localCheckpoint()
        )
        converged = nmap.filter(F.col("root") == -1).isEmpty()
    if not converged and on_nonconverged == "raise":
        raise RuntimeError(
            f"watersheds did not converge in {max_rounds} doubling rounds; "
            "raise max_rounds or pass on_nonconverged='return'"
        )
    resolved = nmap.select(
        F.col("tkey").alias("r_tkey"), F.col("entry").alias("r_entry"),
        F.when(F.col("root") == -1, F.lit(OFFMAP_LABEL)).otherwise(F.col("root"))
        .alias("root"),
    )

    # per-tile exit resolution: my exit cell -> resolved root of the
    # entry it hops into
    hops = solved.filter(F.col("kind") == 3).select("tkey", "exit_idx", "p_tkey", "p_entry")
    exit_roots = (
        hops.join(
            resolved,
            on=(F.col("p_tkey") == F.col("r_tkey"))
            & (F.col("p_entry") == F.col("r_entry")),
            how="left",
        )
        .select(
            "tkey", "exit_idx",
            F.coalesce("root", F.lit(OFFMAP_LABEL)).alias("root"),
        )
        .groupBy("tkey")
        .agg(F.collect_list(F.struct("exit_idx", "root")).alias("exit_roots"))
    )

    state = solved.filter(F.col("kind") == 1).select(
        "tkey", "w", "h", "status", "dirs", "dropped"
    )
    final_in = state.join(exit_roots, on="tkey", how="left")

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_WS_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs_, ys_, zs = unpack_cell_id(tk)
                X, Y = int(xs_), int(ys_)
                rec = {
                    "key": tk, "z": int(zs), "x": X, "y": Y,
                    "w": int(t.w) if t.w is not None else None,
                    "h": int(t.h) if t.h is not None else None,
                    "status": t.status, "labels": None, "n_basins": None,
                    "offmap_px": None,
                    "dropped_strips": int(t.dropped) if pd.notna(t.dropped) else None,
                }
                if t.status == "ok":
                    w, h = int(t.w), int(t.h)
                    dirs = np.frombuffer(t.dirs, dtype=np.uint8).reshape(h, w)
                    nxt = _nxt_of(dirs)
                    term = np.where(nxt >= 0, nxt, np.arange(h * w, dtype=np.int64))
                    for _ in range(max(1, int(math.ceil(math.log2(h * w + 1))))):
                        term = term[term]
                    d = dirs.ravel()
                    roots = {}
                    ers = t.exit_roots
                    if not isinstance(ers, float) and ers is not None:
                        roots = {int(p["exit_idx"]): int(p["root"]) for p in ers}
                    is_pit = d[term] == 0
                    # O(n): root per terminal cell via a dense lookup
                    root_of = np.full(h * w, np.int64(OFFMAP_LABEL))
                    for e, r in roots.items():
                        root_of[e] = r
                    labels = np.where(
                        is_pit,
                        _pit_label(int(zs), X, Y, w, h, term),
                        root_of[term],
                    )
                    rec.update(
                        labels=labels.astype("<i8").tobytes(),
                        n_basins=int(np.unique(term[is_pit]).size),
                        offmap_px=int((labels == OFFMAP_LABEL).sum()),
                    )
                recs.append(rec)
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    return final_in.mapInPandas(finish, schema=_WS_SCHEMA)


_SO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tkey", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("dirs", T.BinaryType(), True),
        T.StructField("stream", T.BinaryType(), True),  # w*h uint8 mask
    ]
)

# round output: kind 1 = improved best row, kind 2 = outbound offer
_SO_ROUND_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.ByteType(), False),
        T.StructField("tkey", T.LongType(), False),
        T.StructField("entry", T.IntegerType(), False),
        T.StructField("src_id", T.LongType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

_SO_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("orders", T.BinaryType(), True),  # w*h int32 LE, 0 = not stream
        T.StructField("n_stream_px", T.LongType(), True),
        T.StructField("max_order", T.IntegerType(), True),
    ]
)


def _strahler_tile(dirs: np.ndarray, stream: np.ndarray, inflows) -> np.ndarray:
    """Strahler orders over THIS tile's stream-restricted flow DAG.
    ``inflows``: list of (entry_idx, order) tributary edges injected
    across the border (multiset — each is one tributary). Kahn over
    stream cells; combine rule at every cell: max of tributary orders,
    +1 when >= 2 tributaries tie at that max, 1 for a spring (no
    tributaries). Returns int32 orders (0 = not stream)."""
    h, w = dirs.shape
    n = h * w
    nxt = _nxt_of(dirs)
    sm = stream.ravel().astype(bool)
    orders = np.zeros(n, dtype=np.int32)
    mx = np.zeros(n, dtype=np.int32)     # max tributary order seen
    cmx = np.zeros(n, dtype=np.int32)    # tributaries at that max
    for e, o in inflows:
        if 0 <= e < n and sm[e]:
            if o > mx[e]:
                mx[e], cmx[e] = o, 1
            elif o == mx[e] and o > 0:
                cmx[e] += 1
    su = np.flatnonzero(sm)
    flows = su[(nxt[su] >= 0)]
    flows = flows[sm[nxt[flows]]]  # in-stream edges u -> nxt[u]
    indeg = np.zeros(n, dtype=np.int64)
    np.add.at(indeg, nxt[flows], 1)
    ready = [int(u) for u in su if indeg[u] == 0]
    done = 0
    while ready:
        nxt_ready = []
        for u in ready:
            done += 1
            o = int(mx[u]) if cmx[u] == 1 else (
                int(mx[u]) + 1 if cmx[u] >= 2 else 1
            )
            orders[u] = o
            v = int(nxt[u])
            if v >= 0 and sm[v]:
                if o > mx[v]:
                    mx[v], cmx[v] = o, 1
                elif o == mx[v]:
                    cmx[v] += 1
                indeg[v] -= 1
                if indeg[v] == 0:
                    nxt_ready.append(v)
        ready = nxt_ready
    if done != int(sm.sum()):
        raise ValueError("cycle in stream DAG: corrupt direction raster")
    return orders


def stream_network(
    dirs_df: DataFrame,
    acc_df: DataFrame,
    *,
    min_acc: int,
    max_rounds: int = 64,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Strahler stream orders over the global flow network: cells with
    ``flow_accumulation >= min_acc`` form the stream raster; every
    stream pixel gets its Strahler order (springs 1, equal-order
    confluences increment): ``[key, z, x, y, w, h, status, orders,
    n_stream_px, max_order]`` with ``orders`` the w*h little-endian
    int32 array (0 = not a stream cell).

    Composes the other two hydrology outputs Spark-first:
    ``dirs_df`` = flow_direction(...), ``acc_df`` =
    flow_accumulation(...) — both tile-keyed, so the input join is one
    co-keyed exchange and the stream mask derives map-side. Because
    accumulation is monotone along flow, a border entry fed by an
    upstream stream cell is itself a stream cell, so cross-tile
    tributaries inject cleanly at entries. Orders only grow and are
    bounded by log2(stream cells), so the offer loop (same
    perimeter-scale round shape as flow_accumulation, max-combine
    instead of sum) terminates; per (entry, source-exit) tributary
    identity is keyed by the exit cell's global id so multiplicity —
    which the Strahler tie rule needs — is preserved exactly."""
    if min_acc < 1:
        raise ValueError(f"min_acc must be >= 1, got {min_acc}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if on_nonconverged not in ("raise", "return"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'return', got {on_nonconverged!r}"
        )

    d = dirs_df.select(
        "key", "z", "x", "y", "w", "h",
        F.col("status").alias("d_status"), "dirs",
    )
    a = acc_df.select(F.col("key").alias("a_key"), F.col("status").alias("a_status"), "acc")
    joined = d.join(a, on=F.col("key") == F.col("a_key"), how="left")

    thr = int(min_acc)

    def mk_state(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_SO_STATE_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.key)
                if t.d_status != "ok" or t.a_status != "ok" or t.acc is None:
                    recs.append({"tkey": tk, "w": t.w, "h": t.h,
                                 "status": str(t.d_status), "dirs": None,
                                 "stream": None})
                    continue
                w, h = int(t.w), int(t.h)
                acc = np.frombuffer(t.acc, dtype="<i8")
                stream = (acc >= thr).astype(np.uint8)
                recs.append({"tkey": tk, "w": w, "h": h, "status": "ok",
                             "dirs": t.dirs, "stream": stream.tobytes()})
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    state = joined.mapInPandas(mk_state, schema=_SO_STATE_SCHEMA).localCheckpoint()
    ok_state = state.filter(F.col("status") == "ok")

    def make_round(best_df: DataFrame | None, pending_df: DataFrame | None) -> DataFrame:
        """One compute pass: tiles with pending offers (or, on the
        first round when pending is None, ALL stream tiles) re-run the
        local Strahler from their accumulated tributary table and emit
        improved best rows + outbound offers."""
        if pending_df is None:
            work = ok_state
        else:
            tiles_ = pending_df.select("tkey").distinct()
            work = ok_state.join(tiles_, on="tkey", how="leftsemi")
        if best_df is not None:
            bst = best_df.groupBy("tkey").agg(
                F.collect_list(F.struct("entry", "src_id", "order")).alias("best")
            )
            work = work.join(bst, on="tkey", how="left")
        else:
            work = work.withColumn(
                "best",
                F.lit(None).cast("array<struct<entry:int,src_id:long,order:int>>"),
            )
        pend = None
        if pending_df is not None:
            pend = pending_df.groupBy("tkey").agg(
                F.collect_list(F.struct("entry", "src_id", "order")).alias("cands")
            )
            work = work.join(pend, on="tkey")

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            names = list(_SO_ROUND_SCHEMA.fieldNames())
            for pdf in batches:
                recs = []
                for t in pdf.itertuples(index=False):
                    tk = int(t.tkey)
                    xs_, ys_, zs = unpack_cell_id(tk)
                    X, Y = int(xs_), int(ys_)
                    w, h = int(t.w), int(t.h)
                    known = {}
                    bl = getattr(t, "best", None)
                    if not isinstance(bl, float) and bl is not None:
                        for p in bl:
                            known[(int(p["entry"]), int(p["src_id"]))] = int(p["order"])
                    improved = {}
                    cl = getattr(t, "cands", None)
                    if not isinstance(cl, float) and cl is not None:
                        for p in cl:
                            key_ = (int(p["entry"]), int(p["src_id"]))
                            o = int(p["order"])
                            cur = max(known.get(key_, 0), improved.get(key_, 0))
                            if o > cur:
                                improved[key_] = o
                        if not improved:
                            continue
                    merged = dict(known)
                    merged.update(improved)
                    for (e, s), o in improved.items():
                        recs.append({"kind": 1, "tkey": tk, "entry": e,
                                     "src_id": s, "order": o})
                    dirs = np.frombuffer(t.dirs, dtype=np.uint8).reshape(h, w)
                    stream = np.frombuffer(t.stream, dtype=np.uint8).reshape(h, w)
                    inflows = [(e, o) for (e, _s), o in merged.items()]
                    orders = _strahler_tile(dirs, stream, inflows)
                    # outbound: every stream exit cell offers its order
                    nxt = _nxt_of(dirs)
                    sm = stream.ravel().astype(bool)
                    dd = dirs.ravel()
                    ex_all = np.flatnonzero((nxt < 0) & (dd != 0) & sm)
                    if ex_all.size:
                        eyy, exx = np.divmod(ex_all, w)
                        dxv, dyv = _LUT_DX[dd[ex_all]], _LUT_DY[dd[ex_all]]
                        txg, tyg = exx + dxv, eyy + dyv
                        oxv = np.where(txg < 0, -1, np.where(txg >= w, 1, 0))
                        oyv = np.where(tyg < 0, -1, np.where(tyg >= h, 1, 0))
                        nw = 1 << int(zs)
                        NXv, NYv = X + oxv, Y + oyv
                        okm = (NXv >= 0) & (NXv < nw) & (NYv >= 0) & (NYv < nw)
                        for i in range(ex_all.size):
                            if not okm[i]:
                                continue
                            e_ = int(ex_all[i])
                            dk = (int(zs) << 58) | (int(NXv[i]) << 29) | int(NYv[i])
                            de = int((tyg[i] - oyv[i] * h) * w + (txg[i] - oxv[i] * w))
                            src = int(_pit_label(int(zs), X, Y, w, h, e_))
                            recs.append({"kind": 2, "tkey": dk, "entry": de,
                                         "src_id": src, "order": int(orders[e_])})
                yield pd.DataFrame(
                    {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
                )

        return work.mapInPandas(run, schema=_SO_ROUND_SCHEMA)

    best = None
    pending = None
    converged = False
    for rnd in range(max_rounds):
        out = make_round(best, pending).localCheckpoint()
        new_best = out.filter(F.col("kind") == 1).select("tkey", "entry", "src_id", "order")
        if rnd > 0 and new_best.isEmpty() and pending is not None:
            # the pass consumed pending offers without any improvement
            converged = True
            break
        base = best if best is not None else new_best.limit(0)
        best = (
            base.unionByName(new_best)
            .groupBy("tkey", "entry", "src_id")
            .agg(F.max("order").alias("order"))
            .localCheckpoint()
        )
        pending = out.filter(F.col("kind") == 2).select("tkey", "entry", "src_id", "order").localCheckpoint()
        if pending.isEmpty():
            converged = True
            break
    if not converged and on_nonconverged == "raise":
        raise RuntimeError(
            f"stream_network did not converge in {max_rounds} rounds; "
            "raise max_rounds or pass on_nonconverged='return'"
        )

    final_best = (
        best.groupBy("tkey").agg(
            F.collect_list(F.struct("entry", "src_id", "order")).alias("best")
        )
        if best is not None
        else None
    )
    seeded = state if final_best is None else state.join(final_best, on="tkey", how="left")

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = list(_SO_SCHEMA.fieldNames())
        for pdf in batches:
            recs = []
            for t in pdf.itertuples(index=False):
                tk = int(t.tkey)
                xs_, ys_, zs = unpack_cell_id(tk)
                rec = {
                    "key": tk, "z": int(zs), "x": int(xs_), "y": int(ys_),
                    "w": int(t.w) if t.w is not None else None,
                    "h": int(t.h) if t.h is not None else None,
                    "status": t.status, "orders": None,
                    "n_stream_px": None, "max_order": None,
                }
                if t.status == "ok":
                    w, h = int(t.w), int(t.h)
                    dirs = np.frombuffer(t.dirs, dtype=np.uint8).reshape(h, w)
                    stream = np.frombuffer(t.stream, dtype=np.uint8).reshape(h, w)
                    bl = getattr(t, "best", None)
                    inflows = []
                    if not isinstance(bl, float) and bl is not None:
                        inflows = [(int(p["entry"]), int(p["order"])) for p in bl]
                    orders = _strahler_tile(dirs, stream, inflows)
                    rec.update(
                        orders=orders.astype("<i4").tobytes(),
                        n_stream_px=int((orders > 0).sum()),
                        max_order=int(orders.max()) if orders.size else 0,
                    )
                recs.append(rec)
            yield pd.DataFrame(
                {n: pd.Series([r[n] for r in recs], dtype=object) for n in names}
            )

    return seeded.mapInPandas(finish, schema=_SO_SCHEMA)
