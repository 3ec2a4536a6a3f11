"""Seeded input generator for the request-level benchmark.

Writes, without importing the engine:

- the image table, in the layout the engine documents
  (``image_id = "{z}_{x}_{y}_{src}"``; columns image_id, bytes, w, h, fmt,
  caption, phash; hive-partitioned by ``zoom`` and
  ``bucket = pmod(z<<58 | x<<29 | y, N_BUCKETS)``), PNG payloads made by
  this file's own encoder;
- a manifest of every stored image (tile, revision, content kind, SHA-256
  of the payload) that the oracle checks fetched rows against;
- per-workload request rounds (AOI polygons as GeoJSON, fetch regions
  with resume re-requests).

Everything derives from ``--seed`` and this file (``SPEC`` and the request
recipes). The image table depends on ``seed % TABLE_VARIANTS`` only, so
seeds share a few tables; the requests are each seed's own. Both are
cached under ``.perfbench_work/cache/<hash of this file>-{t,s}<seed>`` in
the current directory and reused when present; ``python3 perfbench/gen.py --seed N
--force`` rebuilds them from scratch.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import struct
import sys
import zlib

import numpy as np

SPEC = {
    "version": 1,
    "zoom": 16,
    # 24 x 20 tiles of z=16 around Colombo
    "x0": 47300, "y0": 31500, "w": 24, "h": 20,
    "buckets": 16,
    "gap_share": 0.06,
    # revision counts, repeated along (x + 2y) mod 4
    "lattice_revs": [1, 1, 2, 3],
    "hot_revs": 40,
    "png_level": 1,
    "rounds": {"aoi_mosaic": 3, "fetch_export": 6},
}

# seeds share TABLE_VARIANTS image tables (seed % TABLE_VARIANTS); the
# requests differ for every seed
TABLE_VARIANTS = 8
TILE = 256
KINDS = ("satellite", "map")
WORK_DIR = ".perfbench_work"


def spec_hash() -> str:
    """Cache key of the inputs: this file's source (SPEC and the request
    recipes live here)."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cache_dir(seed: int) -> str:
    return os.path.join(WORK_DIR, "cache", f"{spec_hash()}-s{seed}")


def table_dir(table_seed: int) -> str:
    return os.path.join(WORK_DIR, "cache", f"{spec_hash()}-t{table_seed}")


def cell_id(z: int, x: int, y: int) -> int:
    return (z << 58) | (x << 29) | y


# ---------------------------------------------------------------------------
# pixels and PNG encoding
# ---------------------------------------------------------------------------

def tile_pixels(seed: int, x: int, y: int, rev: int, kind: str) -> np.ndarray:
    """(256, 256, 3) uint8 pixels of one stored image. Pure function of its
    arguments, so the oracle regenerates expected canvases from it."""
    rng = np.random.default_rng([seed, x, y, rev, KINDS.index(kind)])
    if kind == "satellite":
        # blotchy low-frequency field plus fine noise: compresses poorly
        lo = rng.integers(40, 216, (8, 8, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(lo, 32, axis=0), 32, axis=1)
        return img + rng.integers(0, 6, (TILE, TILE, 3), dtype=np.uint8)
    # map-like: flat background, building blocks, roads; compresses well
    bg = rng.integers(200, 246, 3, dtype=np.uint8)
    img = np.empty((TILE, TILE, 3), np.uint8)
    img[:] = bg
    for _ in range(int(rng.integers(3, 7))):
        r0, c0 = rng.integers(0, 224, 2)
        hh, ww = rng.integers(12, 64, 2)
        img[r0:r0 + hh, c0:c0 + ww] = rng.integers(120, 230, 3, dtype=np.uint8)
    for _ in range(int(rng.integers(1, 4))):
        pos, width = int(rng.integers(8, 240)), int(rng.integers(4, 12))
        color = (255, 255, 255) if rng.integers(0, 2) else (250, 214, 90)
        if rng.integers(0, 2):
            img[pos:pos + width, :] = color
        else:
            img[:, pos:pos + width] = color
    return img


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray, level: int) -> bytes:
    """8-bit RGB PNG, every scanline with the Up filter."""
    h, w, _ = arr.shape
    flat = arr.reshape(h, w * 3)
    delta = flat.copy()
    delta[1:] = flat[1:] - flat[:-1]
    raw = np.concatenate([np.full((h, 1), 2, np.uint8), delta], axis=1).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, level)) + _chunk(b"IEND", b""))


def average_hash(arr: np.ndarray) -> int:
    """64-bit average hash (8x8 block means of a 4x-subsampled grey image,
    thresholded at their mean), as a signed int64 for the ``phash`` column."""
    g = arr[::4, ::4].mean(axis=2).reshape(8, 8, 8, 8).mean(axis=(1, 3)).reshape(-1)
    bits = (g > g.mean()).astype(np.uint8)
    v = int("".join(map(str, bits)), 2)
    return v - (1 << 64) if v >= 1 << 63 else v


# ---------------------------------------------------------------------------
# geometry helpers (tile space <-> lon/lat)
# ---------------------------------------------------------------------------

def tile_to_lonlat(tx: float, ty: float, z: int) -> tuple[float, float]:
    n = 2.0 ** z
    lon = tx / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / n))))
    return lon, lat


def _off_edges(v: float, rng) -> float:
    """Move a tile-space coordinate so its fractional part is in
    [0.15, 0.85]: no vertex lies on or near a tile edge."""
    f = v - math.floor(v)
    if 0.15 <= f <= 0.85:
        return v
    return math.floor(v) + float(rng.uniform(0.15, 0.85))


def _ring(rng, cx, cy, rx, ry, n, concave=0.0, notch=False):
    """Closed tile-space ring around (cx, cy): a convex n-gon, a star when
    ``concave`` > 0, or a C shape when ``notch``."""
    if notch:
        # C shape: outer box with a deep notch cut in from the east side
        x0, x1, y0, y1 = cx - rx, cx + rx, cy - ry, cy + ry
        nx0, ny0, ny1 = cx - 0.1 * rx, cy - 0.35 * ry, cy + 0.35 * ry
        pts = [(x0, y0), (x1, y0), (x1, ny0), (nx0, ny0), (nx0, ny1),
               (x1, ny1), (x1, y1), (x0, y1)]
    else:
        phase = float(rng.uniform(0, 2 * math.pi))
        pts = []
        for i in range(n):
            a = phase + 2 * math.pi * i / n
            r = 1.0 - (concave if i % 2 else 0.0)
            r *= float(rng.uniform(0.9, 1.0))
            pts.append((cx + rx * r * math.cos(a), cy + ry * r * math.sin(a)))
    pts = [(_off_edges(px, rng), _off_edges(py, rng)) for px, py in pts]
    return pts + [pts[0]]


def _edge_clearance_ok(ring_ll, z, tx_range, ty_range) -> bool:
    """No tile corner within 1e-4 tile widths of a ring edge (in lon/lat,
    where the engine and the oracle both test intersection)."""
    n = 2.0 ** z
    tile_deg = 360.0 / n
    corners = [tile_to_lonlat(tx, ty, z)
               for tx in range(tx_range[0], tx_range[1] + 2)
               for ty in range(ty_range[0], ty_range[1] + 2)]
    cs = np.array(corners)
    for (ax, ay), (bx, by) in zip(ring_ll[:-1], ring_ll[1:]):
        dx, dy = bx - ax, by - ay
        t = np.clip(((cs[:, 0] - ax) * dx + (cs[:, 1] - ay) * dy) / (dx * dx + dy * dy), 0, 1)
        d = np.hypot(cs[:, 0] - (ax + t * dx), cs[:, 1] - (ay + t * dy))
        if d.min() < 1e-4 * tile_deg:
            return False
    return True


def _to_ll(ring, z):
    return [list(tile_to_lonlat(px, py, z)) for px, py in ring]


def _polygon_ok(rings_ll, rings_t, z) -> bool:
    xs = [p[0] for r in rings_t for p in r]
    ys = [p[1] for r in rings_t for p in r]
    rng_x = (int(math.floor(min(xs))), int(math.floor(max(xs))))
    rng_y = (int(math.floor(min(ys))), int(math.floor(max(ys))))
    return all(_edge_clearance_ok(r, z, rng_x, rng_y) for r in rings_ll)


# ---------------------------------------------------------------------------
# table layout
# ---------------------------------------------------------------------------

def layout(seed: int) -> dict:
    """Cells, content kinds, gaps, revisions and the hot cell.

    Content and revisions follow fixed lattices, so every AOI sees the same
    mix whatever its placement: satellite-like and map-like tiles
    alternate as on a chessboard, and the revision counts {1, 1, 2, 3} repeat
    along ``(x + 2y) mod 4``, which spreads them evenly over both kinds.
    The seed picks the lattices' phases, the gaps, the hot cell and the
    pixels."""
    s = SPEC
    rng = np.random.default_rng([seed, 1])
    X0, Y0, W, H = s["x0"], s["y0"], s["w"], s["h"]
    phase = int(rng.integers(0, 2))
    rev_of = [int(n) for n in rng.permutation(s["lattice_revs"])]
    kinds, revs = {}, {}
    for x in range(X0, X0 + W):
        for y in range(Y0, Y0 + H):
            kinds[(x, y)] = "satellite" if (x + y + phase) % 2 == 0 else "map"
            revs[(x, y)] = rev_of[(x + 2 * y) % 4]
    main = [(X0 + i, Y0 + j) for j in range(H) for i in range(W)]
    gaps = {main[k] for k in rng.permutation(len(main))[: round(s["gap_share"] * len(main))]}
    # the hot cell sits far enough inside for both regions of a fetch pair
    sat_cells = [c for c in main if kinds[c] == "satellite" and c not in gaps
                 and X0 + 8 <= c[0] < X0 + W - 8 and Y0 + 8 <= c[1] < Y0 + H - 8]
    hot = sat_cells[int(rng.integers(len(sat_cells)))]
    revs = {c: n for c, n in revs.items() if c not in gaps}
    revs[hot] = s["hot_revs"]
    return {"kinds": kinds, "gaps": gaps, "revs": revs, "hot": hot}


def write_table(seed: int, lay: dict, path: str) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    z = SPEC["zoom"]
    nb = SPEC["buckets"]
    rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption",
                            "phash", "zoom", "bucket")}
    manifest = []
    for (x, y), n in sorted(lay["revs"].items()):
        kind = lay["kinds"][(x, y)]
        for rev in range(n):
            arr = tile_pixels(seed, x, y, rev, kind)
            data = encode_png(arr, SPEC["png_level"])
            iid = f"{z}_{x}_{y}_{rev}"
            rows["image_id"].append(iid)
            rows["bytes"].append(data)
            rows["w"].append(TILE)
            rows["h"].append(TILE)
            rows["fmt"].append("png")
            rows["caption"].append(f"tile {z}/{x}/{y} rev={rev} kind={kind}")
            rows["phash"].append(average_hash(arr))
            rows["zoom"].append(z)
            rows["bucket"].append(cell_id(z, x, y) % nb)
            manifest.append([iid, x, y, rev, kind, hashlib.sha256(data).hexdigest(), len(data)])
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("zoom", pa.int32()), ("bucket", pa.int32()),
    ])
    tbl = pa.table(rows, schema=schema)
    pq.write_to_dataset(tbl, path, partition_cols=["zoom", "bucket"],
                        compression="snappy", existing_data_behavior="error")
    return manifest


# ---------------------------------------------------------------------------
# request rounds
# ---------------------------------------------------------------------------

def _place(rng, half_w, half_h):
    s = SPEC
    cx = s["x0"] + float(rng.uniform(half_w + 0.5, s["w"] - half_w - 0.5))
    cy = s["y0"] + float(rng.uniform(half_h + 0.5, s["h"] - half_h - 0.5))
    return cx, cy


# one AOI round: (shape kind, half-width range in tiles, invert, band of
# selected tile counts, band of bbox tile counts). The bands fix each
# position's tile count and canvas size, so a round costs about the same
# in every seed (~370 selected tiles).
AOI_ROUND = [
    ("convex", (5.0, 6.0), False, (88, 97), (120, 132)),
    ("star", (4.0, 5.0), False, (46, 52), (80, 90)),
    ("two_part", (1.6, 2.2), False, (29, 33), (40, 50)),
    ("convex", (3.5, 4.5), True, (15, 18), (64, 72)),
    ("notch", (3.8, 4.6), False, (77, 85), (81, 90)),
    ("convex", (2.6, 3.2), False, (28, 32), (35, 40)),
    ("star", (3.8, 4.6), True, (28, 32), (70, 76)),
    ("two_part", (1.9, 2.4), False, (36, 41), (50, 60)),
]
AOI_WARMUP = [("star", (3.5, 4.5), False, (30, 45), (56, 72)),
              ("convex", (3.0, 4.0), True, (10, 20), (49, 64))]


def _aoi(rng, kind, hw_range, invert, band, bbox_band, z, hot):
    """Polygon rings (lon/lat) of one AOI whose selection and bbox hold tile
    counts within ``band`` and ``bbox_band``; its bbox keeps clear of the
    hot cell, whose 40 revisions would otherwise weigh on whichever AOI
    happened to hold it."""
    import oracle

    while True:
        hw = float(rng.uniform(*hw_range))
        hh = hw * float(rng.uniform(0.85, 1.15))
        if kind == "two_part":
            cx, cy = _place(rng, 2 * hw + 1.0, hh)
            parts = [_ring(rng, cx - hw - 0.7, cy, hw, hh, 6),
                     _ring(rng, cx + hw + 0.7, cy + float(rng.uniform(-1, 1)), hw, hh, 5)]
        else:
            cx, cy = _place(rng, hw, hh)
            if kind == "convex":
                parts = [_ring(rng, cx, cy, hw, hh, int(rng.integers(5, 9)))]
            elif kind == "star":
                parts = [_ring(rng, cx, cy, hw, hh, 10, concave=0.45)]
            else:
                parts = [_ring(rng, cx, cy, hw, hh, 0, notch=True)]
        rings_ll = [_to_ll(p, z) for p in parts]
        bbox = oracle.bbox_cells(rings_ll, z)
        if tuple(hot) in bbox or not bbox_band[0] <= len(bbox) <= bbox_band[1]:
            continue
        if not _polygon_ok(rings_ll, parts, z):
            continue
        if band[0] <= len(oracle.select_tiles(rings_ll, z, invert=invert)) <= band[1]:
            return rings_ll


def _rect(rng, w_tiles, h_tiles, z, anchor):
    """Rectangle covering exactly ``w_tiles`` x ``h_tiles`` cells from
    ``anchor``, corners inside the corner cells (off tile edges)."""
    tx, ty = anchor
    fx0, fy0, fx1, fy1 = (float(v) for v in rng.uniform(0.15, 0.85, 4))
    pts = [(tx + fx0, ty + fy0), (tx + w_tiles - 1 + fx1, ty + fy0),
           (tx + w_tiles - 1 + fx1, ty + h_tiles - 1 + fy1), (tx + fx0, ty + h_tiles - 1 + fy1)]
    pts.append(pts[0])
    return [_to_ll(pts, z)], (tx, ty, tx + w_tiles - 1, ty + h_tiles - 1)


# one fetch round: three (region, shifted resume re-request) pairs; the
# second pair's regions hold the hot cell
FETCH_ROUND = [((9, 8), (3, 2)), ((8, 9), (-2, 3)), ((10, 8), (2, -3))]


def requests(seed: int, lay: dict, root: str) -> dict:
    """Request rounds per workload; round 0 of each is its warm-up."""
    z = SPEC["zoom"]
    out = {}
    rng = np.random.default_rng([seed, 2])

    def aoi(rid, kind, hw, inv, band, bbox_band):
        polys = _aoi(rng, kind, hw, inv, band, bbox_band, z, lay["hot"])
        gj_path = os.path.join(root, "aoi", f"{rid}.geojson")
        geom = ({"type": "Polygon", "coordinates": polys} if len(polys) == 1
                else {"type": "MultiPolygon", "coordinates": [[p] for p in polys]})
        with open(gj_path, "w") as f:
            json.dump({"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {"id": rid}, "geometry": geom}]}, f)
        return {"id": rid, "kind": kind, "invert": inv, "polygons": polys,
                "geojson": os.path.relpath(gj_path, root)}

    rounds = [[aoi(f"aoi-w-{k}", *spec) for k, spec in enumerate(AOI_WARMUP)]]
    for r in range(SPEC["rounds"]["aoi_mosaic"]):
        rounds.append([aoi(f"aoi-{r}-{k}", *spec) for k, spec in enumerate(AOI_ROUND)])
    out["aoi_mosaic"] = rounds

    rng = np.random.default_rng([seed, 4])
    hx, hy = lay["hot"]
    s = SPEC

    def pair(rid, w, h, dx, dy, hot):
        if hot:
            # place the pair so both regions hold the hot cell
            lo_x = max(s["x0"], s["x0"] - dx, hx - w + 1, hx - w + 1 - dx)
            hi_x = min(s["x0"] + s["w"] - w, s["x0"] + s["w"] - w - dx, hx, hx - dx)
            lo_y = max(s["y0"], s["y0"] - dy, hy - h + 1, hy - h + 1 - dy)
            hi_y = min(s["y0"] + s["h"] - h, s["y0"] + s["h"] - h - dy, hy, hy - dy)
            ax = int(rng.integers(lo_x, hi_x + 1))
            ay = int(rng.integers(lo_y, hi_y + 1))
        else:
            # anywhere in the main region, clear of the hot cell
            while True:
                ax = s["x0"] + int(rng.integers(max(0, -dx), s["w"] - w - max(0, dx) + 1))
                ay = s["y0"] + int(rng.integers(max(0, -dy), s["h"] - h - max(0, dy) + 1))
                if not any(bx <= hx < bx + w and by <= hy < by + h
                           for bx, by in ((ax, ay), (ax + dx, ay + dy))):
                    break
        out = []
        for j, (bx, by) in enumerate(((ax, ay), (ax + dx, ay + dy))):
            polys, box = _rect(rng, w, h, z, anchor=(bx, by))
            out.append({"id": f"{rid}-{j}", "polygons": polys, "box": box, "resume": j == 1})
        return out

    rounds = []
    for r in range(1 + SPEC["rounds"]["fetch_export"]):
        rnd = []
        for k, ((w, h), (dx, dy)) in enumerate(FETCH_ROUND):
            rnd += pair(f"fetch-{r - 1 if r else 'w'}-{k}", w, h, dx, dy, k == 1)
        rounds.append(rnd)
    out["fetch_export"] = rounds
    return out


def _commit(tmp: str, final: str, meta: dict):
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, final)


def _fresh(final: str, force: bool) -> str | None:
    """A temporary directory to build ``final`` in, or None if it is cached."""
    if os.path.exists(os.path.join(final, "DONE")) and not force:
        return None
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def build(seed: int, force: bool = False) -> str:
    """Make (or reuse) the inputs for ``seed``; returns their directory.

    The image table is shared by the seeds with the same ``seed %
    TABLE_VARIANTS``; the requests are the seed's own."""
    tseed = seed % TABLE_VARIANTS
    lay = layout(tseed)
    tdir = table_dir(tseed)
    tmp = _fresh(tdir, force)
    if tmp:
        manifest = write_table(tseed, lay, os.path.join(tmp, "images"))
        _commit(tmp, tdir, {
            "table_seed": tseed, "spec": SPEC, "spec_hash": spec_hash(),
            "hot": list(lay["hot"]),
            "gaps": sorted(list(g) for g in lay["gaps"]),
            "kinds": {f"{x}_{y}": k for (x, y), k in lay["kinds"].items()},
            "images": manifest,
        })
    final = cache_dir(seed)
    tmp = _fresh(final, force)
    if tmp:
        os.makedirs(os.path.join(tmp, "aoi"))
        _commit(tmp, final, {"seed": seed, "table": os.path.relpath(tdir, final),
                             "requests": requests(seed, lay, tmp)})
    return final


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--force", action="store_true", help="rebuild even if cached")
    a = p.parse_args(argv)
    d = build(a.seed, force=a.force)
    with open(os.path.join(d, "inputs.json")) as f:
        table = os.path.normpath(os.path.join(d, json.load(f)["table"]))
    with open(os.path.join(table, "inputs.json")) as f:
        images = json.load(f)["images"]
    mb = sum(m[6] for m in images) / 1e6
    print(f"{d}: requests; {table}: {len(images)} images, {mb:.1f} MB of payload")
    return 0


if __name__ == "__main__":
    sys.exit(main())
