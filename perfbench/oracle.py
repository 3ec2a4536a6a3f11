"""Independent oracle for the request-level benchmark.

Nothing here imports the engine. It carries its own Web-Mercator tile
math, its own exact box-polygon intersection test, its own PNG decoder
(stdlib ``zlib`` plus scanline unfiltering) and its own assembly of
expected canvases from the pixels the generator made.

``python3 perfbench/oracle.py`` runs the self-test against the golden
values recorded in FIXTURES.md section 4.2-4.4 and exits non-zero on a
mismatch.
"""

from __future__ import annotations

import math
import struct
import sys
import zlib

import numpy as np

WEB_MERCATOR_EXTENT = 20037508.342789244
TILE = 256


# ---------------------------------------------------------------------------
# Web-Mercator tile math
# ---------------------------------------------------------------------------

def lonlat_to_tile_xy(lon: float, lat: float, z: int) -> tuple[float, float]:
    """Fractional slippy-map tile coordinates of a lon/lat point."""
    n = 2.0 ** z
    tx = (lon + 180.0) / 360.0 * n
    ty = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n
    return tx, ty


def tile_bounds(x: int, y: int, z: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of tile (x, y) at zoom z."""
    n = 2.0 ** z

    def lat(ty):
        return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / n))))

    return x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y)


def mercator_bounds(tminx, tminy, tmaxx, tmaxy, z) -> tuple[float, float, float, float]:
    """EPSG:3857 (xmin, ymin, xmax, ymax) of a tile-index extent."""
    size = 2.0 * WEB_MERCATOR_EXTENT / 2.0 ** z
    return (tminx * size - WEB_MERCATOR_EXTENT,
            WEB_MERCATOR_EXTENT - (tmaxy + 1) * size,
            (tmaxx + 1) * size - WEB_MERCATOR_EXTENT,
            WEB_MERCATOR_EXTENT - tminy * size)


def bbox_cells(polygons, z) -> list[tuple[int, int]]:
    """All tiles of the polygons' lon/lat bounding box, x-major order."""
    lons = [p[0] for ring in polygons for p in ring]
    lats = [p[1] for ring in polygons for p in ring]
    x0, y0 = lonlat_to_tile_xy(min(lons), max(lats), z)
    x1, y1 = lonlat_to_tile_xy(max(lons), min(lats), z)
    return [(x, y) for x in range(int(x0), int(x1) + 1) for y in range(int(y0), int(y1) + 1)]


# ---------------------------------------------------------------------------
# exact box-polygon intersection (lon/lat space)
# ---------------------------------------------------------------------------

def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_segment(ax, ay, bx, by, px, py) -> bool:
    return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)


def segments_intersect(a, b, c, d) -> bool:
    """Closed segments ab and cd share a point."""
    o1 = _orient(*a, *b, *c)
    o2 = _orient(*a, *b, *d)
    o3 = _orient(*c, *d, *a)
    o4 = _orient(*c, *d, *b)
    if ((o1 > 0 and o2 < 0) or (o1 < 0 and o2 > 0)) and \
            ((o3 > 0 and o4 < 0) or (o3 < 0 and o4 > 0)):
        return True
    return ((o1 == 0 and _on_segment(*a, *b, *c)) or (o2 == 0 and _on_segment(*a, *b, *d))
            or (o3 == 0 and _on_segment(*c, *d, *a)) or (o4 == 0 and _on_segment(*c, *d, *b)))


def point_in_ring(px, py, ring) -> bool:
    """Even-odd rule; ``ring`` is closed (first point repeated last)."""
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > py) != (by > py):
            xc = ax + (py - ay) * (bx - ax) / (by - ay)
            if px < xc:
                inside = not inside
    return inside


def box_intersects_ring(box, ring) -> bool:
    """Closed lon/lat box (w, s, e, n) and the closed polygon bounded by
    ``ring`` share a point."""
    w, s, e, n = box
    if any(w <= px <= e and s <= py <= n for px, py in ring):
        return True
    corners = [(w, s), (e, s), (e, n), (w, n)]
    if any(point_in_ring(cx, cy, ring) for cx, cy in corners):
        return True
    edges = list(zip(corners, corners[1:] + corners[:1]))
    return any(segments_intersect(a, b, c, d)
               for a, b in zip(ring[:-1], ring[1:]) for c, d in edges)


def select_tiles(polygons, z, by="shape", invert=False, limit=250) -> list[tuple[int, int]]:
    """Tiles a request selects: the bbox set, or the tiles whose box meets
    any polygon part (``invert``: the bbox set minus those), in x-major
    order, truncated to ``limit``."""
    cells = bbox_cells(polygons, z)
    if by == "shape":
        hit = {c for c in cells
               if any(box_intersects_ring(tile_bounds(c[0], c[1], z), r) for r in polygons)}
        cells = [c for c in cells if (c in hit) != invert]
    cells.sort()
    return cells if limit is None else cells[:limit]


# ---------------------------------------------------------------------------
# PNG decoding
# ---------------------------------------------------------------------------

def _paeth_row(cur, prev, bpp):
    out = np.zeros_like(cur)
    for i in range(len(cur)):
        a = int(out[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        c = int(prev[i - bpp]) if i >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (int(cur[i]) + pred) & 0xFF
    return out


def decode_png(data: bytes) -> np.ndarray:
    """8-bit RGB/RGBA non-interlaced PNG -> (H, W, 3) uint8."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, [], None
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != struct.unpack_from(">I", data, pos + 8 + length)[0]:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    w, h, depth, ctype, _, _, interlace = ihdr
    if depth != 8 or ctype not in (2, 6) or interlace:
        raise ValueError(f"unsupported PNG layout {ihdr}")
    bpp = 3 if ctype == 2 else 4
    stride = w * bpp
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8).reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:]
    if (filters == 2).all():
        out = np.cumsum(rows, axis=0, dtype=np.uint8)
    else:
        out = np.zeros((h, stride), np.uint8)
        prev = np.zeros(stride, np.uint8)
        for r in range(h):
            cur, f = rows[r], filters[r]
            if f == 0:
                row = cur.copy()
            elif f == 1:
                row = np.cumsum(cur.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(-1)
            elif f == 2:
                row = cur + prev
            elif f == 3:
                row = np.zeros(stride, np.uint8)
                for i in range(stride):
                    left = int(row[i - bpp]) if i >= bpp else 0
                    row[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
            elif f == 4:
                row = _paeth_row(cur, prev, bpp)
            else:
                raise ValueError(f"bad filter type {f}")
            out[r] = row
            prev = row
    return out.reshape(h, w, bpp)[:, :, :3]


# ---------------------------------------------------------------------------
# expected canvases
# ---------------------------------------------------------------------------

def canvas(extent, tiles, pixels_of) -> np.ndarray:
    """Expected RGB canvas over tile extent (tminx, tminy, tmaxx, tmaxy):
    each tile in ``tiles`` pasted from ``pixels_of(x, y)`` at its grid
    position, everything else black."""
    tminx, tminy, tmaxx, tmaxy = extent
    out = np.zeros(((tmaxy - tminy + 1) * TILE, (tmaxx - tminx + 1) * TILE, 3), np.uint8)
    for x, y in tiles:
        px, py = (x - tminx) * TILE, (y - tminy) * TILE
        out[py:py + TILE, px:px + TILE] = pixels_of(x, y)
    return out


# ---------------------------------------------------------------------------
# self-test against FIXTURES.md section 4
# ---------------------------------------------------------------------------

# FIXTURES.md 4.1: the T fixture's EPSG:4326 bbox
T_BBOX = (80.59111369868114, 7.253238366601672, 80.60679900129578, 7.267703227740267)
# FIXTURES.md 4.2: counts (bbox, shape, invert) by zoom and the exact sets
T_COUNTS = {12: (2, 2, 0), 14: (4, 3, 1), 15: (9, 5, 4), 16: (16, 7, 9)}
T_BBOX_Z14 = [(11859, 7860), (11859, 7861), (11860, 7860), (11860, 7861)]
T_SHAPE_Z15 = [(23719, 15720), (23720, 15720), (23720, 15721), (23720, 15722), (23721, 15720)]
T_BBOX_Z16 = [(x, y) for x in range(47439, 47443) for y in range(31441, 31445)]
T_SHAPE_Z16 = [(47439, 31441), (47440, 31441), (47440, 31442), (47440, 31443),
               (47440, 31444), (47441, 31441), (47442, 31441)]
# FIXTURES.md 4.3 and 4.4
T_TILE_BOUNDS = ((23712, 16265, 15),
                 (80.5078125, 1.2962761196418153, 80.518798828125, 1.3072596122756706))
T_MERC = (8971261.135774568, 809009.5073703043, 8973707.120679691, 811455.4922754318)
T_PASTE_OFFSETS = [(0, 0), (256, 0), (256, 256), (256, 512), (256, 768), (512, 0), (768, 0)]


def t_surrogate_ring() -> list:
    """A T-shaped ring with the recorded T bbox. The T polygon itself is
    reference test data not kept in this repository; this ring has the
    same bbox, a bar across the top tile row at z=16 and a stem inside
    tile column 47440, which is the letter shape the recorded sets show."""
    w, s, e, n = T_BBOX
    z = 16
    nn = 2.0 ** z

    def lon(tx):
        return tx / nn * 360.0 - 180.0

    def lat(ty):
        return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / nn))))

    bar, sw, se = lat(31441.5), lon(47440.3), lon(47440.7)
    pts = [(w, n), (e, n), (e, bar), (se, bar), (se, s), (sw, s), (sw, bar), (w, bar)]
    return pts + [pts[0]]


def selftest() -> list[str]:
    errs = []

    def check(name, ok):
        if not ok:
            errs.append(name)

    ring = t_surrogate_ring()
    bbox_ring = [(T_BBOX[0], T_BBOX[1]), (T_BBOX[2], T_BBOX[1]), (T_BBOX[2], T_BBOX[3]),
                 (T_BBOX[0], T_BBOX[3]), (T_BBOX[0], T_BBOX[1])]
    for z, (nb, ns, ni) in T_COUNTS.items():
        b = select_tiles([bbox_ring], z, by="bbox")
        s = select_tiles([ring], z)
        i = select_tiles([ring], z, invert=True)
        check(f"z{z} bbox count {len(b)} != {nb}", len(b) == nb)
        check(f"z{z} surrogate shape count {len(s)} != {ns}", len(s) == ns)
        check(f"z{z} surrogate invert count {len(i)} != {ni}", len(i) == ni)
        check(f"z{z} invert != bbox - shape", sorted(set(b) - set(s)) == i)
    check("z14 bbox set", select_tiles([bbox_ring], 14, by="bbox") == T_BBOX_Z14)
    check("z16 bbox set", select_tiles([bbox_ring], 16, by="bbox") == T_BBOX_Z16)
    check("z15 shape set", select_tiles([ring], 15) == T_SHAPE_Z15)
    check("z16 shape set", select_tiles([ring], 16) == T_SHAPE_Z16)
    check("z16 invert set",
          select_tiles([ring], 16, invert=True) == sorted(set(T_BBOX_Z16) - set(T_SHAPE_Z16)))
    (x, y, z), want = T_TILE_BOUNDS
    got = tile_bounds(x, y, z)
    check(f"tile_bounds {got}", all(abs(a - b) <= 1e-12 for a, b in zip(got, want)))
    got = mercator_bounds(47439, 31441, 47442, 31444, 16)
    check(f"mercator bounds {got}", all(abs(a - b) <= 1e-6 for a, b in zip(got, T_MERC)))
    offsets = [((x - 47439) * TILE, (y - 31441) * TILE) for x, y in T_SHAPE_Z16]
    check("paste offsets", offsets == T_PASTE_OFFSETS)

    # PNG decoder: every filter type on a small image round-trips
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    rows = []
    flat = img.reshape(6, 15).astype(np.int64)
    for r in range(6):
        f = r % 5
        cur, prev = flat[r], flat[r - 1] if r else np.zeros(15, np.int64)
        left = np.concatenate([np.zeros(3, np.int64), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, np.int64), prev[:-3]])
        if f == 0:
            pred = np.zeros(15, np.int64)
        elif f == 1:
            pred = left
        elif f == 2:
            pred = prev
        elif f == 3:
            pred = (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
        rows.append(bytes([f]) + bytes(((cur - pred) & 0xFF).astype(np.uint8)))

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"".join(rows))) + chunk(b"IEND", b""))
    check("png filters 0-4 round trip", np.array_equal(decode_png(png), img))
    return errs


def main() -> int:
    errs = selftest()
    for e in errs:
        print("FAIL", e)
    print("oracle self-test:", "FAILED" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
