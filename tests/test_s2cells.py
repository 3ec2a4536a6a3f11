"""S2-format cell ids: python-reference parity, id-algebra properties
(level/parent/range), face coverage, edge points, NULLs, and the
containment-range join the addressing exists for."""

import math
import random

import pytest
from pyspark.sql import functions as F

from tilegrab_spark.functions.s2cells import (
    S2_MAX_LEVEL,
    s2_cell_col,
    s2_level_col,
    s2_parent_col,
    s2_range_cols,
)

# -- sequential reference (public S2 recipe, same deviations as the
# module: Lmax=28, face at bits 57-59, fixed Hilbert orientation) -----


def _xy2d(z, x, y):
    n = 1 << z
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _ref_cell(lon, lat, level):
    p, t = math.radians(lat), math.radians(lon)
    x, y, z = math.cos(p) * math.cos(t), math.cos(p) * math.sin(t), math.sin(p)
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax >= ay and ax >= az:
        face = 0 if x > 0 else 3
        u, v = (y / x, z / x) if face == 0 else (z / x, y / x)
    elif ay >= ax and ay >= az:
        face = 1 if y > 0 else 4
        u, v = (-x / y, z / y) if face == 1 else (z / y, -x / y)
    else:
        face = 2 if z > 0 else 5
        u, v = (-x / z, -y / z) if face == 2 else (-y / z, -x / z)

    def st(w):
        return 0.5 * math.sqrt(1 + 3 * w) if w >= 0 else 1 - 0.5 * math.sqrt(1 - 3 * w)

    n = 1 << level
    i = min(n - 1, max(0, int(st(u) * n)))
    j = min(n - 1, max(0, int(st(v) * n)))
    shift = 2 * (S2_MAX_LEVEL - level)
    return (
        (face << (2 * S2_MAX_LEVEL + 1))
        | (_xy2d(level, i, j) << (shift + 1))
        | (1 << shift)
    )


def _ref_parent(cid, levels=1):
    lsb = (cid & -cid) << (2 * levels)
    return (cid & ~(lsb - 1)) | lsb


def test_matches_reference_random_and_edges(spark):
    random.seed(11)
    pts = [
        (random.uniform(-180, 180), random.uniform(-90, 90), random.randint(1, 28))
        for _ in range(2500)
    ]
    pts += [
        (0.0, 0.0, 10), (90.0, 0.0, 10), (0.0, 90.0, 10), (180.0, 0.0, 10),
        (-180.0, 0.0, 10), (-90.0, 0.0, 10), (0.0, -90.0, 10),
        (179.999999, 0.000001, 24), (-0.000001, -89.999999, 24),
    ]
    by_level = {}
    for lon, lat, lvl in pts:
        by_level.setdefault(lvl, []).append((lon, lat))
    for lvl, pp in by_level.items():
        df = spark.createDataFrame(pp, "lon double, lat double")
        got = df.select(
            "lon", "lat", s2_cell_col(F.col("lon"), F.col("lat"), lvl).alias("c")
        ).collect()
        for r in got:
            assert r.c == _ref_cell(r.lon, r.lat, lvl), (r.lon, r.lat, lvl)
            assert r.c > 0


def test_face_coverage_and_null(spark):
    axis = [(0.0, 0.0), (90.0, 0.0), (0.0, 90.0), (180.0, 0.0), (-90.0, 0.0), (0.0, -90.0)]
    df = spark.createDataFrame(axis, "lon double, lat double")
    faces = {
        r.c >> (2 * S2_MAX_LEVEL + 1)
        for r in df.select(s2_cell_col(F.col("lon"), F.col("lat"), 5).alias("c")).collect()
    }
    assert faces == {0, 1, 2, 3, 4, 5}
    nulls = spark.createDataFrame(
        [(None, 1.0), (2.0, None)], "lon double, lat double"
    ).select(s2_cell_col(F.col("lon"), F.col("lat"), 8).alias("c")).collect()
    assert [r.c for r in nulls] == [None, None]


def test_level_parent_range_algebra(spark):
    random.seed(13)
    pts = [(random.uniform(-180, 180), random.uniform(-90, 90)) for _ in range(400)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    lo, hi = s2_range_cols(s2_parent_col(F.col("c16"), 3))
    got = (
        df.select(
            "lon", "lat",
            s2_cell_col(F.col("lon"), F.col("lat"), 16).alias("c16"),
            s2_cell_col(F.col("lon"), F.col("lat"), 13).alias("c13"),
        )
        .select(
            "*",
            s2_level_col(F.col("c16")).alias("lvl"),
            s2_parent_col(F.col("c16"), 3).alias("par"),
            lo.alias("lo"),
            hi.alias("hi"),
        )
        .collect()
    )
    for r in got:
        assert r.lvl == 16
        # hierarchy: parent-by-bit-math == re-encode at the parent level
        assert r.par == r.c13 == _ref_parent(r.c16, 3)
        # containment: the child id falls in the parent's range
        assert r.lo <= r.c16 <= r.hi
        assert r.lo <= r.par <= r.hi
    # too-shallow parent nulls out
    shallow = spark.createDataFrame([(10.0, 10.0)], "lon double, lat double").select(
        s2_parent_col(s2_cell_col(F.col("lon"), F.col("lat"), 2), 2).alias("p2"),
        s2_parent_col(s2_cell_col(F.col("lon"), F.col("lat"), 2), 1).alias("p1"),
    ).collect()[0]
    assert shallow.p2 is None and shallow.p1 is not None


def test_containment_range_join(spark):
    """The point of the addressing: points-in-region as one BETWEEN
    predicate over cell ids, exact vs a python recompute."""
    random.seed(17)
    pts = [(i, random.uniform(-30, 30), random.uniform(-30, 30)) for i in range(1500)]
    df = spark.createDataFrame(pts, "pid long, lon double, lat double").withColumn(
        "cell", s2_cell_col(F.col("lon"), F.col("lat"), 18)
    )
    # region = the level-10 ancestor of one chosen point
    region = _ref_parent(_ref_cell(*pts[7][1:], 18), 8)
    lsb = region & -region
    lo, hi = region - (lsb - 1), region + (lsb - 1)
    got = {r.pid for r in df.filter(F.col("cell").between(lo, hi)).collect()}
    want = {
        pid for pid, lon, lat in pts
        if lo <= _ref_cell(lon, lat, 18) <= hi
    }
    assert got == want and pts[7][0] in got


def test_validation(spark):
    with pytest.raises(ValueError, match="level"):
        s2_cell_col(F.lit(0.0), F.lit(0.0), 0)
    with pytest.raises(ValueError, match="level"):
        s2_cell_col(F.lit(0.0), F.lit(0.0), 29)
    with pytest.raises(ValueError, match="levels"):
        s2_parent_col(F.lit(1), 0)


# ---------------------------------------------------------------------------
# Region coverer
# ---------------------------------------------------------------------------

from tilegrab_spark.functions.s2cells import s2_bbox_predicate, s2_ranges_for_bbox


def _in_ranges(cid, ranges):
    return any(lo <= cid <= hi for lo, hi in ranges)


def test_cover_never_loses_inside_points():
    """The never-loss property: every point inside the bbox encodes to
    a cell id inside some cover range — random bboxes incl. the
    antimeridian crossing and a polar cap."""
    random.seed(23)
    boxes = [(-10.0, 40.0, 20.0, 55.0), (170.0, -20.0, -170.0, 10.0),
             (-180.0, 80.0, 180.0, 90.0), (-1.0, -1.0, 1.0, 1.0)]
    for _ in range(8):
        lo0, lo1 = sorted(random.uniform(-180, 180) for _ in range(2))
        la0, la1 = sorted(random.uniform(-90, 90) for _ in range(2))
        boxes.append((lo0, la0, lo1, la1))
    for lon0, lat0, lon1, lat1 in boxes:
        ranges = s2_ranges_for_bbox(lon0, lat0, lon1, lat1, max_level=8)
        assert ranges and all(lo <= hi for lo, hi in ranges)
        assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
        for _ in range(400):
            if lon0 <= lon1:
                lon = random.uniform(lon0, lon1)
            else:  # antimeridian wrap
                span = (180 - lon0) + (lon1 + 180)
                t = random.uniform(0, span)
                lon = lon0 + t if t <= 180 - lon0 else -180 + (t - (180 - lon0))
            lat = random.uniform(lat0, lat1)
            cid = _ref_cell(lon, lat, 18)
            assert _in_ranges(cid, ranges), (lon, lat, lon0, lat0, lon1, lat1)


def test_cover_excludes_far_outside_and_caps_ranges():
    ranges = s2_ranges_for_bbox(-10.0, 40.0, 20.0, 55.0, max_level=10, max_ranges=24)
    assert len(ranges) <= 24
    random.seed(29)
    out = 0
    for _ in range(500):
        # antipodal region — must be fully excluded
        lon, lat = random.uniform(150, 179), random.uniform(-60, -40)
        if _in_ranges(_ref_cell(lon, lat, 18), ranges):
            out += 1
    assert out == 0


def _stored_cells(spark, pts):
    """(pid, lon, lat, cell) with the level-18 cells computed once and
    stored, as in an s2-clustered table. Over a column computed in the
    same plan, the optimizer inlines the whole cell expression into
    every BETWEEN bound of a range predicate."""
    return (
        spark.createDataFrame(pts, "pid long, lon double, lat double")
        .withColumn("cell", s2_cell_col(F.col("lon"), F.col("lat"), 18))
        .localCheckpoint()
    )


def test_cover_predicate_matches_python_membership(spark):
    random.seed(31)
    pts = [(i, random.uniform(-40, 40), random.uniform(20, 70)) for i in range(2000)]
    df = _stored_cells(spark, pts)
    box = (-10.0, 40.0, 20.0, 55.0)
    ranges = s2_ranges_for_bbox(*box, max_level=10)
    got = {
        r.pid
        for r in df.filter(
            s2_bbox_predicate(F.col("cell"), *box, max_level=10)
        ).collect()
    }
    want = {pid for pid, lon, lat in pts if _in_ranges(_ref_cell(lon, lat, 18), ranges)}
    assert got == want
    # every truly-inside point is selected (cover may add a fringe)
    inside = {pid for pid, lon, lat in pts
              if box[0] <= lon <= box[2] and box[1] <= lat <= box[3]}
    assert inside <= got
    # empty-bbox degenerate: predicate still valid
    nothing = s2_ranges_for_bbox(10.0, 10.0, 10.0, 10.0, max_level=6)
    assert nothing  # a point bbox still covers its containing cells


def test_cover_validation():
    with pytest.raises(ValueError, match="lat0"):
        s2_ranges_for_bbox(0.0, 50.0, 10.0, 40.0)
    with pytest.raises(ValueError, match="max_level"):
        s2_ranges_for_bbox(0.0, 0.0, 1.0, 1.0, max_level=99)


def test_nan_coordinates_null_out(spark):
    """NaN lon/lat must behave like NULL — not silently key to the
    face-5 corner cell (every NaN comparison is false in the
    face/grid when-chains)."""
    df = spark.createDataFrame(
        [(float("nan"), 10.0), (10.0, float("nan")), (10.0, 10.0)],
        "lon double, lat double",
    ).select(s2_cell_col(F.col("lon"), F.col("lat"), 8).alias("c"))
    vals = [r.c for r in df.collect()]
    assert vals[0] is None and vals[1] is None and vals[2] is not None


# ---------------------------------------------------------------------------
# Cap coverer
# ---------------------------------------------------------------------------

from tilegrab_spark.functions.s2cells import s2_cap_predicate, s2_ranges_for_cap

_R = 6371008.8


def _haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl = math.radians(lon2 - lon1)
    a = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * _R * math.asin(math.sqrt(a))


def test_cap_cos_extremes_brute_parity():
    from tilegrab_spark.functions.s2cells import _cap_cos_extremes, _FACE_XYZ

    random.seed(37)
    for _ in range(300):
        face = random.randrange(6)
        u0, u1 = sorted(random.uniform(-1, 1) for _ in range(2))
        v0, v1 = sorted(random.uniform(-1, 1) for _ in range(2))
        if u1 - u0 < 1e-6 or v1 - v0 < 1e-6:
            continue
        lam, phi = random.uniform(-math.pi, math.pi), random.uniform(-math.pi / 2, math.pi / 2)
        c = (math.cos(phi) * math.cos(lam), math.cos(phi) * math.sin(lam), math.sin(phi))
        gmin, gmax = _cap_cos_extremes(face, c, u0, u1, v0, v1)
        n = 40
        for iu in range(n + 1):
            for iv in range(n + 1):
                u = u0 + (u1 - u0) * iu / n
                v = v0 + (v1 - v0) * iv / n
                P = _FACE_XYZ[face](u, v)
                g = sum(a * b for a, b in zip(c, P)) / math.sqrt(sum(x * x for x in P))
                assert gmin - 1e-9 <= g <= gmax + 1e-9


def test_cap_never_loses_inside_points():
    """Never-loss at the equator, mid-latitude, a polar cap, and an
    antimeridian-straddling center — the situations planar blocking
    needs special cases for."""
    random.seed(41)
    caps = [(0.0, 0.0, 500_000.0), (5.0, 47.0, 300_000.0),
            (30.0, 89.0, 400_000.0), (179.5, -10.0, 250_000.0)]
    for clon, clat, rad in caps:
        ranges = s2_ranges_for_cap(clon, clat, rad, max_level=10)
        assert ranges
        hit = 0
        for _ in range(1200):
            lon = random.uniform(-180, 180)
            lat = random.uniform(-90, 90)
            if _haversine_m(clon, clat, lon, lat) <= rad:
                hit += 1
                cid = _ref_cell(lon, lat, 18)
                assert _in_ranges(cid, ranges), (clon, clat, rad, lon, lat)
        # antipodal exclusion: far points mostly outside the cover
        alon = (clon + 360.0) % 360.0 - 180.0  # clon + 180, normalized
        assert not _in_ranges(_ref_cell(alon, -clat, 18), ranges)


def test_cap_predicate_and_validation(spark):
    random.seed(43)
    pts = [(i, random.uniform(-20, 30), random.uniform(30, 65)) for i in range(1500)]
    df = _stored_cells(spark, pts)
    clon, clat, rad = 5.0, 47.0, 400_000.0
    got = {
        r.pid
        for r in df.filter(
            s2_cap_predicate(F.col("cell"), clon, clat, rad, max_level=10)
        ).collect()
    }
    inside = {
        pid for pid, lon, lat in pts if _haversine_m(clon, clat, lon, lat) <= rad
    }
    assert inside <= got  # cover may add a fringe, never loses
    # whole-sphere cap covers everything
    whole = s2_ranges_for_cap(0.0, 0.0, 2.2e7)
    assert all(_in_ranges(_ref_cell(lon, lat, 18), whole) for _, lon, lat in pts[:50])
    with pytest.raises(ValueError, match="radius_m"):
        s2_ranges_for_cap(0.0, 0.0, -1.0)
