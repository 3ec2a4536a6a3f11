"""Geodesic measures: exact closed-form box oracle, orientation signs
matched to polygonize's convention, hole subtraction, perimeter, and a
rasterize→polygonize→geodesic roundtrip against per-pixel ground area."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilegrab_spark.kernels.geo import WGS84_RADIUS
from tilegrab_spark.operators.geodesy import geodesic_measures, region_geodesic_areas

R = WGS84_RADIUS


def _px_of_lonlat(lon, lat, z, tp=256):
    n = (1 << z) * tp
    gx = (lon / 360.0 + 0.5) * n
    s = math.sin(math.radians(lat))
    gy = (0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * n
    return gx, gy


def _ring_df(spark, z, rings):
    """rings: list of (region_id, ring_idx, xs, ys)."""
    rows = [
        (rid, z, 1, ridx, list(map(int, xs)), list(map(int, ys)))
        for rid, ridx, xs, ys in rings
    ]
    return spark.createDataFrame(
        rows,
        "region_id long, z int, label int, ring_idx int, xs array<long>, ys array<long>",
    )


def _box_ring(z, lon1, lon2, lat1, lat2, tp=256):
    """Closed pixel ring of a lon/lat box; pixel coords must land on
    integers for the frame — choose zoom/latitudes that do (we verify
    the round-trip instead of assuming)."""
    x1, y_s = _px_of_lonlat(lon1, lat1, z, tp)
    x2, y_n = _px_of_lonlat(lon2, lat2, z, tp)
    xs = [x1, x2, x2, x1, x1]
    ys = [y_s, y_s, y_n, y_n, y_s]
    assert all(abs(v - round(v)) < 1e-6 for v in xs + ys), "box must be on pixel grid"
    return [int(round(v)) for v in xs], [int(round(v)) for v in ys]


def _exact_box_area(lon1, lon2, lat1, lat2):
    dlam = math.radians(lon2 - lon1)
    return R * R * dlam * (math.sin(math.radians(lat2)) - math.sin(math.radians(lat1)))


class TestBoxOracle:
    def test_equator_box_area_exact(self, spark):
        # z=7, tp=256: n_px = 32768; lon 0..360 maps a pixel per 360/32768 deg.
        # pick pixel-aligned lons; lats from pixel rows (exact by construction)
        z, tp = 7, 256
        n = (1 << z) * tp
        gx1, gx2 = n // 2, n // 2 + 400          # lon 0 .. 400*360/n
        gy_n, gy_s = n // 2 - 300, n // 2 + 100  # straddles the equator
        def lat_of(gy):
            return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * gy / n))))
        def lon_of(gx):
            return (gx / n - 0.5) * 360.0
        xs = [gx1, gx2, gx2, gx1, gx1][::-1]
        ys = [gy_s, gy_s, gy_n, gy_n, gy_s][::-1]
        df = _ring_df(spark, z, [(1, 0, xs, ys)])
        got = geodesic_measures(df, tile_px=tp).collect()[0]
        want = _exact_box_area(lon_of(gx1), lon_of(gx2), lat_of(gy_s), lat_of(gy_n))
        assert got.area_m2 == pytest.approx(want, rel=1e-12)
        # this vertex order has POSITIVE pixel shoelace (y-down exterior
        # convention from polygonize) -> positive geodesic area
        sh = sum(
            xs[i] * ys[i + 1] - xs[i + 1] * ys[i] for i in range(4)
        )
        assert sh > 0 and got.area_m2 > 0

    def test_high_latitude_box_vs_mercator_inflation(self, spark):
        # at ~60N the Mercator pixel area overstates by ~1/cos^2 = 4x;
        # geodesic area must match the exact sphere value instead
        z, tp = 7, 256
        n = (1 << z) * tp
        def lat_of(gy):
            return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * gy / n))))
        gy_n = int(n * 0.30)   # ~62.8N
        gy_s = gy_n + 200
        gx1, gx2 = n // 2, n // 2 + 200
        xs = [gx1, gx2, gx2, gx1, gx1][::-1]
        ys = [gy_s, gy_s, gy_n, gy_n, gy_s][::-1]
        df = _ring_df(spark, z, [(1, 0, xs, ys)])
        got = geodesic_measures(df, tile_px=tp).collect()[0]
        lon1, lon2 = (gx1 / n - 0.5) * 360.0, (gx2 / n - 0.5) * 360.0
        want = _exact_box_area(lon1, lon2, lat_of(gy_s), lat_of(gy_n))
        assert got.area_m2 == pytest.approx(want, rel=1e-12)
        # sanity: Mercator pixel area at this latitude inflates >3x
        merc_px_m = 2 * math.pi * R / n
        merc_area = 200 * 200 * merc_px_m * merc_px_m
        assert merc_area / want > 3.0

    def test_hole_subtracts(self, spark):
        z, tp = 7, 256
        n = (1 << z) * tp
        e = n // 2
        xs_o = [e, e + 400, e + 400, e, e][::-1]
        ys_o = [e + 200, e + 200, e - 200, e - 200, e + 200][::-1]
        # hole: reversed orientation (negative pixel shoelace)
        xs_h = [e + 100, e + 100, e + 300, e + 300, e + 100][::-1]
        ys_h = [e + 100, e - 100, e - 100, e + 100, e + 100][::-1]
        df = _ring_df(spark, z, [(1, 0, xs_o, ys_o), (1, 1, xs_h, ys_h)])
        m = geodesic_measures(df, tile_px=tp)
        rows = {r.ring_idx: r for r in m.collect()}
        assert rows[0].area_m2 > 0 and rows[1].area_m2 < 0
        reg = region_geodesic_areas(df, tile_px=tp).collect()[0]
        assert reg.area_m2 == pytest.approx(
            rows[0].area_m2 + rows[1].area_m2, rel=1e-12
        )
        assert reg.n_rings == 2
        # both perimeters positive and additive
        assert rows[0].perimeter_m > 0 and rows[1].perimeter_m > 0
        assert reg.perimeter_m == pytest.approx(
            rows[0].perimeter_m + rows[1].perimeter_m, rel=1e-12
        )

    def test_equator_perimeter_haversine(self, spark):
        # a degenerate 2-point "ring" along the equator: gy = n/2 is
        # exactly lat 0; length = R * dlam each way
        z, tp = 7, 256
        n = (1 << z) * tp
        xs = [n // 2, n // 2 + 100, n // 2]
        ys = [n // 2, n // 2, n // 2]
        df = _ring_df(spark, z, [(1, 0, xs, ys)])
        got = geodesic_measures(df, tile_px=tp).collect()[0]
        dlam = 100 / n * 2 * math.pi
        assert got.perimeter_m == pytest.approx(2 * R * dlam, rel=1e-12)
        assert got.area_m2 == pytest.approx(0.0, abs=1e-3)


def test_polygonize_roundtrip_ground_area(spark):
    """rasterize a box -> polygonize -> geodesic area ~= sum of
    per-pixel ground areas (exact per-row integral, < 0.5% here)."""
    from tilegrab_spark.operators.polygonize import polygonize
    from tilegrab_spark.operators.dedup import release_signature_caches
    from tilegrab_spark.kernels.png import encode_png

    z, tp = 7, 32
    n = (1 << z) * tp
    # a 40x24 px solid block inside one tile at mid-latitude
    tx, ty = 64, 40
    lab = np.zeros((tp, tp), dtype=np.uint8)
    lab[4:28, 8:28] = 7
    img = encode_png(np.repeat(lab[:, :, None], 3, axis=2))
    images = spark.createDataFrame(
        [(z, tx, ty, bytearray(img), tp, tp, "png")],
        "z int, x long, y long, bytes binary, w int, h int, fmt string",
    )
    rings = polygonize(images, zoom=z).filter(F.col("label") == 7)
    reg = region_geodesic_areas(rings, tile_px=tp).collect()
    release_signature_caches()
    assert len(reg) == 1
    got = reg[0].area_m2
    # exact: block spans pixel rows gy0..gy1 -> area = dlam_block * R^2 *
    # (sin(lat(gy0)) - sin(lat(gy1)))
    gy0, gy1 = ty * tp + 4, ty * tp + 28
    gx0, gx1 = tx * tp + 8, tx * tp + 28
    dlam = (gx1 - gx0) / n * 2 * math.pi
    def lat_of(gy):
        return math.atan(math.sinh(math.pi * (1 - 2 * gy / n)))
    want = R * R * dlam * (math.sin(lat_of(gy0)) - math.sin(lat_of(gy1)))
    assert got == pytest.approx(want, rel=1e-9)


def test_validation(spark):
    df = _ring_df(spark, 7, [(1, 0, [0, 1, 0], [0, 0, 0])])
    with pytest.raises(ValueError):
        geodesic_measures(df, tile_px=0)
    with pytest.raises(ValueError):
        geodesic_measures(df, radius=-1.0)


# ---- property tests (hypothesis): scalar CD parity, orientation ----

from hypothesis import example, given, settings
from hypothesis import strategies as st


def _scalar_cd(xs, ys, z, tp=256):
    """Independent scalar Chamberlain-Duquette + haversine."""
    n_px = (1 << z) * tp
    lam = [(x / n_px - 0.5) * 2 * math.pi for x in xs]
    phi = [2 * math.atan(math.exp(math.pi * (1 - 2 * y / n_px))) - math.pi / 2 for y in ys]
    s = 0.0
    per = 0.0
    for i in range(1, len(xs)):
        s += (lam[i] - lam[i - 1]) * (2 + (math.sin(phi[i - 1]) + math.sin(phi[i])))
        a = (
            math.sin((phi[i] - phi[i - 1]) / 2) ** 2
            + math.cos(phi[i - 1]) * math.cos(phi[i]) * math.sin((lam[i] - lam[i - 1]) / 2) ** 2
        )
        per += 2 * math.asin(math.sqrt(min(1.0, a)))
    return R * R / 2 * s, R * per


@st.composite
def _rings(draw):
    z = draw(st.integers(min_value=4, max_value=10))
    n_px = (1 << z) * 256
    k = draw(st.integers(min_value=3, max_value=8))
    lo, hi = int(n_px * 0.2), int(n_px * 0.8)
    pts = [
        (draw(st.integers(lo, hi)), draw(st.integers(lo, hi))) for _ in range(k)
    ]
    pts.append(pts[0])  # close
    return z, [p[0] for p in pts], [p[1] for p in pts]


@settings(max_examples=30, deadline=None)
@given(_rings())
# hypothesis-found: a zero-area there-and-back ring; with the edge term
# summed as 2 + (sin + sin) both sides cancel it to exactly 0.0
@example(ring=(5, [1638, 2395, 2395, 1638], [1852, 2651, 2651, 1852]))
def test_property_matches_scalar_cd(spark, ring):
    z, xs, ys = ring
    df = _ring_df(spark, z, [(1, 0, xs, ys)])
    got = geodesic_measures(df).collect()[0]
    want_a, want_p = _scalar_cd(xs, ys, z)
    assert got.area_m2 == pytest.approx(want_a, rel=1e-9, abs=1e-3)
    assert got.perimeter_m == pytest.approx(want_p, rel=1e-9, abs=1e-6)


@settings(max_examples=15, deadline=None)
@given(_rings())
def test_property_reversal_flips_area_keeps_perimeter(spark, ring):
    z, xs, ys = ring
    df = _ring_df(spark, z, [(1, 0, xs, ys), (2, 0, xs[::-1], ys[::-1])])
    rows = {r.region_id: r for r in geodesic_measures(df).collect()}
    # abs floor 1e-3 m² matches the scalar-CD parity test above: a
    # degenerate sliver (repeated vertex, zero-width spike) has true
    # area 0 and both orientations return accumulation noise ~1e-6 m²
    # that need not anti-commute (hypothesis-found: z=8 ring
    # [13107,13107,13108,13107]x[13107,13107,14410,13107])
    assert rows[1].area_m2 == pytest.approx(-rows[2].area_m2, rel=1e-12, abs=1e-3)
    assert rows[1].perimeter_m == pytest.approx(rows[2].perimeter_m, rel=1e-12)
