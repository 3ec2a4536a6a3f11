"""Tile-selection operator parity (F1-F4, J2/J3, L1, set algebra §2.8)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    SF_RING,
    T_BBOX,
    T_BBOX_Z16,
    T_COUNTS,
    T_RING,
    T_SHAPE_Z15,
    T_SHAPE_Z16,
)
from tilegrab_spark.kernels import geo
from tilegrab_spark.operators.tiles import (
    enumerate_tiles,
    enumerate_tiles_for_geoms,
    refine_by_shape,
    tiles_for,
)
from tilegrab_spark.sources.geometries import (
    GeometrySet,
    geometries_df,
    geometry_from_rings,
)


def xyset(df):
    return set((r.x, r.y) for r in df.select("x", "y").collect())


def test_t_ring_reproduces_recorded_sets():
    """The T ring against FIXTURES.md §4.1-4.2: its bbox, every
    (bbox, shape, invert) count by zoom and every recorded set, from the
    numpy kernels alone."""
    assert geometry_from_rings("T", [T_RING]).bbox == T_BBOX
    sets = {}
    for z in T_COUNTS:
        x0, x1, y0, y1 = geo.bbox_tile_range(*T_BBOX, z)
        cells = [(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]
        xs, ys = np.array(cells, dtype=np.int64).T
        hit = geo.boxes_intersect_polygons(*geo.tile_bounds(xs, ys, z), [[np.array(T_RING)]])
        shape = [c for c, h in zip(cells, hit) if h]
        invert = [c for c, h in zip(cells, hit) if not h]
        sets[z] = (cells, shape, invert)
        assert (len(cells), len(shape), len(invert)) == T_COUNTS[z], z
    assert sets[14][0] == [(11859, 7860), (11859, 7861), (11860, 7860), (11860, 7861)]
    assert sets[15][1] == T_SHAPE_Z15
    assert sets[16][0] == T_BBOX_Z16
    assert sets[16][1] == T_SHAPE_Z16
    assert sets[16][2] == sorted(set(T_BBOX_Z16) - set(T_SHAPE_Z16))


def _random_geom(rng, gid, n_polys):
    """``n_polys`` random star-shaped polygons near one point; the first
    may carry a hole."""
    lon0, lat0 = rng.uniform(-150, 150), rng.uniform(-60, 60)
    polys = []
    for _ in range(n_polys):
        cx, cy = lon0 + rng.uniform(-0.06, 0.06), lat0 + rng.uniform(-0.06, 0.06)
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.005, 0.04, k)
        outer = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rings = [outer]
        if not polys and rng.random() < 0.5:
            r = 0.3 * rad.min()
            rings.append(np.array([[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r],
                                   [cx - r, cy + r]]))
        polys.append(rings)
    return GeometrySet(geom_id=gid, polygons=polys)


def test_tiles_for_matches_distributed_refine(spark):
    """Seeded property: the driver selection equals the distributed
    operators' rows ordered by (x, y) and limited — every column, same
    schema — for Polygons and MultiPolygons, both ``invert`` values, with
    and without a buffer, and several ``safe_limit`` values."""
    from functools import reduce

    from pyspark.sql import DataFrame

    rng = np.random.default_rng(20261019)
    cases = [(_random_geom(rng, f"g{i}", n), int(rng.integers(14, 17)))
             for i, n in enumerate((1, 1, 2, 3))]
    geoms = [g for g, _ in cases]
    for invert in (False, True):
        for buffer_m in (0.0, float(rng.uniform(50, 800))):
            # one distributed job per (invert, buffer_m) for all geometries
            ref = refine_by_shape(
                reduce(DataFrame.unionByName,
                       [enumerate_tiles(spark, g, z, buffer_m=buffer_m) for g, z in cases]),
                geoms, invert=invert, buffer_m=buffer_m,
            )
            rows = ref.orderBy("geom_id", "x", "y").collect()
            for geom, zoom in cases:
                want = [r for r in rows if r.geom_id == geom.geom_id]
                for limit in (None, 0, 1, int(rng.integers(2, 40))):
                    got = tiles_for(spark, geom, zoom, invert=invert,
                                    safe_limit=limit, buffer_m=buffer_m)
                    case = (geom.geom_id, zoom, invert, buffer_m, limit)
                    assert got.schema == ref.schema, case
                    assert got.collect() == want[:limit], case


def test_tiles_for_plans_as_a_local_relation(spark, t_geom):
    """No Python evaluation, global sort or range enumeration: the
    selection is already made when the plan is built."""
    for kw in ({}, {"invert": True}, {"by": "bbox", "safe_limit": None},
               {"buffer_m": 300.0, "safe_limit": 5}, {"safe_limit": 0}):
        plan = tiles_for(spark, t_geom, 16, **kw)._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, kw
        for node in ("ArrowEvalPython", "BatchEvalPython", "TakeOrderedAndProject", "Range"):
            assert node not in plan, (kw, node)


def test_derived_columns_match_catalyst_columns_bitwise(spark):
    """The five derived columns, parsed from SQL text, equal the Column
    expressions (``cell_id_col``, ``tile_bounds_cols``) bit for bit at
    every zoom, for a zoom column and for a literal zoom (constant
    folded, as in ``tiles_for``)."""
    from tilegrab_spark.functions.cells import tile_bounds_cols
    from tilegrab_spark.operators.tiles import _with_derived
    from tilegrab_spark.sources.images import cell_id_col

    rng = np.random.default_rng(11)
    rows = []
    for z in range(23):
        n = 1 << z
        rows += [(int(x), int(y), z) for x, y in rng.integers(0, n, size=(200, 2))]
        rows += [(0, 0, z), (n - 1, n - 1, z), (n // 2, n // 2, z)]
    keys = spark.createDataFrame(rows, "x long, y long, z int")
    for z in (1, 16, 22):
        keys = keys.unionByName(
            keys.filter(F.col("z") == z).withColumn("z", F.lit(z)).withColumn("x", F.col("x") + 0)
        )
    mnl, mnt, mxl, mxt = tile_bounds_cols(F.col("x"), F.col("y"), F.col("z"))
    want = keys.withColumns({"cell_id": cell_id_col("z", "x", "y"), "min_lon": mnl,
                             "min_lat": mnt, "max_lon": mxl, "max_lat": mxt})
    got = _with_derived(keys)
    assert got.schema == want.schema
    a, b = got.toPandas(), want.toPandas()
    assert len(a) == len(rows) + sum(1 for r in rows if r[2] in (1, 16, 22))
    for c in ("x", "y", "z", "cell_id"):
        assert (a[c] == b[c]).all(), c
    for c in ("min_lon", "min_lat", "max_lon", "max_lat"):
        assert (a[c].to_numpy().view(np.int64) == b[c].to_numpy().view(np.int64)).all(), c


def test_tiles_for_validates_arguments(spark, t_geom):
    with pytest.raises(ValueError):
        tiles_for(spark, t_geom, 16, by="hull")
    with pytest.raises(ValueError):
        tiles_for(spark, t_geom, 16, safe_limit=-1)
    with pytest.raises(ValueError):
        tiles_for(spark, t_geom, 16, buffer_m=-1.0)


def test_bbox_enumeration_golden(spark, t_geom):
    assert xyset(enumerate_tiles(spark, t_geom, 16)) == set(T_BBOX_Z16)
    assert enumerate_tiles(spark, t_geom, 12).count() == 2
    assert enumerate_tiles(spark, t_geom, 14).count() == 4


def test_shape_refine_golden(spark, t_geom):
    assert xyset(tiles_for(spark, t_geom, 16, by="shape")) == set(T_SHAPE_Z16)
    assert xyset(tiles_for(spark, t_geom, 15, by="shape")) == set(T_SHAPE_Z15)


def test_set_algebra(spark, t_geom):
    # shape ∪ invert = bbox; shape ∩ invert = ∅ (SURVEY.md §2.8)
    bbox = tiles_for(spark, t_geom, 16, by="bbox")
    shape = tiles_for(spark, t_geom, 16, by="shape")
    invert = tiles_for(spark, t_geom, 16, by="shape", invert=True)
    assert xyset(shape) | xyset(invert) == xyset(bbox)
    assert xyset(shape) & xyset(invert) == set()
    # also via relational set ops
    assert bbox.select("x", "y").exceptAll(shape.select("x", "y")).count() == 9
    assert shape.select("x", "y").intersect(invert.select("x", "y")).count() == 0


def test_safe_limit_generation_order(spark, t_geom):
    # truncation keeps the x-major, y-minor prefix (collection.py:56-59,141-143)
    lim = tiles_for(spark, t_geom, 16, by="bbox", safe_limit=5)
    assert sorted(xyset(lim)) == [
        (47439, 31441),
        (47439, 31442),
        (47439, 31443),
        (47439, 31444),
        (47440, 31441),
    ]


def test_sf_polygon(spark, sf_geom):
    # the reference's own unit-test polygon (tests/test_tiles.py:19-21)
    shape = tiles_for(spark, sf_geom, 12, by="shape", safe_limit=None)
    bbox = tiles_for(spark, sf_geom, 12, by="bbox", safe_limit=None)
    assert 0 < shape.count() <= bbox.count()
    # every shape tile's box intersects the ring's bbox
    rows = shape.collect()
    lons = [p[0] for p in SF_RING]
    lats = [p[1] for p in SF_RING]
    for r in rows:
        assert r.max_lon >= min(lons) and r.min_lon <= max(lons)
        assert r.max_lat >= min(lats) and r.min_lat <= max(lats)


def test_multi_geom_enumeration_matches_single(spark, t_geom, sf_geom):
    gdf = geometries_df(spark, [t_geom, sf_geom])
    bboxes = gdf.groupBy("geom_id").agg(
        F.min("minx").alias("minx"),
        F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"),
        F.max("maxy").alias("maxy"),
    )
    multi = enumerate_tiles_for_geoms(bboxes, 14)
    for g in (t_geom, sf_geom):
        single = enumerate_tiles(spark, g, 14)
        got = set(
            (r.x, r.y)
            for r in multi.filter(F.col("geom_id") == g.geom_id).collect()
        )
        assert got == xyset(single), g.geom_id


def test_refine_multiple_geoms_one_pass(spark, t_geom, sf_geom):
    gdf = geometries_df(spark, [t_geom, sf_geom]).groupBy("geom_id").agg(
        F.min("minx").alias("minx"),
        F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"),
        F.max("maxy").alias("maxy"),
    )
    tiles = enumerate_tiles_for_geoms(gdf, 15)
    refined = refine_by_shape(tiles, [t_geom, sf_geom])
    t_tiles = set(
        (r.x, r.y) for r in refined.filter(F.col("geom_id") == "T").collect()
    )
    assert t_tiles == set(T_SHAPE_Z15)


def test_mercator_clamp_and_zero_tiles(spark):
    g = geometry_from_rings(
        "edge", [[(-179.9, 84.0), (-179.9, 88.0), (-178.0, 88.0), (-178.0, 84.0)]]
    )
    t = tiles_for(spark, g, 2, by="bbox", safe_limit=None)
    rows = t.collect()
    # x=0/y=0 accepted (reference Q4 crash); lat clamped to 85.051129
    assert any(r.x == 0 and r.y == 0 for r in rows)


def test_coverage_footprints_geojson(spark, t_geom, image_table):
    """Raster→vector: the footprint MultiPolygon contains exactly the
    present tiles' 4326 bounds (verified ring-by-ring against the golden
    tile set and the geo kernel's bounds)."""
    import json

    from tests.conftest import T_SHAPE_Z16
    from tilegrab_spark.kernels import geo
    from tilegrab_spark.operators.footprint import coverage_footprints
    from tilegrab_spark.operators.image_join import join_images
    from tilegrab_spark.sources.images import read_image_table

    tiles = tiles_for(spark, t_geom, 16, by="shape")
    images = read_image_table(spark, image_table)
    joined = join_images(tiles, images.drop("cell_id"))
    fp = coverage_footprints(joined.select("geom_id", "z", "x", "y").distinct()).collect()
    assert len(fp) == 1
    r = fp[0]
    assert r.n_tiles == len(T_SHAPE_Z16)
    assert (r.tminx, r.tminy, r.tmaxx, r.tmaxy) == (47439, 31441, 47442, 31444)
    gj = json.loads(r.footprint)
    assert gj["type"] == "MultiPolygon"
    assert len(gj["coordinates"]) == len(T_SHAPE_Z16)
    # each polygon's first ring must equal its tile's bounds box
    def rnd(ring):
        return tuple((round(p[0], 9), round(p[1], 9)) for p in ring)

    got_rings = {rnd(poly[0]) for poly in gj["coordinates"]}
    want_rings = set()
    for x, y in T_SHAPE_Z16:
        mnl, mnt, mxl, mxt = geo.tile_bounds(x, y, 16)
        # counterclockwise exterior per RFC 7946 §3.1.6
        want_rings.add(
            rnd(((mnl, mnt), (mxl, mnt), (mxl, mxt), (mnl, mxt), (mnl, mnt)))
        )
    assert got_rings == want_rings

    # winding check: shoelace signed area of each exterior ring is >0 (CCW)
    for poly in gj["coordinates"]:
        ring = poly[0]
        area2 = sum(
            ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
            for i in range(len(ring) - 1)
        )
        assert area2 > 0, "exterior ring must be counterclockwise"


class TestBufferedSelection:
    """P9 geometry buffer, re-expressed as an exact distance predicate
    (the reference exposes --buffer but no-ops it, SURVEY §8 Q7 — here
    the semantics are real: select tiles intersecting the buffered
    geometry)."""

    def test_kernel_distance_exact_vs_bruteforce(self):
        import numpy as np

        from tilegrab_spark.kernels import geo

        rng = np.random.default_rng(5)
        # a triangle and a box grid around it
        tri = [np.array([[0.0, 0.0], [10.0, 0.0], [5.0, 8.0], [0.0, 0.0]])]
        polys = [tri]
        bx0 = rng.uniform(-20, 25, 60); by0 = rng.uniform(-20, 25, 60)
        bx1 = bx0 + rng.uniform(0.5, 5, 60); by1 = by0 + rng.uniform(0.5, 5, 60)
        for dist in (0.0, 1.0, 3.5, 8.0):
            got = geo.boxes_within_distance_of_polygons(bx0, by0, bx1, by1, polys, dist)
            # brute force: dense samples on the triangle boundary+interior
            t = np.linspace(0, 1, 2001)
            边 = []
            ring = tri[0]
            for i in range(3):
                a, b = ring[i], ring[i + 1]
                边.append(a[None, :] + t[:, None] * (b - a)[None, :])
            pts = np.vstack(边)
            dx = np.maximum(np.maximum(bx0[:, None] - pts[None, :, 0], 0),
                            pts[None, :, 0] - bx1[:, None])
            dy = np.maximum(np.maximum(by0[:, None] - pts[None, :, 1], 0),
                            pts[None, :, 1] - by1[:, None])
            dmin = np.hypot(dx, dy).min(axis=1)
            inter = geo.boxes_intersect_polygons(bx0, by0, bx1, by1, polys)
            want = inter | (dmin <= dist + 1e-9)
            # sampling can only OVER-estimate distance slightly; allow the
            # sampled reference to miss by < one sample step near the cut
            disagree = got != want
            if disagree.any():
                assert (np.abs(dmin[disagree] - dist) < 0.02).all()

    def test_buffer_zero_equals_plain_refine(self, spark, t_geom):
        from tilegrab_spark.operators.tiles import enumerate_tiles, refine_by_shape

        base = enumerate_tiles(spark, t_geom, 16)
        plain = {(r.x, r.y) for r in refine_by_shape(base, t_geom).collect()}
        buf0 = {(r.x, r.y) for r in refine_by_shape(base, t_geom, buffer_m=0.0).collect()}
        assert plain == buf0 == set(T_SHAPE_Z16)

    def test_buffer_monotone_and_superset(self, spark, t_geom):
        from tilegrab_spark.operators.tiles import tiles_for

        sets = {}
        for buf in (0.0, 30.0, 120.0, 500.0):
            sets[buf] = {(r.x, r.y) for r in
                         tiles_for(spark, t_geom, 16, by="shape", buffer_m=buf).collect()}
        assert sets[0.0] == set(T_SHAPE_Z16)
        assert sets[0.0] <= sets[30.0] <= sets[120.0] <= sets[500.0]
        # a 500 m buffer at z16 (~600 m tiles, cos-scaled) must grow the set
        assert len(sets[500.0]) > len(sets[0.0])

    def test_buffer_crosses_enumeration_bbox(self, spark, t_geom):
        """The expanded enumeration must contribute tiles OUTSIDE the
        unbuffered bbox (a refine-only implementation would silently cap
        the buffer at the bbox edge)."""
        from tilegrab_spark.operators.tiles import tiles_for

        plain_bbox = {(r.x, r.y) for r in
                      tiles_for(spark, t_geom, 16, by="bbox").collect()}
        buffered = {(r.x, r.y) for r in
                    tiles_for(spark, t_geom, 16, by="shape", buffer_m=2000.0).collect()}
        assert buffered - plain_bbox, "2 km buffer must escape the raw bbox"

    def test_buffer_validation(self, spark, t_geom):
        import pytest as _pytest

        from tilegrab_spark.operators.tiles import enumerate_tiles, refine_by_shape

        base = enumerate_tiles(spark, t_geom, 16)
        with _pytest.raises(ValueError):
            refine_by_shape(base, t_geom, buffer_m=-1.0)
        with _pytest.raises(ValueError):
            enumerate_tiles(spark, t_geom, 16, buffer_m=-5.0)
