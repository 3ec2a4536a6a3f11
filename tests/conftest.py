import json
import math

import numpy as np
import pytest

from tilegrab_spark import get_spark
from tilegrab_spark.sources.geometries import geometry_from_rings

# The T fixture's EPSG:4326 bbox (FIXTURES.md §4.1) and its (bbox, shape,
# invert) tile counts by zoom (FIXTURES.md §4.2).
T_BBOX = (80.59111369868114, 7.253238366601672, 80.60679900129578, 7.267703227740267)
T_COUNTS = {12: (2, 2, 0), 14: (4, 3, 1), 15: (9, 5, 4), 16: (16, 7, 9)}


def _t_ring() -> list:
    """A T-shaped [lon, lat] ring standing in for the reference's T
    polygon, which is reference test data not kept in this repository.
    It has the recorded bbox, a bar across the top z=16 tile row and a
    stem inside tile column 47440 (x 47440.1-47440.9), so it selects the
    recorded tile sets and, like the real T, has fully interior z=18
    tiles in its stem."""
    w, s, e, n = T_BBOX
    nn = 2.0 ** 16

    def lon(tx):
        return tx / nn * 360.0 - 180.0

    def lat(ty):
        return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / nn))))

    bar, sw, se = lat(31441.5), lon(47440.1), lon(47440.9)
    pts = [(w, n), (e, n), (e, bar), (se, bar), (se, s), (sw, s), (sw, bar), (w, bar)]
    return pts + pts[:1]


T_RING = _t_ring()

# Golden tile sets for the T fixture, derived from the reference's own
# formulas (FIXTURES.md §4.2) and reproduced by kernels validated against
# the reference's asserted goldens.
T_SHAPE_Z16 = [
    (47439, 31441),
    (47440, 31441),
    (47440, 31442),
    (47440, 31443),
    (47440, 31444),
    (47441, 31441),
    (47442, 31441),
]
T_BBOX_Z16 = [(x, y) for x in range(47439, 47443) for y in range(31441, 31445)]
T_SHAPE_Z15 = [
    (23719, 15720),
    (23720, 15720),
    (23720, 15721),
    (23720, 15722),
    (23721, 15720),
]

# SF polygon from reference tests/test_tiles.py:19-21
SF_RING = [(-122.4, 37.8), (-122.4, 37.85), (-122.35, 37.85), (-122.35, 37.8), (-122.4, 37.8)]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tilegrab-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def t_geom():
    return geometry_from_rings("T", [T_RING])


@pytest.fixture(scope="session")
def t_geojson(tmp_path_factory):
    """The T ring as a GeoJSON file (EPSG:4326), e.g. a CLI ``--source``."""
    path = tmp_path_factory.mktemp("t") / "T.geojson"
    geometry = {"type": "Polygon", "coordinates": [[list(p) for p in T_RING]]}
    path.write_text(json.dumps({"type": "Feature", "properties": {}, "geometry": geometry}))
    return path


@pytest.fixture(scope="session")
def sf_geom():
    return geometry_from_rings("SF", [SF_RING])


@pytest.fixture(scope="session")
def image_table(spark, tmp_path_factory):
    """Shared synthetic image table: full T z=16 bbox + a gap + a hot cell."""
    from tilegrab_spark.sources.images import (
        cells_for_tile_sets,
        write_synthetic_image_table,
    )

    path = str(tmp_path_factory.mktemp("imgs") / "images")
    cells = cells_for_tile_sets(
        {16: T_BBOX_Z16, 15: T_SHAPE_Z15},
        srcs=(0,),
        gaps=[(16, 47441, 31442)],
        hot=((16, 47440, 31441), 40),
    )
    write_synthetic_image_table(spark, path, cells, n_buckets=4)
    return path


def oracle_canvas(tiles, minx, miny, nx, ny, src=0, zoom=16):
    """Straight-numpy mosaic oracle implementing images/mosaic.py:7-27."""
    from tilegrab_spark.kernels.png import synth_tile_pixels

    canvas = np.zeros((ny * 256, nx * 256, 3), np.uint8)
    for x, y in tiles:
        canvas[(y - miny) * 256 : (y - miny + 1) * 256, (x - minx) * 256 : (x - minx + 1) * 256] = (
            synth_tile_pixels(x, y, zoom, src)
        )
    return canvas
