"""Sieve filter vs re-polygonize + flood-fill properties."""

import numpy as np
import pytest

from tilegrab_spark.operators.dedup import release_signature_caches
from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.operators.polygonize import polygonize
from tilegrab_spark.operators.sieve import sieve, sieve_labels

from tests.test_polygonize import SCHEMA, _flood_regions, _tiles_from_world


def _world_noisy():
    world = np.zeros((32, 32), dtype=np.uint8)
    world[8:24, 8:24] = 7  # large region, must survive exactly
    world[2, 2] = 9  # single pixel
    world[15, 15] = 9  # single pixel INSIDE the rectangle
    world[0, 15:17] = 5  # 3-px blob crossing the tile border
    world[0, 17] = 5
    world[30, 3:6] = 3  # 3-px blob inside background
    return world


def _apply_and_stitch(spark, world, tile, zoom, min_px):
    df = spark.createDataFrame(_tiles_from_world(world, tile, zoom), SCHEMA)
    out = sieve(df, zoom=zoom, min_px=min_px).collect()
    release_signature_caches()
    H, W = world.shape
    stitched = np.zeros((H, W), dtype=np.uint8)
    for r in out:
        px = decode_payload(bytes(r.bytes), r.fmt, r.w, r.h)
        stitched[
            r.y * tile : (r.y + 1) * tile, r.x * tile : (r.x + 1) * tile
        ] = px.max(axis=2)
    return stitched, out


def test_sieve_removes_small_regions_exactly(spark):
    world = _world_noisy()
    got, rows = _apply_and_stitch(spark, world, 16, 1, min_px=4)

    _, before = _flood_regions(world)
    small_px = set().union(*(px for lab, px in before if len(px) < 4))
    # pixels changed ONLY inside sub-threshold regions
    diff = {(r, c) for r in range(32) for c in range(32) if got[r, c] != world[r, c]}
    assert diff == small_px
    # every small region took its (only) larger neighbor's label
    assert got[2, 2] == 0 and got[15, 15] == 7
    assert got[0, 15] == got[0, 16] == got[0, 17] == 0
    assert got[30, 3] == 0
    # no region below the threshold remains
    _, after = _flood_regions(got)
    assert all(len(px) >= 4 for _, px in after)
    # untouched tiles pass through with ORIGINAL bytes (fmt raw)
    touched = {(r.x, r.y): r.fmt for r in rows}
    assert touched[(1, 1)] == "raw"  # tile (1,1) had no small region


def test_sieve_picks_largest_neighbor(spark):
    # a 2-px sliver walled off from the background, touching a 10-px
    # region (label 4) and a 16-px region (label 6): takes the larger
    world = np.zeros((8, 8), dtype=np.uint8)
    world[0:2, 0:3] = 4
    world[2, 0:4] = 4  # wall below the sliver -> label-4 region: 10 px
    world[0:2, 3] = 2  # 2-px sliver
    world[0:2, 4:8], world[2:4, 4:8] = 6, 6  # 16 px
    got, _ = _apply_and_stitch(spark, world, 4, 1, min_px=3)
    assert got[0, 3] == 6 and got[1, 3] == 6
    _, after = _flood_regions(got)
    assert {(lab, len(px)) for lab, px in after} == {(0, 36), (4, 10), (6, 18)}


def test_sieve_chain_coarsens_across_rounds(spark):
    # A(1px) - B(2px) - C(large): A's only neighbor is B; B merges into
    # C first, A follows the round after
    world = np.zeros((8, 8), dtype=np.uint8)
    world[4, 0] = 9  # A
    world[4, 1], world[5, 1] = 5, 5  # B wraps A's only exit
    world[3, 0], world[5, 0] = 5, 5
    got, _ = _apply_and_stitch(spark, world, 4, 1, min_px=5)
    assert got[4, 0] == 0 and got[4, 1] == 0 and got[3, 0] == 0
    _, after = _flood_regions(got)
    assert [(lab, len(px)) for lab, px in after] == [(0, 64)]


def test_sieve_stall_surfaces_unresolved(spark):
    # four 1-px labels, min_px larger than the whole world: they merge
    # down (strict (px, -id) order) until one sub-threshold region with
    # no neighbor remains -> stalled rows carry resolved=False
    world = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    df = spark.createDataFrame(_tiles_from_world(world, 2, 1), SCHEMA)
    mapping = sieve_labels(df, zoom=1, min_px=9).collect()
    release_signature_caches()
    assert any(not m.resolved for m in mapping)


def test_sieve_then_polygonize_clean(spark):
    world = _world_noisy()
    df = spark.createDataFrame(_tiles_from_world(world, 16, 1), SCHEMA)
    cleaned = sieve(df, zoom=1, min_px=4)
    rings = polygonize(cleaned, zoom=1).collect()
    release_signature_caches()
    by = {}
    for r in rings:
        by.setdefault(r.region_id, []).append(r)
    assert all(rs[0].region_px >= 4 for rs in by.values())
    for rs in by.values():
        assert sum(r.signed_area_px for r in rs) == rs[0].region_px
