"""Majority filter vs a per-window loop oracle."""

import numpy as np
import pytest

from tilegrab_spark.operators.majority import majority_filter, window_mode
from tilegrab_spark.kernels import decode_payload

from tests.test_polygonize import SCHEMA, _tiles_from_world


def _oracle(world: np.ndarray, r: int) -> np.ndarray:
    pad = np.pad(world, r, mode="edge")
    out = np.empty_like(world)
    H, W = world.shape
    for i in range(H):
        for j in range(W):
            win = pad[i : i + 2 * r + 1, j : j + 2 * r + 1].ravel()
            labs, counts = np.unique(win, return_counts=True)
            best = counts.max()
            tied = set(labs[counts == best].tolist())
            c = world[i, j]
            out[i, j] = c if c in tied else min(tied)
    return out


def _stitch(rows, H, W, tile):
    got = np.zeros((H, W), dtype=np.uint8)
    for r in rows:
        px = decode_payload(bytes(r.bytes), r.fmt, r.w, r.h)
        got[r.y * tile : (r.y + 1) * tile, r.x * tile : (r.x + 1) * tile] = px.max(axis=2)
    return got


def test_window_mode_tie_rules():
    # center participates in the 4-4 tie -> keeps its label
    canvas = np.array(
        [[1, 1, 2], [1, 2, 2], [5, 6, 7]], dtype=np.uint8
    )
    canvas = np.pad(canvas, 1, mode="edge")
    out = window_mode(canvas, 1)
    # center pixel (1,1)=2: window {1,1,2,1,2,2,5,6,7} -> 1:3, 2:3 tie,
    # center is tied -> stays 2
    assert out[1, 1] == 2
    # a tie NOT involving the center resolves to the smallest label
    canvas2 = np.array(
        [[1, 1, 9], [2, 3, 9], [2, 9, 9]], dtype=np.uint8
    )
    # center 3: counts 9:4, 1:2, 2:2, 3:1 -> clear mode 9
    out2 = window_mode(np.pad(canvas2, 1, mode="edge"), 1)
    assert out2[1, 1] == 9


def test_majority_filter_vs_oracle_cross_tile(spark):
    rng = np.random.default_rng(29)
    world = rng.integers(0, 4, (32, 32), dtype=np.uint8)
    df = spark.createDataFrame(_tiles_from_world(world, 16, 1), SCHEMA)
    rows = majority_filter(df, radius=1).collect()
    assert all(r.status == "ok" for r in rows)
    # interior tile borders get true halos; the world edge replicates —
    # exactly what the oracle does on the full stitched raster
    assert np.array_equal(_stitch(rows, 32, 32, 16), _oracle(world, 1))


def test_majority_filter_smooths_salt_noise(spark):
    world = np.zeros((32, 32), dtype=np.uint8)
    world[8:24, 8:24] = 7
    world[4, 4] = 9          # salt pixel -> removed
    world[16, 16] = 1        # salt inside the rectangle -> removed
    df = spark.createDataFrame(_tiles_from_world(world, 16, 1), SCHEMA)
    rows = majority_filter(df, radius=1).collect()
    got = _stitch(rows, 32, 32, 16)
    assert got[4, 4] == 0 and got[16, 16] == 7
    # the rectangle's corners erode under a plain mode filter (5 zeros
    # vs 4 sevens) — the documented behavior, matching the oracle
    assert np.array_equal(got, _oracle(world, 1))


def test_majority_radius2_and_validation(spark):
    rng = np.random.default_rng(31)
    world = rng.integers(0, 3, (16, 16), dtype=np.uint8)
    df = spark.createDataFrame(_tiles_from_world(world, 8, 1), SCHEMA)
    rows = majority_filter(df, radius=2).collect()
    assert np.array_equal(_stitch(rows, 16, 16, 8), _oracle(world, 2))
    with pytest.raises(ValueError, match="radius"):
        majority_filter(df, radius=4)
