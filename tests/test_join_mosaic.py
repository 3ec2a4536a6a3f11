"""J1 join parity, A2 mosaic pixel oracle, W1 grouping parity (incl. the
reference's sliding-window full-group + all-zero-drop semantics)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import T_BBOX_Z16, T_SHAPE_Z16, oracle_canvas
from tilegrab_spark.kernels import png
from tilegrab_spark.operators.image_join import (
    first_match_per_tile,
    join_images,
)
from tilegrab_spark.operators.mosaic import mosaic
from tilegrab_spark.operators.tiles import tiles_for
from tilegrab_spark.sources.images import read_image_table

GAP = (47441, 31442)  # deliberately missing from the shared image table
HOT = (47440, 31441)  # repeated 40x with distinct srcs


def test_join_row_parity_vs_pandas_oracle(spark, t_geom, image_table):
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    images = read_image_table(spark, image_table)
    joined = join_images(tiles, images.drop("cell_id"))
    got = (
        joined.select("x", "y", "image_id")
        .toPandas()
        .sort_values(["x", "y", "image_id"])
        .reset_index(drop=True)
    )
    # brute-force pandas oracle over the same inputs (≙ loader.py O(T×F) scan)
    img_pd = images.select("x", "y", "image_id").toPandas()
    tile_pd = pd.DataFrame(T_SHAPE_Z16, columns=["x", "y"])
    want = (
        img_pd.merge(tile_pd, on=["x", "y"])
        .sort_values(["x", "y", "image_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # hot cell contributes 41 rows (1 base + 40 skew dupes)
    assert (got[["x", "y"]].value_counts()[HOT]) == 41


def test_first_match_per_tile(spark, t_geom, image_table):
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    joined = join_images(tiles, read_image_table(spark, image_table).drop("cell_id"))
    one = first_match_per_tile(joined)
    assert one.count() == len(T_SHAPE_Z16)
    assert one.groupBy("x", "y").count().filter("count > 1").count() == 0


def test_salted_join_same_result(spark, t_geom, image_table):
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    images = read_image_table(spark, image_table).drop("cell_id")
    plain = join_images(tiles, images, broadcast_tiles=False)
    salted = join_images(tiles, images, broadcast_tiles=False, salt=8)
    a = sorted((r.x, r.y, r.image_id) for r in plain.select("x", "y", "image_id").collect())
    b = sorted((r.x, r.y, r.image_id) for r in salted.select("x", "y", "image_id").collect())
    assert a == b


def test_mosaic_pixel_exact(spark, t_geom, image_table):
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    images = read_image_table(spark, image_table).filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
    joined = join_images(tiles, images.drop("cell_id"))
    rows = mosaic(joined).collect()
    assert len(rows) == 1
    r = rows[0]
    present = [t for t in T_SHAPE_Z16 if t != GAP]
    want = oracle_canvas(present, 47439, 31441, 4, 4)
    got = png.decode_png(bytes(r.bytes))
    assert r.n_tiles == len(present)
    assert got.shape == want.shape == (1024, 1024, 3)
    assert (got == want).all()
    # gap region is black (mosaic.py:20 missing-tile semantics)
    gx, gy = GAP[0] - 47439, GAP[1] - 31441
    assert (got[gy * 256 : (gy + 1) * 256, gx * 256 : (gx + 1) * 256] == 0).all()


def test_mosaic_extent_anchored_at_present_tiles(spark, t_geom, image_table):
    # parity with mosaic.py:11-18: canvas spans present tiles, not the bbox
    tiles = tiles_for(spark, t_geom, 16, by="shape").filter(F.col("x") >= 47440)
    images = read_image_table(spark, image_table).filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
    r = mosaic(join_images(tiles, images.drop("cell_id"))).collect()[0]
    assert (r.tminx, r.tminy) == (47440, 31441)
    assert (r.w, r.h) == (3 * 256, 4 * 256)


def test_grouping_w1_parity(spark, t_geom, image_table):
    """W1 relational grouping ≡ numpy sliding-window oracle over the full
    mosaic (grouping.py:9-29): full windows only, all-zero dropped."""
    tiles = tiles_for(spark, t_geom, 16, by="bbox")
    images = read_image_table(spark, image_table).filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
    joined = join_images(tiles, images.drop("cell_id"), how="left")
    gw = gh = 3  # 4x4 extent -> only group (0,0) is full; trailing dropped
    got = {(r.gx, r.gy): r for r in mosaic(joined, group_w=gw, group_h=gh, drop_empty=True).collect()}

    # oracle: full canvas then sliding_window_view-style stride
    present = [t for t in T_BBOX_Z16 if t != GAP]
    canvas = oracle_canvas(present, 47439, 31441, 4, 4)
    kh = kw = 3 * 256
    expected = {}
    for i in range(0, canvas.shape[0] - kh + 1, kh):
        for j in range(0, canvas.shape[1] - kw + 1, kw):
            patch = canvas[i : i + kh, j : j + kw]
            if patch.any():
                expected[(j // kw, i // kh)] = patch
    assert set(got) == set(expected)
    for k, r in got.items():
        assert (png.decode_png(bytes(r.bytes)) == expected[k]).all()


def test_mosaic_corrupt_payload_skip_and_count(spark, t_geom, image_table):
    """A corrupt payload must not kill the stage (at 10^12 rows a bad
    byte is a certainty): the tile renders black (missing-tile
    semantics) and is counted in n_bad for metrics-driven re-fetch."""
    victim = "16_47439_31441_0"
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    images = (
        read_image_table(spark, image_table)
        .filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
        .withColumn(
            "bytes",
            F.when(
                F.col("image_id") == victim, F.lit(b"\x89PNGgarbage")
            ).otherwise(F.col("bytes")),
        )
    )
    joined = join_images(tiles, images.drop("cell_id"))
    r = mosaic(joined).collect()[0]
    present = [t for t in T_SHAPE_Z16 if t != GAP]
    assert r.n_bad == 1
    assert r.n_tiles == len(present) - 1
    got = png.decode_png(bytes(r.bytes))
    # the corrupted tile's area is black; the rest matches the oracle
    want = oracle_canvas([t for t in present if t != (47439, 31441)], 47439, 31441, 4, 4)
    assert (got == want).all()


def test_grouping_w2_overlap_sliding_oracle(spark, t_geom, image_table):
    """W2 opt-in overlap (the reference PARSES --group-overlap but never
    applies it, cli.py:101-103 vs :235-239 — this is the intended
    semantics): windows every (gw-overlap) tiles, adjacent mosaics share
    `overlap` tile rows/cols. Oracle = numpy sliding windows over the
    full canvas with the same stride."""
    tiles = tiles_for(spark, t_geom, 16, by="bbox")
    images = read_image_table(spark, image_table).filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
    joined = join_images(tiles, images.drop("cell_id"), how="left")
    gw = gh = 2
    got = {
        (r.gx, r.gy): r
        for r in mosaic(
            joined, group_w=gw, group_h=gh, group_overlap=1
        ).collect()
    }

    present = [t for t in T_BBOX_Z16 if t != GAP]
    canvas = oracle_canvas(present, 47439, 31441, 4, 4)
    k, s = gw * 256, (gw - 1) * 256  # kernel, stride in px
    expected = {}
    for i in range(0, canvas.shape[0] - k + 1, s):
        for j in range(0, canvas.shape[1] - k + 1, s):
            expected[(j // s, i // s)] = canvas[i : i + k, j : j + k]
    assert set(got) == set(expected)  # 3x3 overlapping windows
    for key, r in got.items():
        assert (r.w, r.h) == (k, k)
        # absolute tile extent follows the stride grid
        assert r.tminx == 47439 + key[0] * (gw - 1)
        assert r.tminy == 31441 + key[1] * (gw - 1)
        assert (png.decode_png(bytes(r.bytes)) == expected[key]).all()


def test_grouping_2x2_all_groups_full(spark, t_geom, image_table):
    tiles = tiles_for(spark, t_geom, 16, by="bbox")
    images = read_image_table(spark, image_table).filter(~F.col("image_id").rlike("_1[0-9][0-9]$"))
    joined = join_images(tiles, images.drop("cell_id"), how="left")
    rows = mosaic(joined, group_w=2, group_h=2).collect()
    assert len(rows) == 4  # 4x4 extent / 2x2 groups
    for r in rows:
        assert (r.w, r.h) == (512, 512)
        # mercator georeference matches the group's absolute tile extent
        from tilegrab_spark.kernels import geo

        e = geo.tile_extent_mercator(r.tminx, r.tminy, r.tmaxx, r.tmaxy, 16)
        assert np.allclose(e, (r.merc_xmin, r.merc_ymin, r.merc_xmax, r.merc_ymax))


def test_drop_empty_keeps_all_corrupt_groups(spark):
    """drop_empty must NOT swallow a group whose emptiness comes from
    corrupt payloads — n_bad is what routes those cells for re-fetch."""
    import pandas as pd

    rows = [
        {"geom_id": "g", "z": 16, "x": 1, "y": 1,
         "bytes": b"\x89PNGgarbage", "fmt": "png", "image_id": "16_1_1_0"},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "geom_id string, z int, x long, y long, bytes binary, fmt string, image_id string",
    )
    r = mosaic(df, drop_empty=True).collect()
    assert len(r) == 1
    assert r[0].n_bad == 1 and r[0].n_tiles == 0


def test_mosaic_stitches_palette_png_tile(spark):
    """A palette-PNG tile (the common OSM tile encoding) stitches
    byte-equal to the RGB-expanded oracle canvas."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from tests.conftest import oracle_canvas
    from tilegrab_spark.kernels import png
    from tilegrab_spark.kernels.png import _PNG_SIG, _chunk
    from tilegrab_spark.operators.mosaic import mosaic

    z, x0, y0 = 16, 47439, 31441

    def palette_encode(arr):
        """Encode (H,W,3) with <=256 distinct colors as color-type-3 PNG."""
        h, w, _ = arr.shape
        flat = arr.reshape(-1, 3)
        colors, inverse = np.unique(flat, axis=0, return_inverse=True)
        assert len(colors) <= 256
        idx = inverse.astype(np.uint8).reshape(h, w)
        rows = b"".join(b"\x00" + idx[r].tobytes() for r in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        return (
            _PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", colors.astype(np.uint8).tobytes())
            + _chunk(b"IDAT", zlib.compress(rows))
            + _chunk(b"IEND", b"")
        )

    rows = []
    for i, (dx, dy) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        arr = png.synth_tile_pixels(x0 + dx, y0 + dy, z, 0, 64, 64)
        # quantize tile 0 to 16 gray levels so it fits a palette
        if i == 0:
            arr = ((arr >> 4) << 4).astype(np.uint8)
            data = palette_encode(arr)
        else:
            data = png.encode_png(arr)
        rows.append(
            {
                "geom_id": "g", "z": z, "x": x0 + dx, "y": y0 + dy,
                "bytes": data, "fmt": "png",
                "image_id": f"{z}_{x0+dx}_{y0+dy}_0", "_arr": arr,
            }
        )
    want = np.zeros((128, 128, 3), np.uint8)
    for r, (dx, dy) in zip(rows, ((0, 0), (1, 0), (0, 1), (1, 1))):
        want[dy * 64 : dy * 64 + 64, dx * 64 : dx * 64 + 64] = r.pop("_arr")
    # a selected tile with no payload (how the CLI unions its selection
    # into the mosaic) shares the first cell: it must sort next to the
    # real rows without an image_id and change no pixel
    rows.append({"geom_id": "g", "z": z, "x": x0, "y": y0,
                 "bytes": None, "fmt": None, "image_id": None})
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "geom_id string, z int, x long, y long, bytes binary, fmt string, image_id string",
    )
    out = mosaic(df, tile_w=64, tile_h=64).collect()[0]
    assert out.n_tiles == 4 and out.n_bad == 0
    got = png.decode_png(bytes(out.bytes))
    assert np.array_equal(got, want)
