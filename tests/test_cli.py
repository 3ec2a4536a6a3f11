"""CLI surface: flag parity with the reference (cli.py:17-124) and an
end-to-end run against a synthetic image table."""

import pytest

from tilegrab_spark.cli import main, parse_args


def test_flag_surface_parity():
    a = parse_args(
        ["--source", "s.geojson", "--shape", "--osm", "--zoom", "16",
         "--group-tiles", "2x2", "--tile-limit", "99", "--invert",
         "--no-parallel", "--no-progress", "--quiet"]
    )
    assert a.shape and a.osm and a.zoom == 16 and a.invert
    assert a.group_tiles == "2x2" and a.tile_limit == 99
    assert a.parallel is False and a.progress is False and a.quiet


def test_mutually_exclusive_groups():
    with pytest.raises(SystemExit):
        parse_args(["--source", "s", "--shape", "--bbox", "--osm", "--zoom", "1"])
    with pytest.raises(SystemExit):
        parse_args(["--source", "s", "--osm", "--zoom", "1"])  # no extent
    with pytest.raises(SystemExit):
        parse_args(["--source", "s", "--shape", "--osm", "--png", "--tiff", "--zoom", "1"])


def test_cli_end_to_end(spark, image_table, tmp_path):
    # reuses the session via getOrCreate inside main()
    rc = main(
        ["--source", "/root/reference/tests/data/T.geojson", "--shape", "--osm",
         "--zoom", "16", "--images", image_table,
         "--tiles-out", str(tmp_path / "tiles"), "--out", str(tmp_path / "out"),
         "--tiff", "--quiet"]
    )
    assert rc == 0
    m = spark.read.parquet(str(tmp_path / "out" / "mosaics"))
    r = m.collect()[0]
    assert (r.w, r.h) == (1024, 1024)
    assert r.merc_xmin == pytest.approx(8971261.135774568)
    tiles = spark.read.parquet(str(tmp_path / "tiles"))
    # all 7 shape tiles have src-0 images (the fixture gap is a bbox-only
    # tile), + 40 hot-cell dupes
    assert tiles.count() == 7 + 40
    met = spark.read.parquet(str(tmp_path / "out" / "metrics"))
    assert {x.stage for x in met.collect()} == {"fetch", "mosaic"}


def test_cli_webp_export(spark, image_table, tmp_path):
    """--webp (engine extension): the exported VP8L mosaic decodes
    byte-equal to the PNG canvas in the parquet table."""
    import numpy as np

    from tilegrab_spark.kernels import png, webp

    rc = main(
        ["--source", "/root/reference/tests/data/T.geojson", "--shape", "--osm",
         "--zoom", "16", "--images", image_table,
         "--tiles-out", str(tmp_path / "tiles"), "--out", str(tmp_path / "out"),
         "--webp", "--quiet"]
    )
    assert rc == 0
    files = sorted((tmp_path / "out" / "webp").glob("*.webp"))
    assert len(files) == 1
    canvas = png.decode_png(
        bytes(spark.read.parquet(str(tmp_path / "out" / "mosaics")).collect()[0].bytes)
    )
    assert np.array_equal(webp.decode_webp(files[0].read_bytes()), canvas)


def test_cli_quickstart_shapefile_artifact_parity(spark, image_table, tmp_path):
    """VERDICT r2 #8: the reference README quickstart shape — a .shp
    source, --shape --osm --zoom 16 --tiff — run end to end, asserting
    artifact-for-artifact equivalence against the golden fixtures:
    per-tile files (--tile-files ~ reference saved_tiles/), the mosaic
    canvas, and the GeoTIFF's pixels + EPSG:3857 bounds."""
    import numpy as np

    from tests.conftest import T_SHAPE_Z16
    from tests.test_vector_files import MERC_PRJ, _t_ring, _write_shp
    from tilegrab_spark.kernels import geotiff, png
    from tilegrab_spark.sources.images import expected_pixels

    shp = tmp_path / "boundary.shp"
    _write_shp(shp, _t_ring())
    (tmp_path / "boundary.prj").write_text(MERC_PRJ)  # T ring is EPSG:3857

    rc = main(
        ["--source", str(shp), "--shape", "--osm", "--zoom", "16",
         "--images", image_table, "--tile-files",
         "--tiles-out", str(tmp_path / "tiles"), "--out", str(tmp_path / "out"),
         "--tiff", "--quiet"]
    )
    assert rc == 0

    # 1) per-tile files: exactly the golden 7 shape tiles, each decoding
    # to the deterministic synthetic pixels for its cell
    files = sorted((tmp_path / "tiles" / "files").glob("*.png"))
    golden = sorted(f"16_{x}_{y}.png" for x, y in T_SHAPE_Z16)
    assert [f.name for f in files] == golden
    hot = (47440, 31441)
    for f in files:
        z, x, y = (int(v) for v in f.stem.split("_"))
        if (x, y) == hot:
            continue  # hot cell: 40 src variants share the filename
        assert np.array_equal(
            png.decode_png(f.read_bytes()), expected_pixels(f"16_{x}_{y}_0")
        )

    # 2) mosaic canvas: whole-extent 1024x1024
    m = spark.read.parquet(str(tmp_path / "out" / "mosaics")).collect()[0]
    canvas = png.decode_png(bytes(m.bytes))
    assert canvas.shape == (1024, 1024, 3)

    # 3) GeoTIFF artifact: pixels byte-equal to the canvas, golden
    # mercator bounds (FIXTURES.md §4), EPSG:3857
    tifs = sorted((tmp_path / "out" / "tiff").glob("*.tif"))
    assert len(tifs) == 1
    arr, bounds, epsg = geotiff.read_geotiff(tifs[0].read_bytes())
    assert np.array_equal(arr, canvas)
    assert epsg == 3857
    assert bounds == pytest.approx(
        (8971261.135774568, 809009.5073703043, 8973707.120679691, 811455.4922754318)
    )


def test_cli_pmtiles_archive(spark, image_table, tmp_path):
    """--pmtiles packs the fetched tiles into one Hilbert-clustered
    archive whose contents match the per-tile files byte-for-byte."""
    from tests.conftest import T_GEOJSON, T_SHAPE_Z16
    from tilegrab_spark.kernels.pmtiles import read_pmtiles

    rc = main(
        ["--source", str(T_GEOJSON), "--shape", "--osm", "--zoom", "16",
         "--images", image_table, "--pmtiles", "--download-only",
         "--tiles-out", str(tmp_path / "tiles"), "--quiet"]
    )
    assert rc == 0
    got = read_pmtiles(
        (tmp_path / "tiles" / "pmtiles" / "tiles.pmtiles").read_bytes()
    )
    assert set(got["tiles"]) == {(16, x, y) for x, y in T_SHAPE_Z16}
    assert got["header"]["clustered"] is True
    # payloads are the fetch table's bytes; a tile fetched under two
    # geometries keeps the deterministic max(bytes) payload
    fetched: dict = {}
    for r in spark.read.parquet(str(tmp_path / "tiles")).collect():
        if r.bytes is None:
            continue
        k = (r.z, r.x, r.y)
        b = bytes(r.bytes)
        fetched[k] = max(fetched[k], b) if k in fetched else b
    assert got["tiles"] == fetched


def _t_geojson(path, z=16):
    """A T-shaped polygon in z=16 tile coordinates: a bar across the top
    tile row 31441 (columns 47439..47442) and a stem down tile column
    47440 to row 31444, kept off tile edges so each tile is in or out."""
    import json
    import math

    n = 2.0 ** z

    def lonlat(tx, ty):
        lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * ty / n))))
        return [tx / n * 360.0 - 180.0, lat]

    pts = [(47439.3, 31441.3), (47442.7, 31441.3), (47442.7, 31441.6),
           (47440.7, 31441.6), (47440.7, 31444.7), (47440.3, 31444.7),
           (47440.3, 31441.6), (47439.3, 31441.6)]
    ring = [lonlat(*p) for p in pts + pts[:1]]
    path.write_text(json.dumps({"type": "Feature", "properties": {},
                                "geometry": {"type": "Polygon", "coordinates": [ring]}}))


def test_cli_one_fetch_feeds_every_sink(spark, tmp_path, monkeypatch):
    """A self-contained CLI run: the fetch table, --tile-files, --pmtiles
    and the mosaic all come from one inner broadcast fetch. The image
    table lacks the selection's whole bottom row, so the mosaic extent
    still has to reach the gap and render it black."""
    import numpy as np

    from tests.conftest import T_BBOX_Z16, T_SHAPE_Z16
    from tilegrab_spark import Engine
    from tilegrab_spark.kernels import png
    from tilegrab_spark.kernels.pmtiles import read_pmtiles
    from tilegrab_spark.sources.images import (
        cells_for_tile_sets,
        expected_pixels,
        write_synthetic_image_table,
    )

    src = tmp_path / "t.geojson"
    _t_geojson(src)
    images = str(tmp_path / "images")
    bottom = max(y for _, y in T_BBOX_Z16)
    cells = cells_for_tile_sets(
        {16: T_BBOX_Z16},
        gaps=[(16, x, y) for x, y in T_BBOX_Z16 if y == bottom],
        hot=((16, 47440, 31441), 3),  # three more revisions of one cell
    )
    write_synthetic_image_table(spark, images, cells, n_buckets=2)
    stored: dict = {}
    for _, x, y, s in cells:
        stored.setdefault((x, y), []).append(f"16_{x}_{y}_{s}")
    fetched_cells = sorted(c for c in T_SHAPE_Z16 if c in stored)
    gap = (47440, bottom)
    assert gap in T_SHAPE_Z16 and gap not in stored

    plans = []
    real_fetch = Engine.fetch

    def spy(self, *args, **kwargs):
        df = real_fetch(self, *args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(Engine, "fetch", spy)
    tiles_out, out = tmp_path / "tiles", tmp_path / "out"
    # a real image table is far above the auto-broadcast threshold; so
    # that this small one is too, only an explicit hint may broadcast
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rc = main(
            ["--source", str(src), "--shape", "--zoom", "16", "--images", images,
             "--png", "--tile-files", "--pmtiles",
             "--tiles-out", str(tiles_out), "--out", str(out), "--quiet"]
        )
    finally:
        spark.conf.set(key, threshold)
    assert rc == 0
    assert len(plans) == 1
    assert "SortMergeJoin" not in plans[0] and "BroadcastHashJoin" in plans[0]

    # fetch table: every stored revision of the selected cells, no gap rows
    rows = spark.read.parquet(str(tiles_out)).select("x", "y", "image_id", "bytes").collect()
    assert all(r.bytes is not None for r in rows)
    assert sorted((r.x, r.y, r.image_id) for r in rows) == sorted(
        (x, y, i) for x, y in fetched_cells for i in stored[(x, y)]
    )
    payloads: dict = {}
    for r in rows:
        payloads.setdefault((r.x, r.y), []).append(bytes(r.bytes))

    # mosaic: the extent spans the whole selection, gap row included
    (m,) = spark.read.parquet(str(out / "mosaics")).collect()
    assert (m.tminx, m.tminy, m.tmaxx, m.tmaxy) == (47439, 31441, 47442, bottom)
    assert (m.w, m.h, m.n_tiles, m.n_bad) == (1024, 1024, len(rows), 0)
    want = np.zeros((1024, 1024, 3), np.uint8)
    for x, y in fetched_cells:
        top = max(stored[(x, y)])  # last paste wins in image_id order
        want[(y - 31441) * 256 : (y - 31440) * 256, (x - 47439) * 256 : (x - 47438) * 256] = (
            expected_pixels(top)
        )
    canvas = png.decode_png(bytes(m.bytes))
    assert np.array_equal(canvas, want)
    gx, gy = gap[0] - 47439, gap[1] - 31441
    assert not canvas[gy * 256 : (gy + 1) * 256, gx * 256 : (gx + 1) * 256].any()

    # --tile-files and --pmtiles hold exactly the fetched tiles
    files = {f.name: f.read_bytes() for f in (tiles_out / "files").glob("*.png")}
    assert sorted(files) == sorted(f"16_{x}_{y}.png" for x, y in fetched_cells)
    for (x, y), ps in payloads.items():
        assert files[f"16_{x}_{y}.png"] in ps
    got = read_pmtiles((tiles_out / "pmtiles" / "tiles.pmtiles").read_bytes())
    assert got["tiles"] == {(16, x, y): max(ps) for (x, y), ps in payloads.items()}
