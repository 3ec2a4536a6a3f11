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


def test_cli_end_to_end(spark, image_table, t_geojson, tmp_path, monkeypatch):
    import os

    from tilegrab_spark.operators import tiles as tiles_op

    # the request evaluates the shape predicate once, in this (driver)
    # process: the fetch and the mosaic read the same selected rows
    calls = []
    shape_mask = tiles_op.shape_mask

    def counted(*args, **kwargs):
        calls.append(os.getpid())
        return shape_mask(*args, **kwargs)

    monkeypatch.setattr(tiles_op, "shape_mask", counted)
    # reuses the session via getOrCreate inside main()
    rc = main(
        ["--source", str(t_geojson), "--shape", "--osm",
         "--zoom", "16", "--images", image_table,
         "--tiles-out", str(tmp_path / "tiles"), "--out", str(tmp_path / "out"),
         "--tiff", "--quiet"]
    )
    assert rc == 0
    assert calls == [os.getpid()]
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


def test_cli_webp_export(spark, image_table, t_geojson, tmp_path):
    """--webp (engine extension): the exported VP8L mosaic decodes
    byte-equal to the PNG canvas in the parquet table."""
    import numpy as np

    from tilegrab_spark.kernels import png, webp

    rc = main(
        ["--source", str(t_geojson), "--shape", "--osm",
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
    for f in files:
        z, x, y = (int(v) for v in f.stem.split("_"))
        # the hot cell stores srcs 0 and 100-139; its file holds the
        # greatest image_id, like the mosaic
        src = 139 if (x, y) == (47440, 31441) else 0
        assert np.array_equal(
            png.decode_png(f.read_bytes()), expected_pixels(f"16_{x}_{y}_{src}")
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


def test_cli_pmtiles_archive(spark, image_table, t_geojson, tmp_path):
    """--pmtiles packs the fetched tiles into one Hilbert-clustered
    archive whose contents match the fetch table byte-for-byte."""
    from tests.conftest import T_SHAPE_Z16
    from tilegrab_spark.kernels.pmtiles import read_pmtiles

    rc = main(
        ["--source", str(t_geojson), "--shape", "--osm", "--zoom", "16",
         "--images", image_table, "--pmtiles", "--download-only",
         "--tiles-out", str(tmp_path / "tiles"), "--quiet"]
    )
    assert rc == 0
    got = read_pmtiles(
        (tmp_path / "tiles" / "pmtiles" / "tiles.pmtiles").read_bytes()
    )
    assert set(got["tiles"]) == {(16, x, y) for x, y in T_SHAPE_Z16}
    assert got["header"]["clustered"] is True
    # payloads are the fetch table's bytes; a tile stored as several
    # revisions keeps its greatest image_id's payload
    fetched: dict = {}
    for r in sorted(spark.read.parquet(str(tmp_path / "tiles")).collect(),
                    key=lambda r: r.image_id):
        fetched[(r.z, r.x, r.y)] = bytes(r.bytes)
    assert got["tiles"] == fetched


def test_cli_one_fetch_feeds_every_sink(spark, t_geojson, tmp_path, monkeypatch):
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
            ["--source", str(t_geojson), "--shape", "--zoom", "16", "--images", images,
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
        payloads.setdefault((r.x, r.y), {})[r.image_id] = bytes(r.bytes)

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

    # --tile-files and --pmtiles hold exactly the fetched tiles, each as
    # the revision the mosaic shows: its greatest image_id
    top = {(16, x, y): payloads[(x, y)][max(stored[(x, y)])] for x, y in fetched_cells}
    files = {f.name: f.read_bytes() for f in (tiles_out / "files").glob("*.png")}
    assert files == {f"{z}_{x}_{y}.png": b for (z, x, y), b in top.items()}
    got = read_pmtiles((tiles_out / "pmtiles" / "tiles.pmtiles").read_bytes())
    assert got["tiles"] == top


def test_cli_resume_mosaic_shows_earlier_cells(spark, image_table, t_geojson, tmp_path):
    """Under --resume, the T shape and then its bbox into one --out: the
    second run fetches only the cells the first did not commit, and its
    mosaic still shows the first run's cells."""
    import numpy as np
    from pyspark.sql import functions as F

    from tests.conftest import T_BBOX_Z16, T_SHAPE_Z16
    from tilegrab_spark.kernels import png
    from tilegrab_spark.sources.images import expected_pixels

    tiles_out, mosaics = tmp_path / "tiles", str(tmp_path / "out" / "mosaics")

    def run(extent):
        return main(
            ["--source", str(t_geojson), extent, "--zoom", "16", "--images", image_table,
             "--resume", "--png", "--tiles-out", str(tiles_out),
             "--out", str(tmp_path / "out"), "--quiet"]
        )

    assert run("--shape") == 0
    first = [r._run_id for r in spark.read.parquet(mosaics).collect()]
    assert run("--bbox") == 0

    # the image table lacks one bbox cell and stores srcs 0 and 100-139
    # for the hot cell
    gap, hot = (47441, 31442), (47440, 31441)
    stored = [c for c in T_BBOX_Z16 if c != gap]
    second = spark.read.parquet(str(tiles_out)).filter(~F.col("_run_id").isin(*first))
    assert {(r.x, r.y) for r in second.collect()} == set(stored) - set(T_SHAPE_Z16)

    (m,) = spark.read.parquet(mosaics).filter(~F.col("_run_id").isin(*first)).collect()
    assert (m.tminx, m.tminy, m.tmaxx, m.tmaxy) == (47439, 31441, 47442, 31444)
    assert m.n_tiles == len(stored) + 40
    want = np.zeros((1024, 1024, 3), np.uint8)
    for x, y in stored:
        src = 139 if (x, y) == hot else 0
        want[(y - 31441) * 256 : (y - 31440) * 256, (x - 47439) * 256 : (x - 47438) * 256] = (
            expected_pixels(f"16_{x}_{y}_{src}")
        )
    assert np.array_equal(png.decode_png(bytes(m.bytes)), want)



def test_cli_plan_then_fetch_into_one_tiles_out(spark, image_table, t_geojson, tmp_path):
    """Plan mode and fetch mode share the default --tiles-out. A fetch
    run after a plan-mode run reads back its rows with the fetch schema,
    whatever columns the plan-mode files hold, and so does a --resume run
    that reads every committed row of the selection."""
    from tests.conftest import T_SHAPE_Z16

    tiles_out, mosaics = tmp_path / "tiles", tmp_path / "out" / "mosaics"
    base = ["--source", str(t_geojson), "--shape", "--zoom", "16",
            "--tiles-out", str(tiles_out), "--out", str(tmp_path / "out"), "--quiet"]
    assert main(base) == 0  # plan mode: tile rows without image columns
    assert main(base + ["--images", image_table, "--png", "--tile-files"]) == 0
    files = sorted(f.name for f in (tiles_out / "files").glob("*.png"))
    assert files == sorted(f"16_{x}_{y}.png" for x, y in T_SHAPE_Z16)
    (fetched,) = spark.read.parquet(str(mosaics)).collect()
    assert fetched.n_tiles == 7 + 40  # the hot cell stores 41 revisions

    assert main(base + ["--images", image_table, "--png", "--resume"]) == 0
    (resumed,) = spark.read.parquet(str(mosaics)).filter(
        f"_run_id != '{fetched._run_id}'"
    ).collect()
    assert resumed.n_tiles == fetched.n_tiles
    assert bytes(resumed.bytes) == bytes(fetched.bytes)
