"""CLI mirroring the reference's flag surface (cli.py:17-124) on the
Spark engine — runnable as ``python -m tilegrab_spark.cli`` locally or via
``spark-submit --py-files tilegrab_spark.zip cli.py`` on a cluster (no
code change: the session builder honors SPARK_MASTER / an existing
SparkSession).

Deltas from the reference, by design:
- "download" is a join against the image table (``--images``), network-free
  (north rule): ``--workers/--parallel/--progress`` map to Spark
  parallelism and are accepted for compatibility.
- ``--resume`` is implemented (the reference commented it out; its
  progress lookup was broken anyway, SURVEY.md §8 Q2): committed cells
  are anti-joined away via the metrics table.
- ``--group-overlap`` is accepted and ignored exactly like the reference
  (parsed but never applied, SURVEY.md §8 Q3).

Data flow: each stage runs once per request. The selected tiles take one
inner, broadcast-tiles join against the image table; ``Engine.write``
commits it as the fetch table and returns this run's committed rows.
``--tile-files``, ``--pmtiles`` and the mosaic read those rows, the
mosaic with the selected tiles unioned in as null-payload rows so its
extent spans the whole selection (unfetched tiles render black). The
format export (``--tiff/--cog/--jpg/--webp``) reads the rows the mosaic
write returns. ``--mosaic-only`` skips the fetch-table write and
mosaics the join directly.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="tilegrab-spark", description="Select, join and mosaic map tiles on Spark"
    )
    src = p.add_argument_group("Source options (Extent)")
    src.add_argument("--source", type=str, required=True, help="vector polygon source (GeoJSON / .shp / .gpkg)")
    src.add_argument("--invert", action="store_true", help="select NON-overlapping tiles within bbox (with --shape)")
    ext = src.add_mutually_exclusive_group(required=True)
    ext.add_argument("--shape", action="store_true", help="use actual shape to derive tiles")
    ext.add_argument("--bbox", action="store_true", help="use shape's bbox to derive tiles")

    tile = p.add_argument_group("Source options (Map tiles)")
    tg = tile.add_mutually_exclusive_group(required=False)
    tg.add_argument("--osm", action="store_true", help="OpenStreetMap URL scheme")
    tg.add_argument("--google_sat", action="store_true", help="Google Satellite URL scheme")
    tg.add_argument("--esri_sat", action="store_true", help="ESRI World Imagery URL scheme")
    tg.add_argument("--key", type=str, default=None, help="API key where required by source")
    tile.add_argument("--images", type=str, default=None,
                      help="image table path (parquet/Iceberg layout) to join tiles against")

    out = p.add_argument_group("Mosaic export formats")
    og = out.add_mutually_exclusive_group(required=False)
    og.add_argument("--jpg", action="store_true", help="JPEG mosaic files (baseline codec, quality 90)")
    og.add_argument("--png", action="store_true", help="PNG mosaic; no geo-reference")
    og.add_argument("--tiff", action="store_true", help="mosaic with EPSG:3857 geo-reference columns")
    og.add_argument("--cog", action="store_true",
                    help="Cloud-Optimized GeoTIFF mosaic (engine extension; tiled + "
                         "deflate + internal overviews, header-first layout)")
    og.add_argument("--webp", action="store_true",
                    help="lossless WebP mosaic (engine extension; VP8L codec)")
    og.add_argument("--webp-lossy", action="store_true",
                    help="lossy WebP mosaic (engine extension; VP8 intra codec)")

    p.add_argument("--zoom", type=int, required=True)
    p.add_argument("--tiles-out", type=Path, default=Path.cwd() / "saved_tiles")
    p.add_argument("--out", type=Path, default=Path.cwd() / "output")
    p.add_argument("--download-only", action="store_true", help="only select+join tiles; no mosaic")
    p.add_argument("--tile-files", action="store_true",
                   help="also write per-tile {z}_{x}_{y}.<fmt> image files next to "
                        "the fetch table (reference saved_tiles/ artifact parity)")
    p.add_argument("--pmtiles", action="store_true",
                   help="also pack the fetched tiles into a single "
                        "range-read-servable tiles.pmtiles archive next to "
                        "the fetch table (PMTiles v3, Hilbert-clustered)")
    p.add_argument("--mosaic-only", action="store_true", help="only mosaic previously saved tiles")
    p.add_argument("--resume", action="store_true", help="skip cells already committed in the metrics table")
    p.add_argument("--group-tiles", type=str, default=None, help="mosaic into WxH tile groups")
    p.add_argument("--group-overlap", action="store_true",
                   help="(accepted and ignored — parity with the reference, which parses but never applies it)")
    p.add_argument("--tile-limit", type=int, default=250)
    p.add_argument("--workers", type=int, default=None, help="Spark local core count (default: all)")
    p.add_argument("--parallel", action=argparse.BooleanOptionalAction, default=True)
    p.add_argument("--progress", action=argparse.BooleanOptionalAction, default=True)
    p.add_argument("--quiet", action="store_true")
    p.add_argument("--debug", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from tilegrab_spark import Engine, get_spark
    from tilegrab_spark.sources.vector_files import geometry_from_file
    from tilegrab_spark.sources.tile_sources import url_column

    from pyspark.sql import functions as F

    cores = args.workers if (args.workers and args.parallel) else None
    master = f"local[{cores}]" if cores else None
    spark = get_spark(master=master or "local[*]",
                      extra_conf={"spark.ui.showConsoleProgress": str(args.progress).lower()})
    if not args.debug:
        spark.sparkContext.setLogLevel("ERROR" if args.quiet else "WARN")

    geom = geometry_from_file(args.source)
    eng = Engine(spark, metrics_path=str(args.out / "metrics"))
    tiles = eng.tiles_for(
        geom,
        args.zoom,
        by="shape" if args.shape else "bbox",
        invert=args.invert,
        safe_limit=args.tile_limit,
    )

    uid = "osm" if args.osm else "gsat" if args.google_sat else "esri_wi" if args.esri_sat else "osm"
    tiles = tiles.withColumn(
        "url", url_column(uid, F.col("z"), F.col("x"), F.col("y"), api_key=args.key)
    )

    if args.images is None:
        # plan-only mode: write the selected tile set (with URLs)
        eng.write(tiles, str(args.tiles_out), stage="plan", bytes_col=None)
        if not args.quiet:
            print(f"tile plan written to {args.tiles_out}")
        return 0

    # one fetch per request: the fetch-table commit is the only run of the
    # join, and every later sink reads the committed rows back
    fetched = eng.fetch(tiles, args.images, resume=args.resume)
    if args.mosaic_only:
        committed = fetched
    else:
        committed = eng.write(fetched, str(args.tiles_out), stage="fetch")
        if args.tile_files:
            from tilegrab_spark.sources.export import export_tiles

            export_tiles(committed, args.tiles_out / "files")
        if args.pmtiles:
            from tilegrab_spark.sources.export import export_pmtiles

            # a subdirectory (like --tile-files' files/) so the fetch
            # table's parquet scan never sees a non-parquet root file
            (args.tiles_out / "pmtiles").mkdir(parents=True, exist_ok=True)
            export_pmtiles(committed, args.tiles_out / "pmtiles" / "tiles.pmtiles")
    if args.download_only:
        return 0

    gw = gh = None
    if args.group_tiles:
        gw, gh = (int(v) for v in args.group_tiles.lower().split("x"))
    # the selected tiles join as null-payload rows: they stretch the
    # extent over the whole selection and render black where no image
    # was fetched
    mosaics = eng.mosaic(
        committed.unionByName(tiles, allowMissingColumns=True), group_w=gw, group_h=gh
    )
    if not (args.tiff or args.cog):
        mosaics = mosaics.drop("merc_xmin", "merc_ymin", "merc_xmax", "merc_ymax")
    written = eng.write(mosaics, str(args.out / "mosaics"), stage="mosaic")
    if args.tiff or args.cog or args.jpg or args.webp or args.webp_lossy:
        # real image files next to the table (exporter.py:37-74):
        # georeferenced .tif or lossy .jpg per the format flag (.webp is
        # an engine extension), from this run's committed mosaics
        from tilegrab_spark.sources.export import export_mosaics

        if args.cog:
            export_mosaics(written, args.out / "cog", fmt="cog")
        elif args.tiff:
            export_mosaics(written, args.out / "tiff", fmt="tiff")
        elif args.webp:
            export_mosaics(written, args.out / "webp", fmt="webp")
        elif args.webp_lossy:
            export_mosaics(written, args.out / "webp", fmt="webp_lossy")
        else:
            export_mosaics(written, args.out / "jpg", fmt="jpg")
    if not args.quiet:
        print(f"mosaics written to {args.out / 'mosaics'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
