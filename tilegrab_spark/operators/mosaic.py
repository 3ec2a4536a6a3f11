"""A2/W1: the mosaic-stitch reducer — ``groupBy(mosaic key).applyInArrow``.

Reference semantics re-expressed:
- ``mosaic()`` (images/mosaic.py:7-27): canvas spans the min/max tile
  extent of the *present* images, each tile pasted at
  ``((x-minx)*tw, (y-miny)*th)``, RGB, missing tiles black, overlap =
  last-paste-wins. Here the stitch takes the extent from its group's
  own rows (no extent pass over the join), and paste order is
  made deterministic by sorting (y, x, image_id) before pasting. Rows
  with a null payload (selected tiles with no stored image) widen the
  extent and are never pasted, so they render black. Every tile
  decodes through ``kernels.decode_payload``, as every reference tile
  goes through PIL; a payload it rejects (corrupt, or an unknown
  ``fmt``) renders black and counts in ``n_bad``.
- ``group_image()`` (images/grouping.py:9-29): re-chunk the mosaic into
  gw×gh-tile groups, dropping all-zero groups (F7) and incomplete
  trailing windows (``sliding_window_view`` yields full windows only).
  Scalable form (SURVEY.md §2.6 form b): the group key
  ``(floor((x-ax)/gw), floor((y-ay)/gh))`` is computed BEFORE the
  shuffle, so no executor ever holds more than one gw×gh group — the
  giant canvas never exists. At 100 TB this is the difference between a
  working job and an OOM.

Output rows carry the EPSG:3857 georeference of their extent (S7's
``rasterio.transform.from_bounds`` inputs, exporter.py:47-74) as plain
columns — the GeoTIFF sink is metadata, not a special operator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilegrab_spark.kernels import decode_payload, geo, png

MOSAIC_SCHEMA = (
    "geom_id string, z int, gx int, gy int, "
    "tminx long, tminy long, tmaxx long, tmaxy long, "
    "w int, h int, n_tiles int, n_bad int, bytes binary, "
    "merc_xmin double, merc_ymin double, merc_xmax double, merc_ymax double"
)

# zlib level of the stitched canvas PNG
PNG_LEVEL = 3


def _stitch_core(
    key, xs, ys, datas, fmts, ids, *, tile_w: int, tile_h: int,
    group_w: int | None, group_h: int | None, drop_empty: bool,
    stride_w: int | None = None, stride_h: int | None = None,
) -> dict | None:
    """Stitch kernel over plain sequences; returns one output row dict,
    or None for an all-zero dropped group (F7).

    ``stride_w/stride_h`` place window origins at multiples of the stride
    (overlapping re-chunking, W2); default = group size (disjoint W1)."""
    geom_id, z, gx, gy, ax, ay = key
    z, gx, gy, ax, ay = int(z), int(gx), int(gy), int(ax), int(ay)
    if group_w is None:
        # parity mode: canvas = min..max extent of present tiles
        # (images/mosaic.py:11-18)
        tminx, tmaxx = int(min(xs)), int(max(xs))
        tminy, tmaxy = int(min(ys)), int(max(ys))
    else:
        tminx = ax + gx * (stride_w or group_w)
        tminy = ay + gy * (stride_h or group_h)
        tmaxx = tminx + group_w - 1
        tmaxy = tminy + group_h - 1
    w = (tmaxx - tminx + 1) * tile_w
    h = (tmaxy - tminy + 1) * tile_h
    canvas = np.zeros((h, w, 3), dtype=np.uint8)  # RGB, black = missing
    n = 0
    n_bad = 0
    # deterministic last-paste-wins order (reference order is iteration
    # order, mosaic.py:22-25; we pin it). A null-payload row has no
    # image_id and is skipped below, so it may sort anywhere in its cell
    for i in sorted(range(len(xs)), key=lambda i: (ys[i], xs[i], ids[i] or "")):
        data = datas[i]
        if data is None:
            continue
        try:
            arr = decode_payload(bytes(data), fmts[i], tile_w, tile_h)
        except Exception:
            # at 10^12 rows a corrupt payload is a statistical certainty;
            # one bad tile must not kill the stage — it renders black
            # (missing-tile semantics) and is COUNTED, so the lineage/
            # metrics layer can route the cell for re-fetch (A5/X3 shape:
            # status columns instead of exceptions)
            n_bad += 1
            continue
        px = (int(xs[i]) - tminx) * tile_w
        py = (int(ys[i]) - tminy) * tile_h
        canvas[py : py + arr.shape[0], px : px + arr.shape[1]] = arr[
            : h - py, : w - px
        ]
        n += 1
    if drop_empty and not canvas.any() and n_bad == 0:
        # F7 all-zero drop (grouping.py:26-29) — but NEVER drop a group
        # whose emptiness came from corrupt payloads: the n_bad count is
        # what routes those cells for re-fetch
        return None
    mx0, my0, mx1, my1 = geo.tile_extent_mercator(tminx, tminy, tmaxx, tmaxy, z)
    return {
        "geom_id": geom_id,
        "z": z,
        "gx": gx,
        "gy": gy,
        "tminx": tminx,
        "tminy": tminy,
        "tmaxx": tmaxx,
        "tmaxy": tmaxy,
        "w": w,
        "h": h,
        "n_tiles": n,
        "n_bad": n_bad,
        "bytes": png.encode_png(canvas, filter_type=2, level=PNG_LEVEL),
        "merc_xmin": mx0,
        "merc_ymin": my0,
        "merc_xmax": mx1,
        "merc_ymax": my1,
    }


def _mosaic_arrow_schema():
    types = {
        "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
        "binary": pa.binary(), "double": pa.float64(),
    }
    return pa.schema(
        [(f.split()[0], types[f.split()[1]]) for f in MOSAIC_SCHEMA.split(", ")]
    )


_ARROW_SCHEMA = _mosaic_arrow_schema()


def mosaic(
    joined: DataFrame,
    *,
    group_w: int | None = None,
    group_h: int | None = None,
    tile_w: int = 256,
    tile_h: int = 256,
    drop_empty: bool = False,
    full_groups_only: bool = True,
    anchor: tuple | None = None,
    group_overlap: int = 0,
) -> DataFrame:
    """Stitch joined (tile, image) rows into mosaics.

    ``group_w/group_h`` None → one mosaic per (geom_id, z) (parity with
    images/mosaic.py). Set → W1 re-chunking into gw×gh-tile mosaics keyed
    before the shuffle (scale mode). ``full_groups_only`` drops trailing
    partial windows for grouping parity (sliding_window_view semantics);
    ``drop_empty`` is F7.

    ``group_overlap`` (W2): the reference parses ``--group-overlap`` but
    never applies it (cli.py:101-103 vs :235-239 — SURVEY §8 Q3; parity
    default is therefore 0). Opt-in here implements the INTENDED
    semantics: window origins every ``group_w - group_overlap`` tiles,
    so adjacent mosaics share ``group_overlap`` tile columns/rows.
    Scalable form: each tile row explodes over the (few) windows that
    cover it BEFORE the shuffle — ``sequence``+``explode`` in Catalyst,
    amplification factor ≈ (gw/(gw-ov))², and still no giant canvas.

    ``anchor=(ax, ay)``: explicit grid origin (e.g. the enumeration's bbox
    corner, known driver-side). Skips the data-extent aggregation —
    at scale that aggregation is a second pass over the join, so passing
    the anchor halves the work. ``full_groups_only`` needs data extents
    and therefore still runs the aggregation. One mosaic per group
    (``group_w=None``) never runs it: the stitch spans its own rows.
    """
    if anchor is not None and not full_groups_only:
        df = joined.withColumn("_ax", F.lit(int(anchor[0])).cast("long")).withColumn(
            "_ay", F.lit(int(anchor[1])).cast("long")
        )
    elif group_w is None:
        # one mosaic per (geom_id, z): the stitch takes its extent from
        # the group's own rows, so no extent aggregation runs. A row with
        # a null geom_id or z makes no mosaic, as in the grouped modes,
        # whose extent join drops it
        df = joined.filter(F.col("geom_id").isNotNull() & F.col("z").isNotNull()).withColumns(
            {"_ax": F.lit(0).cast("long"), "_ay": F.lit(0).cast("long")}
        )
    else:
        ext = joined.groupBy("geom_id", "z").agg(
            F.min("x").alias("_ax"),
            F.min("y").alias("_ay"),
            F.max("x").alias("_mx"),
            F.max("y").alias("_my"),
        )
        df = joined.join(F.broadcast(ext), on=["geom_id", "z"])
    stride_w = stride_h = None
    if group_w is not None:
        group_h = group_h or group_w
        if group_overlap:
            if group_overlap >= min(group_w, group_h):
                raise ValueError("group_overlap must be < group size")
            stride_w = group_w - group_overlap
            stride_h = group_h - group_overlap
            dx = F.col("x") - F.col("_ax")
            dy = F.col("y") - F.col("_ay")
            # windows covering dx: origins g*s with g*s <= dx <= g*s+gw-1
            gx_lo = F.greatest(-F.floor((F.lit(group_w - 1) - dx) / stride_w), F.lit(0))
            gy_lo = F.greatest(-F.floor((F.lit(group_h - 1) - dy) / stride_h), F.lit(0))
            df = df.withColumn(
                "gx",
                F.explode(
                    F.sequence(gx_lo.cast("int"), F.floor(dx / stride_w).cast("int"))
                ),
            ).withColumn(
                "gy",
                F.explode(
                    F.sequence(gy_lo.cast("int"), F.floor(dy / stride_h).cast("int"))
                ),
            )
            if full_groups_only:
                nx = F.col("_mx") - F.col("_ax") + 1
                ny = F.col("_my") - F.col("_ay") + 1
                df = df.filter(
                    (F.col("gx") * stride_w + group_w <= nx)
                    & (F.col("gy") * stride_h + group_h <= ny)
                )
        else:
            df = df.withColumn(
                "gx", F.floor((F.col("x") - F.col("_ax")) / group_w).cast("int")
            ).withColumn(
                "gy", F.floor((F.col("y") - F.col("_ay")) / group_h).cast("int")
            )
            if full_groups_only:
                nx = F.col("_mx") - F.col("_ax") + 1
                ny = F.col("_my") - F.col("_ay") + 1
                df = df.filter(
                    ((F.col("gx") + 1) * group_w <= nx)
                    & ((F.col("gy") + 1) * group_h <= ny)
                )
    else:
        df = df.withColumn("gx", F.lit(0)).withColumn("gy", F.lit(0))

    cols = ["geom_id", "z", "gx", "gy", "_ax", "_ay", "x", "y", "bytes", "fmt", "image_id"]
    df = df.select(*cols)

    # The stitch is CPU-bound Python, not bytes-bound: AQE's partition
    # coalescing (sized for shuffle BYTES) would collapse this stage to a
    # handful of Python workers (measured 5 workers / 3x slower on the
    # bench). Pin the stage's parallelism with an explicit repartition on
    # the group keys — groupBy reuses the compatible hash partitioning, so
    # this adds no extra shuffle, and AQE leaves user repartitions alone.
    nparts = joined.sparkSession.sparkContext.defaultParallelism * 2
    df = df.repartition(nparts, "geom_id", "z", "gx", "gy")

    grouped = df.groupBy("geom_id", "z", "gx", "gy", "_ax", "_ay")

    # Arrow-native grouped map: no per-group pandas construction
    def arrow_fn(key: tuple, tbl: pa.Table) -> pa.Table:
        k = tuple(v.as_py() if hasattr(v, "as_py") else v for v in key)
        row = _stitch_core(
            k,
            tbl.column("x").to_pylist(),
            tbl.column("y").to_pylist(),
            tbl.column("bytes").to_pylist(),
            tbl.column("fmt").to_pylist(),
            tbl.column("image_id").to_pylist(),
            tile_w=tile_w, tile_h=tile_h, group_w=group_w,
            group_h=group_h, drop_empty=drop_empty,
            stride_w=stride_w, stride_h=stride_h,
        )
        rows = [] if row is None else [row]
        return pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA)

    return grouped.applyInArrow(arrow_fn, schema=MOSAIC_SCHEMA)
