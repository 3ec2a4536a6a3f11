"""Tile-pyramid rollup: build zoom level z-1 from level z — each parent
tile is the 2x2 mosaic of its children, block-mean downsampled back to
tile size. The tiling-engine analogue of a hypertable rollup: a
``groupBy(parent cell).applyInPandas`` reducer whose group key
(``x >> 1, y >> 1``) is a pure projection computed BEFORE the shuffle, so
building a whole level over 10^12 tiles is one shuffle sized by the
OUTPUT level (4x smaller than the input).

Iterating ``build_parent_level`` from z_max down to z_min materializes a
full pyramid; each level reads only the previous level's table
(partition-pruned by zoom).

Incremental maintenance (``dirty_ancestors`` + ``refresh_pyramid``):
after an epoch diff (change.tile_diff) touches C of 10^12 base tiles,
only the overview cells whose 2x2 subtree contains a changed tile need
re-rendering — at most C tiles per level, ≤ C·(z_base − z_min) total and
usually far fewer after dedup (changes cluster spatially). The dirty set
is a pure-Catalyst shift-and-distinct; each level's rebuild reads ONLY
the dirty parents' children via a broadcast semi-join, so refresh cost
is ∝ change volume, never pyramid size.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilegrab_spark.kernels import decode_payload, png
from tilegrab_spark.kernels.geo import pack_cell_id

PARENT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, zoom int, bucket int, n_children int"
)


def build_parent_level(
    images_df: DataFrame,
    zoom: int,
    *,
    tile_w: int = 256,
    tile_h: int = 256,
    src: str = "0",
    n_buckets: int = 16,
    png_level: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """Parent tiles at ``zoom - 1`` from child rows at ``zoom``.

    Children are placed in a 2x2 canvas by (x&1, y&1), missing children
    stay black (same missing-tile semantics as the mosaic, mosaic.py:20),
    then block-mean 2:1 downsample. Children of any image ``fmt`` decode
    through ``kernels.decode_payload`` (raw ones at ``tile_w`` x
    ``tile_h``); parents are always PNG. Output rows carry the
    image-table schema so the result appends straight into the pyramid
    table.
    """
    pz = zoom - 1
    df = (
        images_df.filter(F.col("z") == zoom)
        .select(
            "x", "y", "bytes", "fmt",
            F.shiftright(F.col("x"), 1).alias("px"),
            F.shiftright(F.col("y"), 1).alias("py"),
        )
    )
    spark = images_df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism * 2
    df = df.repartition(nparts, "px", "py")

    import pyarrow as pa
    from typing import Tuple

    def _rollup_core(px, py, xs, ys, datas, fmts):
        canvas = np.zeros((tile_h * 2, tile_w * 2, 3), dtype=np.uint8)
        n = 0
        for i in sorted(range(len(xs)), key=lambda i: (ys[i], xs[i])):
            if datas[i] is None:
                continue
            arr = decode_payload(bytes(datas[i]), fmts[i], tile_w, tile_h)
            ox = (int(xs[i]) & 1) * tile_w
            oy = (int(ys[i]) & 1) * tile_h
            canvas[oy : oy + tile_h, ox : ox + tile_w] = arr[:tile_h, :tile_w]
            n += 1
        small = (
            canvas.reshape(tile_h, 2, tile_w, 2, 3).mean(axis=(1, 3)).astype(np.uint8)
        )
        data = png.encode_png(small, filter_type=2, level=png_level)
        cell = int(pack_cell_id(px, py, pz))
        return {
            "image_id": f"{pz}_{px}_{py}_{src}",
            "bytes": data,
            "w": tile_w,
            "h": tile_h,
            "fmt": "png",
            "caption": f"tile {pz}/{px}/{py} src={src} rollup n={n}",
            "phash": png.phash64(small),
            "zoom": pz,
            "bucket": cell % n_buckets,
            "n_children": n,
        }

    _schema = pa.schema(
        [
            ("image_id", pa.string()), ("bytes", pa.binary()),
            ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
            ("caption", pa.string()), ("phash", pa.int64()),
            ("zoom", pa.int32()), ("bucket", pa.int32()),
            ("n_children", pa.int32()),
        ]
    )

    def rollup(key: Tuple, tbl: "pa.Table") -> "pa.Table":
        px, py = (int(v.as_py() if hasattr(v, "as_py") else v) for v in key)
        row = _rollup_core(
            px, py,
            tbl.column("x").to_pylist(),
            tbl.column("y").to_pylist(),
            tbl.column("bytes").to_pylist(),
            tbl.column("fmt").to_pylist(),
        )
        return pa.Table.from_pylist([row], schema=_schema)

    return df.groupBy("px", "py").applyInArrow(rollup, schema=PARENT_SCHEMA)


def dirty_ancestors(
    changed: DataFrame,
    *,
    z_base: int,
    z_min: int,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Distinct ``[zoom, x, y]`` overview cells in ``[z_min, z_base-1]``
    whose rendered content depends on ANY changed base tile at
    ``z_base`` (the tile's ancestor chain: ``x >> k, y >> k`` per level
    up). Feed ``change.tile_diff`` rows with ``change != 'unchanged'``.

    Pure Catalyst: one explode over ≤ (z_base − z_min) levels and one
    distinct — the only exchange is sized by the OUTPUT (the dirty set),
    which spatial clustering of real change keeps ≪ C·levels."""
    if z_min >= z_base:
        raise ValueError(f"need z_min < z_base, got z_min={z_min} z_base={z_base}")
    if z_min < 0:
        raise ValueError(f"z_min must be >= 0, got {z_min}")
    return (
        changed.select(
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .select(
            "_x",
            "_y",
            F.explode(F.sequence(F.lit(1), F.lit(int(z_base - z_min)))).alias("_up"),
        )
        .select(
            (F.lit(int(z_base)) - F.col("_up")).cast("int").alias("zoom"),
            F.expr("shiftright(_x, _up)").alias("x"),
            F.expr("shiftright(_y, _up)").alias("y"),
        )
        .distinct()
    )


def refresh_pyramid(
    base_df: DataFrame,
    pyramid_df: DataFrame,
    changed: DataFrame,
    *,
    z_base: int,
    z_min: int,
    **kw,
) -> DataFrame:
    """Replacement overview rows (PARENT_SCHEMA) for every dirty
    ancestor of ``changed`` base tiles — the incremental alternative to
    re-running ``build_pyramid`` after an epoch lands.

    ``base_df`` is the UPDATED base level (rows at ``z_base``);
    ``pyramid_df`` the existing overview table (both need the standard
    ``z/x/y/bytes/fmt`` reader columns). ``changed`` carries the changed
    base tiles' ``x, y``. The caller replaces the returned cells in the
    overview table (snapshot-table ``replace`` or partition overwrite) —
    rows are keyed by ``image_id``/``zoom`` exactly like
    ``build_parent_level`` output.

    Per level, children are pruned to dirty parents with a BROADCAST
    semi-join (the dirty set is change-sized), so each level's shuffle
    and Arrow work is ∝ |dirty|, never pyramid size. Each rebuilt level
    is persisted eagerly (dirty-sized) because the next level down reads
    it; handles are tracked — ``release_signature_caches()`` drops them."""
    from tilegrab_spark.operators.dedup import _persist_signatures

    dirty = dirty_ancestors(changed, z_base=z_base, z_min=z_min)
    dirty = _persist_signatures(dirty)

    out: DataFrame | None = None
    # children view for the level being rebuilt: start from the updated
    # base, then swap in each freshly rebuilt level on the way down
    children = base_df.select("z", "x", "y", "bytes", "fmt")
    for pz in range(z_base - 1, z_min - 1, -1):
        d = dirty.filter(F.col("zoom") == pz).select(
            F.col("x").alias("_px"), F.col("y").alias("_py")
        )
        kids = children.filter(F.col("z") == pz + 1).join(
            F.broadcast(d),
            (F.shiftright(F.col("x"), 1) == F.col("_px"))
            & (F.shiftright(F.col("y"), 1) == F.col("_py")),
            "left_semi",
        )
        rebuilt = _persist_signatures(build_parent_level(kids, pz + 1, **kw))
        out = rebuilt if out is None else out.unionByName(rebuilt)
        if pz > z_min:
            # next level reads pz rows: untouched overview rows plus the
            # replacements (parse the tile key back out of image_id —
            # same regex contract as read_image_table)
            from tilegrab_spark.sources.images import TILE_ID_RE

            fresh = rebuilt.select(
                F.regexp_extract("image_id", TILE_ID_RE, 1).cast("int").alias("z"),
                F.regexp_extract("image_id", TILE_ID_RE, 2).cast("long").alias("x"),
                F.regexp_extract("image_id", TILE_ID_RE, 3).cast("long").alias("y"),
                "bytes",
                "fmt",
            )
            untouched = (
                pyramid_df.filter(F.col("z") == pz)
                .select("z", "x", "y", "bytes", "fmt")
                .join(
                    F.broadcast(d),
                    (F.col("x") == F.col("_px")) & (F.col("y") == F.col("_py")),
                    "left_anti",
                )
            )
            children = untouched.unionByName(fresh)
    return out


def build_pyramid(
    images_df: DataFrame,
    table_path: str,
    *,
    z_max: int,
    z_min: int,
    **kw,
) -> None:
    """Materialize all levels z_max-1 .. z_min into the pyramid table.
    Each level reads the PREVIOUS level's committed output (never the
    whole pyramid) — zoom partition pruning keeps every step 4x smaller.
    """
    from tilegrab_spark.sources.images import read_image_table

    spark = images_df.sparkSession
    level_src = images_df
    for z in range(z_max, z_min, -1):
        parents = build_parent_level(level_src, z, **kw)
        parents.write.mode("append").partitionBy("zoom", "bucket").parquet(table_path)
        level_src = read_image_table(spark, table_path).filter(
            F.col("zoom") == z - 1
        )
