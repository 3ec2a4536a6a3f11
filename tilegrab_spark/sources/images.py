"""The image+caption table — the engine's primary input (BASELINE.json
input_hint): ``(image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:int64)``.

``image_id`` is ``"{z}_{x}_{y}_{src}"`` — the ``z_x_y`` prefix is the
reference's filename key (images/loader.py:12, regex
``^(\\d+)_(\\d+)_(\\d+)\\.\\w+$``); parsing it back to tile indices is a
``regexp_extract`` projection (P6), never Python.

Layout: parquet directory partitioned by ``(zoom, bucket)`` where
``bucket = pmod(cell_id, N)`` — the sandbox stand-in for an Iceberg table
partitioned ``(zoom, bucket(N, cell_id))`` (SURVEY.md §4). Only a query
that filters ``zoom``/``bucket`` itself prunes files: the fetch joins on
the key parsed out of ``image_id``, from which no partition filter is
derived, so each fetch reads the whole table.

The synthetic generator runs DISTRIBUTED (mapInPandas over a cell spec
DataFrame): the same code that makes a 500-row pytest fixture makes the
10^7-row bench table, and would make 10^12 rows on a real cluster —
generation cost is per-partition, no driver materialization.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tilegrab_spark.kernels import png
from tilegrab_spark.kernels.geo import pack_cell_id

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

# The reference's filename key regex, images/loader.py:12 (P6).
TILE_ID_RE = r"^(\d+)_(\d+)_(\d+)"


def synth_caption(z: int, x: int, y: int, src: int, checksum: int) -> str:
    return f"tile {z}/{x}/{y} src={src} sum={checksum}"


def _gen_batch(pdf: pd.DataFrame, tile_w: int, tile_h: int) -> pd.DataFrame:
    out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "zoom", "bucket")}
    for z, x, y, src, bucket in zip(pdf["z"], pdf["x"], pdf["y"], pdf["src"], pdf["bucket"]):
        arr = png.synth_tile_pixels(int(x), int(y), int(z), int(src), tile_w, tile_h)
        data = png.encode_png(arr, filter_type=2)
        out["image_id"].append(f"{z}_{x}_{y}_{src}")
        out["bytes"].append(data)
        out["w"].append(tile_w)
        out["h"].append(tile_h)
        out["fmt"].append("png")
        out["caption"].append(synth_caption(int(z), int(x), int(y), int(src), int(arr.sum())))
        out["phash"].append(png.phash64(arr))
        out["zoom"].append(int(z))
        out["bucket"].append(int(bucket))
    return pd.DataFrame(out)


def write_synthetic_image_table(
    spark: SparkSession,
    path: str,
    cells: DataFrame | list,
    *,
    n_buckets: int = 16,
    tile_w: int = 256,
    tile_h: int = 256,
    mode: str = "overwrite",
) -> None:
    """Generate and write the image table for a cell spec.

    ``cells``: DataFrame with columns (z int, x long, y long, src int), or a
    driver list of (z, x, y, src) tuples (small fixtures). Generation is a
    mapInPandas over the spec — fully distributed, deterministic
    (FIXTURES.md §2 pixel formula), no RNG.
    """
    if not isinstance(cells, DataFrame):
        cells = spark.createDataFrame(
            [(int(z), int(x), int(y), int(s)) for z, x, y, s in cells],
            "z int, x long, y long, src int",
        )
    spec = cells.withColumn(
        "bucket",
        F.pmod(cell_id_col("z", "x", "y"), F.lit(n_buckets)).cast("int"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf, tile_w, tile_h)

    df = spec.mapInPandas(gen, schema=IMAGE_SCHEMA)
    (
        df.write.mode(mode)
        .partitionBy("zoom", "bucket")
        .parquet(path)
    )


def read_image_table(spark: SparkSession, path: str, *, parse_key: bool = True) -> DataFrame:
    """Scan the image table; optionally project the tile key out of
    ``image_id`` (P6: ``regexp_extract`` ≙ images/loader.py:24-28) plus the
    packed ``cell_id`` — all Catalyst expressions so Parquet still prunes
    columns underneath (partitions only under a ``zoom``/``bucket`` filter).
    """
    df = spark.read.parquet(path)
    if parse_key:
        df = (
            df.withColumn("z", F.regexp_extract("image_id", TILE_ID_RE, 1).cast("int"))
            .withColumn("x", F.regexp_extract("image_id", TILE_ID_RE, 2).cast("long"))
            .withColumn("y", F.regexp_extract("image_id", TILE_ID_RE, 3).cast("long"))
            .withColumn("cell_id", cell_id_col("z", "x", "y"))
        )
    return df


def write_bucketed_image_table(
    df: DataFrame,
    table_name: str,
    *,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist image rows as a Hive-BUCKETED table on the packed cell key
    (``bucketBy(n, cell_id) sortBy(cell_id)``) — the co-located-join
    layout (SURVEY.md §4): two tables bucketed the same way join with
    ZERO Exchange (Spark reads bucket i of both sides into the same
    task), so repeated cell-key joins — tiles↔images, images↔captions,
    progress lookups — never reshuffle the 100 TB side. This is the
    sandbox stand-in for an Iceberg table with a ``bucket(N, cell_id)``
    partition transform; directory-partitioned ``(zoom, bucket)``
    parquet (write_synthetic_image_table) remains the scan-pruning
    layout for tile-range queries.
    """
    d = df
    if "cell_id" not in d.columns:
        d = d.withColumn(
            "cell_id",
            cell_id_col(
                F.regexp_extract("image_id", TILE_ID_RE, 1).cast("int"),
                F.regexp_extract("image_id", TILE_ID_RE, 2).cast("long"),
                F.regexp_extract("image_id", TILE_ID_RE, 3).cast("long"),
            ),
        )
    (
        d.write.mode(mode)
        .bucketBy(n_buckets, "cell_id")
        .sortBy("cell_id")
        .format("parquet")
        .saveAsTable(table_name)
    )


def cell_id_col(z="z", x="x", y="y"):
    """Packed cell id as a Catalyst expression: z<<58 | x<<29 | y.
    Accepts column names or Column expressions."""
    zc, xc, yc = (F.col(c) if isinstance(c, str) else c for c in (z, x, y))
    return (
        F.shiftleft(zc.cast("long"), 58)
        .bitwiseOR(F.shiftleft(xc.cast("long"), 29))
        .bitwiseOR(yc.cast("long"))
    )


def expected_pixels(image_id: str, w: int = 256, h: int = 256) -> np.ndarray:
    """Oracle pixels for a synthetic image_id (tests + verify kernels)."""
    z, x, y, src = (int(v) for v in image_id.split("_"))
    return png.synth_tile_pixels(x, y, z, src, w, h)


def cells_for_tile_sets(tile_sets: dict[int, list], srcs=(0,), gaps=(), hot=None):
    """Helper to build a cell spec list: {zoom: [(x,y), ...]} plus optional
    deliberate gaps (missing tiles => black mosaic regions, mosaic.py:20)
    and a hot cell repeated many times with distinct srcs (skew exercise).
    """
    cells = []
    gapset = set(gaps)
    for z, xys in tile_sets.items():
        for x, y in xys:
            if (z, x, y) in gapset:
                continue
            for s in srcs:
                cells.append((z, x, y, s))
    if hot:
        (z, x, y), n = hot
        cells.extend((z, x, y, 100 + i) for i in range(n))
    return cells
