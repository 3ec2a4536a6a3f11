"""Pairwise line-of-sight over a DEM — "can A see B?"

The GRASS `r.los`-between-points / ArcGIS Construct-Sight-Lines
operation: for each (observer, target) pair, walk the straight sight
line between their pixels, compare the terrain under every interior
step against the linearly-interpolated sight elevation, and report
visibility plus the minimum clearance (how far above/below terrain the
line passes — negative = blocked, and by how much).

This is EXACT per the sampled-profile definition (one terrain sample
per Chebyshev step, the Bresenham supercover walked via parametric
interpolation), unlike :func:`viewshed`'s XDraw, which trades exactness
for full-grid throughput. Use viewshed for "everything visible from
here", sight lines for auditable point-to-point answers (tower links,
turbine visibility assessments) — the standard pairing in GIS suites.

Spark shape, all relational (the linesample recipe in pixel space):

1. pairs explode to steps ``i in [0, n]``, ``n = chebyshev(a, b)`` —
   pure Catalyst ``sequence``; step pixel = round(lerp(a, b, i/n)),
   so samples per pair are bounded by the pixel distance;
2. steps DEDUPE to the distinct touched pixels per tile (bounded by
   tile_px^2 regardless of how many sight lines cross the tile — the
   bin_points economics), one Arrow map decodes each tile ONCE and
   gathers them, and steps equi-join the elevations back (rasters
   never shuffle; the grouped state is raster-bounded);
3. endpoint elevations join back per pair (two one-row-per-pair
   sides) and a plain aggregation computes min interior clearance:
   ``clear(i) = lerp(elev_a + h_a, elev_b + h_b, t_i) - terrain(i)``.

Output: ``[pair_id, visible, min_clearance, n_steps, n_missing,
status]`` — ``visible`` requires every interior step present with
clearance > 0; missing tiles / decode errors make the pair
``status='unknown'`` (never a silent "visible", never a task failure).
Adjacent or coincident pixels (n <= 1) are trivially visible.

Scale: the only shuffles carry step rows (pairs x pixel length) and
the per-pair aggregation; tiles decode once each per job. Skew knob:
a continent-length sight line explodes to ~n rows in one task's input
— bound pair length upstream (or raise ``max_steps``, which guards
against accidental 10^8-step explodes by raising)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload
from tilegrab_spark.sources.images import cell_id_col

__all__ = ["line_of_sight"]

def line_of_sight(
    images: DataFrame,
    pairs: DataFrame,
    *,
    zoom: int,
    band="max",
    tile_px: int = 256,
    observer_height: float = 2.0,
    target_height: float = 0.0,
    max_steps: int = 1_000_000,
) -> DataFrame:
    """Visibility report per (observer, target) pair over the image
    table's elevation channel. ``pairs`` needs ``[pair_id, gx_a, gy_a,
    gx_b, gy_b]`` global-pixel columns (optional ``h_a``/``h_b``
    per-row height overrides; defaults ``observer_height`` /
    ``target_height`` meters-in-DN above the surface). Module
    docstring for semantics and the distributed shape."""
    if not (0 <= zoom <= 22):
        raise ValueError(f"zoom must be in [0, 22], got {zoom}")
    if tile_px < 1:
        raise ValueError(f"tile_px must be positive, got {tile_px}")
    if max_steps < 1:
        raise ValueError(f"max_steps must be positive, got {max_steps}")
    z = int(zoom)
    tp = int(tile_px)
    has_ha = "h_a" in pairs.columns
    has_hb = "h_b" in pairs.columns
    p = pairs.select(
        F.col("pair_id").cast("long"),
        F.col("gx_a").cast("long"), F.col("gy_a").cast("long"),
        F.col("gx_b").cast("long"), F.col("gy_b").cast("long"),
        (F.col("h_a") if has_ha else F.lit(float(observer_height))).cast("double").alias("h_a"),
        (F.col("h_b") if has_hb else F.lit(float(target_height))).cast("double").alias("h_b"),
    )
    n = F.greatest(
        F.abs(F.col("gx_b") - F.col("gx_a")), F.abs(F.col("gy_b") - F.col("gy_a"))
    )
    p = p.withColumn("n", n)
    over = p.filter(F.col("n") > int(max_steps)).limit(1).collect()
    if over:
        raise ValueError(
            f"pair {over[0]['pair_id']} spans {over[0]['n']} steps > "
            f"max_steps={max_steps}; split it or raise max_steps"
        )
    steps = p.withColumn("i", F.explode(F.sequence(F.lit(0), F.col("n"))))
    t = F.when(F.col("n") > 0, F.col("i") / F.col("n")).otherwise(F.lit(0.0))
    # round-half-up lerp: pixel = floor(a + t*(b-a) + 0.5) — matches the
    # oracle exactly and is symmetric in all non-.5-tie geometries
    gx = F.floor(
        F.col("gx_a") + t * (F.col("gx_b") - F.col("gx_a")) + F.lit(0.5)
    ).cast("long")
    gy = F.floor(
        F.col("gy_a") + t * (F.col("gy_b") - F.col("gy_a")) + F.lit(0.5)
    ).cast("long")
    steps = steps.select(
        "pair_id", "i", "n", gx.alias("gx"), gy.alias("gy")
    )
    tkey = cell_id_col(F.lit(z), F.col("gx") / tp, F.col("gy") / tp)
    pix = ((F.col("gy") % tp) * tp + (F.col("gx") % tp)).cast("int")
    keyed = steps.select(
        "pair_id", "i", "n", tkey.alias("_tk"), pix.alias("_pix")
    )
    # gather DISTINCT touched pixels only: many sight lines crossing one
    # tile collapse to <= tile_px^2 lookups, so per-tile grouped state
    # is bounded by the raster — never by how many pairs cross it (the
    # render.bin_points economics). Steps then equi-join the tiny
    # elevation table back.
    touched = keyed.select("_tk", "_pix").distinct().groupBy("_tk").agg(
        F.collect_list("_pix").alias("pxs")
    )
    img = images.filter(F.col("z") == z).select(
        cell_id_col().alias("_ik"),
        "fmt", "bytes", "w", "h",
    )
    joined = touched.join(img, on=F.col("_tk") == F.col("_ik"), how="left")

    elev_schema = T.StructType(
        [
            T.StructField("_tk", T.LongType(), False),
            T.StructField("_pix", T.IntegerType(), False),
            T.StructField("status", T.StringType(), False),
            T.StructField("elev", T.IntegerType(), True),
        ]
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tks, pixs, stats, elevs = [], [], [], []
            # plain tuples: itertuples mangles _-prefixed column names
            cols = pdf[["_tk", "pxs", "fmt", "bytes", "w", "h"]]
            for tk, pxs, fmt, data, w_, h_ in cols.itertuples(
                index=False, name=None
            ):
                chan = None
                status = "ok"
                if fmt is None:
                    status = "no_tile"
                else:
                    try:
                        arr = decode_payload(bytes(data), fmt, int(w_), int(h_))
                        chan = (
                            arr.max(axis=2) if band == "max" else arr[:, :, int(band)]
                        )
                        if chan.shape != (tp, tp):
                            status, chan = "size_mismatch", None
                    except (ValueError, NotImplementedError):
                        status, chan = "decode_error", None
                idx = np.asarray(pxs, dtype=np.int64)
                tks.append(np.full(idx.shape[0], int(tk), dtype=np.int64))
                pixs.append(idx)
                stats.append(np.full(idx.shape[0], status, dtype=object))
                if chan is not None:
                    elevs.append(chan.ravel()[idx].astype(object))
                else:
                    elevs.append(np.full(idx.shape[0], None, dtype=object))
            if not tks:
                yield pd.DataFrame(
                    {"_tk": [], "_pix": [], "status": [], "elev": []}
                )
                continue
            yield pd.DataFrame(
                {
                    "_tk": np.concatenate(tks),
                    "_pix": np.concatenate(pixs).astype(np.int32),
                    "status": pd.Series(np.concatenate(stats), dtype=object),
                    "elev": pd.Series(np.concatenate(elevs), dtype=object),
                }
            )

    elevations = joined.mapInPandas(gather, schema=elev_schema)
    samples = keyed.join(elevations, ["_tk", "_pix"]).select(
        "pair_id", "i", "n", "status", "elev"
    )
    ends_a = samples.filter(F.col("i") == 0).select(
        "pair_id",
        F.col("elev").alias("_ea"),
        F.col("status").alias("_sa"),
    )
    ends_b = samples.filter(F.col("i") == F.col("n")).select(
        "pair_id",
        F.col("elev").alias("_eb"),
        F.col("status").alias("_sb"),
    )
    hcols = p.select("pair_id", "h_a", "h_b", F.col("n").alias("_n"))
    # one row per pair on every build side — broadcast all three so the
    # step-row frame (the big side) never shuffles
    base = (
        samples.join(F.broadcast(ends_a), "pair_id")
        .join(F.broadcast(ends_b), "pair_id")
        .join(F.broadcast(hcols), "pair_id")
    )
    tt = F.when(F.col("_n") > 0, F.col("i") / F.col("_n")).otherwise(F.lit(0.0))
    sight = (
        (F.col("_ea").cast("double") + F.col("h_a"))
        + tt
        * (
            (F.col("_eb").cast("double") + F.col("h_b"))
            - (F.col("_ea").cast("double") + F.col("h_a"))
        )
    )
    interior = (F.col("i") > 0) & (F.col("i") < F.col("_n"))
    clear = F.when(
        interior & (F.col("status") == "ok") & F.col("_ea").isNotNull() & F.col("_eb").isNotNull(),
        sight - F.col("elev").cast("double"),
    )
    missing = F.when(
        (F.col("status") != "ok") | ((F.col("i") == 0) & F.col("_ea").isNull())
        | ((F.col("i") == F.col("_n")) & F.col("_eb").isNull()),
        F.lit(1),
    ).otherwise(F.lit(0))
    agg = (
        base.withColumn("_clear", clear)
        .withColumn("_miss", missing)
        .groupBy("pair_id")
        .agg(
            F.min("_clear").alias("min_clearance"),
            F.max("n").alias("_nmax"),
            F.sum("_miss").alias("n_missing"),
            F.count(F.lit(1)).alias("_rows"),
        )
    )
    n_steps = (F.col("_nmax") + 1).alias("n_steps")
    ok = F.col("n_missing") == 0
    visible = F.when(~ok, F.lit(None).cast("boolean")).otherwise(
        F.coalesce(F.col("min_clearance") > 0.0, F.lit(True))  # n<=1: no interior
    )
    status = F.when(~ok, F.lit("unknown")).otherwise(
        F.when(visible, F.lit("visible")).otherwise(F.lit("blocked"))
    )
    return agg.select(
        "pair_id",
        visible.alias("visible"),
        "min_clearance",
        n_steps,
        "n_missing",
        status.alias("status"),
    )
