"""Epoch-stack raster time series — temporal compositing + per-pixel
trend over N crawls of a tile lake.

change.py handles the 2-epoch zipper (A vs B); the N-epoch questions a
monitored layer actually asks are:

- **composite**: collapse the stack into one clean tile per cell — the
  standard EO "median composite" (median is the robust cloud/outlier
  killer; mean is the cheap smoother). Output rows are real encoded
  tiles, so the whole downstream raster suite (mosaic stitch, pyramid,
  change detection, GeoTIFF/COG export) consumes the composite layer
  unchanged.
- **trend**: per-pixel ordinary-least-squares slope of the elevation
  proxy (max-channel, the same convention the focal/zonal/terrain
  suite uses) against the epoch value — "which cells are getting
  systematically brighter/darker, and how fast", summarized per cell.

Plan shape (both operators): ONE shuffle, keyed by the spatial cell.
The stack is assembled JVM-SIDE — ``groupBy(key).agg(sort_array(
collect_list(struct(epoch, payload…))))`` — and the kernel runs as
``mapInPandas`` over the stacked rows, so one Arrow batch carries
THOUSANDS of cells per Python call (a per-cell ``applyInPandas`` pays
~ms of per-group pandas overhead, which at 10^9 cells IS the job; the
first cut of this module measured exactly that — 19k single-row groups
cost 2× the pixel work). Group size is bounded by the EPOCH COUNT
(dozens), never the corpus: per-task memory is
``arrow.maxRecordsPerBatch × n_epochs × tile bytes`` — tune the batch
size down for fat stacks. Payload bytes move exactly once and pixels
never shuffle: trend stats leave the kernel as eight scalars per cell,
composites as one encoded tile. With the epoch tables written bucketed
by ``key_col`` (sources/images.py layout contract) even the one
exchange disappears.

Kernel contracts (deterministic, pinned against independent numpy in
tests/test_timeseries.py):

- the stack sorts JVM-side by ascending ``epoch_col`` (ties by
  ascending image_id when present, then remaining struct fields) —
  deterministic regardless of input partitioning;
- usable row = epoch non-null AND payload decodes AND dims match the
  group's FIRST usable row in stack order; others count in ``n_bad``.
  The sort makes "first usable" — hence the reference dims — a pure
  function of the rows;
- composite ``median``: per pixel per channel, exact integer median of
  the uint8 stack; even-count middles average with round-half-up (so
  the result is again uint8, and a 2-epoch composite of (10, 11) is
  11, not numpy's 10.5 float). ``mean``: round-half-up of the exact
  rational mean.
- trend: per pixel, slope of z (max-channel, float64) on epoch value
  e: ``slope_p = Σ_t (e_t - ē) z_pt / Σ_t (e_t - ē)²`` over the cell's
  usable epochs (all pixels of a cell share the same epoch weights by
  the dims rule). Requires ≥2 usable epochs with distinct e, else the
  row reports status='short' with null stats.

The reference has no temporal analogue (one-shot fetch tool); this
extends the raster suite's temporal axis the way EO compositing
pipelines do, Spark-first.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload, png

__all__ = ["epoch_composite", "raster_trend"]

COMPOSITE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("n_used", T.IntegerType(), False),
        T.StructField("n_bad", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("fmt", T.StringType(), True),
    ]
)

TREND_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("n_used", T.IntegerType(), False),
        T.StructField("n_bad", T.IntegerType(), False),
        T.StructField("slope_mean", T.DoubleType(), True),
        T.StructField("slope_min", T.DoubleType(), True),
        T.StructField("slope_max", T.DoubleType(), True),
        T.StructField("frac_inc", T.DoubleType(), True),
        T.StructField("frac_dec", T.DoubleType(), True),
    ]
)


def _stacked(images: DataFrame, key_col: str, epoch_col: str) -> DataFrame:
    """[key, stack] with stack = epoch-sorted array<struct> of the
    cell's rows — assembled entirely JVM-side (one exchange, map-side
    partial collect). Struct field order (epoch first, image_id second
    when present) IS the sort contract."""
    fields = [F.col(epoch_col).cast("double").alias("e")]
    if "image_id" in images.columns:
        fields.append(F.col("image_id").alias("i"))
    fields += [
        F.col("bytes").alias("b"),
        F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        F.col("fmt").alias("f"),
    ]
    return images.groupBy(F.col(key_col).cast("long").alias("key")).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("stack")
    )


def _decode_stack(stack):
    """Shared per-cell prologue: decode the (already epoch-sorted)
    stack with the first-usable dims rule. Returns (epochs, arrays,
    n_bad) — arrays all share the reference (H, W, 3) shape."""
    arrays, epochs, n_bad = [], [], 0
    ref_shape = None
    for item in stack:
        e = item["e"]
        if e is None or (isinstance(e, float) and np.isnan(e)):
            n_bad += 1
            continue
        try:
            arr = decode_payload(bytes(item["b"]), item["f"], int(item["w"]), int(item["h"]))
        except Exception:
            n_bad += 1
            continue
        if ref_shape is None:
            ref_shape = arr.shape
        if arr.shape != ref_shape:
            n_bad += 1
            continue
        arrays.append(arr)
        epochs.append(float(e))
    return epochs, arrays, n_bad


def epoch_composite(
    images: DataFrame,
    *,
    key_col: str = "cell_id",
    epoch_col: str = "epoch",
    stat: str = "median",
    nodata: tuple = (0, 0, 0),
) -> DataFrame:
    """Per-cell temporal composite tile over all epochs (module
    docstring for the exact pixel rules). ``stat``:

    - ``'median'`` / ``'mean'`` — the robust averages (exact integer
      round-half-up rules);
    - ``'max'`` / ``'min'`` — per-pixel brightest/darkest observation
      by max-channel intensity, the WHOLE pixel taken from the winning
      epoch (the max-NDVI-style greenest-pixel composite; ties break to
      the EARLIEST epoch, deterministically);
    - ``'latest_valid'`` — per pixel, the most recent epoch whose pixel
      is not ``nodata`` (default black, the engine's missing-data
      convention) — the standard cloud-gap-fill; pixels nodata in every
      epoch stay nodata.

    Output payloads are PNG (lossless — a composite layer must not
    re-introduce codec noise)."""
    if stat not in ("median", "mean", "max", "min", "latest_valid"):
        raise ValueError(
            f"stat must be one of median/mean/max/min/latest_valid, got {stat!r}"
        )
    nd = np.asarray(nodata, dtype=np.int64)
    if nd.shape != (3,):
        raise ValueError(f"nodata must be an RGB triple, got {nodata!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in COMPOSITE_SCHEMA.fields]
        for pdf in batches:
            out = []
            for key, stack in zip(pdf["key"], pdf["stack"]):
                epochs, arrays, n_bad = _decode_stack(stack)
                rec = {
                    "key": int(key),
                    "status": "empty",
                    "n_epochs": len(stack),
                    "n_used": len(arrays),
                    "n_bad": n_bad,
                    "w": None,
                    "h": None,
                    "bytes": None,
                    "fmt": None,
                }
                if arrays:
                    st = np.stack(arrays).astype(np.int64)  # (n, H, W, 3)
                    if stat == "median":
                        s = np.sort(st, axis=0)
                        n = s.shape[0]
                        if n % 2:
                            comp = s[n // 2]
                        else:
                            # exact integer round-half-up of (lo + hi) / 2
                            comp = (s[n // 2 - 1] + s[n // 2] + 1) // 2
                    elif stat == "mean":
                        comp = (st.sum(axis=0) * 2 + len(arrays)) // (2 * len(arrays))
                    elif stat in ("max", "min"):
                        # whole-pixel select by max-channel intensity;
                        # argmax/argmin take the FIRST (earliest) winner
                        inten = st.max(axis=3)  # (n, H, W)
                        pick = (
                            inten.argmax(axis=0) if stat == "max" else inten.argmin(axis=0)
                        )
                        comp = np.take_along_axis(
                            st, pick[None, :, :, None], axis=0
                        )[0]
                    else:  # latest_valid — stack is epoch-ascending
                        valid = (st != nd[None, None, None, :]).any(axis=3)  # (n,H,W)
                        n = st.shape[0]
                        # last valid index, or -1 when none: idx of the
                        # highest epoch with valid=True
                        rev = valid[::-1]
                        first_from_end = rev.argmax(axis=0)
                        any_valid = valid.any(axis=0)
                        pick = np.where(any_valid, n - 1 - first_from_end, 0)
                        comp = np.take_along_axis(
                            st, pick[None, :, :, None], axis=0
                        )[0]
                        comp[~any_valid] = nd
                    comp = comp.astype(np.uint8)
                    rec.update(
                        status="ok",
                        w=comp.shape[1],
                        h=comp.shape[0],
                        bytes=png.encode_png(comp),
                        fmt="png",
                    )
                out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return _stacked(images, key_col, epoch_col).mapInPandas(kernel, COMPOSITE_SCHEMA)


def raster_trend(
    images: DataFrame,
    *,
    key_col: str = "cell_id",
    epoch_col: str = "epoch",
    threshold: float = 0.0,
) -> DataFrame:
    """Per-cell summary of the per-pixel OLS slope of max-channel
    intensity against ``epoch_col`` (module docstring for the formula).
    ``threshold`` sets the dead band for ``frac_inc``/``frac_dec``
    (fraction of pixels with slope > +threshold / < -threshold)."""
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")
    thr = float(threshold)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in TREND_SCHEMA.fields]
        for pdf in batches:
            out = []
            for key, stack in zip(pdf["key"], pdf["stack"]):
                epochs, arrays, n_bad = _decode_stack(stack)
                rec = {
                    "key": int(key),
                    "status": "short",
                    "n_epochs": len(stack),
                    "n_used": len(arrays),
                    "n_bad": n_bad,
                    "slope_mean": None,
                    "slope_min": None,
                    "slope_max": None,
                    "frac_inc": None,
                    "frac_dec": None,
                }
                e = np.asarray(epochs, dtype=np.float64)
                if len(arrays) >= 2 and np.unique(e).size >= 2:
                    z = np.stack(
                        [a.max(axis=2).astype(np.float64) for a in arrays]
                    )  # (n, H, W)
                    w = e - e.mean()
                    denom = float((w * w).sum())
                    slopes = np.tensordot(w, z, axes=(0, 0)) / denom  # (H, W)
                    rec.update(
                        status="ok",
                        slope_mean=float(slopes.mean()),
                        slope_min=float(slopes.min()),
                        slope_max=float(slopes.max()),
                        frac_inc=float((slopes > thr).mean()),
                        frac_dec=float((slopes < -thr).mean()),
                    )
                out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return _stacked(images, key_col, epoch_col).mapInPandas(kernel, TREND_SCHEMA)
