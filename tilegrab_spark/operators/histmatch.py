"""Histogram statistics and histogram matching — radiometric
normalization between image epochs.

The standard pre-step before cross-epoch comparison (``tile_diff`` /
``epoch_composite``): two captures of the same area differ in
illumination, sensor response, or encoder quantization, and a naive
diff reads that global shift as change everywhere. Histogram matching
(the textbook CDF-mapping method — Gonzalez & Woods, *Digital Image
Processing*, §3.3) remaps one epoch's intensities so its per-channel
cumulative distribution matches a reference epoch's, after which the
diff measures structure, not exposure.

Spark shape — two bounded passes, pixels never shuffle:

1. :func:`channel_histograms` — one decode per tile (``mapInPandas``),
   each emitting at most ``3 x 256`` (channel, value, count) rows;
   a map-side-combinable ``groupBy(channel, value).sum`` collapses the
   corpus to <= 768 rows regardless of table size. This doubles as
   the layer-wide radiometry profile (exposure drift monitoring).
2. :func:`match_histograms` — the two tiny histograms collect to the
   driver (<= 768 rows each), the 3 x 256 lookup table ``LUT[c][v] =
   argmin_u |CDF_ref(u) - CDF_src(v)|`` is built once in numpy, and
   one Arrow map re-encodes each source tile through the broadcast
   LUT — embarrassingly parallel, output rows keep the input's keys
   with new bytes (+ a ``matched`` flag for undecodable passthroughs).

Exactness contract: the LUT is the standard quantile-mapping table
(smallest reference value whose CDF >= the source value's CDF), so
matching a table TO ITSELF is the identity on every decodable tile
(pinned bit-exact), and matching a uniformly brightened epoch back to
its original recovers the original histogram exactly when the shift
is a bijection on the occupied values.

Scale: stage 1's shuffle is <= 768 rows x partitions (map-combined);
stage 2 is map-only. The LUT rides task closures (3 KB). Decode failures surface as
``matched = false`` rows with the original bytes (the engine's
standard n_bad routing, never dropped silently); ``decode_payload``
normalizes everything to (H, W, 3), the engine-wide pixel contract.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload

__all__ = ["channel_histograms", "match_histograms", "build_matching_lut"]

_HIST_SCHEMA = T.StructType(
    [
        T.StructField("channel", T.IntegerType(), False),
        T.StructField("value", T.IntegerType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)


def channel_histograms(images: DataFrame) -> DataFrame:
    """Corpus-wide per-channel intensity histogram of an image table
    (rows need ``bytes, w, h, fmt``): ``[channel, value, count]`` with
    channel in {0, 1, 2} (RGB; grayscale tiles count into all three of
    their replicated channels exactly as decoded) and value in
    [0, 255]. Undecodable tiles are skipped here (they cannot
    contribute pixels); :func:`match_histograms` surfaces them."""

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros((3, 256), dtype=np.int64)
            for row in pdf.itertuples(index=False):
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    continue
                for c in range(3):
                    acc[c] += np.bincount(
                        arr[:, :, c].ravel(), minlength=256
                    ).astype(np.int64)
            ch, val = np.nonzero(acc)
            yield pd.DataFrame(
                {
                    "channel": ch.astype(np.int32),
                    "value": val.astype(np.int32),
                    "count": acc[ch, val],
                }
            )

    return (
        images.select("bytes", "w", "h", "fmt")
        .mapInPandas(hist, schema=_HIST_SCHEMA)
        .groupBy("channel", "value")
        .agg(F.sum("count").alias("count"))
    )


def _cdf_of(rows, channel: int) -> Optional[np.ndarray]:
    h = np.zeros(256, dtype=np.float64)
    for r in rows:
        if r[0] == channel:
            h[int(r[1])] = float(r[2])
    tot = h.sum()
    if tot <= 0:
        return None
    return np.cumsum(h) / tot


def build_matching_lut(src_hist, ref_hist) -> np.ndarray:
    """(3, 256) uint8 quantile-mapping table from two collected
    histograms (sequences of (channel, value, count) rows or the
    :func:`channel_histograms` DataFrames, collected here — both are
    <= 768 rows). ``LUT[c][v]`` = smallest reference intensity whose
    CDF >= the source CDF at v (the standard histogram-matching rule;
    a channel with no reference or source pixels maps identically)."""
    if isinstance(src_hist, DataFrame):
        src_hist = [(r[0], r[1], r[2]) for r in src_hist.collect()]
    if isinstance(ref_hist, DataFrame):
        ref_hist = [(r[0], r[1], r[2]) for r in ref_hist.collect()]
    lut = np.empty((3, 256), dtype=np.uint8)
    ident = np.arange(256, dtype=np.uint8)
    for c in range(3):
        cs, cr = _cdf_of(src_hist, c), _cdf_of(ref_hist, c)
        if cs is None or cr is None:
            lut[c] = ident
            continue
        # smallest u with CDF_ref(u) >= CDF_src(v); searchsorted on the
        # monotone reference CDF does all 256 lookups at once
        lut[c] = np.minimum(
            np.searchsorted(cr, cs - 1e-12, side="left"), 255
        ).astype(np.uint8)
    return lut


def match_histograms(
    src: DataFrame,
    ref_hist,
    *,
    src_hist=None,
) -> DataFrame:
    """Remap every tile of ``src`` through the quantile-matching LUT
    toward ``ref_hist`` (a :func:`channel_histograms` result for the
    reference epoch, DataFrame or collected rows). ``src_hist``
    defaults to computing :func:`channel_histograms` on ``src``
    itself. Output = input columns with ``bytes`` re-encoded (PNG) and
    a ``matched`` flag; undecodable tiles keep their original bytes
    with ``matched = false``."""
    if src_hist is None:
        src_hist = channel_histograms(src)
    lut = build_matching_lut(src_hist, ref_hist)

    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField("matched", T.BooleanType(), False)]
    )
    names = [f.name for f in src.schema.fields]
    has_fmt = "fmt" in names

    def remap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tilegrab_spark.kernels.png import encode_png

        for pdf in batches:
            out_bytes, out_fmt, ok = [], [], []
            for row in pdf.itertuples(index=False):
                try:
                    arr = decode_payload(
                        bytes(row.bytes), row.fmt, int(row.w), int(row.h)
                    )
                except (ValueError, NotImplementedError):
                    out_bytes.append(bytes(row.bytes))
                    out_fmt.append(row.fmt)
                    ok.append(False)
                    continue
                mapped = arr.copy()
                for c in range(3):
                    mapped[:, :, c] = lut[c][arr[:, :, c]]
                out_bytes.append(encode_png(mapped[:, :, :3], filter_type=2))
                out_fmt.append("png")
                ok.append(True)
            res = pdf.copy()
            res["bytes"] = pd.Series(out_bytes, dtype=object)
            if has_fmt:
                res["fmt"] = pd.Series(out_fmt, dtype=object)
            res["matched"] = pd.Series(ok, dtype=bool)
            yield res

    return src.mapInPandas(remap, schema=out_schema)
