"""Tile change detection between two epochs of an image table.

The monitoring shape a tile lake actually runs: epoch A (last crawl) vs
epoch B (this crawl), keyed by the spatial cell — which tiles appeared,
disappeared, or changed, and by how much. At 10^12 rows this is a
zipper join of two huge tables; the design keeps it to exactly one
equi-join on the packed cell key (sort-merge / bucket-compatible — both
sides can be bucketed by ``cell_id`` at write time so the join needs no
shuffle at all) followed by a per-row bounded Arrow kernel (two tiles
decoded per row, nothing accumulates). Pixels never shuffle: the join
moves encoded payloads once, stats leave the kernel as five scalars per
key.

Definitions (pinned by tests/test_change.py against independent numpy):

- per-pixel difference = max over channels of \\|a - b\\| (uint8 space);
- ``changed_frac``     = fraction of pixels with difference > threshold;
- ``mean_abs_diff``    = mean of the per-pixel difference;
- ``psnr_db``          = 10·log10(255² / mse) over all channels; null
  for identical tiles (mse 0 — status says ``unchanged``);
- ``ssim``             = mean SSIM (Wang et al. 2004 constants,
  K1=0.01/K2=0.03, L=255) over NON-OVERLAPPING 8×8 windows of the
  Rec.601 luma — the uniform-window variant (not the 11×11 Gaussian
  sliding one); trailing rows/cols beyond the last full window are
  ignored; 1.0 for bit-identical tiles (exact), null when pixel stats
  are null (added/removed/resized/error);
- status ∈ ``added`` (key only in B) / ``removed`` (only in A) /
  ``unchanged`` (bit-identical pixels) / ``changed`` / ``resized``
  (dims differ — counted as fully changed, pixel stats null) /
  ``error`` (either payload failed to decode).

The reference has no analogue (one-shot fetch tool); this extends the
engine's raster suite (mosaic/pyramid/zonal) with the temporal axis.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tilegrab_spark.kernels import decode_payload

__all__ = ["tile_diff", "change_summary", "mean_ssim"]

DIFF_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("changed_frac", T.DoubleType(), True),
        T.StructField("mean_abs_diff", T.DoubleType(), True),
        T.StructField("psnr_db", T.DoubleType(), True),
        T.StructField("ssim", T.DoubleType(), True),
    ]
)

_SSIM_C1 = (0.01 * 255.0) ** 2
_SSIM_C2 = (0.03 * 255.0) ** 2


def _luma(px: np.ndarray) -> np.ndarray:
    # r*w0 + g*w1 + b*w2 per pixel as one dot product — same float64
    # operation order as the elementwise form, ~3x faster (no (H,W,3)
    # float64 temporary)
    w = np.array([0.299, 0.587, 0.114])
    h, ww = px.shape[0], px.shape[1]
    return (px[:, :, :3].reshape(-1, 3).astype(np.float64) @ w).reshape(h, ww)


def mean_ssim(pa: np.ndarray, pb: np.ndarray, *, win: int = 8) -> float | None:
    """Uniform-window mean SSIM over non-overlapping ``win``×``win``
    luma blocks (module docstring for the exact variant). None when no
    full window fits. Block moments run as einsum contractions — no
    (H, W) product temporaries; this function is the per-changed-tile
    hot loop of ``tile_diff``, benchmarked at ~3 ms/256px tile."""
    a, b = _luma(pa), _luma(pb)
    h, w = a.shape
    bh, bw = h // win, w // win
    if bh == 0 or bw == 0:
        return None
    a = a[: bh * win, : bw * win].reshape(bh, win, bw, win)
    b = b[: bh * win, : bw * win].reshape(bh, win, bw, win)
    n = float(win * win)
    mu_a = np.einsum("ajbk->ab", a) / n
    mu_b = np.einsum("ajbk->ab", b) / n
    var_a = np.einsum("ajbk,ajbk->ab", a, a) / n - mu_a * mu_a
    var_b = np.einsum("ajbk,ajbk->ab", b, b) / n - mu_b * mu_b
    cov = np.einsum("ajbk,ajbk->ab", a, b) / n - mu_a * mu_b
    num = (2 * mu_a * mu_b + _SSIM_C1) * (2 * cov + _SSIM_C2)
    den = (mu_a * mu_a + mu_b * mu_b + _SSIM_C1) * (var_a + var_b + _SSIM_C2)
    return float((num / den).mean())


def _side(df: DataFrame, key_col: str, tag: str) -> DataFrame:
    return df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col("bytes").alias(f"bytes_{tag}"),
        F.col("w").alias(f"w_{tag}"),
        F.col("h").alias(f"h_{tag}"),
        F.col("fmt").alias(f"fmt_{tag}"),
    )


def tile_diff(
    images_a: DataFrame,
    images_b: DataFrame,
    *,
    key_col: str = "cell_id",
    threshold: int = 16,
) -> DataFrame:
    """Per-key change report between epoch A and epoch B (see module
    docstring for the exact stat definitions). ``key_col`` must be
    unique per epoch (dedup upstream if a cell has several sources —
    ``exact_dedup`` on (key, phash) is the usual pre-pass)."""
    a, b = _side(images_a, key_col, "a"), _side(images_b, key_col, "b")
    joined = a.join(b, on="key", how="full_outer")

    # FAST PATH (the dominant case between consecutive crawls of a
    # 10^12-tile lake: most tiles are bit-identical): byte-equal
    # payloads with matching declared (fmt, w, h) are `unchanged` BY
    # DEFINITION — a deterministic decoder maps equal bytes to equal
    # pixels — so they never decode and never ship payload bytes to
    # Python. The comparison is a JVM-side memcmp (µs vs ~ms/decode).
    # n_px on this path comes from the declared dims (the image-table
    # contract; mismatched declarations route to the slow path which
    # decodes). Identical-but-undecodable payloads also report
    # `unchanged` here — "did anything change" is answered without
    # decoding; payload health is `verify`'s job, not the differ's.
    # The routing happens in ONE projection on the single join — NOT as
    # two filtered branches unioned back together, which would execute
    # the full-outer join (the job's heaviest exchange, carrying every
    # payload byte) twice. Byte-equal rows keep only the flag and their
    # declared dims; their payloads are nulled JVM-side so they cross
    # the Arrow boundary as null-bitmap entries (no byte transfer) and
    # take a vectorized no-decode path in the kernel.
    same = F.coalesce(
        F.col("bytes_a").isNotNull()
        & F.col("bytes_b").isNotNull()
        & (F.col("fmt_a") == F.col("fmt_b"))
        & (F.col("w_a") == F.col("w_b"))
        & (F.col("h_a") == F.col("h_b"))
        & (F.col("bytes_a") == F.col("bytes_b")),
        F.lit(False),
    )
    joined = (
        joined.withColumn("_same", same)
        .withColumn("bytes_a", F.when(~F.col("_same"), F.col("bytes_a")))
        .withColumn("bytes_b", F.when(~F.col("_same"), F.col("bytes_b")))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DIFF_SCHEMA.fields]
        for pdf in batches:
            fast_mask = pdf["_same"].fillna(False).astype(bool)
            if fast_mask.any():
                fp = pdf[fast_mask]
                yield pd.DataFrame(
                    {
                        "key": fp["key"].astype("int64"),
                        "status": "unchanged",
                        "n_px": (
                            fp["w_a"].astype("int64") * fp["h_a"].astype("int64")
                        ),
                        "changed_frac": 0.0,
                        "mean_abs_diff": 0.0,
                        "psnr_db": np.nan,
                        "ssim": 1.0,
                    },
                    columns=cols,
                )
            pdf = pdf[~fast_mask]
            out = []
            for row in pdf.itertuples(index=False):
                rec = {
                    "key": int(row.key),
                    "status": "error",
                    "n_px": None,
                    "changed_frac": None,
                    "mean_abs_diff": None,
                    "psnr_db": None,
                    "ssim": None,
                }
                has_a, has_b = row.bytes_a is not None, row.bytes_b is not None
                if not has_a:
                    rec["status"] = "added"
                elif not has_b:
                    rec["status"] = "removed"
                else:
                    try:
                        pa = decode_payload(
                            bytes(row.bytes_a), row.fmt_a, int(row.w_a), int(row.h_a)
                        )
                        pb = decode_payload(
                            bytes(row.bytes_b), row.fmt_b, int(row.w_b), int(row.h_b)
                        )
                    except (NotImplementedError, ValueError):
                        out.append(rec)
                        continue
                    if pa.shape != pb.shape:
                        rec["status"] = "resized"
                        out.append(rec)
                        continue
                    d16 = np.abs(pa.astype(np.int16) - pb.astype(np.int16))
                    dmax = d16.max(axis=2)
                    mse = float(np.square(d16, dtype=np.int64).mean())
                    rec["n_px"] = int(dmax.size)
                    rec["changed_frac"] = float((dmax > threshold).mean())
                    rec["mean_abs_diff"] = float(dmax.mean())
                    if mse == 0.0:
                        rec["status"] = "unchanged"
                        rec["ssim"] = 1.0
                    else:
                        rec["status"] = "changed"
                        rec["psnr_db"] = float(10.0 * np.log10(255.0**2 / mse))
                        rec["ssim"] = mean_ssim(pa, pb)
                out.append(rec)
            if out:
                yield pd.DataFrame(out, columns=cols)

    return joined.mapInPandas(kernel, schema=DIFF_SCHEMA)


def change_summary(diff: DataFrame) -> DataFrame:
    """Epoch-level rollup of a ``tile_diff`` output: per status — key
    count plus mean changed fraction over the decoded comparisons. One
    map-side-combinable aggregation (the 10^12-key report is a handful
    of rows)."""
    return diff.groupBy("status").agg(
        F.count("*").alias("n"),
        F.avg("changed_frac").alias("avg_changed_frac"),
    )
