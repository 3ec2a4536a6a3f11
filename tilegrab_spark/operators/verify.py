"""Per-row image-invariant verification (BASELINE.json input_hint:
"decoded-pixel allclose (PSNR>=40dB for lossy) + caption equality").

``verify_images`` recomputes, per row, the decoded pixels' phash and the
deterministic expected pixels for synthetic ids, and emits a verdict
row: phash match, pixel PSNR vs expectation, caption equality. One
Arrow-batched pass (mapInPandas), bytes never leave executors.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from tilegrab_spark.kernels import decode_payload, png
from tilegrab_spark.kernels.jpeg import psnr  # single PSNR definition

VERIFY_SCHEMA = (
    "image_id string, decode_ok boolean, phash_match boolean, "
    "psnr double, caption_match boolean"
)


def verify_images(df: DataFrame, *, synthetic_oracle: bool = True, min_psnr: float = 40.0) -> DataFrame:
    """Verdicts per image row. With ``synthetic_oracle`` the expected
    pixels/caption derive from the image_id's deterministic formula
    (FIXTURES.md §2) — the sandbox stand-in for comparing against a
    reference fetch. psnr is +inf (reported as 999.0) for exact matches;
    lossy rows (JPEG, and WebP whose first chunk is ``VP8 ``) are gated
    at ``min_psnr``. Payloads decode through ``kernels.decode_payload``.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tilegrab_spark.sources.images import expected_pixels, synth_caption

        for pdf in batches:
            out = []
            for iid, data, w, h, fmt, caption, ph in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"],
                pdf["caption"], pdf["phash"],
            ):
                row = {"image_id": iid, "decode_ok": False, "phash_match": False,
                       "psnr": 0.0, "caption_match": False}
                try:
                    data = bytes(data)
                    arr = decode_payload(data, fmt, int(w), int(h))
                    # a WebP is lossy when its first chunk is VP8 (VP8L
                    # is lossless)
                    lossy = fmt in ("jpg", "jpeg") or (
                        fmt == "webp" and data[12:16] == b"VP8 "
                    )
                    row["decode_ok"] = True
                    if synthetic_oracle:
                        want = expected_pixels(iid, int(w), int(h))
                        p = psnr(arr, want)
                        row["psnr"] = 999.0 if p == float("inf") else float(p)
                        # lossy rows: phash must match the DECODED pixels
                        # (bit-exact pixel phash is a lossless-only
                        # invariant); the PSNR >= min_psnr gate carries
                        # the pixel-fidelity check instead
                        row["phash_match"] = png.phash64(arr) == int(ph) and (
                            not lossy or row["psnr"] >= min_psnr
                        )
                        z, x, y, src = (int(v) for v in iid.split("_"))
                        row["caption_match"] = caption == synth_caption(
                            z, x, y, src, int(want.sum())
                        )
                    else:
                        row["phash_match"] = png.phash64(arr) == int(ph)
                except (ValueError, NotImplementedError):
                    pass
                out.append(row)
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return df.select(*cols).mapInPandas(kernel, schema=VERIFY_SCHEMA)
