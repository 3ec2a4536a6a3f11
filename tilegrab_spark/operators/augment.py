"""Deterministic image augmentation for training-data pipelines —
flips, rotations, crops, brightness, grayscale as Arrow-batched numpy
kernels over the (image_id, bytes, w, h, fmt) table.

Augmentation multiplies a curated image corpus without new data; at
10^12-image scale it MUST be reproducible (re-running a failed
partition has to regenerate byte-identical shards) — so there is no
RNG: every stochastic choice (which op, crop offsets) is a pure
function of ``md5(image_id | seed)``, the same engine-independent
hash contract as ``splits.spatial_split``. The reference (a tile
downloader delegating pixels to PIL,
`/root/reference/src/tilegrab/images/image.py`) has no analogue.

Plan shape at 100 TB: one ``mapInPandas`` pass — bytes stay in Arrow
batches executor-side, decode → transform → PNG re-encode per row, no
shuffle at all (the output inherits the input partitioning).
Undecodable payloads surface as ``decode_ok=false`` rows, never task
failures (the multimodal.py convention).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from tilegrab_spark.kernels import decode_payload, png

__all__ = ["AUGMENT_OPS", "AUGMENT_SCHEMA", "augment_images"]

AUGMENT_SCHEMA = (
    "image_id string, aug string, w int, h int, fmt string, "
    "bytes binary, decode_ok boolean"
)


def _crop(arr: np.ndarray, frac: float, hx: int, hy: int) -> np.ndarray:
    h, w = arr.shape[:2]
    cw, ch = max(1, int(w * frac)), max(1, int(h * frac))
    x0 = (hx * (w - cw + 1)) // 256
    y0 = (hy * (h - ch + 1)) // 256
    return arr[y0 : y0 + ch, x0 : x0 + cw]


def _brightness(arr: np.ndarray, delta: int) -> np.ndarray:
    return np.clip(arr.astype(np.int16) + delta, 0, 255).astype(np.uint8)


def _gray(arr: np.ndarray) -> np.ndarray:
    g = arr.mean(axis=2).round().astype(np.uint8)
    return np.repeat(g[:, :, None], 3, axis=2)


# op name -> fn(arr, params, h1, h2) with params = (crop_frac, delta);
# h1/h2 are the per-image hash bytes driving positional choices
AUGMENT_OPS = {
    "hflip": lambda a, p, h1, h2: a[:, ::-1],
    "vflip": lambda a, p, h1, h2: a[::-1],
    "rot90": lambda a, p, h1, h2: np.rot90(a, 1),
    "rot180": lambda a, p, h1, h2: np.rot90(a, 2),
    "rot270": lambda a, p, h1, h2: np.rot90(a, 3),
    "crop": lambda a, p, h1, h2: _crop(a, p[0], h1, h2),
    "brightness": lambda a, p, h1, h2: _brightness(a, p[1] if h1 < 128 else -p[1]),
    "gray": lambda a, p, h1, h2: _gray(a),
}


def augment_images(
    df: DataFrame,
    *,
    ops: tuple[str, ...] = ("hflip", "vflip", "rot90", "crop", "brightness"),
    mode: str = "one",
    seed: int = 0,
    crop_frac: float = 0.75,
    brightness_delta: int = 32,
) -> DataFrame:
    """Augmented copies of every decodable image, PNG-encoded.

    ``mode='one'``: ONE augmentation per image, the op (and its crop
    offsets / brightness sign) chosen by ``md5(image_id | seed)`` —
    byte-reproducible across runs, partitionings, and engines.
    ``mode='all'``: every op in ``ops`` per image (deterministic
    fan-out, |ops|× rows). Output: ``AUGMENT_SCHEMA`` with ``aug`` =
    the op applied; failed decodes keep ``aug`` of the op that WOULD
    have applied, ``decode_ok=false`` and null bytes."""
    unknown = [o for o in ops if o not in AUGMENT_OPS]
    if unknown:
        raise ValueError(f"unknown ops {unknown}; known: {sorted(AUGMENT_OPS)}")
    if not ops:
        raise ValueError("ops must be non-empty")
    if mode not in ("one", "all"):
        raise ValueError(f"mode must be 'one' or 'all', got {mode!r}")
    if not 0.0 < crop_frac <= 1.0:
        raise ValueError(f"crop_frac must be in (0, 1], got {crop_frac}")

    params = (float(crop_frac), int(brightness_delta))
    ops_t, mode_l, seed_i = tuple(ops), mode, int(seed)
    cols = ["image_id", "bytes", "w", "h", "fmt"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                digest = hashlib.md5(f"{iid}|{seed_i}".encode()).digest()
                chosen = (
                    ops_t if mode_l == "all" else (ops_t[digest[0] % len(ops_t)],)
                )
                try:
                    arr = decode_payload(bytes(data), fmt, int(w), int(h))
                except (NotImplementedError, ValueError):
                    arr = None
                for op in chosen:
                    if arr is None:
                        out.append({"image_id": iid, "aug": op, "w": 0, "h": 0,
                                    "fmt": "png", "bytes": None, "decode_ok": False})
                        continue
                    res = AUGMENT_OPS[op](arr, params, digest[1], digest[2])
                    res = np.ascontiguousarray(res)
                    out.append({
                        "image_id": iid, "aug": op,
                        "w": int(res.shape[1]), "h": int(res.shape[0]),
                        "fmt": "png", "bytes": png.encode_png(res),
                        "decode_ok": True,
                    })
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(kernel, schema=AUGMENT_SCHEMA)
