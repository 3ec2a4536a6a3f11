import numpy as np

from tilegrab_spark.kernels import avi, cog, geo, geotiff, jpeg, png, vp8, wav, webp

__all__ = ["avi", "cog", "decode_payload", "geo", "geotiff", "jpeg", "png", "vp8", "wav", "webp"]


def decode_payload(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode an image-table payload to (H,W,3) uint8: the one place a
    row's ``fmt`` picks a decoder. PNG, baseline + progressive JPEG,
    lossless WebP (kernels/webp.py, VP8L), lossy WebP (kernels/vp8.py,
    VP8 key frames), GIF (kernels/gif.py — first frame of an
    animation), BMP, TIFF and raw (``w*h*3`` bytes) are all real, pure
    numpy. Corrupt payloads and unknown formats raise ValueError, which
    readers count (decode_ok=false, the stitch's n_bad)."""
    if fmt == "png":
        return png.decode_png(data)
    if fmt in ("jpg", "jpeg"):
        return jpeg.decode_jpeg(data)
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "webp":
        return webp.decode_webp(data)
    if fmt == "gif":
        from tilegrab_spark.kernels import gif

        return gif.decode_gif(data)
    if fmt == "bmp":
        from tilegrab_spark.kernels import bmp

        return bmp.decode_bmp(data)
    if fmt in ("tif", "tiff"):
        return geotiff.read_geotiff(data)[0]
    raise ValueError(f"unknown image fmt {fmt!r}")
