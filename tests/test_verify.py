"""Per-row invariant verification (input_hint: decoded-pixel + caption)."""

import numpy as np
from pyspark.sql import functions as F

from tilegrab_spark.kernels import png
from tilegrab_spark.operators.verify import psnr, verify_images
from tilegrab_spark.sources.images import read_image_table


def test_psnr():
    a = png.synth_tile_pixels(1, 2, 3, 0)
    assert psnr(a, a) == float("inf")
    noisy = a.copy()
    noisy[0, 0, 0] ^= 255
    assert 40 < psnr(a, noisy) < 100
    assert psnr(a, 255 - a) < 20


def test_verify_images_all_pass_on_clean_table(spark, image_table):
    df = read_image_table(spark, image_table, parse_key=False)
    v = verify_images(df)
    bad = v.filter(
        ~F.col("decode_ok") | ~F.col("phash_match") | ~F.col("caption_match")
        | (F.col("psnr") < 40)
    )
    assert bad.count() == 0
    assert v.count() == df.count()


def test_verify_images_detects_corruption(spark, image_table, tmp_path):
    df = read_image_table(spark, image_table, parse_key=False).limit(4).toPandas()
    # corrupt one payload (bit flip inside IDAT), one caption, one phash
    rows = []
    for i, r in df.iterrows():
        b = bytearray(r["bytes"])
        cap, ph = r["caption"], r["phash"]
        if i == 0:
            b = bytearray(png.encode_png(255 - png.decode_png(bytes(b)), filter_type=2))
        elif i == 1:
            cap = "wrong caption"
        elif i == 2:
            ph = ph ^ 0xFF
        rows.append((r["image_id"], bytes(b), int(r["w"]), int(r["h"]), r["fmt"], cap, int(ph)))
    d2 = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    out = {r.image_id: r for r in verify_images(d2).collect()}
    ids = [r[0] for r in rows]
    assert out[ids[0]].psnr < 40            # pixel corruption caught
    assert not out[ids[1]].caption_match    # caption mismatch caught
    assert not out[ids[2]].phash_match      # phash mismatch caught
    assert out[ids[3]].psnr == 999.0 and out[ids[3]].caption_match


def test_verify_images_gates_lossy_webp_at_min_psnr(spark):
    """A WebP whose first chunk is VP8 is lossy, like a JPEG: its phash
    matches the decoded pixels, but the PSNR gate still applies. VP8L
    rows stay lossless."""
    from tilegrab_spark.kernels import vp8, webp
    from tilegrab_spark.sources.images import expected_pixels, synth_caption

    rows = []
    for iid, encode in (
        ("10_5_7_0", lambda a: vp8.encode_webp_vp8(a, qindex=127)),
        ("10_6_7_0", webp.encode_webp),
    ):
        want = expected_pixels(iid, 64, 64)
        data = encode(want)
        z, x, y, src = (int(v) for v in iid.split("_"))
        rows.append((iid, data, 64, 64, "webp",
                     synth_caption(z, x, y, src, int(want.sum())),
                     png.phash64(webp.decode_webp(data))))
    d = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    out = {r.image_id: r for r in verify_images(d).collect()}
    lossy, lossless = out["10_5_7_0"], out["10_6_7_0"]
    assert lossy.decode_ok and lossy.caption_match
    assert lossy.psnr < 40 and not lossy.phash_match
    assert lossless.psnr == 999.0 and lossless.phash_match
