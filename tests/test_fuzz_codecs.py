"""Adversarial/corrupt-input fuzz pass over every binary-stream decoder
(VERDICT r2 #3): png, baseline+progressive jpeg, vp8l, vp8, gif,
wav (incl. ADPCM), avi.  Every mutated stream must either decode (a mutation
can be harmless) or raise ValueError promptly — never another
exception class, never a hang, never an unbounded allocation.  The
VP8L LUT budget and the new pixel-count decode caps are pinned."""

import struct
import time

import numpy as np
import pytest

from tilegrab_spark.kernels import avi, bmp, decode_payload, gif, jpeg, png, vp8, wav, webp

SEED = 20260817
TIME_BUDGET_S = 10.0


def _fixture_rgb(h=48, w=64):
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 70 * np.sin(xx / 17.0) * np.cos(yy / 23.0)
    g = 100 + 90 * (xx + yy) / (h + w)
    b = 90 + 50 * np.cos((xx - yy) / 19.0)
    return np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)


IMG = _fixture_rgb()

# image-table fmt of each image stream below
IMAGE_FMT = {"png": "png", "jpeg": "jpeg", "jpeg_prog": "jpeg", "vp8l": "webp",
             "gif": "gif", "gif_interlace": "gif", "vp8": "webp"}


def image_streams(img):
    """Every image stream of ``img``: name -> (bytes, decoder)."""
    return {
        "png": (png.encode_png(img), png.decode_png),
        "jpeg": (jpeg.encode_jpeg(img, quality=90), jpeg.decode_jpeg),
        "jpeg_prog": (jpeg.encode_jpeg_progressive(img, quality=90)
                      if hasattr(jpeg, "encode_jpeg_progressive") else None,
                      jpeg.decode_jpeg),
        "vp8l": (webp.encode_webp(img), webp.decode_webp),
        "gif": (gif.encode_gif((img // 32) * 32), gif.decode_gif),
        "gif_interlace": (gif.encode_gif((img // 32) * 32, interlace=True),
                          gif.decode_gif),
        "vp8": (vp8.encode_webp_vp8(img, qindex=8), webp.decode_webp),
    }


BASE_STREAMS = {
    **image_streams(IMG),
    "wav": (wav.encode_wav(
        12000 * np.sin(np.arange(4000) / 9.0), 8000, fmt="mulaw"),
        lambda d: wav.decode_wav(d)[0].reshape(1, -1, 1)),
    "wav_ima": (wav.encode_wav(
        12000 * np.sin(np.arange(4000) / 9.0), 8000, fmt="ima_adpcm"),
        lambda d: wav.decode_wav(d)[0].reshape(1, -1, 1)),
    "wav_ms": (wav.encode_wav(
        12000 * np.sin(np.arange(4000) / 9.0), 8000, fmt="ms_adpcm"),
        lambda d: wav.decode_wav(d)[0].reshape(1, -1, 1)),
    "avi": (avi.encode_avi_mjpeg(
        [jpeg.encode_jpeg(IMG, quality=90)] * 3, 10.0, 64, 48),
        lambda d: np.concatenate(
            [jpeg.decode_jpeg(f) for f in avi.read_avi_mjpeg(d)["frames"]])),
}
BASE_STREAMS = {k: v for k, v in BASE_STREAMS.items() if v[0] is not None}


def _mutations(data: bytes, rng: np.random.Generator):
    """Deterministic mutation set per base stream: truncations, byte
    corruptions, field inflations (0xFF runs), and bit flips."""
    n = len(data)
    muts = []
    for off in rng.integers(1, n, 6):
        muts.append(("trunc", data[: int(off)]))
    for off in rng.integers(0, n, 10):
        b = bytearray(data)
        b[int(off)] ^= int(rng.integers(1, 256))
        muts.append(("xor", bytes(b)))
    for off in rng.integers(0, max(1, n - 4), 5):
        b = bytearray(data)
        b[int(off): int(off) + 4] = b"\xff\xff\xff\xff"
        muts.append(("inflate", bytes(b)))
    for off in rng.integers(0, n, 5):
        b = bytearray(data)
        b[int(off)] = 0
        muts.append(("zero", bytes(b)))
    return muts


@pytest.mark.parametrize("codec", sorted(BASE_STREAMS))
def test_fuzz_no_crash_no_hang(codec):
    data, decode = BASE_STREAMS[codec]
    # stable per-codec seed (hash() is randomized per process)
    rng = np.random.default_rng(SEED + sum(codec.encode()))
    outcomes = {"ok": 0, "valueerror": 0}
    for kind, mut in _mutations(data, rng):
        t0 = time.monotonic()
        try:
            out = decode(mut)
            assert isinstance(out, np.ndarray) and out.ndim == 3
            outcomes["ok"] += 1
        except ValueError:
            outcomes["valueerror"] += 1
        # any other exception class propagates and fails the test
        assert time.monotonic() - t0 < TIME_BUDGET_S, (codec, kind)
    # at least some mutations must actually have been rejected
    assert outcomes["valueerror"] > 0, outcomes


def test_fuzz_total_fixture_count():
    """The VERDICT asks for >=50 mutated fixtures across the pass."""
    total = sum(len(_mutations(d, np.random.default_rng(SEED)))
                for d, _ in BASE_STREAMS.values())
    assert total >= 50


class TestAllocationBombs:
    def test_vp8_dimension_bomb_rejected(self):
        # valid header bytes declaring 16383x16383 -> must raise, fast
        frame = bytearray(vp8.encode_vp8(_fixture_rgb(16, 16), qindex=8))
        struct.pack_into("<H", frame, 6, 16383)
        struct.pack_into("<H", frame, 8, 16383)
        t0 = time.monotonic()
        with pytest.raises(ValueError, match="pixel decode cap"):
            vp8.decode_vp8(bytes(frame))
        assert time.monotonic() - t0 < 1.0

    def test_png_dimension_bomb_rejected(self):
        data = bytearray(png.encode_png(_fixture_rgb(8, 8)))
        # IHDR w/h live at offset 16/20; rewrite and fix the CRC path by
        # relying on the decoder not checking CRCs before dims
        struct.pack_into(">I", data, 16, 1 << 15)
        struct.pack_into(">I", data, 20, 1 << 15)
        with pytest.raises(ValueError, match="pixel decode cap"):
            png.decode_png(bytes(data))

    def test_jpeg_dimension_bomb_rejected(self):
        data = bytearray(jpeg.encode_jpeg(_fixture_rgb(8, 8), quality=90))
        i = bytes(data).find(b"\xff\xc0")
        assert i > 0
        struct.pack_into(">H", data, i + 5, 65500)
        struct.pack_into(">H", data, i + 7, 65500)
        with pytest.raises(ValueError, match="pixel decode cap"):
            jpeg.decode_jpeg(bytes(data))

    def test_vp8l_lut_budget_pinned(self):
        """Hostile many-group VP8L streams cannot force unbounded LUT
        allocation: the shared per-decode budget is ~16 MB of LUT rows
        (4 MB entry budget), charged on first use."""
        # the budget constant is the contract; pin it
        import inspect

        src = inspect.getsource(webp)
        assert "lut_budget = [1 << 22]" in src


def test_decode_payload_routes_fuzz_to_n_bad(spark):
    """End to end: corrupt payloads of every format surface as
    decode_ok=false counts, never executor crashes."""
    from tilegrab_spark.operators.multimodal import decode_summary, image_features

    rng = np.random.default_rng(SEED)
    rows = []
    for fmt, (data, _) in BASE_STREAMS.items():
        if fmt not in IMAGE_FMT:
            continue  # audio/video route through their own operators
        use_fmt = IMAGE_FMT[fmt]
        b = bytearray(data)
        b[len(b) // 2] ^= 0xA5
        b = b[: max(8, len(b) - int(rng.integers(1, 16)))]
        rows.append({"image_id": f"bad_{fmt}", "bytes": bytes(b),
                     "w": 64, "h": 48, "fmt": use_fmt})
        rows.append({"image_id": f"good_{fmt}", "bytes": bytes(data),
                     "w": 64, "h": 48, "fmt": use_fmt})
    df = spark.createDataFrame(rows)
    feats = image_features(df)
    s = decode_summary(feats).collect()
    total = sum(r.n for r in s)
    assert total == len(rows)
    # every good stream decodes; corrupt ones are counted, not fatal
    n_img = sum(1 for f in BASE_STREAMS if f in IMAGE_FMT)
    decoded = sum(r.n_decoded for r in s)
    assert decoded >= n_img
    assert all(r.n == r.n_decoded + r.n_failed for r in s)


SQUARE = _fixture_rgb(64, 64)
# name -> (bytes, fmt) of one 64x64 tile in every format a table carries
PAYLOADS = {
    **{k: (d, IMAGE_FMT[k]) for k, (d, _) in image_streams(SQUARE).items()
       if d is not None},
    "bmp": (bmp.encode_bmp(SQUARE), "bmp"),
    "raw": (SQUARE.tobytes(), "raw"),
}


@pytest.fixture(scope="module")
def tile_readers(spark):
    """The stitch, pyramid, warp and verify outputs over one z10 table
    holding each payload at its own cell (x = 2i, y = 0, so each has
    its own parent), keyed by payload name. The stitch also gets a
    raw-sized payload of an unknown fmt."""
    from pyspark.sql import functions as F

    from tilegrab_spark.operators.mosaic import mosaic
    from tilegrab_spark.operators.pyramid import build_parent_level
    from tilegrab_spark.operators.verify import verify_images
    from tilegrab_spark.operators.warp import upsample_tiles

    names = sorted(PAYLOADS)
    rows = []
    for i, name in enumerate(names):
        data, fmt = PAYLOADS[name]
        rows.append((name, 2 * i, data, fmt, png.phash64(decode_payload(data, fmt, 64, 64))))
    df = spark.createDataFrame(
        rows, "geom_id string, x long, bytes binary, fmt string, phash long"
    ).withColumns({
        "z": F.lit(10), "y": F.lit(0).cast("long"), "w": F.lit(64),
        "h": F.lit(64), "caption": F.lit(""),
        "image_id": F.format_string("10_%d_0_0", "x"),
    })
    unknown = spark.createDataFrame(
        [("unknown", 0, SQUARE.tobytes(), "xyz")],
        "geom_id string, x long, bytes binary, fmt string",
    ).withColumns({"z": F.lit(10), "y": F.lit(0).cast("long"),
                   "image_id": F.lit("10_0_0_0")})
    cols = ["geom_id", "z", "x", "y", "image_id", "bytes", "fmt"]
    stitched = mosaic(df.select(*cols).unionByName(unknown), tile_w=64, tile_h=64)
    by_x = {2 * i: name for i, name in enumerate(names)}
    parents = build_parent_level(df, 10, tile_w=64, tile_h=64)
    children = upsample_tiles(df, from_zoom=10, to_zoom=11, tile_px=64)
    out = {name: {"warp": []} for name in names}
    for r in stitched.collect():
        out.setdefault(r.geom_id, {})["mosaic"] = r
    for r in parents.collect():
        out[by_x[2 * int(r.image_id.split("_")[1])]]["pyramid"] = r
    for r in children.collect():
        out[by_x[int(r.image_id.split("_")[1]) >> 1]]["warp"].append(r)
    for r in verify_images(df, synthetic_oracle=False).collect():
        out[by_x[int(r.image_id.split("_")[1])]]["verify"] = r
    return out


@pytest.mark.parametrize("name", sorted(PAYLOADS))
def test_every_tile_reader_decodes_every_format(tile_readers, name):
    """One decoder for every reader: each format pastes into the mosaic
    with the pixels decode_payload gives, rolls up into a pyramid
    parent, upsamples into four children and verifies."""
    from tilegrab_spark.operators.warp import resample_window

    data, fmt = PAYLOADS[name]
    want = decode_payload(data, fmt, 64, 64)
    got = tile_readers[name]
    m = got["mosaic"]
    assert (m.n_tiles, m.n_bad, m.w, m.h) == (1, 0, 64, 64)
    assert np.array_equal(png.decode_png(bytes(m.bytes)), want)
    parent = got["pyramid"]
    assert parent.n_children == 1
    canvas = np.zeros((128, 128, 3), np.uint8)
    canvas[:64, :64] = want
    assert np.array_equal(
        png.decode_png(bytes(parent.bytes)),
        canvas.reshape(64, 2, 64, 2, 3).mean(axis=(1, 3)).astype(np.uint8),
    )
    kids = {r.image_id: r for r in got["warp"]}
    assert len(kids) == 4
    x = 4 * sorted(PAYLOADS).index(name)
    assert np.array_equal(
        png.decode_png(bytes(kids[f"11_{x}_0_0"].bytes)),
        resample_window(want, 0, 0, 2, 64, "bilinear"),
    )
    assert got["verify"].decode_ok and got["verify"].phash_match


def test_stitch_counts_an_unknown_fmt_as_bad(tile_readers):
    """A payload of an unknown fmt is not pasted as raw pixels, even
    when its length is w*h*3: it renders black and counts in n_bad."""
    m = tile_readers["unknown"]["mosaic"]
    assert (m.n_tiles, m.n_bad) == (0, 1)
    assert not png.decode_png(bytes(m.bytes)).any()
