"""Lossy WebP (VP8 key frame) codec — kernels/vp8.py. Round-trips pin
the whole enc/dec pair (bool coder, header, mode trees, Y2/WHT, token
contexts, categories, skip MBs, multi-partition); the VERDICT r2 gate
is PSNR >= 40 dB vs the pinned fixture at low qindex."""

import struct

import numpy as np
import pytest

from tilegrab_spark.kernels import vp8, webp
from tilegrab_spark.kernels.jpeg import psnr


def smooth_rgb(h, w, phase=0.0):
    """Low-frequency fixture content (near-Nyquist synthetic XOR tiles
    are hostile to any lossy codec — see FIXTURES.md)."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 80 * np.sin(xx / 37.0 + phase) * np.cos(yy / 53.0)
    g = 128 + 100 * (xx + yy) / (h + w) - 50
    b = 120 + 60 * np.cos((xx - yy) / 41.0 + phase)
    return np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)


class TestBoolCoder:
    def test_roundtrip_random_probs(self):
        rng = np.random.default_rng(7)
        probs = rng.integers(1, 255, 20000)
        bits = rng.integers(0, 2, 20000)
        be = vp8._BoolEncoder()
        for p, b in zip(probs, bits):
            be.put(int(p), int(b))
        bd = vp8._BoolDecoder(be.flush())
        assert [bd.bool(int(p)) for p in probs] == [int(b) for b in bits]

    def test_roundtrip_extreme_probs_carry_chains(self):
        # long runs at prob 1 and 254 exercise the carry propagation
        pattern = [(1, 1)] * 500 + [(254, 0)] * 500 + [(1, 0), (254, 1)] * 250
        be = vp8._BoolEncoder()
        for p, b in pattern:
            be.put(p, b)
        bd = vp8._BoolDecoder(be.flush())
        assert all(bd.bool(p) == b for p, b in pattern)

    def test_literal_signed_tree(self):
        be = vp8._BoolEncoder()
        be.put_literal(0x5A, 8)
        be.put_signed_literal(-13, 6)
        be.put_tree(vp8.KF_YMODE_TREE, vp8.KF_YMODE_PROBS, vp8.TM_PRED)
        be.put_tree(vp8.TOKEN_TREE, [128] * 11, vp8.DCT_EOB)
        be.put_tree(vp8.TOKEN_TREE, [128] * 11, 10, start=2)
        bd = vp8._BoolDecoder(be.flush())
        assert bd.literal(8) == 0x5A
        assert bd.signed_literal(6) == -13
        assert bd.tree(vp8.KF_YMODE_TREE, vp8.KF_YMODE_PROBS) == vp8.TM_PRED
        assert bd.tree(vp8.TOKEN_TREE, [128] * 11) == vp8.DCT_EOB
        assert bd.tree(vp8.TOKEN_TREE, [128] * 11, start=2) == 10


class TestTransforms:
    def test_fdct_idct_roundtrip_within_one(self):
        rng = np.random.default_rng(11)
        for _ in range(50):
            res = rng.integers(-255, 256, (4, 4))
            rec = vp8.idct4x4(vp8.fdct4x4(res).astype(np.int64))
            assert np.abs(rec - res).max() <= 1

    def test_fwht_iwht_roundtrip_within_one(self):
        # forward WHT is half-integer scaled (M^T D M / 2), so rint can
        # be off by one in parity cases; enc/dec stay consistent because
        # both reconstruct through the same iwht path
        rng = np.random.default_rng(13)
        for _ in range(50):
            dcs = rng.integers(-2000, 2001, (4, 4))
            rec = vp8.iwht4x4(vp8.fwht4x4(dcs).astype(np.int64))
            assert np.abs(rec - dcs).max() <= 1

    def test_dc_only_idct_is_flat(self):
        c = np.zeros((4, 4), np.int64)
        c[0, 0] = 80
        out = vp8.idct4x4(c)
        assert np.all(out == out[0, 0])


class TestRoundTrip:
    def test_psnr_gate_40db(self):
        """The round-3 VERDICT acceptance: lossy streams, PSNR>=40 dB."""
        img = smooth_rgb(96, 128)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4))
        assert dec.shape == img.shape
        assert psnr(img, dec) >= 40.0

    def test_tile_sized_256(self):
        img = smooth_rgb(256, 256, phase=1.0)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4))
        assert psnr(img, dec) >= 40.0

    def test_non_mb_multiple_dims(self):
        img = smooth_rgb(50, 70)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4))
        assert dec.shape == (50, 70, 3)
        assert psnr(img, dec) >= 40.0

    def test_higher_qindex_degrades_gracefully(self):
        img = smooth_rgb(64, 64)
        lo = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4))
        hi = vp8.decode_vp8(vp8.encode_vp8(img, qindex=60))
        assert psnr(img, lo) > psnr(img, hi) > 20.0

    def test_flat_image_all_skip(self):
        img = np.full((48, 48, 3), 77, np.uint8)
        enc = vp8.encode_vp8(img, qindex=4)
        dec = vp8.decode_vp8(enc)
        assert psnr(img, dec) >= 40.0
        # all-skip MBs: the token partition carries no coefficients
        assert len(enc) < 120

    def test_bpred_path(self):
        img = smooth_rgb(48, 48)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4, force_bpred=True))
        assert psnr(img, dec) >= 40.0

    def test_multi_partition_tokens(self):
        img = smooth_rgb(80, 64)
        for nparts in (2, 4, 8):
            dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4, nparts=nparts))
            assert psnr(img, dec) >= 40.0

    def test_deterministic(self):
        img = smooth_rgb(32, 32)
        assert vp8.encode_vp8(img, qindex=8) == vp8.encode_vp8(img, qindex=8)


class TestContainer:
    def test_webp_container_roundtrip(self):
        img = smooth_rgb(64, 48)
        data = vp8.encode_webp_vp8(img, qindex=4)
        assert data[:4] == b"RIFF" and data[8:16] == b"WEBPVP8 "
        dec = webp.decode_webp(data)
        assert psnr(img, dec) >= 40.0

    def test_vp8x_wrapped_chunk(self):
        img = smooth_rgb(32, 32)
        frame = vp8.encode_vp8(img, qindex=4)
        vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
        chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
        if len(frame) & 1:
            chunk += b"\x00"
        riff = b"WEBP" + vp8x + chunk
        data = b"RIFF" + struct.pack("<I", len(riff)) + riff
        assert psnr(img, webp.decode_webp(data)) >= 40.0

    def test_decode_payload_integration(self):
        from tilegrab_spark.kernels import decode_payload

        img = smooth_rgb(40, 40)
        data = vp8.encode_webp_vp8(img, qindex=4)
        out = decode_payload(data, "webp", 40, 40)
        assert psnr(img, out) >= 40.0


class TestMalformed:
    def test_truncated_frame(self):
        with pytest.raises(ValueError):
            vp8.decode_vp8(b"\x00\x00\x00")

    def test_bad_start_code(self):
        img = smooth_rgb(16, 16)
        frame = bytearray(vp8.encode_vp8(img, qindex=4))
        frame[3] = 0x00
        with pytest.raises(ValueError):
            vp8.decode_vp8(bytes(frame))

    def test_interframe_rejected(self):
        img = smooth_rgb(16, 16)
        frame = bytearray(vp8.encode_vp8(img, qindex=4))
        frame[0] |= 1  # keyframe bit -> interframe
        with pytest.raises(ValueError):
            vp8.decode_vp8(bytes(frame))

    def test_first_partition_overrun(self):
        img = smooth_rgb(16, 16)
        frame = bytearray(vp8.encode_vp8(img, qindex=4))
        tag = (len(frame) + 100) << 5 | (1 << 4)
        frame[0], frame[1], frame[2] = tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF
        with pytest.raises(ValueError):
            vp8.decode_vp8(bytes(frame))

    def test_zero_dimensions(self):
        img = smooth_rgb(16, 16)
        frame = bytearray(vp8.encode_vp8(img, qindex=4))
        frame[6] = frame[7] = 0  # width = 0
        with pytest.raises(ValueError):
            vp8.decode_vp8(bytes(frame))

    def test_partition_size_table_overrun(self):
        img = smooth_rgb(16, 16)
        frame = vp8.encode_vp8(img, qindex=4, nparts=4)
        # truncate inside the partition-size table / token partitions
        with pytest.raises(ValueError):
            vp8.decode_vp8(frame[:14])


def test_decode_summary_lossy_webp_all_decode(spark):
    """VERDICT r2 #1 'done' criterion: decode_summary counts drop to
    zero on a lossy-webp fixture set."""
    from tilegrab_spark.operators.multimodal import decode_summary, image_features

    rows = []
    for i in range(4):
        img = smooth_rgb(32, 32, phase=float(i))
        rows.append({"image_id": f"t{i}", "bytes": vp8.encode_webp_vp8(img, qindex=4),
                     "w": 32, "h": 32, "fmt": "webp"})
    df = spark.createDataFrame(rows)
    s = {r.fmt: r for r in decode_summary(image_features(df)).collect()}
    assert s["webp"].n == 4 and s["webp"].n_decoded == 4 and s["webp"].n_failed == 0
    assert s["webp"].decode_rate == 1.0


class TestLoopFilter:
    """RFC 6386 s15 deblocking (normal + simple), applied post-pass
    (exact for intra stills). The strongest correctness signal: a WRONG
    deblocker reduces PSNR; this one must IMPROVE it on blocky content."""

    def test_filter_improves_blocky_psnr(self):
        img = smooth_rgb(96, 96)
        base = psnr(img, vp8.decode_vp8(vp8.encode_vp8(img, qindex=60)))
        filt = psnr(img, vp8.decode_vp8(
            vp8.encode_vp8(img, qindex=60, loop_filter_level=30)))
        assert filt > base + 1.0

    def test_filter_level_zero_unchanged(self):
        img = smooth_rgb(48, 48)
        a = vp8.decode_vp8(vp8.encode_vp8(img, qindex=20))
        b = vp8.decode_vp8(vp8.encode_vp8(img, qindex=20, loop_filter_level=0))
        assert np.array_equal(a, b)

    def test_filter_keeps_40db_gate_at_low_q(self):
        img = smooth_rgb(64, 64)
        for lvl in (10, 30, 63):
            dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=4,
                                                loop_filter_level=lvl))
            assert psnr(img, dec) >= 40.0

    def test_simple_filter_path(self):
        img = smooth_rgb(64, 64)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=60,
                                            loop_filter_level=30,
                                            simple_filter=True))
        base = vp8.decode_vp8(vp8.encode_vp8(img, qindex=60))
        assert psnr(img, dec) >= psnr(img, base) - 0.5

    def test_filter_deterministic_and_bpred(self):
        img = smooth_rgb(48, 48)
        kw = dict(qindex=40, loop_filter_level=25, force_bpred=True)
        assert vp8.encode_vp8(img, **kw) == vp8.encode_vp8(img, **kw)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, **kw))
        assert dec.shape == img.shape

    def test_sharpness_parses(self):
        img = smooth_rgb(32, 32)
        dec = vp8.decode_vp8(vp8.encode_vp8(img, qindex=30,
                                            loop_filter_level=40, sharpness=3))
        assert psnr(img, dec) > 25.0


class TestProbAdaptation:
    """Encoder-side coefficient-probability adaptation: the header
    carries real probability updates (exercising the decoder's
    update-parse path), streams shrink, pixels are identical."""

    def test_adapted_near_fixed_pixels_identical(self):
        img = smooth_rgb(96, 96)
        for q in (4, 60):
            fixed = vp8.encode_vp8(img, qindex=q, adapt_probs=False)
            adapted = vp8.encode_vp8(img, qindex=q)
            # with the GENUINE RFC default tables (well tuned for real
            # content), per-frame adaptation is no longer guaranteed to
            # win — the update flags themselves cost bits.  It must
            # still be within a small margin, and pixels identical
            # (the adaptation path exercises the decoder's update
            # parse either way).
            assert len(adapted) < len(fixed) * 1.05
            assert np.array_equal(vp8.decode_vp8(fixed), vp8.decode_vp8(adapted))

    def test_adaptation_composes_with_everything(self):
        img = smooth_rgb(64, 80)
        enc = vp8.encode_vp8(img, qindex=30, nparts=4, loop_filter_level=20,
                             force_bpred=True)
        assert psnr(img, vp8.decode_vp8(enc)) > 30.0
