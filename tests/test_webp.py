"""VP8L (lossless WebP) codec — kernels/webp.py. Round-trips cover the
encoder subset; hand-built bitstreams (written with the codec's own
LSB-first writer, following the public WebP Lossless Bitstream Spec
section by section) pin the decoder-only features: transforms, LZ77
backward references, and the color cache."""

import numpy as np
import pytest

from tilegrab_spark.kernels import png, webp
from tilegrab_spark.kernels.webp import _LsbBitWriter, _write_code_msb


def _container(payload_bits: _LsbBitWriter) -> bytes:
    import struct

    payload = b"\x2f" + payload_bits.flush()
    riff = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        riff += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(riff)) + b"WEBP" + riff


def _header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _simple_code(bw, symbols):
    """Emit a 'simple' prefix code: 1 or 2 symbols."""
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    if len(symbols) == 1 and symbols[0] <= 1:
        bw.write(0, 1)
        bw.write(symbols[0], 1)
    else:
        bw.write(1, 1)
        bw.write(symbols[0], 8)
    if len(symbols) == 2:
        bw.write(symbols[1], 8)


def _sym(bw, symbols, value):
    """Write `value` under the simple code over `symbols` (0 bits for a
    single-symbol code; 1 bit for a pair)."""
    if len(symbols) == 1:
        assert value == symbols[0]
        return
    bw.write(symbols.index(value), 1)


class TestRoundtrip:
    def test_various_shapes(self):
        rng = np.random.default_rng(0)
        cases = [
            png.synth_tile_pixels(47439, 31441, 16, 0, 32, 32),
            np.full((5, 7, 3), 123, np.uint8),
            rng.integers(0, 256, (17, 23, 3), dtype=np.uint8),
            np.array([[[7, 8, 9]]], dtype=np.uint8),
        ]
        for arr in cases:
            assert np.array_equal(webp.decode_webp(webp.encode_webp(arr)), arr)

    def test_error_routing(self):
        for bad in (
            b"RIFF\x08\x00\x00\x00WEBPVP8 ",  # lossy VP8: unsupported
            b"nope",
            b"RIFF\x04\x00\x00\x00WEBP",
            b"RIFF\x10\x00\x00\x00WEBPVP8L\x04\x00\x00\x00\x00\x00\x00\x00",
        ):
            with pytest.raises(ValueError):
                webp.decode_webp(bad)

    def test_decode_payload_integration(self):
        from tilegrab_spark.kernels import decode_payload

        arr = png.synth_tile_pixels(1, 2, 3, 0, 16, 16)
        out = decode_payload(webp.encode_webp(arr), "webp", 16, 16)
        assert np.array_equal(out, arr)


class TestHandBuiltStreams:
    def test_subtract_green_transform(self):
        # 2x1 image, pixels RGB (10,5,7) and (20,5,17); stored residuals
        # r-g and b-g ride the stream, green is restored on inverse
        bw = _LsbBitWriter()
        _header(bw, 2, 1)
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # SUBTRACT_GREEN
        bw.write(0, 1)  # no more transforms
        bw.write(0, 1)  # no color cache
        bw.write(0, 1)  # no meta codes
        G, R, B, A, D = [5], [5, 15], [2, 12], [255], [0]
        for syms in (G, R, B, A, D):
            _simple_code(bw, syms)
        for g, r, b in ((5, 5, 2), (5, 15, 12)):
            _sym(bw, G, g)
            _sym(bw, R, r)
            _sym(bw, B, b)
        out = webp.decode_webp(_container(bw))
        assert np.array_equal(
            out, np.array([[[10, 5, 7], [20, 5, 17]]], dtype=np.uint8)
        )

    def test_color_indexing_with_bundling(self):
        # 8x1 image over a 2-color palette: indices bundle 8-per-byte in
        # the green channel (earlier pixels in the LOW bits)
        bw = _LsbBitWriter()
        _header(bw, 8, 1)
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(1, 8)  # palette size - 1 = 1
        # palette sub-image (2x1), delta-coded: c0=(a255,r10,g20,b30),
        # c1 = c0 + (0,40,40,40)
        bw.write(0, 1)  # sub-image: no color cache
        PG, PR, PB, PA, PD = [20, 40], [10, 40], [30, 40], [255, 0], [0]
        for syms in (PG, PR, PB, PA, PD):
            _simple_code(bw, syms)
        for g, r, b, a in ((20, 10, 30, 255), (40, 40, 40, 0)):
            _sym(bw, PG, g)
            _sym(bw, PR, r)
            _sym(bw, PB, b)
            _sym(bw, PA, a)
        bw.write(0, 1)  # no more transforms
        bw.write(0, 1)  # main image: no color cache
        bw.write(0, 1)  # no meta codes
        packed = 0b10110010  # pixel k = bit k -> [0,1,0,0,1,1,0,1]
        MG, MR, MB, MA, MD = [packed], [0], [0], [255], [0]
        for syms in (MG, MR, MB, MA, MD):
            _simple_code(bw, syms)
        # one packed pixel: every channel single-symbol -> zero bits
        out = webp.decode_webp(_container(bw))
        pal = np.array([[10, 20, 30], [50, 60, 70]], dtype=np.uint8)
        want = pal[[0, 1, 0, 0, 1, 1, 0, 1]][None, :, :]
        assert np.array_equal(out, want)

    def test_predictor_transform_row_border_rule(self):
        # 3x1, one 4-px block: in a single-row image every x>0 pixel is
        # Left-predicted by the border rule and (0,0) starts from ARGB
        # black — the stored residuals chain back to the wanted pixels
        bw2 = _LsbBitWriter()
        _header(bw2, 3, 1)
        bw2.write(1, 1)
        bw2.write(0, 2)
        bw2.write(0, 3)
        bw2.write(0, 1)
        for syms in ([1], [0], [0], [255], [0]):  # mode sub-image (green=1)
            _simple_code(bw2, syms)
        bw2.write(0, 1)
        bw2.write(0, 1)
        bw2.write(0, 1)
        from tilegrab_spark.kernels.webp import (
            _canonical_encode_table,
            _huffman_lengths,
            _write_prefix_code,
        )

        def full_code(symbols, alphabet):
            freq = np.zeros(alphabet, dtype=np.int64)
            for s in symbols:
                freq[s] += 1
            lengths = _huffman_lengths(freq)
            _write_prefix_code(bw2, lengths)
            return _canonical_encode_table(lengths), lengths

        # wanted ARGB: (255,100,100,100), (255,110,100,90), (255,115,100,85)
        # residuals: p0 - black = (0,100,100,100); then left-deltas
        g_syms = [100, 0, 0]
        r_syms = [100, 10, 5]
        b_syms = [100, 246, 251]
        encg, lg = full_code(g_syms, 256 + 24)
        encr, lr = full_code(r_syms, 256)
        encb, lb = full_code(b_syms, 256)
        _simple_code(bw2, [0])  # alpha residual: all zero... wait p0 alpha
        _simple_code(bw2, [0])  # distance
        # alpha residuals: p0: 255-255=0, p1: 255-255=0, p2: 0 -> single 0
        for i in range(3):
            c, n = encg[g_syms[i]]
            _write_code_msb(bw2, c, n)
            c, n = encr[r_syms[i]]
            _write_code_msb(bw2, c, n)
            c, n = encb[b_syms[i]]
            _write_code_msb(bw2, c, n)
        out = webp.decode_webp(_container(bw2))
        want = np.array(
            [[[100, 100, 100], [110, 100, 90], [115, 100, 85]]], dtype=np.uint8
        )
        assert np.array_equal(out, want)

    def test_lz77_backward_reference(self):
        # 4x1: one literal then a length-3 copy at distance 1
        import numpy as np

        from tilegrab_spark.kernels.webp import (
            _canonical_encode_table,
            _huffman_lengths,
            _write_prefix_code,
        )

        bw = _LsbBitWriter()
        _header(bw, 4, 1)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no meta
        # green alphabet needs symbol 258 (length code 2 -> length 3):
        # beyond the simple form's 8-bit symbols, so code-length form
        g_syms = [9, 258]
        freq = np.zeros(256 + 24, dtype=np.int64)
        for sym in g_syms:
            freq[sym] += 1
        lengths = _huffman_lengths(freq)
        _write_prefix_code(bw, lengths)
        encg = _canonical_encode_table(lengths)
        for syms in ([33], [77], [255], [1]):  # r, b, a, distance
            _simple_code(bw, syms)
        c, n = encg[9]
        _write_code_msb(bw, c, n)  # literal pixel (r=33, g=9, b=77)
        c, n = encg[258]
        _write_code_msb(bw, c, n)  # length code -> 3, no extra bits
        # distance: single-symbol code over [1] -> zero bits; prefix
        # value 2 -> map entry (1,0) -> distance 1
        out = webp.decode_webp(_container(bw))
        want = np.tile(np.array([33, 9, 77], dtype=np.uint8), (1, 4, 1))
        assert np.array_equal(out, want)

    def test_color_cache(self):
        # literal A, literal B, then a cache hit re-emitting A
        from tilegrab_spark.kernels.webp import (
            _canonical_encode_table,
            _color_cache_hash,
            _huffman_lengths,
            _write_prefix_code,
        )

        cache_bits = 4
        # pick two pixels whose cache slots differ at this size
        A = (255 << 24) | (1 << 16) | (2 << 8) | 3
        B = (255 << 24) | (200 << 16) | (150 << 8) | 90
        hA, hB = _color_cache_hash(A, cache_bits), _color_cache_hash(B, cache_bits)
        assert hA != hB, (hA, hB)
        bw = _LsbBitWriter()
        _header(bw, 3, 1)
        bw.write(0, 1)  # no transforms
        bw.write(1, 1)  # color cache present
        bw.write(cache_bits, 4)
        bw.write(0, 1)  # no meta
        g_syms = [2, 150, 256 + 24 + hA]
        freq = np.zeros(256 + 24 + (1 << cache_bits), dtype=np.int64)
        for sym in g_syms:
            freq[sym] += 1
        lengths = _huffman_lengths(freq)
        _write_prefix_code(bw, lengths)
        encg = _canonical_encode_table(lengths)
        R, Bc, Ac, D = [1, 200], [3, 90], [255], [0]
        for syms in (R, Bc, Ac, D):
            _simple_code(bw, syms)
        c, n = encg[2]
        _write_code_msb(bw, c, n)  # green 2
        _sym(bw, R, 1)
        _sym(bw, Bc, 3)
        c, n = encg[150]
        _write_code_msb(bw, c, n)  # green 150
        _sym(bw, R, 200)
        _sym(bw, Bc, 90)
        c, n = encg[256 + 24 + hA]
        _write_code_msb(bw, c, n)  # cache hit -> pixel A again
        out = webp.decode_webp(_container(bw))
        want = np.array([[[1, 2, 3], [200, 150, 90], [1, 2, 3]]], dtype=np.uint8)
        assert np.array_equal(out, want)


def test_mosaic_stitches_webp_tile(spark):
    """A VP8L webp tile stitches byte-exact (lossless) next to PNG
    tiles — the mosaic reducer dispatches on fmt per tile."""
    import pandas as pd

    from tilegrab_spark.operators.mosaic import mosaic

    z, x0, y0 = 16, 47439, 31441
    rows, want = [], np.zeros((128, 128, 3), np.uint8)
    for i, (dx, dy) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        arr = png.synth_tile_pixels(x0 + dx, y0 + dy, z, 0, 64, 64)
        data = webp.encode_webp(arr) if i == 1 else png.encode_png(arr)
        rows.append(
            {"geom_id": "g", "z": z, "x": x0 + dx, "y": y0 + dy,
             "bytes": data, "fmt": "webp" if i == 1 else "png",
             "image_id": f"{z}_{x0+dx}_{y0+dy}_0"}
        )
        want[dy * 64 : dy * 64 + 64, dx * 64 : dx * 64 + 64] = arr
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "geom_id string, z int, x long, y long, bytes binary, fmt string, image_id string",
    )
    out = mosaic(df, tile_w=64, tile_h=64).collect()[0]
    assert out.n_tiles == 4 and out.n_bad == 0
    assert np.array_equal(png.decode_png(bytes(out.bytes)), want)


def test_predictor_fast_path_equals_scalar_reference():
    """The vectorized inverse-predictor must be bit-identical to the
    scalar spec transcription over ALL 14 modes on random residuals."""
    from tilegrab_spark.kernels.webp import (
        _apply_predictor_inverse,
        _apply_predictor_inverse_scalar,
    )

    rng = np.random.default_rng(42)
    h, w, block_bits = 37, 53, 2
    bw_, bh_ = (w + 3) // 4, (h + 3) // 4
    for trial in range(3):
        residuals = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        modes = rng.integers(0, 14, (bh_, bw_), dtype=np.uint8)
        a = residuals.copy()
        b = residuals.copy()
        _apply_predictor_inverse(a, modes, block_bits)
        _apply_predictor_inverse_scalar(b, modes, block_bits)
        assert np.array_equal(a, b), f"trial {trial}"
    # per-mode sweep (uniform mode grid isolates each code path)
    for mode in range(14):
        residuals = rng.integers(0, 256, (16, 16, 4), dtype=np.uint8)
        modes = np.full((4, 4), mode, dtype=np.uint8)
        a, b = residuals.copy(), residuals.copy()
        _apply_predictor_inverse(a, modes, 2)
        _apply_predictor_inverse_scalar(b, modes, 2)
        assert np.array_equal(a, b), f"mode {mode}"


def test_color_transform_fast_path_equals_scalar_reference():
    from tilegrab_spark.kernels.webp import (
        _apply_color_transform_inverse,
        _apply_color_transform_inverse_scalar,
    )

    rng = np.random.default_rng(7)
    h, w, block_bits = 29, 41, 3
    elems = rng.integers(0, 256, ((h + 7) // 8, (w + 7) // 8, 4), dtype=np.uint8)
    img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    a, b = img.copy(), img.copy()
    _apply_color_transform_inverse(a, elems, block_bits)
    _apply_color_transform_inverse_scalar(b, elems, block_bits)
    assert np.array_equal(a, b)


def test_uniform_value_channels_roundtrip():
    """A channel using all 256 values uniformly yields an 8-bit-flat
    huffman whose code-length code has ONE used symbol — the encoder
    must emit zero bits per length there (review r2 finding: it wrote
    one bit each and desynced the whole stream)."""
    v = np.arange(256, dtype=np.uint8).reshape(16, 16)
    arr = np.stack([v, v.T, np.full((16, 16), 7, np.uint8)], axis=-1)
    assert np.array_equal(webp.decode_webp(webp.encode_webp(arr)), arr)


def test_clamp_add_subtract_half_truncates_toward_zero():
    """libwebp's ClampAddSubtractHalf uses C division (truncation toward
    zero); a==10, b==13 must give 10 + (-3)/2 = 10 - 1 = 9, not 8."""
    from tilegrab_spark.kernels.webp import _clamp_add_subtract_half

    assert _clamp_add_subtract_half(10, 13) == 9
    assert _clamp_add_subtract_half(13, 10) == 14
    assert _clamp_add_subtract_half(0, 255) == 0  # clamped
    assert _clamp_add_subtract_half(255, 0) == 255  # clamped


def test_predictor_tr_rightmost_column_uses_current_row_leftmost():
    """Spec/libwebp: for x == w-1, the TR pixel is the CURRENT row's
    leftmost (argb[pos - width + 1] lands on argb[y*width]) — hand-built
    2x2 stream with mode 3 (TR) pins the rule."""
    from tilegrab_spark.kernels.webp import (
        _apply_predictor_inverse,
        _apply_predictor_inverse_scalar,
    )

    residuals = np.array(
        [[[0, 10, 10, 10], [0, 5, 5, 5]],
         [[0, 1, 2, 3], [0, 4, 5, 6]]], dtype=np.uint8
    )
    modes = np.full((1, 1), 3, dtype=np.uint8)  # TR everywhere
    a = residuals.copy()
    _apply_predictor_inverse(a, modes, 3)
    b = residuals.copy()
    _apply_predictor_inverse_scalar(b, modes, 3)
    assert np.array_equal(a, b)
    # row 0: (0,0)+black -> a=255,(10,10,10); (0,1) left-pred -> (15,15,15)
    # row 1 x=0: top-pred -> (255,11,12,13)
    # row 1 x=1 (rightmost): TR = CURRENT row's leftmost (255,11,12,13)
    #   -> (255,15,17,19)
    assert a[1, 1].tolist() == [255, 15, 17, 19]


def test_distance_map_matches_plane_to_code_lut():
    """Cross-validate _DIST_MAP against libwebp's plane_to_code_lut
    (lossless_common: the encoder-side (dy, 8-dx) -> code byte table) —
    two independently-structured derivations of the same 120-entry
    mapping must agree exactly, and the decoder inverse per the spec is
    xoffset = 8 - (code_byte & 0xF), yoffset = code_byte >> 4."""
    from tilegrab_spark.kernels.webp import _DIST_MAP

    lut = [
        96,  73,  55,  39,  23,  13,   5,  1, 255, 255, 255, 255, 255, 255, 255, 255,
        101, 78,  58,  42,  26,  16,   8,  2,   0,   3,   9,  17,  27,  43,  59,  79,
        102, 86,  62,  46,  32,  20,  10,  6,   4,   7,  11,  21,  33,  47,  63,  87,
        105, 90,  70,  52,  37,  28,  18, 14,  12,  15,  19,  29,  38,  53,  71,  91,
        110, 99,  82,  66,  48,  35,  30, 24,  22,  25,  31,  36,  49,  67,  83, 100,
        115, 108, 94,  76,  64,  50,  44, 40,  34,  41,  45,  51,  65,  77,  95, 109,
        118, 113, 103, 92,  80,  68,  60, 56,  54,  57,  61,  69,  81,  93, 104, 114,
        119, 116, 111, 106, 97,  88,  84, 74,  72,  75,  85,  89,  98, 107, 112, 117,
    ]
    inv = {}
    for dy in range(8):
        for col in range(16):
            v = lut[dy * 16 + col]
            if v == 255:
                continue
            assert v not in inv
            inv[v] = (8 - col, dy)
    assert len(inv) == 120
    assert [inv[i] for i in range(120)] == list(_DIST_MAP)


def test_code_length_repeat_codes_16_17_18():
    """Decoder-only path: prefix codes whose lengths arrive via the
    16 (repeat previous), 17 (short zero run) and 18 (long zero run)
    code-length codes — wild encoders use these heavily; ours doesn't."""
    from tilegrab_spark.kernels.webp import (
        _LsbBitReader,
        _read_prefix_code,
    )

    bw = _LsbBitWriter()
    bw.write(0, 1)  # code-length-coded
    # code-length alphabet lengths: {0:2, 2:2, 16:3, 17:3, 18:3}
    # canonical codes: (2) 00=0?? order by (len, sym): len2: 0, 2 -> 00, 01
    # len3: 16,17,18 -> 100, 101, 110... wait need kraft: 2*(1/4)+3*(1/8)=0.875 <1 incomplete but fine for our decoder
    cl = {0: 2, 2: 2, 16: 3, 17: 3, 18: 3}
    bw.write(19 - 4, 4)
    from tilegrab_spark.kernels.webp import _CODE_LENGTH_ORDER, _canonical_codes

    for sym in _CODE_LENGTH_ORDER:
        bw.write(cl.get(sym, 0), 3)
    bw.write(0, 1)  # no max_symbol
    lengths_list = [0] * 19
    for s, l in cl.items():
        lengths_list[s] = l
    enc = {sym: (code, ln) for (ln, code), sym in _canonical_codes(lengths_list).items()}

    def emit(sym):
        c, n = enc[sym]
        _write_code_msb(bw, c, n)

    # target alphabet 40 (distance-code sized): lengths
    #   sym0..2 = 2 (via literal + 16-repeat), 11 zeros via 17+extra,
    #   sym14 = 2, long zero run via 18, tail zeros implicit
    emit(2)            # sym0: len 2
    emit(16); bw.write(0, 2)   # repeat previous len (2) 3+0 times -> sym1..3
    emit(17); bw.write(7, 3)   # 3+7 = 10 zeros -> sym4..13
    emit(2)            # sym14: len 2
    emit(18); bw.write(0, 7)   # 11+0 zeros -> sym15..25
    # remaining syms 26..39 default 0 (loop ends at alphabet size? no —
    # decoder keeps reading until i reaches alphabet... emit zeros via 18)
    emit(18); bw.write(3, 7)   # 11+3 = 14 zeros -> sym26..39
    data = bw.flush()
    br = _LsbBitReader(data)
    pc = _read_prefix_code(br, 40)
    # decoded lengths: sym0..3 and sym14 at len 2 -> five 2-bit codes... kraft
    # 5/4 > 1 is illegal huffman, but _canonical_codes doesn't validate;
    # just assert the SYMBOLS resolved: read back code for sym0 (00)
    assert pc.table is not None
    got_lengths = {}
    for (ln, code), sym in pc.table.items():
        got_lengths[sym] = ln
    assert got_lengths == {0: 2, 1: 2, 2: 2, 3: 2, 14: 2}


def test_max_symbol_shortcut():
    """Decoder-only path: the use_length/max_symbol cap stops the
    code-length stream early; remaining symbols are zero."""
    from tilegrab_spark.kernels.webp import (
        _CODE_LENGTH_ORDER,
        _LsbBitReader,
        _canonical_codes,
        _read_prefix_code,
    )

    bw = _LsbBitWriter()
    bw.write(0, 1)  # code-length-coded
    cl = {1: 1, 8: 1}  # two cl symbols: lengths 1 and 8
    bw.write(19 - 4, 4)
    for sym in _CODE_LENGTH_ORDER:
        bw.write(cl.get(sym, 0), 3)
    bw.write(1, 1)  # use max_symbol
    bw.write(0, 3)  # length_nbits = 2 + 2*0 = 2
    bw.write(2 - 2, 2)  # max_symbol = 2 + 0 = 2: read only 2 cl symbols
    lengths_list = [0] * 19
    for s, l in cl.items():
        lengths_list[s] = l
    enc = {sym: (code, ln) for (ln, code), sym in _canonical_codes(lengths_list).items()}
    for sym in (8, 1):  # sym0 len 8, sym1 len 1
        c, n = enc[sym]
        _write_code_msb(bw, c, n)
    data = bw.flush()
    br = _LsbBitReader(data)
    pc = _read_prefix_code(br, 280)
    got = {sym: ln for (ln, code), sym in pc.table.items()}
    assert got == {0: 8, 1: 1}  # symbols beyond max_symbol all zero


def test_meta_prefix_codes_two_groups():
    """Decoder-only path: an entropy image routes different pixel spans
    to different prefix-code groups."""
    bw = _LsbBitWriter()
    _header(bw, 16, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix codes present
    bw.write(1, 3)  # huffman_bits = 2 + 1 = 3 -> block size 8 -> 2 blocks
    # entropy image 2x1: pixel = (red<<8)|green = group index (0 and 1)
    bw.write(0, 1)  # entropy sub-image: no color cache
    EG, ER, EB, EA, ED = [0, 1], [0], [0], [255], [0]
    for syms in (EG, ER, EB, EA, ED):
        _simple_code(bw, syms)
    _sym(bw, EG, 0)  # block 0 -> group 0
    _sym(bw, EG, 1)  # block 1 -> group 1
    # two groups' codes: group 0 paints green 50, group 1 green 200
    for gval in (50, 200):
        for syms in ([gval], [10], [20], [255], [0]):
            _simple_code(bw, syms)
    # all channels single-symbol -> zero data bits for all 16 pixels
    out = webp.decode_webp(_container(bw))
    assert out.shape == (1, 16, 3)
    assert [p.tolist() for p in out[0, :2]] == [[10, 50, 20]] * 2
    assert out[0, :8, 1].tolist() == [50] * 8
    assert out[0, 8:, 1].tolist() == [200] * 8
