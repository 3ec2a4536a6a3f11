"""Pure-numpy lossy WebP (VP8) intra-frame codec.

Closes the one remaining real-format gap from round 2: the reference
decodes lossy WebP tiles through PIL (/root/reference/src/tilegrab/
images/image.py:28); this sandbox has no PIL/libwebp, so the decoder is
built from scratch to the public VP8 bitstream structure (RFC 6386),
key frames only (which is all a WebP still image can contain).

Decoder coverage:
- RIFF/WEBP container ("VP8 " chunk, also inside VP8X), frame tag,
  start code, 14-bit dimensions (RFC 6386 s9.1)
- boolean arithmetic decoder (s7), tree/literal/signed reads
- full key-frame header: segmentation (quantizer + loop-filter deltas,
  segment map tree probs), loop-filter params, up to 8 token
  partitions, quantizer indices + 5 deltas, coefficient-probability
  updates, mb_no_coeff_skip (s9.2-9.11)
- per-MB intra modes: 16x16 DC/V/H/TM, B_PRED with all ten 4x4
  sub-modes, chroma DC/V/H/TM (s11, s12.2-12.3)
- DCT token decoding with coefficient bands, left/above entropy
  contexts, the skip-EOB-after-zero rule, cat1-cat6 extra bits (s13)
- dequantization incl. y2_dc*2 / y2_ac*155/100(min 8) / uv_dc<=132
  specials (s14.1), inverse WHT for Y2 (s14.3), exact integer inverse
  DCT with the 20091/35468 Q16 constants (s14.4)
- BT.601 limited-range YUV 4:2:0 -> RGB with bilinear chroma upsample

The in-loop deblocking filter (s15) IS implemented — both the normal
filter (4-tap common + 6-tap macroblock-edge wide filter, hev
thresholds, interior/edge limits, segment + mode level adjustments)
and the simple filter — applied as a post-pass over the reconstructed
planes, which is exact for intra-only stills (within a key frame,
intra prediction reads UNfiltered neighbours).  At qindex 60 the
filter lifts round-trip PSNR by ~4 dB on blocky content
(tests/test_vp8.py); encode_vp8 signals loop_filter_level=0 by default
and exposes level/sharpness/simple_filter.

TABLE PROVENANCE.  The VP8 spec hardwires several large constant
tables.  Reproduced from public knowledge: the token/mode trees,
category extra-bit probabilities (Pcat1..6), coefficient-band map,
zigzag scan, the dc/ac quantizer lookup tables, IDCT/WHT integer
constants, and the key-frame mode probabilities
{145,156,163,128}/{142,114,183}.  The three giant probability tables
(default_coeff_probs 4x8x3x11, coeff_update_probs 4x8x3x11,
kf_bmode_probs 10x10x9 — RFC 6386 sections 13.5, 13.4 and 11.5, all
normative PUBLIC constants) were recovered in-environment from the
system libwebp's .rodata (two independent embedded copies,
cross-checked byte-for-byte; see the comment at their definition) and
validated by BIT-EXACT decode parity against libwebp itself across
flat/gradient/noise/photo lossy streams exercising segmentation,
per-segment quantizers, both loop filters, prob updates and all intra
modes (tests/test_vp8_conformance.py, gated on the shared library
being present).  With the genuine tables in place this decoder is
conformant on real libwebp-encoded lossy streams — not merely paired
with `encode_vp8`.  The end-of-frame overread check (a desynced token
stream almost always keeps consuming past its partition, while VP8's
legal zero-padding overread is a few bytes) remains as a corruption
guard converting desyncs to ValueError -> n_bad.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Boolean arithmetic coder (RFC 6386 s7)
# ---------------------------------------------------------------------------


class _BoolDecoder:
    """RFC 6386 s7.3: 16-bit value window, range in [128, 255]."""

    __slots__ = ("data", "pos", "value", "range", "bit_count")

    def __init__(self, data: bytes):
        self.data = data
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def bool(self, prob: int) -> int:
        # int() guard: probs often arrive as numpy uint8 scalars; under
        # NEP-50 promotion (numpy>=2) the multiply below would wrap
        prob = int(prob)
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value = (self.value << 1) & 0xFFFF
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bool(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bool(128) else v

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bool(probs[i >> 1])]
            if i <= 0:
                return -i


class _BoolEncoder:
    """Exact inverse of _BoolDecoder.  Keeps the interval lower bound in
    a 32-bit-ish window; carries propagate into already-emitted bytes
    through trailing-0xFF resolution."""

    __slots__ = ("out", "low", "range", "held")

    def __init__(self):
        self.out = bytearray()
        self.low = 0
        self.range = 255
        self.held = 8  # bits of scale currently represented in self.low

    def put(self, prob: int, bit: int):
        prob = int(prob)  # numpy-scalar guard, mirrors _BoolDecoder.bool
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        if self.low >> self.held:  # carry into flushed bytes
            self.low -= 1 << self.held
            i = len(self.out) - 1
            while self.out[i] == 0xFF:
                self.out[i] = 0
                i -= 1
            self.out[i] += 1
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.held += 1
            if self.held >= 32:
                self.held -= 8
                self.out.append((self.low >> self.held) & 0xFF)
                self.low &= (1 << self.held) - 1

    def put_literal(self, value: int, n: int):
        for k in range(n - 1, -1, -1):
            self.put(128, (value >> k) & 1)

    def put_signed_literal(self, value: int, n: int):
        self.put_literal(abs(value), n)
        self.put(128, 1 if value < 0 else 0)

    def put_tree(self, tree: tuple, probs, symbol: int, start: int = 0):
        # walk the tree, emitting the branch decisions leading to -symbol
        path = _tree_path(tree, symbol, start)
        for node, bit in path:
            self.put(probs[node >> 1], bit)

    def flush(self) -> bytes:
        pad = (-self.held) % 8
        self.low <<= pad
        self.held += pad
        while self.held > 0:
            self.held -= 8
            self.out.append((self.low >> self.held) & 0xFF)
        self.out += b"\x00\x00"
        return bytes(self.out)


_TREE_PATH_CACHE: dict = {}


def _tree_path(tree: tuple, symbol: int, start: int = 0):
    """[(node_index, bit), ...] from `start` to leaf -symbol.  Keyed by
    the tuple itself, not id(): a GC'd tuple's id can be reused by a
    different tree, which would silently return a stale path."""
    key = (tree, symbol, start)
    hit = _TREE_PATH_CACHE.get(key)
    if hit is not None:
        return hit
    # DFS
    def rec(i):
        for bit in (0, 1):
            t = tree[i + bit]
            if t == -symbol and t <= 0:
                return [(i, bit)]
            if t > 0:
                sub = rec(t)
                if sub is not None:
                    return [(i, bit)] + sub
        return None

    path = rec(start)
    if path is None:
        raise ValueError(f"symbol {symbol} not in tree")
    _TREE_PATH_CACHE[key] = path
    return path


# ---------------------------------------------------------------------------
# Constant tables
# ---------------------------------------------------------------------------

# Intra mode numbering (RFC 6386 s11.2)
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# key-frame luma mode tree: B_PRED first (s11.2)
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)

UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_PROBS = (142, 114, 183)

BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)

SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# DCT token tree (s13.2).  Leaves: 0..3 literal, 4=ONE? see TOKEN_*.
DCT_EOB = 11  # sentinel leaf id for EOB (distinct from coefficient tokens)
TOKEN_TREE = (
    -DCT_EOB, 2,
    -0, 4,          # ZERO
    -1, 6,          # ONE
    8, 12,
    -2, 10,         # TWO
    -3, -4,         # THREE, FOUR
    14, 16,
    -5, -6,         # CAT1, CAT2
    18, 20,
    -7, -8,         # CAT3, CAT4
    -9, -10,        # CAT5, CAT6
)

# category base values and extra-bit probabilities (s13.2)
CAT_BASE = {5: 5, 6: 7, 7: 11, 8: 19, 9: 35, 10: 67}
CAT_PROBS = {
    5: (159,),
    6: (165, 145),
    7: (173, 148, 140),
    8: (176, 155, 140, 135),
    9: (180, 157, 141, 134, 130),
    10: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

COEF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
)
AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)


# The three large normative probability tables of RFC 6386 (sections
# 13.4, 13.5 and 11.5).  These are PUBLIC spec constants; the copies
# below were recovered in-environment from the system libwebp
# (/usr/lib/x86_64-linux-gnu/libwebp.so.7.1.5 .rodata, where the
# decoder and encoder translation units each embed an identical copy —
# the two copies were cross-checked byte-for-byte) and then validated
# by bit-exact decode parity against libwebp itself on generated lossy
# streams covering flat/gradient/noise/photo content, segmentation,
# per-segment quantizers, both loop filters and coefficient-probability
# updates (see tests/test_vp8_conformance.py).
#
# KF_BMODE_PROBS note: libwebp's private intra4 enum orders the
# diagonal modes (RD=4, VR=5, LD=6) differently from RFC 6386
# (LD=4, RD=5, VR=6); its kBModesProba rows/columns follow its own
# enum, so the first two axes were permuted back to RFC order here
# (this module uses RFC mode numbering throughout).
import base64 as _b64


def _tbl(b64: str, shape: tuple) -> np.ndarray:
    return np.frombuffer(_b64.b64decode(b64), np.uint8).reshape(shape).copy()


# [block_type 0..3][band 0..7][ctx 0..2][node 0..10] — RFC 6386 s13.5
DEFAULT_COEFF_PROBS = _tbl(
    "gICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICA/Yj+/+TbgICAgIC9gfL/49X/24CA"
    "gGp+4/zW0f//gICAAWL4/+zi//+AgIC1he7+3er/moCAgE6GyvfGtP/bgICAAbn5//P/gICA"
    "gIC4lvf/7OCAgICAgE1u2P/s5oCAgICAAWX7//H/gICAgICqi/H87NH//4CAgCV0xPPk////"
    "gICAAcz+//X/gICAgIDPoPr/7oCAgICAgGZn5//Tq4CAgICAAZj8//D/gICAgICxh/P/6uGA"
    "gICAgFCB0//C4ICAgICAAQH/gICAgICAgID2Af+AgICAgICAgP+AgICAgICAgICAxiPt38G7"
    "oqCRmz6DLcbdrLDcnfzdAUQvktCVp92i/9+AAZXx/93g//+AgIC4jer93tz/x4CAgFFjtfKw"
    "vvnK//+AAYHo/dbF8sT//4BjedL6ycb/yoCAgBdbo/Kqu/fS//+AAcj2/+r/gICAgIBtsvH/"
    "5/X//4CAgCyCyf3NwP//gICAAYTv+9vR/6WAgIBeiOH72r7//4CAgBZkrvW6of/HgICAAbb5"
    "/+jrgICAgIB8j/H/4+qAgICAgCNNtfvB0//NgICAAZ33/+zn//+AgIB5jev/4eP//4CAgC1j"
    "vPvD2f/ggICAAQH7/9X/gICAgIDLAfj//4CAgICAgIkBsf/g/4CAgICA/Qn4+8/Q/8CAgICv"
    "DeDzwbn5xv//gEkRq92hs+yn/+qAAV/3/dS3//+AgIDvWvT609H//4CAgJtNw/i8w///gICA"
    "ARjv+9rb/82AgIDJM9v/xLqAgICAgEUuvu/J2v/kgICAAb/7//+AgICAgIDfpfn/1f+AgICA"
    "gI18+P//gICAgICAARD4//+AgICAgIC+JOb/7P+AgICAgJUB/4CAgICAgICAAeL/gICAgICA"
    "gID3wP+AgICAgICAgPCA/4CAgICAgICAAYb8//+AgICAgIDVPvr//4CAgICAgDdd/4CAgICA"
    "gICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAyhjV67q/3KDwr/9+Jrboqbjk"
    "rv+7gD0uituXsvCq/9iAAXDm+se/95///4CmbeT809f/roCAgCdNouistPWy//+AATTc9sbH"
    "+dz//4B8Sr/zt8H63f//gBhHgtuaqvO2//+AAbbh+dvw/+CAgICVluL82M3/q4CAgBxsqvK3"
    "wv7f//+AAVHm/MzL/8CAgIB7ZtH3vMT/6YCAgBRfmfOkrf/LgICAAd74/9jVgICAgICor/b8"
    "683//4CAgC901//T1P//gICAAXns/dTW//+AgICNVNX8ycr/24CAgCpQoPCiuf/NgICAAQH/"
    "gICAgICAgID0Af+AgICAgICAgO4B/4CAgICAgICA",
    (4, 8, 3, 11),
)

# RFC 6386 s13.4 coeff_update_probs
COEFF_UPDATE_PROBS = _tbl(
    "////////////////////////////////////////////sPb////////////f8fz/////////"
    "//n9/f////////////T8///////////q/v7///////////3///////////////b+////////"
    "///v/f7///////////7//v////////////j+///////////7//7/////////////////////"
    "//////3+///////////7/v7///////////7//v////////////79//7////////6//7//v//"
    "//////7/////////////////////////////////////////////////////////2f//////"
    "///////h/PH9///+/////+r68fr9//3+//////7////////////f/v7//////////+79/v7/"
    "//////////j+///////////5/v////////////////////////////3////////////3/v//"
    "//////////////////////////3+///////////8//////////////////////////////7+"
    "///////////9//////////////////////////////79///////////6//////////////7/"
    "////////////////////////////////////////////////////////uvv6///////////q"
    "+/T+//////////v78/3+//7///////3+///////////s/f7///////////v9/f7+////////"
    "//7+///////////+/v7///////////////////////////7////////////+/v//////////"
    "//7////////////////////////////+////////////////////////////////////////"
    "////////////////////////////////////////////////////////////////////////"
    "////////////////////////////////////////////////+P/////////////6/vz+////"
    "//////j++f3///////////39///////////2/f3///////////z++/7+//////////78////"
    "///////4/v3///////////3//v7///////////v+///////////1+/7///////////39/v//"
    "//////////v9///////////8/f7////////////+//////////////z////////////5//7/"
    "/////////////v/////////////9///////////6////////////////////////////////"
    "///////////+////////////////////////////",
    (4, 8, 3, 11),
)

# RFC 6386 s11.5 kf_bmode_probs, [above][left][tree-node], RFC mode order
KF_BMODE_PROBS = _tbl(
    "53gwWXNxeJhwmLNAfqp2LkZfr0WPUFVSSJtnODoKq9q9EQ2YkEcKJqvVkCIachoRoyzDFQqt"
    "eRhQwxo+LEBVqi43E4igIc5HPxQIcnLQDAniUSgLYLZUHRAkhrdZiWJlaqWUSLtkgp1vIEtQ"
    "QmanY0o+KOqAKTUJsvGNGghraE8MG9n/VxEHSisakkmmMRedQSZpoDM0H3OAV0RHLHIzD7oX"
    "LykObra3FRHCQi0ZZsW9FxIWWFiTliouLcTNK2G3dVUmI7M9JzXIVxoVK+irOCIzaHJmHV1N"
    "azYgGjMBUSsfJxxVqzqlWmJAIhZ0zhciK6ZJRBlqFkCrJOFyIhMVZoS8EEx8PhJOX1U5MjAz"
    "wWUjn9dvWS5vPJQfrNvkFRJvcHFNVbP/JnhyKCoBxPXRChltZFAIK5oBMxpHWCsdjKbVJSua"
    "PT8em0MtRAHRjk5OEP+AIsWrKSgFZtO3BAHdMzIRqNHAFxlSfWIqWGhVda9SX1Q1WYBkcWUt"
    "S097LzOAUasBOREFR2Y5NSkxcxUCCmb/phcGJiENeTlJGgFVKQpDik1uWi9yZR0QClWAZcQa"
    "ORIKZmbVIhQrdRQPJKOARAEaih8kqxumJizlQ1c6qVJzGjuzPztatDumXUmaKCgVdI/RIiev"
    "OS4WGIABNhElLw8QtyLfMS23LhEhtwZiDyC3QSBJcxyAF4DNKAMJczPAEgbfVyUJcztNQBUv"
    "aDcs2gk2NYLiQFpGzSgpFxo5NjlwuAUpJqbVHiIahZh0CiCGSyAMM8D/oCszJxM13RpyIEn/"
    "HwlB6gIPAXZJWB8jQ2ZVN7pVOBUXbzvNLSXANyZGfElmASJiZj1HJSI1H/PARTxHJkl3HN4l"
    "RC2AIgEvC/WrPhETRpJVNz5GSw8JCUD/uHcQJSslmmSjVaABPwlciBxAIMlVVgYcBUD/GfgB"
    "OAgRhIn/N3SAOg8UUoc5GnkopDIfiZqFGSPaM2csg4N7HwaeVihAh5TgLbeAFhoRg/CaDgHR"
    "UwwNNsD/RC8cLRAVW0DeBwHFOBUnmzyKF2bVVRpVVYCAIJKrEgsHP5CrBAT2IxsKkq6rDBqA"
    "vlAjY7RQfjYtVX4vV7AzKRQgZUuAi3aSdIBVOCkPsOxVJQk+kiQTHqv/YRsURx4Rd3b/ERKK"
    "ZSY8ijdGKxqOii09PtsBUbxAICkUdZeOFBWjcBMMPcOAMAQY",
    (10, 10, 9),
)


def _clamp_q(i: int) -> int:
    return 0 if i < 0 else (127 if i > 127 else i)


def _dequant_factors(qi: int, deltas: dict) -> tuple:
    """(y1dc, y1ac, y2dc, y2ac, uvdc, uvac) per RFC 6386 s14.1."""
    y1dc = DC_QLOOKUP[_clamp_q(qi + deltas["y_dc"])]
    y1ac = AC_QLOOKUP[_clamp_q(qi)]
    y2dc = DC_QLOOKUP[_clamp_q(qi + deltas["y2_dc"])] * 2
    y2ac = AC_QLOOKUP[_clamp_q(qi + deltas["y2_ac"])] * 155 // 100
    if y2ac < 8:
        y2ac = 8
    uvdc = DC_QLOOKUP[_clamp_q(qi + deltas["uv_dc"])]
    if uvdc > 132:
        uvdc = 132
    uvac = AC_QLOOKUP[_clamp_q(qi + deltas["uv_ac"])]
    return (y1dc, y1ac, y2dc, y2ac, uvdc, uvac)


# ---------------------------------------------------------------------------
# Transforms (RFC 6386 s14.3/14.4)
# ---------------------------------------------------------------------------

_C1 = 20091  # (sqrt(2)*cos(pi/8) - 1) in Q16
_C2 = 35468  # sqrt(2)*sin(pi/8) in Q16


def idct4x4(coefs: np.ndarray) -> np.ndarray:
    """Exact integer inverse DCT; coefs (4,4) int, returns (4,4) int.

    Scalar Python ints: on one 4x4 block this is several times faster
    than numpy's per-call overhead, and ``>>`` floors like int64's."""
    ip = np.asarray(coefs).tolist()
    # pass 1: columns
    t = [[0] * 4 for _ in range(4)]
    for j in range(4):
        i0, i1, i2, i3 = ip[0][j], ip[1][j], ip[2][j], ip[3][j]
        a1 = i0 + i2
        b1 = i0 - i2
        c1 = ((i1 * _C2) >> 16) - (i3 + ((i3 * _C1) >> 16))
        d1 = (i1 + ((i1 * _C1) >> 16)) + ((i3 * _C2) >> 16)
        t[0][j] = a1 + d1
        t[3][j] = a1 - d1
        t[1][j] = b1 + c1
        t[2][j] = b1 - c1
    # pass 2: rows, with final rounding
    o = []
    for t0, t1, t2, t3 in t:
        a1 = t0 + t2
        b1 = t0 - t2
        c1 = ((t1 * _C2) >> 16) - (t3 + ((t3 * _C1) >> 16))
        d1 = (t1 + ((t1 * _C1) >> 16)) + ((t3 * _C2) >> 16)
        o.append([(a1 + d1 + 4) >> 3, (b1 + c1 + 4) >> 3, (b1 - c1 + 4) >> 3, (a1 - d1 + 4) >> 3])
    return np.array(o, np.int64)


def iwht4x4(coefs: np.ndarray) -> np.ndarray:
    """Inverse Walsh-Hadamard for the Y2 block."""
    ip = coefs.astype(np.int64)
    t = np.empty((4, 4), np.int64)
    a1 = ip[0] + ip[3]
    b1 = ip[1] + ip[2]
    c1 = ip[1] - ip[2]
    d1 = ip[0] - ip[3]
    t[0] = a1 + b1
    t[1] = c1 + d1
    t[2] = a1 - b1
    t[3] = d1 - c1
    o = np.empty((4, 4), np.int64)
    a1 = t[:, 0] + t[:, 3]
    b1 = t[:, 1] + t[:, 2]
    c1 = t[:, 1] - t[:, 2]
    d1 = t[:, 0] - t[:, 3]
    o[:, 0] = (a1 + b1 + 3) >> 3
    o[:, 1] = (c1 + d1 + 3) >> 3
    o[:, 2] = (a1 - b1 + 3) >> 3
    o[:, 3] = (d1 - c1 + 3) >> 3
    return o


def _basis_1d() -> np.ndarray:
    """Float 1-D basis of idct4x4 (pre-rounding, x8 scale)."""
    B = np.zeros((4, 4))
    for k in range(4):
        e = np.zeros(4)
        e[k] = 1.0
        s = _C2 / 65536.0
        cm = 1.0 + _C1 / 65536.0
        a1 = e[0] + e[2]
        b1 = e[0] - e[2]
        c1 = e[1] * s - e[3] * cm
        d1 = e[1] * cm + e[3] * s
        B[:, k] = (a1 + d1, b1 + c1, b1 - c1, a1 - d1)
    return B


_B1D = _basis_1d()
_B1D_INV = np.linalg.inv(_B1D)


def fdct4x4(residual: np.ndarray) -> np.ndarray:
    """Forward float DCT matched to idct4x4's basis (x8 output scale)."""
    return np.rint(8.0 * (_B1D_INV @ residual.astype(np.float64) @ _B1D_INV.T))


def _wht_basis() -> np.ndarray:
    # derive the 1-D column map of iwht4x4 numerically (scale 8 so the
    # +3 >> 3 rounding cancels exactly on multiples of 8)
    M = np.zeros((4, 4))
    for k in range(4):
        e = np.zeros((4, 4), np.int64)
        e[k, 0] = 8
        M[:, k] = iwht4x4(e)[:, 0]
    return M


_WHT_INV = np.linalg.inv(_wht_basis())


def fwht4x4(dcs: np.ndarray) -> np.ndarray:
    """Forward Walsh matched to iwht4x4 (x8 output scale)."""
    return np.rint(8.0 * (_WHT_INV @ dcs.astype(np.float64) @ _WHT_INV.T))


# ---------------------------------------------------------------------------
# Intra prediction (RFC 6386 s12.2, 12.3)
# ---------------------------------------------------------------------------


def _pred_block(plane: np.ndarray, Y: int, X: int, n: int, mode: int,
                have_above: bool, have_left: bool) -> np.ndarray:
    """n x n whole-block predictor (16x16 luma / 8x8 chroma) reading the
    bordered plane (border row 0 = 127, border col 0 = 129)."""
    A = plane[Y - 1, X:X + n].astype(np.int64)
    L = plane[Y:Y + n, X - 1].astype(np.int64)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(A.sum()) + int(L.sum()) + n) >> int(np.log2(2 * n))
        elif have_above:
            dc = (int(A.sum()) + n // 2) >> int(np.log2(n))
        elif have_left:
            dc = (int(L.sum()) + n // 2) >> int(np.log2(n))
        else:
            dc = 128
        return np.full((n, n), dc, np.int64)
    if mode == V_PRED:
        return np.tile(A, (n, 1))
    if mode == H_PRED:
        return np.tile(L[:, None], (1, n))
    if mode == TM_PRED:
        tl = int(plane[Y - 1, X - 1])
        return np.clip(L[:, None] + A[None, :] - tl, 0, 255)
    raise ValueError(f"bad whole-block mode {mode}")


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred_b(plane: np.ndarray, Y: int, X: int, mode: int, ar_row: int) -> np.ndarray:
    """4x4 sub-block predictor.  `ar_row` is the padded-plane row the
    above-right pixels are read from (the MB-top row for the rightmost
    sub-block column — the well-known stale-above-right behavior)."""
    p = np.empty((4, 4), np.int64)
    TL = int(plane[Y - 1, X - 1])
    A = plane[Y - 1, X:X + 4].astype(np.int64)
    AR = plane[ar_row, X + 4:X + 8].astype(np.int64)
    L = plane[Y:Y + 4, X - 1].astype(np.int64)
    E = np.concatenate(([TL], A, AR))  # E[0]=TL, E[1..4]=A, E[5..8]=AR
    if mode == B_DC:
        dc = (int(A.sum()) + int(L.sum()) + 4) >> 3
        p[:] = dc
    elif mode == B_TM:
        p[:] = np.clip(L[:, None] + A[None, :] - TL, 0, 255)
    elif mode == B_VE:
        row = _avg3(E[0:4], E[1:5], E[2:6])
        p[:] = row[None, :]
    elif mode == B_HE:
        col = np.array([
            _avg3(TL, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ])
        p[:] = col[:, None]
    elif mode == B_LD:
        AA = np.concatenate((A, AR))
        for r in range(4):
            for c in range(4):
                x = r + c
                if x < 6:
                    p[r, c] = _avg3(AA[x], AA[x + 1], AA[x + 2])
                else:
                    p[r, c] = _avg3(AA[6], AA[7], AA[7])
    elif mode == B_RD:
        # edge pixels L[3],L[2],L[1],L[0],TL,A[0..3] indexed 0..8
        G = np.array([L[3], L[2], L[1], L[0], TL, A[0], A[1], A[2], A[3]])
        for r in range(4):
            for c in range(4):
                x = 4 + c - r  # 1..7
                p[r, c] = _avg3(G[x - 1], G[x], G[x + 1])
    elif mode == B_VR:
        G = np.array([L[3], L[2], L[1], L[0], TL, A[0], A[1], A[2], A[3]])
        p[3, 0] = _avg3(G[1], G[2], G[3])
        p[2, 0] = _avg3(G[2], G[3], G[4])
        p[3, 1] = p[1, 0] = _avg3(G[3], G[4], G[5])
        p[2, 1] = p[0, 0] = _avg2(G[4], G[5])
        p[3, 2] = p[1, 1] = _avg3(G[4], G[5], G[6])
        p[2, 2] = p[0, 1] = _avg2(G[5], G[6])
        p[3, 3] = p[1, 2] = _avg3(G[5], G[6], G[7])
        p[2, 3] = p[0, 2] = _avg2(G[6], G[7])
        p[1, 3] = _avg3(G[6], G[7], G[8])
        p[0, 3] = _avg2(G[7], G[8])
    elif mode == B_VL:
        AA = np.concatenate((A, AR))
        p[0, 0] = _avg2(AA[0], AA[1])
        p[1, 0] = _avg3(AA[0], AA[1], AA[2])
        p[2, 0] = p[0, 1] = _avg2(AA[1], AA[2])
        p[1, 1] = p[3, 0] = _avg3(AA[1], AA[2], AA[3])
        p[2, 1] = p[0, 2] = _avg2(AA[2], AA[3])
        p[3, 1] = p[1, 2] = _avg3(AA[2], AA[3], AA[4])
        p[2, 2] = p[0, 3] = _avg2(AA[3], AA[4])
        p[3, 2] = p[1, 3] = _avg3(AA[3], AA[4], AA[5])
        p[2, 3] = _avg3(AA[4], AA[5], AA[6])
        p[3, 3] = _avg3(AA[5], AA[6], AA[7])
    elif mode == B_HD:
        G = np.array([L[3], L[2], L[1], L[0], TL, A[0], A[1], A[2]])
        p[3, 0] = _avg2(G[0], G[1])
        p[3, 1] = _avg3(G[0], G[1], G[2])
        p[2, 0] = p[3, 2] = _avg2(G[1], G[2])
        p[2, 1] = p[3, 3] = _avg3(G[1], G[2], G[3])
        p[2, 2] = p[1, 0] = _avg2(G[2], G[3])
        p[2, 3] = p[1, 1] = _avg3(G[2], G[3], G[4])
        p[1, 2] = p[0, 0] = _avg2(G[3], G[4])
        p[1, 3] = p[0, 1] = _avg3(G[3], G[4], G[5])
        p[0, 2] = _avg3(G[4], G[5], G[6])
        p[0, 3] = _avg3(G[5], G[6], G[7])
    elif mode == B_HU:
        p[0, 0] = _avg2(L[0], L[1])
        p[0, 1] = _avg3(L[0], L[1], L[2])
        p[0, 2] = p[1, 0] = _avg2(L[1], L[2])
        p[0, 3] = p[1, 1] = _avg3(L[1], L[2], L[3])
        p[1, 2] = p[2, 0] = _avg2(L[2], L[3])
        p[1, 3] = p[2, 1] = _avg3(L[2], L[3], L[3])
        p[2, 2] = p[2, 3] = p[3, 0] = p[3, 1] = p[3, 2] = p[3, 3] = L[3]
    else:
        raise ValueError(f"bad sub-block mode {mode}")
    return p


# ---------------------------------------------------------------------------
# Token (residual) layer
# ---------------------------------------------------------------------------


def _decode_block_tokens(bd: _BoolDecoder, probs: np.ndarray, btype: int,
                         first_coef: int, ctx: int, dqf: tuple) -> tuple:
    """Returns (coefs_4x4_int64, nonzero_flag). dqf = (dc_q, ac_q)."""
    out = np.zeros(16, np.int64)
    c = first_coef
    prev_ctx = ctx
    skip_eob = False
    while c < 16:
        band = COEF_BANDS[c]
        p = probs[btype][band][prev_ctx]
        tok = bd.tree(TOKEN_TREE, p, start=2 if skip_eob else 0)
        if tok == DCT_EOB:
            break
        if tok == 0:
            out[ZIGZAG[c]] = 0
            prev_ctx = 0
            skip_eob = True
            c += 1
            continue
        skip_eob = False
        if tok <= 4:
            val = tok
        else:
            extra = 0
            for pb in CAT_PROBS[tok]:
                extra = (extra << 1) | bd.bool(pb)
            val = CAT_BASE[tok] + extra
        if bd.bool(128):
            val = -val
        q = dqf[0] if c == 0 else dqf[1]
        out[ZIGZAG[c]] = val * q
        prev_ctx = 1 if abs(val) == 1 else 2
        c += 1
    nz = c > first_coef
    return out.reshape(4, 4), nz


def _encode_block_tokens(put_node, put_raw, btype: int,
                         first_coef: int, ctx: int, levels: np.ndarray):
    """Mirror of _decode_block_tokens over quantized levels (zigzag
    order, length 16).  put_node(btype,band,ctx,tree_node,bit) codes one
    tree decision; put_raw(prob,bit) codes extra/sign bits."""
    # eob = position after the last nonzero, never below first_coef
    # (an empty block emits EOB at position first_coef, band
    # COEF_BANDS[first_coef] — matching where the decoder reads it)
    eob = first_coef
    for i in range(first_coef, 16):
        if levels[i] != 0:
            eob = i + 1
    c = first_coef
    prev_ctx = ctx
    skip_eob = False
    while c < eob:
        lev = int(levels[c])
        band = COEF_BANDS[c]
        a = abs(lev)
        if a == 0:
            tok = 0
        elif a <= 4:
            tok = a
        elif a <= 6:
            tok = 5
        elif a <= 10:
            tok = 6
        elif a <= 18:
            tok = 7
        elif a <= 34:
            tok = 8
        elif a <= 66:
            tok = 9
        else:
            tok = 10
        start = 2 if skip_eob else 0
        for node, bit in _tree_path(TOKEN_TREE, tok, start):
            put_node(btype, band, prev_ctx, node, bit)
        if tok == 0:
            prev_ctx = 0
            skip_eob = True
            c += 1
            continue
        skip_eob = False
        if tok > 4:
            extra = a - CAT_BASE[tok]
            cps = CAT_PROBS[tok]
            for k, pb in enumerate(cps):
                put_raw(pb, (extra >> (len(cps) - 1 - k)) & 1)
        put_raw(128, 1 if lev < 0 else 0)
        prev_ctx = 1 if a == 1 else 2
        c += 1
    if eob < 16:
        band = COEF_BANDS[eob] if eob < 16 else 7
        start = 2 if skip_eob else 0
        if not skip_eob:
            for node, bit in _tree_path(TOKEN_TREE, DCT_EOB, start):
                put_node(btype, band, prev_ctx, node, bit)
        else:
            # EOB is not representable right after a ZERO token; the
            # encoder therefore never emits trailing zeros (eob ensures
            # the coefficient before eob is nonzero, so skip_eob=False)
            raise AssertionError("trailing zero before EOB")
    return eob > first_coef




# ---------------------------------------------------------------------------
# In-loop deblocking filter (RFC 6386 s15) — applied as a post-pass over
# the reconstructed planes (legal for intra-only stills: within a key
# frame, intra prediction reads UNfiltered neighbours; the filter only
# shapes the output/reference frame).
# ---------------------------------------------------------------------------


def _sclamp(v):
    return np.clip(v, -128, 127)


def _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, interior, edge):
    a = lambda x, y: np.abs(x - y)  # noqa: E731
    return (
        (a(p3, p2) <= interior) & (a(p2, p1) <= interior)
        & (a(p1, p0) <= interior) & (a(q1, q0) <= interior)
        & (a(q2, q1) <= interior) & (a(q3, q2) <= interior)
        & (a(p0, q0) * 2 + a(p1, q1) // 2 <= edge)
    )


def _hev_mask(p1, p0, q0, q1, thresh):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _common_filter(p1, p0, q0, q1, mask, hev, adjust_outer=True):
    """4-tap filter on p0/q0 (+ half-step on p1/q1 for non-hev pixels
    when adjust_outer). Returns new (p1, p0, q0, q1)."""
    ps1, ps0, qs0, qs1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    f = np.where(hev, _sclamp(ps1 - qs1), 0)
    f = _sclamp(f + 3 * (qs0 - ps0))
    f1 = _sclamp(f + 4) >> 3
    f2 = _sclamp(f + 3) >> 3
    nq0 = _sclamp(qs0 - f1)
    np0 = _sclamp(ps0 + f2)
    u = (f1 + 1) >> 1
    nq1 = np.where(~hev, _sclamp(qs1 - u), qs1)
    np1 = np.where(~hev, _sclamp(ps1 + u), ps1)
    pick = lambda new, old: np.where(mask, new + 128, old)  # noqa: E731
    out_p1 = pick(np1, p1) if adjust_outer else p1
    out_q1 = pick(nq1, q1) if adjust_outer else q1
    return out_p1, pick(np0, p0), pick(nq0, q0), out_q1


def _mb_filter(p2, p1, p0, q0, q1, q2, mask, hev):
    """6-tap wide filter for macroblock edges (non-hev pixels); hev
    pixels get the 4-tap common filter without outer adjust."""
    ps2, ps1, ps0 = p2 - 128, p1 - 128, p0 - 128
    qs0, qs1, qs2 = q0 - 128, q1 - 128, q2 - 128
    w = _sclamp(_sclamp(ps1 - qs1) + 3 * (qs0 - ps0))
    f27 = _sclamp((27 * w + 63) >> 7)
    f18 = _sclamp((18 * w + 63) >> 7)
    f9 = _sclamp((9 * w + 63) >> 7)
    wide = mask & ~hev
    out_p0 = np.where(wide, _sclamp(ps0 + f27) + 128, p0)
    out_q0 = np.where(wide, _sclamp(qs0 - f27) + 128, q0)
    out_p1 = np.where(wide, _sclamp(ps1 + f18) + 128, p1)
    out_q1 = np.where(wide, _sclamp(qs1 - f18) + 128, q1)
    out_p2 = np.where(wide, _sclamp(ps2 + f9) + 128, p2)
    out_q2 = np.where(wide, _sclamp(qs2 - f9) + 128, q2)
    # hev pixels: common 4-tap, p0/q0 only
    _, hp0, hq0, _ = _common_filter(p1, p0, q0, q1, mask & hev,
                                    np.ones_like(mask), adjust_outer=False)
    out_p0 = np.where(mask & hev, hp0, out_p0)
    out_q0 = np.where(mask & hev, hq0, out_q0)
    return out_p2, out_p1, out_p0, out_q0, out_q1, out_q2


def _edge_v(plane, y0, n, x, interior, edge, thresh, mb: bool):
    """Filter the vertical edge between columns x-1|x over rows
    [y0, y0+n) (padded-plane coordinates)."""
    cols = plane[y0:y0 + n, x - 4:x + 4]
    p3, p2, p1, p0, q0, q1, q2, q3 = (cols[:, i] for i in range(8))
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, interior, edge)
    hev = _hev_mask(p1, p0, q0, q1, thresh)
    if mb:
        r = _mb_filter(p2, p1, p0, q0, q1, q2, mask, hev)
        cols[:, 1], cols[:, 2], cols[:, 3] = r[0], r[1], r[2]
        cols[:, 4], cols[:, 5], cols[:, 6] = r[3], r[4], r[5]
    else:
        r = _common_filter(p1, p0, q0, q1, mask, hev)
        cols[:, 2], cols[:, 3], cols[:, 4], cols[:, 5] = r


def _edge_h(plane, x0, n, y, interior, edge, thresh, mb: bool):
    rows = plane[y - 4:y + 4, x0:x0 + n]
    p3, p2, p1, p0, q0, q1, q2, q3 = (rows[i, :] for i in range(8))
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, interior, edge)
    hev = _hev_mask(p1, p0, q0, q1, thresh)
    if mb:
        r = _mb_filter(p2, p1, p0, q0, q1, q2, mask, hev)
        rows[1, :], rows[2, :], rows[3, :] = r[0], r[1], r[2]
        rows[4, :], rows[5, :], rows[6, :] = r[3], r[4], r[5]
    else:
        r = _common_filter(p1, p0, q0, q1, mask, hev)
        rows[2, :], rows[3, :], rows[4, :], rows[5, :] = r


def _simple_edge_v(plane, y0, n, x, edge):
    cols = plane[y0:y0 + n, x - 2:x + 2]
    p1, p0, q0, q1 = (cols[:, i] for i in range(4))
    mask = np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= edge
    hev = np.ones_like(mask)  # simple filter always uses the p1/q1 term
    _, np0, nq0, _ = _common_filter(p1, p0, q0, q1, mask, hev,
                                    adjust_outer=False)
    cols[:, 1], cols[:, 2] = np0, nq0


def _simple_edge_h(plane, x0, n, y, edge):
    rows = plane[y - 2:y + 2, x0:x0 + n]
    p1, p0, q0, q1 = (rows[i, :] for i in range(4))
    mask = np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= edge
    hev = np.ones_like(mask)
    _, np0, nq0, _ = _common_filter(p1, p0, q0, q1, mask, hev,
                                    adjust_outer=False)
    rows[1, :], rows[2, :] = np0, nq0


def _filter_limits(level: int, sharpness: int):
    interior = level
    if sharpness > 0:
        interior >>= 1 if sharpness <= 4 else 2
        interior = min(interior, 9 - sharpness)
    interior = max(interior, 1)
    mb_edge = (level + 2) * 2 + interior
    sub_edge = level * 2 + interior
    hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)  # key frame
    return interior, mb_edge, sub_edge, hev_t


def _loop_filter(yp, up, vp, mb_levels, inner_of, sharpness: int,
                 simple: bool, mb_w: int, mb_h: int):
    """Canonical raster-order deblocking pass over the padded planes
    (per MB: vertical MB edge, vertical sub edges, horizontal MB edge,
    horizontal sub edges; frame borders never filtered; sub edges only
    where the MB has coefficients or 4x4 partitioning)."""
    for my in range(mb_h):
        for mx in range(mb_w):
            level = int(mb_levels[my, mx])
            if level == 0:
                continue
            interior, mb_e, sub_e, hev_t = _filter_limits(level, sharpness)
            inner = bool(inner_of[my, mx])
            y0, x0 = my * 16 + 1, mx * 16 + 1
            cy0, cx0 = my * 8 + 1, mx * 8 + 1
            if simple:  # simple filter: luma only
                if mx > 0:
                    _simple_edge_v(yp, y0, 16, x0, mb_e)
                if inner:
                    for dx in (4, 8, 12):
                        _simple_edge_v(yp, y0, 16, x0 + dx, sub_e)
                if my > 0:
                    _simple_edge_h(yp, x0, 16, y0, mb_e)
                if inner:
                    for dy in (4, 8, 12):
                        _simple_edge_h(yp, x0, 16, y0 + dy, sub_e)
                continue
            if mx > 0:
                _edge_v(yp, y0, 16, x0, interior, mb_e, hev_t, mb=True)
                _edge_v(up, cy0, 8, cx0, interior, mb_e, hev_t, mb=True)
                _edge_v(vp, cy0, 8, cx0, interior, mb_e, hev_t, mb=True)
            if inner:
                for dx in (4, 8, 12):
                    _edge_v(yp, y0, 16, x0 + dx, interior, sub_e, hev_t, mb=False)
                _edge_v(up, cy0, 8, cx0 + 4, interior, sub_e, hev_t, mb=False)
                _edge_v(vp, cy0, 8, cx0 + 4, interior, sub_e, hev_t, mb=False)
            if my > 0:
                _edge_h(yp, x0, 16, y0, interior, mb_e, hev_t, mb=True)
                _edge_h(up, cx0, 8, cy0, interior, mb_e, hev_t, mb=True)
                _edge_h(vp, cx0, 8, cy0, interior, mb_e, hev_t, mb=True)
            if inner:
                for dy in (4, 8, 12):
                    _edge_h(yp, x0, 16, y0 + dy, interior, sub_e, hev_t, mb=False)
                _edge_h(up, cx0, 8, cy0 + 4, interior, sub_e, hev_t, mb=False)
                _edge_h(vp, cx0, 8, cy0 + 4, interior, sub_e, hev_t, mb=False)


# ---------------------------------------------------------------------------
# Color conversion (BT.601 limited range, as WebP uses)
# ---------------------------------------------------------------------------


def _rgb_to_yuv420(rgb: np.ndarray) -> tuple:
    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 16.0 + (65.738 * r + 129.057 * g + 25.064 * b) / 256.0
    u = 128.0 + (-37.945 * r - 74.494 * g + 112.439 * b) / 256.0
    v = 128.0 + (112.439 * r - 94.154 * g - 18.285 * b) / 256.0
    from tilegrab_spark.kernels.jpeg import _downsample2

    return (np.clip(np.rint(y), 0, 255),
            np.clip(np.rint(_downsample2(u)), 0, 255),
            np.clip(np.rint(_downsample2(v)), 0, 255))


def _yuv420_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray,
                   h: int, w: int) -> np.ndarray:
    from tilegrab_spark.kernels.jpeg import _upsample2_bilinear

    uf = _upsample2_bilinear(u.astype(np.float64))[:h, :w]
    vf = _upsample2_bilinear(v.astype(np.float64))[:h, :w]
    yf = y[:h, :w].astype(np.float64)
    c = (yf - 16.0) * (255.0 / 219.0)
    d = uf - 128.0
    e = vf - 128.0
    r = c + 1.596 * e
    g = c - 0.391 * d - 0.813 * e
    b = c + 2.018 * d
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_vp8(payload: bytes) -> np.ndarray:
    """Decode a VP8 key frame to (H, W, 3) uint8 RGB."""
    try:
        y, u, v, h, w = _decode_vp8(payload)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"malformed VP8 stream: {e}") from e
    return _yuv420_to_rgb(y, u, v, h, w)


def decode_vp8_yuv(payload: bytes) -> tuple:
    """Decode a VP8 key frame to raw cropped planes ``(y, u, v)`` —
    uint8, shapes (h,w) / (ceil(h/2),ceil(w/2)) x2 — BEFORE any
    colorspace conversion.  This is the decoder's true normative
    output (RFC 6386 defines reconstruction up to the YUV planes), so
    conformance tests compare these planes bit-for-bit against a
    reference decoder without entangling YUV->RGB conversion choices."""
    try:
        y, u, v, h, w = _decode_vp8(payload)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"malformed VP8 stream: {e}") from e
    ch, cw = (h + 1) // 2, (w + 1) // 2
    return (y[:h, :w].astype(np.uint8),
            u[:ch, :cw].astype(np.uint8),
            v[:ch, :cw].astype(np.uint8))


def _decode_vp8(payload: bytes) -> tuple:
    if len(payload) < 10:
        raise ValueError("VP8 frame too short")
    tag = payload[0] | (payload[1] << 8) | (payload[2] << 16)
    if tag & 1:
        raise ValueError("VP8 interframe: still images are key frames only")
    first_part_size = tag >> 5
    if payload[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 start code")
    (wraw,) = struct.unpack_from("<H", payload, 6)
    (hraw,) = struct.unpack_from("<H", payload, 8)
    w, h = wraw & 0x3FFF, hraw & 0x3FFF
    if w == 0 or h == 0:
        raise ValueError("zero VP8 dimensions")
    if w * h > 1 << 26:
        # anti-allocation-bomb cap: the int64 working planes cost ~10x
        # the pixel count; 2^26 px (8K x 8K) is far above every
        # in-engine artifact (256x256 tiles, <=4K mosaic round-trips)
        raise ValueError("VP8 canvas exceeds the 2^26-pixel decode cap")
    if 10 + first_part_size > len(payload):
        raise ValueError("VP8 first partition overruns frame")
    bd = _BoolDecoder(payload[10:10 + first_part_size])

    bd.bool(128)  # color space (0 = YUV as here)
    bd.bool(128)  # clamping type

    seg_enabled = bd.bool(128)
    seg_tree_probs = [255, 255, 255]
    seg_abs = 0
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    update_map = 0
    if seg_enabled:
        update_map = bd.bool(128)
        update_data = bd.bool(128)
        if update_data:
            seg_abs = bd.bool(128)
            for i in range(4):
                if bd.bool(128):
                    seg_q[i] = bd.signed_literal(7)
            for i in range(4):
                if bd.bool(128):
                    seg_lf[i] = bd.signed_literal(6)
        if update_map:
            for i in range(3):
                if bd.bool(128):
                    seg_tree_probs[i] = bd.literal(8)

    simple_filter = bd.bool(128)  # filter type: 0=normal, 1=simple
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    ref_lf_delta = [0, 0, 0, 0]  # [0] = intra (the only one a still uses)
    mode_lf_delta = [0, 0, 0, 0]  # [0] = B_PRED
    lf_adj = bd.bool(128)
    if lf_adj:
        if bd.bool(128):  # deltas updated
            for i in range(4):
                if bd.bool(128):
                    ref_lf_delta[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.bool(128):
                    mode_lf_delta[i] = bd.signed_literal(6)

    nparts = 1 << bd.literal(2)
    qi = bd.literal(7)
    deltas = {}
    for name in ("y_dc", "y2_dc", "y2_ac", "uv_dc", "uv_ac"):
        deltas[name] = bd.signed_literal(4) if bd.bool(128) else 0

    bd.bool(128)  # refresh entropy probs (meaningless for stills)

    coeff_probs = DEFAULT_COEFF_PROBS.copy()
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for l in range(11):
                    if bd.bool(int(COEFF_UPDATE_PROBS[i, j, k, l])):
                        coeff_probs[i, j, k, l] = bd.literal(8)

    no_skip = bd.bool(128)
    prob_skip_false = bd.literal(8) if no_skip else 0

    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    W16, H16 = mb_w * 16, mb_h * 16
    W8, H8 = mb_w * 8, mb_h * 8

    # token partitions
    pos = 10 + first_part_size
    part_sizes = []
    for i in range(nparts - 1):
        if pos + 3 > len(payload):
            raise ValueError("VP8 partition size table truncated")
        sz = payload[pos] | (payload[pos + 1] << 8) | (payload[pos + 2] << 16)
        part_sizes.append(sz)
        pos += 3
    parts = []
    for i in range(nparts):
        if i < nparts - 1:
            end = pos + part_sizes[i]
            if end > len(payload):
                raise ValueError("VP8 token partition overruns frame")
            parts.append(_BoolDecoder(payload[pos:end]))
            pos = end
        else:
            parts.append(_BoolDecoder(payload[pos:]))

    # --- pass 1: mode parsing (first partition, all MBs) ---
    seg_of = np.zeros((mb_h, mb_w), np.int32)
    skip_of = np.zeros((mb_h, mb_w), bool)
    ymode_of = np.zeros((mb_h, mb_w), np.int32)
    uvmode_of = np.zeros((mb_h, mb_w), np.int32)
    bmodes_of = np.zeros((mb_h, mb_w, 4, 4), np.int32)
    above_bmode = np.zeros((mb_w, 4), np.int32)
    for my in range(mb_h):
        left_bmode = np.zeros(4, np.int32)
        for mx in range(mb_w):
            if seg_enabled and update_map:
                seg_of[my, mx] = bd.tree(SEGMENT_TREE, seg_tree_probs)
            if no_skip:
                skip_of[my, mx] = bool(bd.bool(prob_skip_false))
            ym = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            ymode_of[my, mx] = ym
            if ym == B_PRED:
                for sr in range(4):
                    for sc in range(4):
                        am = above_bmode[mx, sc] if sr == 0 else bmodes_of[my, mx, sr - 1, sc]
                        lm = (left_bmode[sr] if sc == 0 else bmodes_of[my, mx, sr, sc - 1])
                        probs = KF_BMODE_PROBS[am][lm]
                        bmodes_of[my, mx, sr, sc] = bd.tree(BMODE_TREE, probs)
            else:
                implicit = {DC_PRED: B_DC, V_PRED: B_VE,
                            H_PRED: B_HE, TM_PRED: B_TM}[ym]
                bmodes_of[my, mx] = implicit
            above_bmode[mx] = bmodes_of[my, mx, 3]
            left_bmode[:] = bmodes_of[my, mx, :, 3]
            uvmode_of[my, mx] = bd.tree(UV_MODE_TREE, KF_UV_PROBS)

    # --- pass 2: residuals + reconstruction ---
    dq_by_seg = []
    for s in range(4):
        sq = qi
        if seg_enabled:
            sq = seg_q[s] if seg_abs else qi + seg_q[s]
        dq_by_seg.append(_dequant_factors(_clamp_q(sq), deltas))

    yp = np.full((H16 + 1, W16 + 1 + 4), 127, np.int64)
    yp[1:, 0] = 129
    up = np.full((H8 + 1, W8 + 1), 127, np.int64)
    up[1:, 0] = 129
    vp = np.full((H8 + 1, W8 + 1), 127, np.int64)
    vp[1:, 0] = 129

    above_nz_y = np.zeros((mb_w, 4), bool)
    above_nz_u = np.zeros((mb_w, 2), bool)
    above_nz_v = np.zeros((mb_w, 2), bool)
    above_nz_y2 = np.zeros(mb_w, bool)
    has_coeffs = np.zeros((mb_h, mb_w), bool)

    for my in range(mb_h):
        td = parts[my % nparts]
        left_nz_y = np.zeros(4, bool)
        left_nz_u = np.zeros(2, bool)
        left_nz_v = np.zeros(2, bool)
        left_nz_y2 = False
        # extend the above row beyond the right frame edge (above-right)
        yp[my * 16, W16 + 1:] = yp[my * 16, W16]
        for mx in range(mb_w):
            dq = dq_by_seg[seg_of[my, mx]]
            ym = ymode_of[my, mx]
            has_y2 = ym != B_PRED
            ycoefs = np.zeros((4, 4, 4, 4), np.int64)
            ucoefs = np.zeros((2, 2, 4, 4), np.int64)
            vcoefs = np.zeros((2, 2, 4, 4), np.int64)

            if skip_of[my, mx]:
                left_nz_y[:] = False
                above_nz_y[mx] = False
                left_nz_u[:] = False
                above_nz_u[mx] = False
                left_nz_v[:] = False
                above_nz_v[mx] = False
                if has_y2:
                    left_nz_y2 = False
                    above_nz_y2[mx] = False
            else:
                if has_y2:
                    ctx = int(above_nz_y2[mx]) + int(left_nz_y2)
                    y2blk, nz = _decode_block_tokens(
                        td, coeff_probs, 1, 0, ctx, (dq[2], dq[3]))
                    above_nz_y2[mx] = left_nz_y2 = nz
                    has_coeffs[my, mx] |= nz
                    dcs = iwht4x4(y2blk)
                    ytype, yfirst = 0, 1
                else:
                    ytype, yfirst = 3, 0
                for sr in range(4):
                    for sc in range(4):
                        ctx = int(above_nz_y[mx, sc]) + int(left_nz_y[sr])
                        blk, nz = _decode_block_tokens(
                            td, coeff_probs, ytype, yfirst, ctx, (dq[0], dq[1]))
                        above_nz_y[mx, sc] = left_nz_y[sr] = nz
                        has_coeffs[my, mx] |= nz
                        if has_y2:
                            blk[0, 0] = dcs[sr, sc]
                        ycoefs[sr, sc] = blk
                for cplane, coefs, anz, lnz in (
                    (0, ucoefs, above_nz_u, left_nz_u),
                    (1, vcoefs, above_nz_v, left_nz_v),
                ):
                    for sr in range(2):
                        for sc in range(2):
                            ctx = int(anz[mx][sc]) + int(lnz[sr])
                            blk, nz = _decode_block_tokens(
                                td, coeff_probs, 2, 0, ctx, (dq[4], dq[5]))
                            anz[mx][sc] = lnz[sr] = nz
                            has_coeffs[my, mx] |= nz
                            coefs[sr, sc] = blk

            # reconstruction
            y0, x0 = my * 16 + 1, mx * 16 + 1
            have_above, have_left = my > 0, mx > 0
            if ym == B_PRED:
                for sr in range(4):
                    for sc in range(4):
                        Yb, Xb = y0 + sr * 4, x0 + sc * 4
                        ar_row = (y0 - 1) if sc == 3 else (Yb - 1)
                        pred = _pred_b(yp, Yb, Xb, int(bmodes_of[my, mx, sr, sc]), ar_row)
                        res = idct4x4(ycoefs[sr, sc])
                        yp[Yb:Yb + 4, Xb:Xb + 4] = np.clip(pred + res, 0, 255)
            else:
                pred = _pred_block(yp, y0, x0, 16, ym, have_above, have_left)
                rec = pred.copy()
                for sr in range(4):
                    for sc in range(4):
                        res = idct4x4(ycoefs[sr, sc])
                        rec[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4] += res
                yp[y0:y0 + 16, x0:x0 + 16] = np.clip(rec, 0, 255)
            cy0, cx0 = my * 8 + 1, mx * 8 + 1
            um = uvmode_of[my, mx]
            for plane, coefs in ((up, ucoefs), (vp, vcoefs)):
                pred = _pred_block(plane, cy0, cx0, 8, um, have_above, have_left)
                rec = pred.copy()
                for sr in range(2):
                    for sc in range(2):
                        res = idct4x4(coefs[sr, sc])
                        rec[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4] += res
                plane[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(rec, 0, 255)

    if filter_level > 0:
        base = np.full((mb_h, mb_w), filter_level, np.int32)
        if seg_enabled:
            for s in range(4):
                lv = seg_lf[s] if seg_abs else filter_level + seg_lf[s]
                base[seg_of == s] = lv
        # RFC 6386 clamps to [0,63] after the segment adjustment AND
        # again after the ref/mode deltas (review finding: a single
        # final clamp mis-levels streams that use both)
        np.clip(base, 0, 63, out=base)
        if lf_adj:
            base += ref_lf_delta[0]  # still images: always INTRA ref
            base[ymode_of == B_PRED] += mode_lf_delta[0]
        np.clip(base, 0, 63, out=base)
        inner_of = has_coeffs | (ymode_of == B_PRED)
        _loop_filter(yp, up, vp, base, inner_of, sharpness,
                     bool(simple_filter), mb_w, mb_h)

    # overread check (see module docstring): a desynchronized stream —
    # wrong probability tables, corruption — almost always keeps
    # consuming tokens past its partition, while legal zero-padding
    # overread is bounded by the decoder's small prefetch window
    for i, p in enumerate([bd] + parts):
        if p.pos > len(p.data) + 4:
            raise ValueError(
                f"VP8 partition {i} overread ({p.pos} > {len(p.data)} bytes)"
                " — desynchronized or truncated stream"
            )

    return yp[1:, 1:W16 + 1], up[1:, 1:], vp[1:, 1:], h, w


# ---------------------------------------------------------------------------
# Encoder (intra key frame; DC/V/H/TM 16x16 + optional B_PRED; 4:2:0)
# ---------------------------------------------------------------------------


def _quantize_block(coefs: np.ndarray, dc_q: int, ac_q: int,
                    first: int = 0) -> np.ndarray:
    """Zigzag-ordered quantized levels (16,), clamped to token range."""
    lev = np.zeros(16, np.int64)
    flat = coefs.reshape(16)
    for c in range(first, 16):
        q = dc_q if c == 0 else ac_q
        v = int(np.rint(flat[ZIGZAG[c]] / q))
        lev[c] = max(-2047, min(2047, v))
    return lev


def _dequant_levels(levels: np.ndarray, dc_q: int, ac_q: int,
                    first: int = 0) -> np.ndarray:
    out = np.zeros(16, np.int64)
    for c in range(first, 16):
        q = dc_q if c == 0 else ac_q
        out[ZIGZAG[c]] = int(levels[c]) * q
    return out.reshape(4, 4)


def encode_vp8(rgb: np.ndarray, qindex: int = 8, nparts: int = 1,
               force_bpred: bool = False, loop_filter_level: int = 0,
               sharpness: int = 0, simple_filter: bool = False,
               adapt_probs: bool = True, _debug: dict | None = None) -> bytes:
    """Encode (H,W,3) uint8 RGB as a VP8 key frame.  Subset encoder
    (whole-MB modes by SAD, optional all-B_PRED for path coverage); the
    bitstream exercises every decoder layer: header, mode trees, token
    partitions, Y2/WHT, categories, skip MBs."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_vp8 expects (H,W,3) RGB")
    if nparts not in (1, 2, 4, 8):
        raise ValueError("nparts must be 1/2/4/8")
    h, w = rgb.shape[:2]
    if w > 0x3FFF or h > 0x3FFF:
        raise ValueError("VP8 dimension limit is 16383")
    y, u, v = _rgb_to_yuv420(rgb)
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    W16, H16 = mb_w * 16, mb_h * 16
    W8, H8 = mb_w * 8, mb_h * 8

    def pad(p, H, W):
        out = np.empty((H, W))
        ph, pw = p.shape
        out[:ph, :pw] = p
        out[ph:, :pw] = p[ph - 1:ph, :]
        out[:, pw:] = out[:, pw - 1:pw]
        return out

    ysrc = pad(y, H16, W16)
    usrc = pad(u, H8, W8)
    vsrc = pad(v, H8, W8)

    dq = _dequant_factors(_clamp_q(qindex),
                          dict(y_dc=0, y2_dc=0, y2_ac=0, uv_dc=0, uv_ac=0))

    yp = np.full((H16 + 1, W16 + 1 + 4), 127, np.int64)
    yp[1:, 0] = 129
    up = np.full((H8 + 1, W8 + 1), 127, np.int64)
    up[1:, 0] = 129
    vp = np.full((H8 + 1, W8 + 1), 127, np.int64)
    vp[1:, 0] = 129

    above_nz_y = np.zeros((mb_w, 4), bool)
    above_nz_u = np.zeros((mb_w, 2), bool)
    above_nz_v = np.zeros((mb_w, 2), bool)
    above_nz_y2 = np.zeros(mb_w, bool)
    above_bmode = np.zeros((mb_w, 4), np.int32)

    # recorded stream: list of per-MB dicts; token events per row
    mb_recs = []
    row_tokens: list = [[] for _ in range(mb_h)]

    for my in range(mb_h):
        left_nz_y = np.zeros(4, bool)
        left_nz_u = np.zeros(2, bool)
        left_nz_v = np.zeros(2, bool)
        left_nz_y2 = False
        left_bmode = np.zeros(4, np.int32)
        yp[my * 16, W16 + 1:] = yp[my * 16, W16]
        for mx in range(mb_w):
            y0, x0 = my * 16 + 1, mx * 16 + 1
            have_above, have_left = my > 0, mx > 0
            tgt = ysrc[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16]

            if force_bpred:
                ym = B_PRED
            else:
                best, ym = None, DC_PRED
                for m in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                    pred = _pred_block(yp, y0, x0, 16, m, have_above, have_left)
                    sad = float(np.abs(tgt - pred).sum())
                    if best is None or sad < best:
                        best, ym = sad, m

            bmodes = np.zeros((4, 4), np.int32)
            yblocks_levels = np.zeros((4, 4, 16), np.int64)
            y2_levels = None

            if ym == B_PRED:
                for sr in range(4):
                    for sc in range(4):
                        Yb, Xb = y0 + sr * 4, x0 + sc * 4
                        ar_row = (y0 - 1) if sc == 3 else (Yb - 1)
                        stgt = ysrc[my * 16 + sr * 4:my * 16 + sr * 4 + 4,
                                    mx * 16 + sc * 4:mx * 16 + sc * 4 + 4]
                        bbest, bm = None, B_DC
                        for m in (B_DC, B_VE, B_HE, B_TM):
                            pr = _pred_b(yp, Yb, Xb, m, ar_row)
                            sad = float(np.abs(stgt - pr).sum())
                            if bbest is None or sad < bbest:
                                bbest, bm = sad, m
                        bmodes[sr, sc] = bm
                        pred = _pred_b(yp, Yb, Xb, bm, ar_row)
                        lev = _quantize_block(fdct4x4(stgt - pred), dq[0], dq[1])
                        yblocks_levels[sr, sc] = lev
                        res = idct4x4(_dequant_levels(lev, dq[0], dq[1]))
                        yp[Yb:Yb + 4, Xb:Xb + 4] = np.clip(pred + res, 0, 255)
            else:
                implicit = {DC_PRED: B_DC, V_PRED: B_VE,
                            H_PRED: B_HE, TM_PRED: B_TM}[ym]
                bmodes[:] = implicit
                pred = _pred_block(yp, y0, x0, 16, ym, have_above, have_left)
                dcs = np.zeros((4, 4))
                for sr in range(4):
                    for sc in range(4):
                        stgt = tgt[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4]
                        spred = pred[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4]
                        coefs = fdct4x4(stgt - spred)
                        dcs[sr, sc] = coefs[0, 0]
                        yblocks_levels[sr, sc] = _quantize_block(
                            coefs, dq[0], dq[1], first=1)
                y2 = fwht4x4(dcs)
                y2_levels = _quantize_block(y2, dq[2], dq[3])
                dcs_rec = iwht4x4(_dequant_levels(y2_levels, dq[2], dq[3]))
                rec = pred.copy()
                for sr in range(4):
                    for sc in range(4):
                        dqb = _dequant_levels(yblocks_levels[sr, sc],
                                              dq[0], dq[1], first=1)
                        dqb[0, 0] = dcs_rec[sr, sc]
                        rec[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4] += idct4x4(dqb)
                yp[y0:y0 + 16, x0:x0 + 16] = np.clip(rec, 0, 255)

            # chroma
            cy0, cx0 = my * 8 + 1, mx * 8 + 1
            ut = usrc[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
            vt = vsrc[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
            cbest, um = None, DC_PRED
            for m in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                pu = _pred_block(up, cy0, cx0, 8, m, have_above, have_left)
                pv = _pred_block(vp, cy0, cx0, 8, m, have_above, have_left)
                sad = float(np.abs(ut - pu).sum() + np.abs(vt - pv).sum())
                if cbest is None or sad < cbest:
                    cbest, um = sad, m
            ulev = np.zeros((2, 2, 16), np.int64)
            vlev = np.zeros((2, 2, 16), np.int64)
            for plane, src, levs in ((up, ut, ulev), (vp, vt, vlev)):
                pred = _pred_block(plane, cy0, cx0, 8, um, have_above, have_left)
                rec = pred.copy()
                for sr in range(2):
                    for sc in range(2):
                        stgt = src[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4]
                        spred = pred[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4]
                        lev = _quantize_block(fdct4x4(stgt - spred), dq[4], dq[5])
                        levs[sr, sc] = lev
                        rec[sr * 4:sr * 4 + 4, sc * 4:sc * 4 + 4] += idct4x4(
                            _dequant_levels(lev, dq[4], dq[5]))
                plane[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(rec, 0, 255)

            has_y2 = ym != B_PRED
            all_zero = (not yblocks_levels.any()) and (not ulev.any()) \
                and (not vlev.any()) and (y2_levels is None or not y2_levels.any())
            skip = bool(all_zero)

            mb_recs.append(dict(my=my, mx=mx, ym=ym, um=um, skip=skip,
                                bmodes=bmodes.copy(),
                                above_bm=above_bmode[mx].copy(),
                                left_bm=left_bmode.copy()))

            # token events for this MB (contexts tracked exactly like the
            # decoder; events replayed into the row's partition later)
            ev: list = []
            if skip:
                left_nz_y[:] = False
                above_nz_y[mx] = False
                left_nz_u[:] = False
                above_nz_u[mx] = False
                left_nz_v[:] = False
                above_nz_v[mx] = False
                if has_y2:
                    left_nz_y2 = False
                    above_nz_y2[mx] = False
            else:
                def put_node(bt, band, ctx, node, bit, _ev=ev):
                    _ev.append(("n", bt, band, ctx, node, bit))

                def put_raw(prob, bit, _ev=ev):
                    _ev.append(("r", prob, bit))

                if has_y2:
                    ctx = int(above_nz_y2[mx]) + int(left_nz_y2)
                    nz = _encode_block_tokens(put_node, put_raw, 1, 0,
                                              ctx, y2_levels)
                    above_nz_y2[mx] = left_nz_y2 = nz
                    ytype, yfirst = 0, 1
                else:
                    ytype, yfirst = 3, 0
                for sr in range(4):
                    for sc in range(4):
                        ctx = int(above_nz_y[mx, sc]) + int(left_nz_y[sr])
                        nz = _encode_block_tokens(put_node, put_raw,
                                                  ytype, yfirst, ctx,
                                                  yblocks_levels[sr, sc])
                        above_nz_y[mx, sc] = left_nz_y[sr] = nz
                for levs, anz, lnz in ((ulev, above_nz_u, left_nz_u),
                                       (vlev, above_nz_v, left_nz_v)):
                    for sr in range(2):
                        for sc in range(2):
                            ctx = int(anz[mx][sc]) + int(lnz[sr])
                            nz = _encode_block_tokens(put_node, put_raw,
                                                      2, 0, ctx, levs[sr, sc])
                            anz[mx][sc] = lnz[sr] = nz
            row_tokens[my].append(ev)

            above_bmode[mx] = bmodes[3]
            left_bmode[:] = bmodes[:, 3]

    if _debug is not None:
        _debug["yp"], _debug["up"], _debug["vp"] = yp, up, vp
        _debug["recs"], _debug["tokens"] = mb_recs, row_tokens
    # coefficient-probability adaptation: measure per-node 0/1 stats
    # over the recorded token events, signal updated probabilities in
    # the header (exercising the decoder's update-parse path with real
    # nonzero flags) and entropy-code the tokens under them — typical
    # streams shrink 20-40% vs the fixed placeholder defaults
    coeff_probs = DEFAULT_COEFF_PROBS.copy()
    if adapt_probs:
        counts = np.zeros((4, 8, 3, 11, 2), np.int64)
        for row in row_tokens:
            for ev in row:
                for e in ev:
                    if e[0] == "n":
                        _, bt, band, ctx, node, bit = e
                        counts[bt, band, ctx, node >> 1, bit] += 1
        tot = counts.sum(axis=-1)
        with np.errstate(divide="ignore", invalid="ignore"):
            est = np.where(
                tot > 0, (256 * counts[..., 0] / np.maximum(tot, 1)), 0
            )
        est = np.clip(est, 1, 255).astype(np.uint8)
        # only signal nodes with enough evidence to pay for the 8+ bits
        signal = tot >= 16
        coeff_probs = np.where(signal, est, DEFAULT_COEFF_PROBS).astype(np.uint8)

    # skip probability from measured stats
    n_skip = sum(1 for r in mb_recs if r["skip"])
    total = len(mb_recs)
    prob_skip_false = min(254, max(1, (256 * (total - n_skip)) // max(total, 1)))

    # --- first partition ---
    be = _BoolEncoder()
    be.put(128, 0)  # color space
    be.put(128, 0)  # clamping
    be.put(128, 0)  # segmentation disabled
    be.put(128, 1 if simple_filter else 0)  # filter type
    be.put_literal(int(loop_filter_level), 6)
    be.put_literal(int(sharpness), 3)
    be.put(128, 0)  # no lf adjustments
    be.put_literal({1: 0, 2: 1, 4: 2, 8: 3}[nparts], 2)
    be.put_literal(qindex, 7)
    for _ in range(5):
        be.put(128, 0)  # all quantizer deltas absent
    be.put(128, 1)  # refresh entropy probs
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for l in range(11):
                    changed = int(coeff_probs[i, j, k, l]) != int(
                        DEFAULT_COEFF_PROBS[i, j, k, l])
                    be.put(int(COEFF_UPDATE_PROBS[i, j, k, l]), int(changed))
                    if changed:
                        be.put_literal(int(coeff_probs[i, j, k, l]), 8)
    be.put(128, 1)  # mb_no_coeff_skip
    be.put_literal(prob_skip_false, 8)

    for rec in mb_recs:
        be.put(prob_skip_false, 1 if rec["skip"] else 0)
        be.put_tree(KF_YMODE_TREE, KF_YMODE_PROBS, rec["ym"])
        if rec["ym"] == B_PRED:
            bm = rec["bmodes"]
            for sr in range(4):
                for sc in range(4):
                    am = rec["above_bm"][sc] if sr == 0 else bm[sr - 1, sc]
                    lm = rec["left_bm"][sr] if sc == 0 else bm[sr, sc - 1]
                    be.put_tree(BMODE_TREE, KF_BMODE_PROBS[am][lm], bm[sr, sc])
        be.put_tree(UV_MODE_TREE, KF_UV_PROBS, rec["um"])
    first_part = be.flush()

    # --- token partitions ---
    token_encs = [_BoolEncoder() for _ in range(nparts)]
    for my in range(mb_h):
        te = token_encs[my % nparts]
        for ev in row_tokens[my]:
            for e in ev:
                if e[0] == "n":
                    _, bt, band, ctx, node, bit = e
                    te.put(int(coeff_probs[bt, band, ctx, node >> 1]), bit)
                else:
                    te.put(e[1], e[2])
    token_parts = [te.flush() for te in token_encs]

    if len(first_part) >= 1 << 19:
        raise ValueError("VP8 first partition too large")
    tag = len(first_part) << 5 | (1 << 4)  # show_frame, version 0, keyframe
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a"
    head += struct.pack("<H", w) + struct.pack("<H", h)
    body = head + first_part
    for p in token_parts[:-1]:  # sizes of all but the last partition
        sz = len(p)
        body += bytes((sz & 0xFF, (sz >> 8) & 0xFF, (sz >> 16) & 0xFF))
    for p in token_parts:
        body += p
    return body


def encode_webp_vp8(rgb: np.ndarray, qindex: int = 8, nparts: int = 1,
                    force_bpred: bool = False) -> bytes:
    """Wrap encode_vp8 in a RIFF/WEBP container ("VP8 " chunk)."""
    frame = encode_vp8(rgb, qindex=qindex, nparts=nparts,
                       force_bpred=force_bpred)
    chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
    if len(frame) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
