"""Minimal pure-numpy baseline JPEG codec (8-bit, YCbCr 4:4:4,
standard Annex-K huffman tables) — the LOSSY payload path of the image
table (BASELINE.json input_hint: "decoded-pixel allclose, PSNR>=40dB
for lossy"). The reference decodes via PIL (images/image.py:28); this
sandbox has no PIL/libjpeg, so the engine carries its own codec for the
``fmt='jpg'`` column, exactly like png.py does for the lossless path.

Scope: baseline sequential DCT (4:4:4 and 4:2:0, DRI/RSTn restart
markers, 8/16-bit quantization tables) AND progressive DCT (SOF2:
spectral selection, successive approximation, EOB runs, refinement
correction bits — T.81 Annex G). Quality >= ~90 comfortably clears
40 dB PSNR on photographic-like content. DCT/IDCT are closed-form 8x8 matrix products (float64) —
vectorized over all blocks at once; only the entropy coder is a Python
loop (bounded by symbol count, not pixels).
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K quantization tables (luminance, chrominance)
_QY = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)
_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)

# zigzag order: _ZZ[i] = (row, col) of the i-th coefficient
_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K huffman table specs: (bits[1..16], values)
_HT = {
    ("dc", 0): (
        [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("dc", 1): (
        [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("ac", 0): (
        [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
            0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
            0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
            0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
            0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
            0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
            0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
            0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
            0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
            0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
            0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
    ("ac", 1): (
        [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
            0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
            0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
            0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
            0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
            0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
            0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
            0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
            0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
            0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
            0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
            0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
            0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
}


def _huff_codes(bits, values):
    """(value -> (code, length)) per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _huff_lut(bits, values):
    """Decoder map: (length, code) -> value."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


_ENC = {k: _huff_codes(b, v) for k, (b, v) in _HT.items()}
_DEC = {k: _huff_lut(b, v) for k, (b, v) in _HT.items()}

_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
        )


def _quant_tables(quality: int):
    quality = max(1, min(100, quality))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    qy = np.clip(np.floor((_QY * scale + 50) / 100), 1, 255)
    qc = np.clip(np.floor((_QC * scale + 50) / 100), 1, 255)
    return qy, qc


def _rgb_to_ycc(arr):
    r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _ycc_to_rgb(y, cb, cr):
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int):
    """(category, value-bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _encode_component(bw, blocks_zz, dc_tab, ac_tab, prev_dc):
    enc_dc = _ENC[("dc", dc_tab)]
    enc_ac = _ENC[("ac", ac_tab)]
    for zz in blocks_zz:
        diff = int(zz[0]) - prev_dc
        prev_dc = int(zz[0])
        cat, bits = _magnitude(diff)
        code, ln = enc_dc[cat]
        bw.write(code, ln)
        if cat:
            bw.write(bits, cat)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(zz[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat, bits = _magnitude(v)
            code, ln = enc_ac[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(bits, cat)
            run = 0
        if last < 63:
            code, ln = enc_ac[0x00]  # EOB
            bw.write(code, ln)
    return prev_dc


def _blocks_of(plane, q, *, pad_to: int = 8, target_blocks: tuple | None = None):
    """Pad to ``pad_to``-multiples (or to an explicit block grid),
    DCT+quantize all blocks, return zigzagged int coefficients in raster
    block order: (n_blocks, 64)."""
    h, w = plane.shape
    if target_blocks is not None:
        H, W = target_blocks[0] * 8, target_blocks[1] * 8
    else:
        H = (h + pad_to - 1) // pad_to * pad_to
        W = (w + pad_to - 1) // pad_to * pad_to
    padded = np.empty((H, W))
    padded[:h, :w] = plane
    padded[h:, :w] = plane[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    b = padded.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coef = np.einsum("ij,abjk,lk->abil", _DCT, b, _DCT)
    qz = np.round(coef / q).astype(np.int32)
    flat = qz.reshape(-1, 64)
    return flat[:, _ZZ]


def _setup_420(y, cb, cr, qy, qc, h, w):
    """Shared 4:2:0 component setup for the baseline and progressive
    encoders: chroma box-downsample, MCU grid, per-component zigzag
    coefficient blocks (Y padded to 16-multiples; chroma padded to the
    MCU lattice)."""
    cb, cr = _downsample2(cb), _downsample2(cr)
    mcu_h, mcu_w = (h + 15) // 16, (w + 15) // 16
    yb = _blocks_of(y, qy, pad_to=16)
    cbb = _blocks_of(cb, qc, pad_to=8, target_blocks=(mcu_h, mcu_w))
    crb = _blocks_of(cr, qc, pad_to=8, target_blocks=(mcu_h, mcu_w))
    return yb, cbb, crb, mcu_h, mcu_w


def _downsample2(plane):
    """2x2 box-mean chroma downsample (pads odd edges by replication)."""
    h, w = plane.shape
    H, W = (h + 1) // 2 * 2, (w + 1) // 2 * 2
    p = np.empty((H, W))
    p[:h, :w] = plane
    p[h:, :w] = plane[h - 1 : h, :]
    p[:, w:] = p[:, w - 1 : w]
    return p.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    *,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode (H,W,3) uint8 to baseline JPEG. ``subsampling``: "444"
    (exact chroma, default for the engine's own payloads) or "420"
    (2x2 chroma downsample — the wild-world default; MCUs interleave
    four Y blocks + Cb + Cr). ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker every that-many MCUs (what most wild
    encoders do by default — exercised by the decoder's restart path)."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError(f"expected (H,W,3) uint8, got {arr.shape} {arr.dtype}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w, _ = arr.shape
    qy, qc = _quant_tables(quality)
    y, cb, cr = _rgb_to_ycc(arr)
    if subsampling == "420":
        y_samp = 0x22
        yb, cbb, crb, mcu_h, mcu_w = _setup_420(y, cb, cr, qy, qc, h, w)
    else:
        y_samp = 0x11
        yb = _blocks_of(y, qy)
        cbb = _blocks_of(cb, qc)
        crb = _blocks_of(cr, qc)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in ((0, qy), (1, qc)):
        zz = q.reshape(-1)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zz.tobytes()
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, samp, tq in ((1, y_samp, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += struct.pack("BBB", cid, samp, tq)
    for (cls, tid), (bits, values) in _HT.items():
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + len(values), ((0 if cls == "dc" else 1) << 4) | tid
        )
        out += bytes(bits[1:17]) + bytes(values)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tabs)
    out += b"\x00\x3f\x00"

    bw = _BitWriter()
    prev = [0, 0, 0]
    rst_seq = [0]

    def _maybe_restart(mcu_idx: int):
        if restart_interval and mcu_idx > 0 and mcu_idx % restart_interval == 0:
            bw.flush()
            bw.buf += bytes((0xFF, 0xD0 + rst_seq[0]))
            rst_seq[0] = (rst_seq[0] + 1) & 7
            prev[0] = prev[1] = prev[2] = 0

    if subsampling == "444":
        for bi in range(yb.shape[0]):
            _maybe_restart(bi)
            for ci, (blocks, dc_t, ac_t) in enumerate(
                ((yb, 0, 0), (cbb, 1, 1), (crb, 1, 1))
            ):
                prev[ci] = _encode_component(
                    bw, blocks[bi : bi + 1], dc_t, ac_t, prev[ci]
                )
    else:
        # MCU = Y(2x2 raster) + Cb + Cr; yb is raster over a 2*mcu grid
        yw = 2 * mcu_w
        for my in range(mcu_h):
            for mx in range(mcu_w):
                _maybe_restart(my * mcu_w + mx)
                for dy in (0, 1):
                    for dx in (0, 1):
                        bi = (2 * my + dy) * yw + (2 * mx + dx)
                        prev[0] = _encode_component(
                            bw, yb[bi : bi + 1], 0, 0, prev[0]
                        )
                ci = my * mcu_w + mx
                prev[1] = _encode_component(bw, cbb[ci : ci + 1], 1, 1, prev[1])
                prev[2] = _encode_component(bw, crb[ci : ci + 1], 1, 1, prev[2])
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self):
        while self.n <= 24 and self.pos < len(self.data):
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    # marker: stop feeding (EOI or restart)
                    self.pos -= 1
                    byte = None
            if byte is None:
                break
            # keep only the unread bits: an unmasked accumulator would
            # grow to the whole scan and make every shift O(scan size)
            self.acc = ((self.acc & ((1 << self.n) - 1)) << 8) | byte
            self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
            if self.n == 0:
                # mid-scan underflow: the entropy stream ended (EOI,
                # truncation, or an unconsumed marker) while the decoder
                # still needs bits — corrupt/truncated data must raise,
                # never silently decode remaining MCUs from zero bits
                raise ValueError("JPEG entropy stream underflow (truncated scan)")
        self.n -= 1
        return (self.acc >> self.n) & 1

    def restart(self):
        """Consume an RSTn marker at a restart-interval boundary: discard
        the byte-alignment padding (which may include stuffed FF 00
        bytes), then expect FF D0..D7."""
        self.acc = 0
        self.n = 0
        # everything before the next real marker is byte-align padding
        while self.pos + 1 < len(self.data) and not (
            self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00
        ):
            self.pos += 1
        if self.pos + 1 >= len(self.data):
            raise ValueError("expected JPEG restart marker, hit end of stream")
        nxt = self.data[self.pos + 1]
        if not (0xD0 <= nxt <= 0xD7):
            raise ValueError(f"expected RSTn, found marker {nxt:#x}")
        self.pos += 2

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("bad huffman code")


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to (H,W,3) uint8. Malformed or
    truncated streams raise ValueError (never IndexError/struct.error —
    callers like verify_images route decode failures by ValueError)."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed JPEG stream: {e}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt = {}
    ht = {}
    h = w = None
    comps = []
    scan = None
    restart_interval = 0
    progressive = False
    coefs = None  # progressive: per-component zigzag coefficient grids
    dims = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                tid = seg[p] & 0x0F
                prec16 = seg[p] >> 4  # Pq=1: 16-bit big-endian entries
                tab = np.zeros(64)
                if prec16:
                    tab[_ZZ] = np.frombuffer(seg, ">u2", 64, p + 1)
                    p += 129
                else:
                    tab[_ZZ] = np.frombuffer(seg, np.uint8, 64, p + 1)
                    p += 65
                qt[tid] = tab.reshape(8, 8)
        elif marker == 0xC0:
            _prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if w * h > 1 << 28:
                raise ValueError("JPEG canvas exceeds the 2^28-pixel decode cap")
            for i in range(nc):
                cid, samp, tq = struct.unpack_from("BBB", seg, 6 + 3 * i)
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 4 and 1 <= sv <= 4):
                    raise ValueError(f"bad JPEG sampling factors {sh}x{sv}")
                comps.append((cid, tq, sh, sv))
        elif marker == 0xC2:  # progressive DCT
            progressive = True
            _prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if w * h > 1 << 28:
                raise ValueError("JPEG canvas exceeds the 2^28-pixel decode cap")
            for i in range(nc):
                cid, samp, tq = struct.unpack_from("BBB", seg, 6 + 3 * i)
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 4 and 1 <= sv <= 4):
                    raise ValueError(f"bad JPEG sampling factors {sh}x{sv}")
                comps.append((cid, tq, sh, sv))
        elif marker in (0xC1, 0xC3):
            raise ValueError("only baseline (SOF0) and progressive (SOF2) supported")
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                cls_id = seg[p]
                bits = [0] + list(seg[p + 1 : p + 17])
                nv = sum(bits)
                values = list(seg[p + 17 : p + 17 + nv])
                ht[("dc" if cls_id >> 4 == 0 else "ac", cls_id & 0x0F)] = _huff_lut(
                    bits, values
                )
                p += 17 + nv
        elif marker == 0xDA:
            ns = seg[0]
            scan_tabs = []
            scan_cids = []
            for i in range(ns):
                cid_, tabs = struct.unpack_from("BB", seg, 1 + 2 * i)
                scan_tabs.append((tabs >> 4, tabs & 0x0F))
                scan_cids.append(cid_)
            if not progressive:
                scan = (pos + seglen, scan_tabs)
                break
            # progressive: decode this scan's entropy segment, keep
            # walking markers (DHT/SOS repeat between scans)
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            if coefs is None:
                coefs, dims = _prog_alloc(comps, w, h)
            end = _entropy_end(data, pos + seglen)
            by_id = {c[0]: i for i, c in enumerate(comps)}
            if any(cid_ not in by_id for cid_ in scan_cids):
                raise ValueError("SOS references unknown component id")
            scan_ci = [by_id[cid_] for cid_ in scan_cids]
            _decode_prog_scan(
                data[pos + seglen : end], scan_ci, scan_tabs,
                ss, se, a >> 4, a & 0x0F,
                coefs, dims, comps, ht, restart_interval,
            )
            pos = end
            continue
        pos += seglen
    if progressive:
        if coefs is None or h is None:
            raise ValueError("truncated JPEG")
        maxh = max(c[2] for c in comps)
        maxv = max(c[3] for c in comps)
        grids = []
        for (cid_, tq, sh_, sv), cf in zip(comps, coefs):
            g = np.zeros(cf.shape)
            g[:, :, _ZZ] = cf  # zigzag -> natural order
            grids.append(g * qt[tq].reshape(-1))
        return _reconstruct(comps, grids, h, w, maxh, maxv)
    if scan is None or h is None:
        raise ValueError("truncated JPEG")

    start, scan_tabs = scan
    br = _BitReader(data[start:])
    maxh = max(c[2] for c in comps)
    maxv = max(c[3] for c in comps)
    mcu_w = (w + 8 * maxh - 1) // (8 * maxh)
    mcu_h = (h + 8 * maxv - 1) // (8 * maxv)
    # per component: raster block grid sized to the MCU lattice
    grids = []
    for _cid, _tq, sh, sv in comps:
        grids.append(np.zeros((mcu_h * sv, mcu_w * sh, 64)))
    prev = [0] * len(comps)

    def read_block(ci):
        dct, act = scan_tabs[ci]
        dc_tab = ht[("dc", dct)]
        ac_tab = ht[("ac", act)]
        zz = np.zeros(64)
        cat = _huff_decode(br, dc_tab)
        prev[ci] += _extend(br.bits(cat), cat)
        zz[0] = prev[ci]
        k = 1
        while k < 64:
            rs = _huff_decode(br, ac_tab)
            if rs == 0x00:
                break
            if rs == 0xF0:
                k += 16
                continue
            k += rs >> 4
            cat = rs & 0x0F
            if k > 63:
                break
            zz[k] = _extend(br.bits(cat), cat)
            k += 1
        coef = np.zeros(64)
        coef[_ZZ] = zz
        return coef

    for my in range(mcu_h):
        for mx in range(mcu_w):
            mcu_idx = my * mcu_w + mx
            if restart_interval and mcu_idx > 0 and mcu_idx % restart_interval == 0:
                br.restart()
                prev[:] = [0] * len(comps)  # RSTn resets DC prediction
            for ci, (_cid, tq, sh, sv) in enumerate(comps):
                for dy in range(sv):
                    for dx in range(sh):
                        grids[ci][my * sv + dy, mx * sh + dx] = (
                            read_block(ci) * qt[tq].reshape(-1)
                        )

    return _reconstruct(comps, grids, h, w, maxh, maxv)


def _reconstruct(comps, grids, h, w, maxh, maxv) -> np.ndarray:
    """Dequantized natural-order coefficient grids -> RGB pixels (shared
    by the baseline and progressive paths)."""
    out_planes = []
    for (_cid, _tq, sh, sv), g in zip(comps, grids):
        bh, bw_, _ = g.shape
        blocks = g.reshape(bh, bw_, 8, 8)
        pix = np.einsum("ji,abjk,kl->abil", _DCT, blocks, _DCT) + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
        # upsample subsampled chroma to the full lattice: bilinear
        # (9-3-3-1 weights, the JFIF "fancy upsampling") for the 2x case,
        # replication otherwise
        fy, fx = maxv // sv, maxh // sh
        if fy == 2 and fx == 2:
            plane = _upsample2_bilinear(plane)
        elif fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        out_planes.append(plane[:h, :w])
    return _ycc_to_rgb(*out_planes)


# ---------------------------------------------------------------------------
# Progressive (SOF2) scan decoding — T.81 §G. Coefficients accumulate in
# zigzag order across scans (spectral selection + successive
# approximation); reconstruction happens once at EOI.
# ---------------------------------------------------------------------------

def _prog_alloc(comps, w, h):
    """Per-component zigzag coefficient grids (MCU-padded) + actual
    non-interleaved block dims per component."""
    maxh = max(c[2] for c in comps)
    maxv = max(c[3] for c in comps)
    mcu_w = (w + 8 * maxh - 1) // (8 * maxh)
    mcu_h = (h + 8 * maxv - 1) // (8 * maxv)
    coefs, dims = [], []
    for _cid, _tq, sh, sv in comps:
        coefs.append(np.zeros((mcu_h * sv, mcu_w * sh, 64), dtype=np.int32))
        cw = (-(-w * sh // maxh) + 7) // 8  # ceil(ceil(w*sh/maxh)/8)
        ch = (-(-h * sv // maxv) + 7) // 8
        dims.append((ch, cw, mcu_h, mcu_w))
    return coefs, dims


def _entropy_end(data: bytes, start: int) -> int:
    """Index of the first real marker (not FF00 stuffing, not RSTn)
    after `start` — the end of a scan's entropy-coded segment."""
    p = start
    n = len(data)
    while p + 1 < n:
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return n


def _decode_prog_scan(
    bits_data, scan_ci, scan_tabs, ss, se, ah, al,
    coefs, dims, comps, ht, restart_interval,
):
    br = _BitReader(bits_data)
    if not (0 <= ss <= se <= 63) or (ss == 0) != (se == 0):
        raise ValueError(f"illegal progressive scan spectral range {ss}..{se}")
    if ss == 0:
        _prog_dc_scan(
            br, scan_ci, scan_tabs, ah, al, coefs, dims, comps, restart_interval, ht
        )
    else:
        if len(scan_ci) != 1:
            raise ValueError("progressive AC scan must be single-component")
        _prog_ac_scan(
            br, scan_ci[0], scan_tabs[0], ss, se, ah, al,
            coefs, dims, restart_interval, ht,
        )


def _prog_dc_scan(br, scan_ci, scan_tabs, ah, al, coefs, dims, comps, ri, ht):
    prev = {ci: 0 for ci in scan_ci}
    if len(scan_ci) > 1:
        mcu_h, mcu_w = dims[scan_ci[0]][2], dims[scan_ci[0]][3]
        unit_idx = 0
        for my in range(mcu_h):
            for mx in range(mcu_w):
                if ri and unit_idx > 0 and unit_idx % ri == 0:
                    br.restart()
                    prev = {ci: 0 for ci in scan_ci}
                unit_idx += 1
                for ci, (dct, _act) in zip(scan_ci, scan_tabs):
                    _cid, _tq, sh, sv = comps[ci]
                    for dy in range(sv):
                        for dx in range(sh):
                            blk = coefs[ci][my * sv + dy, mx * sh + dx]
                            _prog_dc_block(br, blk, ht, dct, ah, al, prev, ci)
    else:
        ci = scan_ci[0]
        dct = scan_tabs[0][0]
        ch, cw, _, _ = dims[ci]
        unit_idx = 0
        for by in range(ch):
            for bx in range(cw):
                if ri and unit_idx > 0 and unit_idx % ri == 0:
                    br.restart()
                    prev = {ci: 0}
                unit_idx += 1
                _prog_dc_block(br, coefs[ci][by, bx], ht, dct, ah, al, prev, ci)


def _prog_dc_block(br, blk, ht, dct, ah, al, prev, ci):
    if ah == 0:
        cat = _huff_decode(br, ht[("dc", dct)])
        prev[ci] += _extend(br.bits(cat), cat)
        if not -(1 << 20) <= prev[ci] <= 1 << 20:
            # hostile streams can accumulate the DC predictor without
            # bound (fuzz finding); legal JPEG DC fits well inside 2^20
            raise ValueError("JPEG progressive DC predictor out of range")
        blk[0] = prev[ci] << al
    else:  # refinement: one bit
        if br.bit():
            blk[0] |= 1 << al


def _prog_ac_scan(br, ci, tabs, ss, se, ah, al, coefs, dims, ri, ht):
    ac_tab = ht[("ac", tabs[1])]
    ch, cw, _, _ = dims[ci]
    eobrun = 0
    unit_idx = 0
    for by in range(ch):
        for bx in range(cw):
            if ri and unit_idx > 0 and unit_idx % ri == 0:
                br.restart()
                eobrun = 0
            unit_idx += 1
            blk = coefs[ci][by, bx]
            if ah == 0:
                eobrun = _prog_ac_first(br, blk, ac_tab, ss, se, al, eobrun)
            else:
                eobrun = _prog_ac_refine(br, blk, ac_tab, ss, se, al, eobrun)


def _prog_ac_first(br, blk, ac_tab, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(br, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC coefficient run past Se")
        blk[k] = _extend(br.bits(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine(br, blk, ac_tab, ss, se, al, eobrun):
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # r == 15: run of 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                val = p1 if br.bit() else -p1
            while k <= se:
                coef = int(blk[k])
                if coef != 0:
                    if br.bit() and (coef & p1) == 0:
                        blk[k] += p1 if coef > 0 else -p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            coef = int(blk[k])
            if coef != 0:
                if br.bit() and (coef & p1) == 0:
                    blk[k] += p1 if coef > 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


def _upsample2_bilinear(p: np.ndarray) -> np.ndarray:
    """2x bilinear upsample with edge replication: each output sample is
    the 9/16-3/16-3/16-1/16 blend of the four nearest chroma samples."""
    pad = np.pad(p, 1, mode="edge")
    c = pad[1:-1, 1:-1]
    up = pad[:-2, 1:-1]
    dn = pad[2:, 1:-1]
    lf = pad[1:-1, :-2]
    rt = pad[1:-1, 2:]
    ul = pad[:-2, :-2]
    ur = pad[:-2, 2:]
    dl = pad[2:, :-2]
    dr = pad[2:, 2:]
    h2, w2 = p.shape[0] * 2, p.shape[1] * 2
    out = np.empty((h2, w2))
    out[0::2, 0::2] = (9 * c + 3 * up + 3 * lf + ul) / 16
    out[0::2, 1::2] = (9 * c + 3 * up + 3 * rt + ur) / 16
    out[1::2, 0::2] = (9 * c + 3 * dn + 3 * lf + dl) / 16
    out[1::2, 1::2] = (9 * c + 3 * dn + 3 * rt + dr) / 16
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


# ---------------------------------------------------------------------------
# Progressive (SOF2) encoder — 4:4:4, spectral selection + successive
# approximation. Exists to exercise every progressive DECODE path with
# our own streams (scan script: DC first at Al, DC refinements to 0;
# per-component AC first at Al, AC refinements to 0). Huffman tables are
# built per scan from real symbol statistics (two-pass).
# ---------------------------------------------------------------------------

class _SymStats:
    """Pass-1 emitter: counts huffman symbols, ignores raw bits."""

    def __init__(self):
        self.freq = {}

    def sym(self, table_id, s):
        key = (table_id, s)
        self.freq[key] = self.freq.get(key, 0) + 1

    def bits(self, v, n):
        pass


class _SymWriter:
    """Pass-2 emitter: writes huffman codes + raw bits via _BitWriter."""

    def __init__(self, bw, enc_tables):
        self.bw = bw
        self.enc = enc_tables

    def sym(self, table_id, s):
        code, ln = self.enc[table_id][s]
        self.bw.write(code, ln)

    def bits(self, v, n):
        if n:
            self.bw.write(v, n)


def _huffman_spec_from_freq(freq: dict) -> tuple:
    """T.81-style (bits[0..16], values) from symbol frequencies. A
    phantom symbol reserves the all-ones code (dropped afterwards, like
    libjpeg's 256 sentinel)."""
    from tilegrab_spark.kernels.webp import _huffman_lengths

    syms = sorted(freq)
    arr = np.zeros(max(syms) + 2 if syms else 2, dtype=np.int64)
    for s, f in freq.items():
        arr[s] = f
    arr[-1] = 1  # phantom
    lengths = _huffman_lengths(arr, max_len=16)
    pairs = sorted(
        (ln, s) for s, ln in enumerate(lengths[:-1]) if ln and arr[s] > 0
    )
    bits = [0] * 17
    values = []
    for ln, s in pairs:
        bits[ln] += 1
        values.append(s)
    return bits, values


def _scan_tables(stats: _SymStats):
    """Per-table-id (bits, values, encode map) from pass-1 stats."""
    by_table = {}
    for (tid, s), f in stats.freq.items():
        by_table.setdefault(tid, {})[s] = f
    out = {}
    for tid, freq in by_table.items():
        bits, values = _huffman_spec_from_freq(freq)
        out[tid] = (bits, values, _huff_codes(bits, values))
    return out


class _EobrunState:
    def __init__(self, emit, table_id):
        self.emit = emit
        self.tid = table_id
        self.run = 0
        self.pending = []

    def bump(self, correction_bits):
        self.run += 1
        self.pending += correction_bits
        if self.run == 0x7FFF:
            self.flush()

    def flush(self):
        if self.run:
            nb = self.run.bit_length() - 1
            self.emit.sym(self.tid, nb << 4)
            if nb:
                self.emit.bits(self.run - (1 << nb), nb)
            for b in self.pending:
                self.emit.bits(b, 1)
            self.run = 0
            self.pending = []


def _enc_dc_first(emit, comps_zz, al, dc_order):
    """Interleaved DC scan over ``dc_order`` — the (ci, block_index)
    MCU traversal (444: one block per component per MCU; 420: four Y
    blocks then Cb then Cr)."""
    prev = [0] * len(comps_zz)
    for ci, bi in dc_order:
        tid = 0 if ci == 0 else 1
        v = int(comps_zz[ci][bi, 0]) >> al
        diff = v - prev[ci]
        prev[ci] = v
        cat, vb = _magnitude(diff)
        emit.sym(tid, cat)
        emit.bits(vb, cat)


def _enc_dc_refine(bw, comps_zz, al, dc_order):
    for ci, bi in dc_order:
        bw.write((int(comps_zz[ci][bi, 0]) >> al) & 1, 1)


def _enc_ac_first(emit, blocks, al):
    eob = _EobrunState(emit, 0)
    for bi in range(blocks.shape[0]):
        r = 0
        emitted = False
        for k in range(1, 64):
            t = int(blocks[bi, k])
            v = (abs(t) >> al) * (1 if t >= 0 else -1)
            if v == 0:
                r += 1
                continue
            eob.flush()
            while r > 15:
                emit.sym(0, 0xF0)
                r -= 16
            cat, vb = _magnitude(v)
            emit.sym(0, (r << 4) | cat)
            emit.bits(vb, cat)
            r = 0
            emitted = True
        if r > 0 or not emitted:
            eob.bump([])
    eob.flush()


def _enc_ac_refine(emit, blocks, ah, al):
    p1 = 1 << al
    eob_state = _EobrunState(emit, 0)
    for bi in range(blocks.shape[0]):
        coefs = blocks[bi]
        absv = [abs(int(coefs[k])) >> al for k in range(64)]
        eob_pos = 0
        for k in range(1, 64):
            if absv[k] == 1:
                eob_pos = k
        r = 0
        br_bits = []
        for k in range(1, 64):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            # flush pending ZRLs at EVERY nonzero coefficient (history
            # included — libjpeg order), so buffered correction bits land
            # right after the ZRL whose walk the decoder reads them in;
            # runs past the last newly-significant position fold into the
            # EOB run instead
            while r > 15 and k <= eob_pos:
                eob_state.flush()
                emit.sym(0, 0xF0)
                for b in br_bits:
                    emit.bits(b, 1)
                br_bits = []
                r -= 16
            if t > 1:  # history coefficient: one correction bit
                br_bits.append(t & 1)
                continue
            # newly significant (|coef| >> al == 1  =>  |coef| >> ah == 0)
            eob_state.flush()
            emit.sym(0, (r << 4) | 1)
            emit.bits(1 if int(coefs[k]) > 0 else 0, 1)
            for b in br_bits:
                emit.bits(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eob_state.bump(br_bits)
    eob_state.flush()


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90, *, al: int = 1, subsampling: str = "444"
) -> bytes:
    """Encode (H,W,3) uint8 as progressive (SOF2) JPEG, 4:4:4 or 4:2:0.

    Scan script: interleaved DC first scan at Al=``al`` + DC refinement
    scans down to 0; per component, AC first scan (Ss=1..63) at
    Al=``al`` + AC refinement scans down to 0 — together these exercise
    every progressive decode path (spectral selection, successive
    approximation, EOB runs, refinement correction bits). Decoded pixels
    are bit-identical to the baseline encoding at the same quality (the
    quantized coefficients are the same; only the scan order differs).
    """
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError(f"expected (H,W,3) uint8, got {arr.shape} {arr.dtype}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w, _ = arr.shape
    qy, qc = _quant_tables(quality)
    y, cb, cr = _rgb_to_ycc(arr)
    if subsampling == "420":
        yb_, cbb_, crb_, mcu_h, mcu_w = _setup_420(y, cb, cr, qy, qc, h, w)
        comps_zz = [yb_, cbb_, crb_]
        y_samp = 0x22
        # interleaved-DC MCU traversal: Y 2x2 raster, then Cb, Cr
        yw = 2 * mcu_w
        dc_order = []
        for my in range(mcu_h):
            for mx in range(mcu_w):
                for dy in (0, 1):
                    for dx in (0, 1):
                        dc_order.append((0, (2 * my + dy) * yw + (2 * mx + dx)))
                dc_order.append((1, my * mcu_w + mx))
                dc_order.append((2, my * mcu_w + mx))
        # non-interleaved AC scans cover only each component's ACTUAL
        # block grid (the MCU-padded tail blocks carry no AC data)
        def ac_sel(ci):
            if ci != 0:
                # chroma grids are already exactly MCU-sized:
                # ceil(ceil(w/2)/8) == ceil(w/16) == mcu_w — no padding
                # blocks to exclude
                return comps_zz[ci]
            cw, chn = (w + 7) // 8, (h + 7) // 8
            idx = [by * yw + bx for by in range(chn) for bx in range(cw)]
            return comps_zz[0][idx]
    else:
        comps_zz = [_blocks_of(y, qy), _blocks_of(cb, qc), _blocks_of(cr, qc)]
        y_samp = 0x11
        n = comps_zz[0].shape[0]
        dc_order = [(ci, bi) for bi in range(n) for ci in range(3)]

        def ac_sel(ci):
            return comps_zz[ci]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in ((0, qy), (1, qc)):
        zz = q.reshape(-1)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zz.tobytes()
    out += b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, samp, tq in ((1, y_samp, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += struct.pack("BBB", cid, samp, tq)

    def run_scan(enc_fn, comp_sel, ss, se, ah, al_, dc_scan):
        """Two-pass scan: stats -> tables -> DHT + SOS + entropy data."""
        stats = _SymStats()
        enc_fn(stats)
        tables = _scan_tables(stats)
        for tid, (bits, values, _enc) in sorted(tables.items()):
            cls = 0 if dc_scan else 1
            out.extend(b"\xff\xc4")
            out.extend(struct.pack(">HB", 19 + len(values), (cls << 4) | tid))
            out.extend(bytes(bits[1:17]) + bytes(values))
        ns = len(comp_sel)
        out.extend(b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns))
        for ci in comp_sel:
            # DC scans reference DC table ids; AC scans always table 0
            tid = 0 if ci == 0 else 1
            out.extend(struct.pack("BB", ci + 1, (tid << 4) if dc_scan else 0))
        out.extend(struct.pack("BBB", ss, se, (ah << 4) | al_))
        bw = _BitWriter()
        enc_fn(_SymWriter(bw, {t: e for t, (_b, _v, e) in tables.items()}))
        bw.flush()
        out.extend(bw.buf)

    # 1. DC first (interleaved, all components)
    run_scan(
        lambda e: _enc_dc_first(e, comps_zz, al, dc_order),
        [0, 1, 2], 0, 0, 0, al, True,
    )
    # 2. DC refinements (no huffman — raw bits)
    for a in range(al, 0, -1):
        out.extend(b"\xff\xda" + struct.pack(">HB", 12, 3))
        for ci in range(3):
            out.extend(struct.pack("BB", ci + 1, 0))
        out.extend(struct.pack("BBB", 0, 0, (a << 4) | (a - 1)))
        bw = _BitWriter()
        _enc_dc_refine(bw, comps_zz, a - 1, dc_order)
        bw.flush()
        out.extend(bw.buf)
    # 3. AC first scans per component (non-interleaved, actual dims)
    ac_blocks = [ac_sel(ci) for ci in range(3)]
    for ci in range(3):
        run_scan(
            lambda e, c=ci: _enc_ac_first(e, ac_blocks[c], al),
            [ci], 1, 63, 0, al, False,
        )
    # 4. AC refinement scans per component
    for a in range(al, 0, -1):
        for ci in range(3):
            run_scan(
                lambda e, c=ci, aa=a: _enc_ac_refine(e, ac_blocks[c], aa, aa - 1),
                [ci], 1, 63, a, a - 1, False,
            )
    out += b"\xff\xd9"
    return bytes(out)
