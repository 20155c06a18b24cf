"""Minimal REAL baseline JPEG codec, pure stdlib + numpy.

Round 3 closed the last multimodal stub with a grayscale codec; round
4 extends it to COLOR: 3-component YCbCr baseline with 4:4:4 and
4:2:0 chroma subsampling — the two layouts that cover the vast
majority of real-crawl JPEGs (VERDICT r3 #5). The writer emits
genuinely entropy-coded baseline JFIF (RGB->YCbCr, chroma
downsampling, FDCT -> quantization -> zigzag -> DC-difference/
AC-run-length Huffman with the ITU T.81 Annex K luminance AND
chrominance standard tables, interleaved MCU scan), and the decoder
reverses it for any conformant baseline file with 1 or 3 components
and sampling factors up to 2x2 (4:4:4, 4:2:0, 4:2:2), nearest-
neighbor chroma upsampling, BT.601 YCbCr->RGB. Progressive (SOF2),
arithmetic coding, restart markers and >8-bit precision raise
``ValueError`` (per-row ERROR capture upstream).

JPEG is lossy: tests assert exact roundtrips only where the math is
exact (uniform blocks are DC-only) and bounded error elsewhere.
"""

from __future__ import annotations

import struct

import numpy as np

from westa_ocr_spark.kernel import check_pixels

# ITU T.81 Annex K luminance quantization table (quality ~50 base)
_QTABLE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# Annex K DC luminance Huffman spec: bits[1..16], then values
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Annex K AC luminance Huffman spec
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]

# ITU T.81 Annex K chrominance quantization table
_QTABLE_C = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# Annex K DC chrominance Huffman spec
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
# Annex K AC chrominance Huffman spec
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
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
]

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# 8x8 type-II DCT basis: C[u,x] = a(u) cos((2x+1)u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple]:
    """symbol -> (code, length) per the JPEG canonical construction."""
    out: dict[int, tuple] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _huff_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _huff_codes(_AC_BITS, _AC_VALS)
_DC_ENC_C = _huff_codes(_DC_BITS_C, _DC_VALS_C)
_AC_ENC_C = _huff_codes(_AC_BITS_C, _AC_VALS_C)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def pad(self) -> None:
        """Byte-align by padding with 1-bits (T.81 F.1.2.3)."""
        if self.n:
            self.acc <<= (8 - self.n)
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0

    def restart(self, idx: int) -> None:
        """Emit an RSTn marker (byte-aligned, unstuffed)."""
        self.pad()
        self.out += bytes([0xFF, 0xD0 + (idx & 7)])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended-bits value) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _encode_block(bw: _BitWriter, block: np.ndarray, qtable: np.ndarray,
                  dc_enc: dict, ac_enc: dict, prev_dc: int) -> int:
    """FDCT + quantize + Huffman-encode one level-shifted 8x8 block;
    returns the new DC predictor."""
    coeffs = _C @ block @ _C.T
    q = np.round(coeffs / qtable).astype(np.int64)
    zz = q.reshape(64)[_ZIGZAG]
    cat, bits = _magnitude(int(zz[0]) - prev_dc)
    c, ln = dc_enc[cat]
    bw.put(c, ln)
    if cat:
        bw.put(bits, cat)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_enc[0xF0]  # ZRL
            bw.put(c, ln)
            run -= 16
        cat, bits = _magnitude(v)
        c, ln = ac_enc[(run << 4) | cat]
        bw.put(c, ln)
        bw.put(bits, cat)
        run = 0
    if run:
        c, ln = ac_enc[0x00]  # EOB
        bw.put(c, ln)
    return int(zz[0])


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate a plane up to (ph, pw), level-shifted float."""
    h, w = plane.shape
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    if ph > h:
        padded[h:, :w] = plane[h - 1 : h, :]
    if pw > w:
        padded[:, w:] = padded[:, w - 1 : w]
    return padded - 128.0


def _jfif_headers(dqt: bytes, sof0: bytes, dht: bytes,
                  sos: bytes) -> bytes:
    app0 = (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos


def _dqt_segment(tq: int, table: np.ndarray) -> bytes:
    return (b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
            + bytes(int(table.reshape(64)[_ZIGZAG[i]]) for i in range(64)))


def write_jpeg_gray(pixels: np.ndarray,
                    restart_interval: int = 0) -> bytes:
    """Encode an (h, w) uint8 array as baseline grayscale JFIF.

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every N MCUs (round 4 — the layout most camera/crawl JPEGs use
    for error resilience)."""
    h, w = pixels.shape
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError("jpeg: bad dimensions")
    padded = _pad_edge(pixels.astype(np.float64),
                       (h + 7) // 8 * 8, (w + 7) // 8 * 8)
    bw = _BitWriter()
    prev_dc = 0
    mcu = rst = 0
    for by in range(0, padded.shape[0], 8):
        for bx in range(0, padded.shape[1], 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart(rst)
                rst += 1
                prev_dc = 0
            prev_dc = _encode_block(
                bw, padded[by : by + 8, bx : bx + 8], _QTABLE,
                _DC_ENC, _AC_ENC, prev_dc,
            )
            mcu += 1
    entropy = bw.flush()
    sof0 = (b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
            + b"\x01\x11\x00")
    dht = (_dht_segment(0x00, _DC_BITS, _DC_VALS)
           + _dht_segment(0x10, _AC_BITS, _AC_VALS))
    dri = (b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
           if restart_interval else b"")
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return (_jfif_headers(_dqt_segment(0, _QTABLE), sof0, dht + dri, sos)
            + entropy + b"\xff\xd9")


def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, ...]:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _subsample2(plane: np.ndarray) -> np.ndarray:
    """2x2 mean downsample (odd edges replicate)."""
    h, w = plane.shape
    ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
    p = np.empty((ph, pw), dtype=np.float64)
    p[:h, :w] = plane
    if ph > h:
        p[h:, :w] = plane[h - 1 : h, :]
    if pw > w:
        p[:, w:] = p[:, w - 1 : w]
    return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2]
            + p[1::2, 1::2]) / 4.0


def _subsample_h(plane: np.ndarray) -> np.ndarray:
    """1x2 horizontal mean downsample (4:2:2; odd edge replicates)."""
    h, w = plane.shape
    pw = (w + 1) // 2 * 2
    p = np.empty((h, pw), dtype=np.float64)
    p[:, :w] = plane
    if pw > w:
        p[:, w:] = plane[:, w - 1 : w]
    return (p[:, 0::2] + p[:, 1::2]) / 2.0


def write_jpeg_color(rgb: np.ndarray, subsampling: str = "420",
                     restart_interval: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline YCbCr JFIF.

    ``subsampling``: ``"420"`` (2x2 luma sampling, the common crawl
    layout), ``"422"`` (horizontal-only chroma subsampling — the
    camera/scanner layout, round 5) or ``"444"`` (none). Interleaved
    single-scan MCU order, Annex-K luminance tables for Y and
    chrominance tables for Cb/Cr — the layout libjpeg emits.
    """
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("jpeg: expected (h, w, 3) RGB")
    h, w = rgb.shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError("jpeg: bad dimensions")
    if subsampling not in ("420", "422", "444"):
        raise ValueError("jpeg: subsampling must be '420', '422' or '444'")
    y, cb, cr = _rgb_to_ycbcr(rgb)
    if subsampling == "420":
        hy = vy = 2
        cb, cr = _subsample2(cb), _subsample2(cr)
    elif subsampling == "422":
        hy, vy = 2, 1
        cb, cr = _subsample_h(cb), _subsample_h(cr)
    else:
        hy = vy = 1
    # pad each plane to MCU-aligned block grids
    mcu_w, mcu_h = 8 * hy, 8 * vy
    yp = _pad_edge(y, (h + mcu_h - 1) // mcu_h * mcu_h,
                   (w + mcu_w - 1) // mcu_w * mcu_w)
    cbp = _pad_edge(cb, (cb.shape[0] + 7) // 8 * 8,
                    (cb.shape[1] + 7) // 8 * 8)
    crp = _pad_edge(cr, (cr.shape[0] + 7) // 8 * 8,
                    (cr.shape[1] + 7) // 8 * 8)
    n_mcu_x = yp.shape[1] // mcu_w
    n_mcu_y = yp.shape[0] // mcu_h
    bw = _BitWriter()
    dc = [0, 0, 0]
    mcu = rst = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart(rst)
                rst += 1
                dc = [0, 0, 0]
            mcu += 1
            for v in range(vy):  # Y blocks of this MCU
                for u in range(hy):
                    by = my * mcu_h + v * 8
                    bx = mx * mcu_w + u * 8
                    dc[0] = _encode_block(
                        bw, yp[by : by + 8, bx : bx + 8], _QTABLE,
                        _DC_ENC, _AC_ENC, dc[0],
                    )
            for ci, plane in ((1, cbp), (2, crp)):
                by, bx = my * 8, mx * 8
                dc[ci] = _encode_block(
                    bw, plane[by : by + 8, bx : bx + 8], _QTABLE_C,
                    _DC_ENC_C, _AC_ENC_C, dc[ci],
                )
    entropy = bw.flush()
    samp_y = (hy << 4) | vy
    sof0 = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
            + bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = (_dht_segment(0x00, _DC_BITS, _DC_VALS)
           + _dht_segment(0x10, _AC_BITS, _AC_VALS)
           + _dht_segment(0x01, _DC_BITS_C, _DC_VALS_C)
           + _dht_segment(0x11, _AC_BITS_C, _AC_VALS_C))
    dri = (b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
           if restart_interval else b"")
    sos = (b"\xff\xda" + struct.pack(">H", 12)
           + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0x3F, 0]))
    dqt = _dqt_segment(0, _QTABLE) + _dqt_segment(1, _QTABLE_C)
    return _jfif_headers(dqt, sof0, dht + dri, sos) + entropy + b"\xff\xd9"


# -- progressive encoder (round 4) --------------------------------------
# Emits SOF2 files with the scan script libjpeg uses in spirit:
# interleaved DC first pass at Al=1, DC refinement, then per-component
# AC spectral scans (1..63) at Al=1 followed by AC refinement to
# Al=0. Successive approximation is LOSSLESS over the quantized
# coefficients, so a progressive encoding decodes to pixels identical
# to the baseline encoding of the same image (tested).


def _quant_grid(plane: np.ndarray, qtable: np.ndarray, bh: int,
                bw: int) -> np.ndarray:
    """Quantized coefficient grid (bh, bw, 64) in natural order from
    a level-shifted float plane of exactly (bh*8, bw*8)."""
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            q = np.round((_C @ block @ _C.T) / qtable).astype(np.int64)
            out[by, bx] = q.reshape(64)
    return out


def _enc_dc_first(bw_, grid_block, dc_enc, al, pred):
    dc = int(grid_block[0]) >> al  # arithmetic shift (T.81 DC PT)
    cat, bits = _magnitude(dc - pred)
    c, ln = dc_enc[cat]
    bw_.put(c, ln)
    if cat:
        bw_.put(bits, cat)
    return dc


def _enc_ac_first(bw_, grid_block, ac_enc, al):
    run = 0
    for k in range(1, 64):
        v = int(grid_block[_ZIGZAG[k]])
        a = abs(v) >> al  # magnitude shift (T.81 AC PT)
        if a == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_enc[0xF0]
            bw_.put(c, ln)
            run -= 16
        cat, bits = _magnitude(a if v > 0 else -a)
        c, ln = ac_enc[(run << 4) | cat]
        bw_.put(c, ln)
        bw_.put(bits, cat)
        run = 0
    if run:
        c, ln = ac_enc[0x00]  # EOB
        bw_.put(c, ln)


def _enc_ac_refine(bw_, grid_block, ac_enc, al):
    """AC refinement scan for one block (target Al, previous Al+1):
    newly-significant coefficients emit (run|1)+sign; already-
    significant ones emit buffered correction bits in the exact
    positional order the decoder consumes them (libjpeg's BE-buffer
    discipline)."""
    absv = [0] * 64
    vals = [0] * 64
    last_new = 0
    for k in range(1, 64):
        v = int(grid_block[_ZIGZAG[k]])
        vals[k] = v
        absv[k] = abs(v) >> al
        if absv[k] == 1:
            last_new = k
    run = 0
    pending: list[int] = []

    def _flush() -> None:
        for b in pending:
            bw_.put(b, 1)
        pending.clear()

    for k in range(1, 64):
        a = absv[k]
        if a == 0:
            run += 1
            continue
        while run > 15 and k <= last_new:
            c, ln = ac_enc[0xF0]
            bw_.put(c, ln)
            run -= 16
            _flush()
        if a > 1:  # significant in the previous pass: correction bit
            pending.append(a & 1)
            continue
        c, ln = ac_enc[(run << 4) | 1]
        bw_.put(c, ln)
        bw_.put(1 if vals[k] > 0 else 0, 1)
        _flush()
        run = 0
    if run or pending:
        c, ln = ac_enc[0x00]  # EOB: remaining corrections follow
        bw_.put(c, ln)
        _flush()


def write_jpeg_progressive(pixels: np.ndarray,
                           subsampling: str = "420") -> bytes:
    """Encode a progressive (SOF2) JFIF with spectral selection and
    successive approximation: (h, w) uint8 grayscale, or (h, w, 3)
    uint8 RGB with 4:2:0 / 4:4:4 chroma subsampling."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError("jpeg: bad dimensions")
    if gray:
        samps = [(1, 1)]
        qts = [_QTABLE]
        planes = [pixels.astype(np.float64)]
    else:
        if subsampling not in ("420", "444"):
            raise ValueError("jpeg: subsampling must be '420' or '444'")
        y, cb, cr = _rgb_to_ycbcr(pixels)
        if subsampling == "420":
            samps = [(2, 2), (1, 1), (1, 1)]
            cb, cr = _subsample2(cb), _subsample2(cr)
        else:
            samps = [(1, 1), (1, 1), (1, 1)]
        qts = [_QTABLE, _QTABLE_C, _QTABLE_C]
        planes = [y, cb, cr]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
    grids: list[np.ndarray] = []
    real_dims: list[tuple[int, int]] = []
    for (hi, vi), qt, plane in zip(samps, qts, planes):
        bh, bw_n = n_mcu_y * vi, n_mcu_x * hi
        padded = _pad_edge(plane, bh * 8, bw_n * 8)
        grids.append(_quant_grid(padded, qt, bh, bw_n))
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        real_dims.append(((ch + 7) // 8, (cw + 7) // 8))
    ncomp = len(grids)
    dc_encs = [_DC_ENC] + [_DC_ENC_C] * (ncomp - 1)
    ac_encs = [_AC_ENC] + [_AC_ENC_C] * (ncomp - 1)

    def _sos(comp_specs: list[tuple[int, int, int]], ss: int, se: int,
             ah: int, al: int) -> bytes:
        body = bytes([len(comp_specs)])
        for cid, td, ta in comp_specs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    scans = bytearray()
    # scan 1: DC first (interleaved, Al=1)
    bw_ = _BitWriter()
    preds = [0] * ncomp
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            for ci, (hi, vi) in enumerate(samps):
                for v in range(vi):
                    for u in range(hi):
                        preds[ci] = _enc_dc_first(
                            bw_, grids[ci][my * vi + v, mx * hi + u],
                            dc_encs[ci], 1, preds[ci],
                        )
    scans += _sos(
        [(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(ncomp)],
        0, 0, 0, 1,
    ) + bw_.flush()
    # scan 2: DC refinement (bits only, no tables consulted)
    bw_ = _BitWriter()
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            for ci, (hi, vi) in enumerate(samps):
                for v in range(vi):
                    for u in range(hi):
                        bw_.put(
                            int(grids[ci][my * vi + v, mx * hi + u][0])
                            & 1, 1,
                        )
    scans += _sos(
        [(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(ncomp)],
        0, 0, 1, 0,
    ) + bw_.flush()
    # per-component AC scans: first pass at Al=1, then refinement
    for ci in range(ncomp):
        bh, bw_n = real_dims[ci]
        bw_ = _BitWriter()
        for by in range(bh):
            for bx in range(bw_n):
                _enc_ac_first(bw_, grids[ci][by, bx], ac_encs[ci], 1)
        scans += _sos(
            [(ci + 1, 0, 0 if ci == 0 else 1)], 1, 63, 0, 1
        ) + bw_.flush()
    for ci in range(ncomp):
        bh, bw_n = real_dims[ci]
        bw_ = _BitWriter()
        for by in range(bh):
            for bx in range(bw_n):
                _enc_ac_refine(bw_, grids[ci][by, bx], ac_encs[ci], 0)
        scans += _sos(
            [(ci + 1, 0, 0 if ci == 0 else 1)], 1, 63, 1, 0
        ) + bw_.flush()

    if gray:
        sof2 = (b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1)
                + b"\x01\x11\x00")
        dqt = _dqt_segment(0, _QTABLE)
        dht = (_dht_segment(0x00, _DC_BITS, _DC_VALS)
               + _dht_segment(0x10, _AC_BITS, _AC_VALS))
    else:
        samp_y = (samps[0][0] << 4) | samps[0][1]
        sof2 = (b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)
                + bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1]))
        dqt = _dqt_segment(0, _QTABLE) + _dqt_segment(1, _QTABLE_C)
        dht = (_dht_segment(0x00, _DC_BITS, _DC_VALS)
               + _dht_segment(0x10, _AC_BITS, _AC_VALS)
               + _dht_segment(0x01, _DC_BITS_C, _DC_VALS_C)
               + _dht_segment(0x11, _AC_BITS_C, _AC_VALS_C))
    app0 = (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    return (b"\xff\xd8" + app0 + dqt + sof2 + dht + bytes(scans)
            + b"\xff\xd9")


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: entropy data underrun")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("jpeg: truncated stuffing")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                elif nxt == 0xD9:  # EOI reached mid-read
                    raise ValueError("jpeg: entropy data underrun")
                else:
                    raise ValueError("jpeg: unexpected marker in scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self, idx: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.n = 0  # drop pad bits of the current byte
        if (self.pos + 1 >= len(self.data)
                or self.data[self.pos] != 0xFF
                or self.data[self.pos + 1] != 0xD0 + (idx & 7)):
            raise ValueError("jpeg: missing restart marker")
        self.pos += 2


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol."""
    if sum(bits) > len(vals):
        # corrupt DHT: the per-length counts promise more symbols
        # than the segment carries (round-5 mutation fuzz)
        raise ValueError("jpeg: DHT counts/values mismatch")
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(br: _BitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("jpeg: bad Huffman code")


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


# -- scan executor (shared by baseline and progressive, round 4) --------
# Decoding happens in the COEFFICIENT domain: every scan (a baseline
# file has one full-range scan; a progressive file has many partial
# ones — DC/AC spectral bands at successive approximation levels)
# accumulates into per-component int coefficient grids, and a single
# dequantize+IDCT pass at the end renders pixels. T.81 sections F.2
# (sequential) and G.2 (progressive).


def _coef_block_first(br, cof, dct, act, ss, se, al, dcpred, eobrun):
    """First-pass (Ah=0) decode of one block's [ss, se] band."""
    if ss == 0:
        cat = _read_symbol(br, dct)
        if cat > 15:
            # a corrupt DC table can map to symbols > the T.81 max
            # category; unchecked, the predictor grows into unbounded
            # ints and overflows the int64 grid (round-5 fuzz)
            raise ValueError("jpeg: DC category out of range")
        diff = _extend(br.bits(cat), cat) if cat else 0
        dcpred += diff
        if abs(dcpred) > (1 << 40):  # far outside any real DC range
            raise ValueError("jpeg: DC predictor out of range")
        cof[0] = dcpred << al
        k = 1
    else:
        k = ss
    if k <= se:
        if eobrun > 0:
            return dcpred, eobrun - 1
        while k <= se:
            sym = _read_symbol(br, act)
            run, cat = sym >> 4, sym & 0x0F
            if cat == 0:
                if run != 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += br.bits(run)
                    return dcpred, eobrun - 1
                k += 16  # ZRL
                continue
            k += run
            if k > se:
                raise ValueError("jpeg: AC coefficient overflow")
            cof[_ZIGZAG[k]] = _extend(br.bits(cat), cat) << al
            k += 1
    return dcpred, eobrun


def _coef_block_refine(br, cof, act, ss, se, al, eobrun):
    """Refinement-pass (Ah>0) decode of one block's [ss, se] band
    (T.81 G.2; the correction-bit interleave follows the spec's
    decode order)."""
    p1 = 1 << al
    m1 = -p1
    if ss == 0:  # DC refinement: one appended bit
        if br.bit():
            cof[0] |= p1
        return eobrun
    k = ss
    if eobrun > 0:
        eobrun -= 1
    else:
        while k <= se:
            sym = _read_symbol(br, act)
            run, cat = sym >> 4, sym & 0x0F
            val = 0
            if cat:
                if cat != 1:
                    raise ValueError("jpeg: bad AC refinement symbol")
                val = p1 if br.bit() else m1
            elif run != 15:
                eobrun = 1 << run
                if run:
                    eobrun += br.bits(run)
                eobrun -= 1  # this block consumes one
                break
            while k <= se:
                z = _ZIGZAG[k]
                if cof[z]:
                    if br.bit() and (cof[z] & p1) == 0:
                        cof[z] += p1 if cof[z] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= se:
                cof[_ZIGZAG[k]] = val
            k += 1
    while k <= se:  # EOB-run tail: corrections for remaining nonzeros
        z = _ZIGZAG[k]
        if cof[z]:
            if br.bit() and (cof[z] & p1) == 0:
                cof[z] += p1 if cof[z] >= 0 else m1
        k += 1
    return eobrun


def _scan_end(data: bytes, start: int) -> int:
    """End of an entropy-coded segment: the next marker that is not
    byte stuffing (FF00) or a restart (FFD0-FFD7)."""
    pos = start
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) or progressive (SOF2, round 4) JPEG:
    (h, w) uint8 for grayscale files, (h, w, 3) uint8 RGB for
    3-component YCbCr files (sampling factors up to 2x2: 4:4:4,
    4:2:0, 4:2:2; nearest-neighbor chroma upsampling, BT.601).
    Progressive support covers spectral selection AND successive
    approximation, with restart intervals in any scan."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    h = w = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    restart_interval = 0
    coefs: list[np.ndarray] = []  # per comp: (bh_pad, bw_pad, 64)
    n_mcu_x = n_mcu_y = 0
    hmax = vmax = 1
    saw_scan = False

    def _init_frame() -> None:
        nonlocal n_mcu_x, n_mcu_y, hmax, vmax
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
        n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
        for _cid, hi, vi, _tq in comps:
            coefs.append(np.zeros(
                (n_mcu_y * vi, n_mcu_x * hi, 64), dtype=np.int64
            ))

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: lost marker sync")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(data):
            raise ValueError("jpeg: truncated marker segment")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            at = 0
            while at < len(body):
                pq_tq = body[at]
                if pq_tq >> 4:
                    raise ValueError("jpeg: 16-bit qtable unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(
                    body[at + 1 : at + 65], dtype=np.uint8
                )
                qtables[pq_tq & 0x0F] = tbl.reshape(8, 8)
                at += 65
        elif marker in (0xC0, 0xC2):
            if comps:
                # a second frame header would re-dimension the
                # coefficient grids under the scan loop (round-5 fuzz)
                raise ValueError("jpeg: multiple SOF frames")
            if len(body) < 6:
                raise ValueError("jpeg: truncated SOF header")
            _prec, hh, ww, ncomp = struct.unpack(">BHHB", body[:6])
            if ncomp not in (1, 3):
                raise ValueError("jpeg: 1 or 3 components only")
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("jpeg: truncated SOF header")
            check_pixels("jpeg", ww, hh)  # before the coefficient grids
            h, w = hh, ww
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                samp = body[7 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if ncomp == 1:
                    hi = vi = 1  # single-comp scans are never interleaved
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError("jpeg: sampling factors above 2x2")
                comps.append((cid, hi, vi, body[8 + 3 * ci]))
            _init_frame()
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: only SOF0/SOF2 supported")
        elif marker == 0xC4:
            at = 0
            while at < len(body):
                if at + 17 > len(body):
                    raise ValueError("jpeg: truncated DHT segment")
                tc_th = body[at]
                bits = list(body[at + 1 : at + 17])
                nv = sum(bits)
                vals = list(body[at + 17 : at + 17 + nv])
                tbl = _huff_decode_table(bits, vals)
                if tc_th >> 4:
                    ac_tables[tc_th & 0x0F] = tbl
                else:
                    dc_tables[tc_th & 0x0F] = tbl
                at += 17 + nv
        elif marker == 0xDA:
            if h is None:
                raise ValueError("jpeg: SOS before SOF")
            if not body:
                raise ValueError("jpeg: empty SOS header")
            ns = body[0]
            if not 1 <= ns <= 4:
                # T.81 B.2.3: 1 <= Ns <= 4. A corrupted Ns of 0 would
                # leave scan_comps empty and index-crash the
                # non-interleaved path (round-6 fuzz).
                raise ValueError("jpeg: invalid SOS component count")
            if len(body) < 4 + 2 * ns:
                raise ValueError("jpeg: truncated SOS header")
            scan_comps: list[tuple[int, dict | None, dict | None]] = []
            cid_index = {c[0]: i for i, c in enumerate(comps)}
            for si in range(ns):
                cid = body[1 + 2 * si]
                tda = body[2 + 2 * si]
                if cid not in cid_index:
                    raise ValueError("jpeg: SOS names unknown component")
                scan_comps.append(
                    (cid_index[cid], dc_tables.get(tda >> 4),
                     ac_tables.get(tda & 0x0F))
                )
            ss, se, a = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if ss > 63 or se > 63 or ah > 13 or al > 13:
                # T.81 limits; a corrupted Al would left-shift DC
                # predictions into unbounded ints (round-5 fuzz)
                raise ValueError("jpeg: invalid scan spectral params")
            ent_start = pos + 2 + seglen
            ent_end = _scan_end(data, ent_start)
            _run_scan(
                _BitReader(data[ent_start:ent_end]), scan_comps,
                comps, coefs, ss, se, ah, al, restart_interval,
                n_mcu_x, n_mcu_y, h, w, hmax, vmax,
            )
            saw_scan = True
            pos = ent_end
            continue
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("jpeg: truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        pos += 2 + seglen
    if not saw_scan or h is None:
        raise ValueError("jpeg: missing SOS/SOF")
    out_planes: list[np.ndarray] = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        qt = qtables.get(tq)
        if qt is None:
            raise ValueError("jpeg: missing tables")
        grid = coefs[ci]
        bh, bw_ = grid.shape[:2]
        blocks = (
            grid.reshape(bh * bw_, 8, 8).astype(np.float64)
            * qt[np.newaxis, :, :]
        )
        spatial = np.einsum("ux,nuv,vy->nxy", _C, blocks, _C) + 128.0
        plane = np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
        for bi in range(bh * bw_):
            by, bx = divmod(bi, bw_)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = spatial[bi]
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        plane = plane[:ch, :cw]
        if vi != vmax or hi != hmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return np.clip(
            np.round(out_planes[0]), 0, 255
        ).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _run_scan(br, scan_comps, comps, coefs, ss, se, ah, al,
              restart_interval, n_mcu_x, n_mcu_y, h, w, hmax,
              vmax) -> None:
    """Execute one entropy-coded scan into the coefficient grids."""
    for _ci, dct, act in scan_comps:
        # a DHT whose class/id byte was corrupted leaves a table unset
        if (ss == 0 and ah == 0 and dct is None) or (se > 0 and act is None):
            raise ValueError("jpeg: missing tables")
    interleaved = len(scan_comps) > 1
    dcpred = [0] * len(comps)
    eobrun = 0
    unit = rst = 0

    def _restart_check() -> None:
        nonlocal unit, rst, dcpred, eobrun
        if restart_interval and unit and unit % restart_interval == 0:
            br.sync_restart(rst)
            rst += 1
            dcpred = [0] * len(comps)
            eobrun = 0
        unit += 1

    if interleaved:
        for my in range(n_mcu_y):
            for mx in range(n_mcu_x):
                _restart_check()
                for ci, dct, act in scan_comps:
                    _cid, hi, vi, _tq = comps[ci]
                    for v in range(vi):
                        for u in range(hi):
                            cof = coefs[ci][my * vi + v, mx * hi + u]
                            if ah == 0:
                                dcpred[ci], eobrun = _coef_block_first(
                                    br, cof, dct, act, ss, se, al,
                                    dcpred[ci], eobrun,
                                )
                            else:
                                eobrun = _coef_block_refine(
                                    br, cof, act, ss, se, al, eobrun
                                )
    else:
        ci, dct, act = scan_comps[0]
        _cid, hi, vi, _tq = comps[ci]
        # non-interleaved scans cover the component's REAL block grid
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        bh, bw_ = (ch + 7) // 8, (cw + 7) // 8
        for by in range(bh):
            for bx in range(bw_):
                _restart_check()
                cof = coefs[ci][by, bx]
                if ah == 0:
                    dcpred[ci], eobrun = _coef_block_first(
                        br, cof, dct, act, ss, se, al, dcpred[ci],
                        eobrun,
                    )
                else:
                    eobrun = _coef_block_refine(
                        br, cof, act, ss, se, al, eobrun
                    )


__all__ = ["write_jpeg_gray", "write_jpeg_color", "decode_jpeg"]
