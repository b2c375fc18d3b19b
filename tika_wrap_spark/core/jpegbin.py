"""Baseline JPEG pixel codec — pure python, stdlib only.

The last compressed-image seam: a real baseline-sequential (SOF0, 8-bit)
JPEG decoder and a matching 4:4:4 encoder, implemented from the public
ITU-T T.81 spec (Annex F entropy coding, Annex K reference tables). The
reference's Tika reads image metadata via its parsers; this engine now
DECODES baseline JPEG pixels too, so the multimodal resize/embed kernels
run real pixel work on every image format the corpus carries.

Scope (declared): baseline sequential DCT (SOF0/1) AND progressive DCT
(SOF2: spectral selection + successive approximation, DC/AC first and
refinement scans, EOB runs), 8-bit, 1 or 3 components, 4:4:4 or
2x1/1x2/2x2 chroma subsampling, restart intervals. Arithmetic coding,
hierarchical, and 12-bit streams return None — the caller's stub path,
same contract as the other pixel codecs in core/media.py. The encoder
emits baseline or (``progressive=True``) a 10-scan successive-
approximation script over the SAME quantized coefficients, so
decode(progressive) == decode(baseline) pixel-exact for any input.

Everything is deterministic: the DCT/IDCT are fixed IEEE-double float
paths with explicit rounding, so decode(encode(rgb)) is stable across
runs and platforms (CPython floats are IEEE 754).
"""

from __future__ import annotations

import math
import struct

from tika_wrap_spark.core.media import MAX_PIXELS

# Annex K.1 luminance / K.2 chrominance quantization tables (quality ~50)
QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# zigzag order: index i of the scan -> natural position
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 typical Huffman tables: (bits[1..16], values)
HT_DC_LUMA = (
    [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
HT_AC_CHROMA = (
    [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# precomputed DCT basis: cos((2x+1) u pi / 16) with the 1/2 C(u) scale
_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def _fdct(block: list[float]) -> list[float]:
    """8x8 forward DCT (spec A.3.3), separable row-column form: 1D DCT on
    every row, then on every column — 8x fewer multiplies than the naive
    quadruple loop, identical IEEE result ordering per axis."""
    tmp = [0.0] * 64
    for y in range(8):
        row = y * 8
        for u in range(8):
            cu = _COS[u]
            s = 0.0
            for x in range(8):
                s += block[row + x] * cu[x]
            tmp[row + u] = 0.5 * _C[u] * s
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            cv = _COS[v]
            s = 0.0
            for y in range(8):
                s += tmp[y * 8 + u] * cv[y]
            out[v * 8 + u] = 0.5 * _C[v] * s
    return out


def _idct(coef: list[float]) -> list[float]:
    tmp = [0.0] * 64
    for v in range(8):
        row = v * 8
        for x in range(8):
            s = 0.0
            for u in range(8):
                s += _C[u] * coef[row + u] * _COS[u][x]
            tmp[row + x] = 0.5 * s
    out = [0.0] * 64
    for x in range(8):
        for y in range(8):
            s = 0.0
            for v in range(8):
                s += _C[v] * tmp[v * 8 + x] * _COS[v][y]
            out[y * 8 + x] = 0.5 * s
    return out


def _build_huff_encode(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical per spec Annex C."""
    table: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            table[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huff_decode(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for DC/AC value coding (spec F.1.2.1)."""
    if v == 0:
        return (0, 0)
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return (size, bits)


def _encode_block(
    w: _BitWriter,
    coefs: list[int],
    pred_dc: int,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    dc = coefs[0]
    size, bits = _magnitude(dc - pred_dc)
    c, ln = dc_tab[size]
    w.put(c, ln)
    if size:
        w.put(bits, size)
    run = 0
    for i in range(1, 64):
        v = coefs[ZIGZAG[i]]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_tab[0xF0]  # ZRL
            w.put(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = ac_tab[(run << 4) | size]
        w.put(c, ln)
        w.put(bits, size)
        run = 0
    if run:
        c, ln = ac_tab[0x00]  # EOB
        w.put(c, ln)
    return dc


def _quantized_blocks(width: int, height: int, rgb: bytes) -> list[list[list[int]]]:
    """RGB -> per-component quantized coefficient blocks (natural order),
    4:4:4 YCbCr, raster block order, edge-replicated to 8-multiples."""
    bw = (width + 7) // 8 * 8
    bh = (height + 7) // 8 * 8
    planes: list[list[float]] = [[0.0] * (bw * bh) for _ in range(3)]
    for y in range(bh):
        sy = min(y, height - 1)
        for x in range(bw):
            sx = min(x, width - 1)
            p = (sy * width + sx) * 3
            r, g, b = rgb[p], rgb[p + 1], rgb[p + 2]
            i = y * bw + x
            planes[0][i] = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
            planes[1][i] = -0.168736 * r - 0.331264 * g + 0.5 * b
            planes[2][i] = 0.5 * r - 0.418688 * g - 0.081312 * b
    out: list[list[list[int]]] = [[], [], []]
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            for comp in range(3):
                qt = QT_LUMA if comp == 0 else QT_CHROMA
                block = [
                    planes[comp][(by + yy) * bw + bx + xx]
                    for yy in range(8)
                    for xx in range(8)
                ]
                coefs = _fdct(block)
                out[comp].append([int(round(coefs[i] / qt[i])) for i in range(64)])
    return out


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _jpeg_headers(width: int, height: int, progressive: bool) -> bytes:
    app0 = _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = _seg(0xFFDB, b"\x00" + bytes(QT_LUMA[ZIGZAG[i]] for i in range(64)))
    dqt += _seg(0xFFDB, b"\x01" + bytes(QT_CHROMA[ZIGZAG[i]] for i in range(64)))
    sof = _seg(
        0xFFC2 if progressive else 0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )

    def dht(cls: int, tid: int, bits: list[int], values: list[int]) -> bytes:
        return _seg(
            0xFFC4,
            bytes([(cls << 4) | tid]) + bytes(bits[1:]) + bytes(values),
        )

    dhts = (
        dht(0, 0, *HT_DC_LUMA)
        + dht(1, 0, *HT_AC_LUMA)
        + dht(0, 1, *HT_DC_CHROMA)
        + dht(1, 1, *HT_AC_CHROMA)
    )
    return b"\xff\xd8" + app0 + dqt + sof + dhts


# libjpeg's standard 10-scan progressive script for 3 components:
# (component indices, Ss, Se, Ah, Al) — DC first w/ point transform, AC
# bands by spectral selection, then successive-approximation refinements
_PROG_SCRIPT: tuple[tuple[tuple[int, ...], int, int, int, int], ...] = (
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
)


def _enc_ac_first(
    w: _BitWriter,
    blk: list[int],
    ss: int,
    se: int,
    al: int,
    ac_tab: dict[int, tuple[int, int]],
) -> None:
    """AC first scan, one block (G.1.2.2). EOB runs are not accumulated
    across blocks (every EOB is a run of 1, symbol 0x00) so the Annex-K
    baseline tables — which carry no EOBn symbols — stay sufficient."""
    run = 0
    for k in range(ss, se + 1):
        v = blk[ZIGZAG[k]]
        mag = abs(v) >> al
        if mag == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_tab[0xF0]
            w.put(c, ln)
            run -= 16
        size, bits = _magnitude(mag if v >= 0 else -mag)
        c, ln = ac_tab[(run << 4) | size]
        w.put(c, ln)
        w.put(bits, size)
        run = 0
    if run:
        c, ln = ac_tab[0x00]
        w.put(c, ln)


def _enc_ac_refine(
    w: _BitWriter,
    blk: list[int],
    ss: int,
    se: int,
    al: int,
    ac_tab: dict[int, tuple[int, int]],
) -> None:
    """AC refinement scan, one block (G.1.2.3 / libjpeg
    encode_mcu_AC_refine with per-block EOB): newly-significant coefs emit
    (run<<4)|1 + sign, already-significant coefs buffer a correction bit
    that rides behind the NEXT emitted symbol (or the closing EOB)."""
    absv = [0] * (se + 1)
    eob = ss - 1  # position of the last newly-significant coefficient
    for k in range(ss, se + 1):
        t = abs(blk[ZIGZAG[k]]) >> al
        absv[k] = t
        if t == 1:
            eob = k
    run = 0
    pending: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            c, ln = ac_tab[0xF0]
            w.put(c, ln)
            run -= 16
            for b in pending:
                w.put(b, 1)
            pending = []
        if t > 1:  # significant before this scan: one correction bit
            pending.append(t & 1)
            continue
        c, ln = ac_tab[(run << 4) | 1]
        w.put(c, ln)
        w.put(1 if blk[ZIGZAG[k]] >= 0 else 0, 1)
        for b in pending:
            w.put(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        c, ln = ac_tab[0x00]  # EOB (run of 1)
        w.put(c, ln)
        for b in pending:
            w.put(b, 1)


def build_jpeg_pixels(
    width: int,
    height: int,
    rgb: bytes,
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode top-down RGB as a real JPEG: JFIF APP0, Annex-K quant +
    Huffman tables, 4:4:4 YCbCr. ``progressive=False`` -> SOF0, one
    interleaved scan; ``progressive=True`` -> SOF2 + the 10-scan
    successive-approximation script (same coefficients, so both forms
    decode to identical pixels). ``restart_interval`` (baseline only)
    emits a DRI segment and RSTn markers every N MCUs with DC-predictor
    resets, per spec B.2.4.4/E.2.4."""
    comps_blocks = _quantized_blocks(width, height, rgb)
    dc_tabs = [_build_huff_encode(*HT_DC_LUMA), _build_huff_encode(*HT_DC_CHROMA)]
    ac_tabs = [_build_huff_encode(*HT_AC_LUMA), _build_huff_encode(*HT_AC_CHROMA)]
    if not progressive:
        w = _BitWriter()
        pred = [0, 0, 0]
        rst = 0
        for bi in range(len(comps_blocks[0])):
            if restart_interval and bi and bi % restart_interval == 0:
                w.flush()
                w.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = [0, 0, 0]
            for comp in range(3):
                tid = 0 if comp == 0 else 1
                pred[comp] = _encode_block(
                    w,
                    comps_blocks[comp][bi],
                    pred[comp],
                    dc_tabs[tid],
                    ac_tabs[tid],
                )
        w.flush()
        dri = (
            _seg(0xFFDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        sos = _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        return (
            _jpeg_headers(width, height, False) + dri + sos + bytes(w.out) + b"\xff\xd9"
        )
    out = bytearray(_jpeg_headers(width, height, True))
    for comp_ids, ss, se, ah, al in _PROG_SCRIPT:
        hdr = bytes([len(comp_ids)])
        for ci in comp_ids:
            tid = 0 if ci == 0 else 1
            hdr += bytes([ci + 1, (tid << 4) | tid])
        hdr += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xFFDA, hdr)
        w = _BitWriter()
        if ss == 0 and ah == 0:  # DC first, interleaved
            pred = [0, 0, 0]
            for bi in range(len(comps_blocks[0])):
                for ci in comp_ids:
                    tid = 0 if ci == 0 else 1
                    v = comps_blocks[ci][bi][0] >> al
                    size, bits = _magnitude(v - pred[ci])
                    c, ln = dc_tabs[tid][size]
                    w.put(c, ln)
                    if size:
                        w.put(bits, size)
                    pred[ci] = v
        elif ss == 0:  # DC refine, interleaved
            for bi in range(len(comps_blocks[0])):
                for ci in comp_ids:
                    w.put((comps_blocks[ci][bi][0] >> al) & 1, 1)
        else:  # AC scans: single component by spec
            (ci,) = comp_ids
            tid = 0 if ci == 0 else 1
            for blk in comps_blocks[ci]:
                if ah == 0:
                    _enc_ac_first(w, blk, ss, se, al, ac_tabs[tid])
                else:
                    _enc_ac_refine(w, blk, ss, se, al, ac_tabs[tid])
        w.flush()
        out += bytes(w.out)
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """MSB-first entropy reader. 0xFF00 unstuffs to 0xFF; ANY other
    marker — including RSTn — stops the bit stream: scan loops resync
    restart intervals explicitly via ``restart()`` (which also resets the
    DC predictors / EOB run at the caller)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> bool:
        if self.pos < len(self.data):
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt != 0x00:
                    return False  # RST / EOI / another marker
                self.pos += 2
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8
            return True
        return False

    def bit(self) -> int | None:
        if self.n == 0 and not self._fill():
            return None
        self.n -= 1
        b = self.acc >> self.n
        self.acc &= (1 << self.n) - 1  # drop the bit read: acc stays < 1 byte
        return b

    def bits(self, k: int) -> int | None:
        v = 0
        for _ in range(k):
            b = self.bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def restart(self) -> bool:
        """Byte-align and consume the expected RSTn marker."""
        self.acc = 0
        self.n = 0
        d = self.data
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            return True
        return False


def _decode_huff(r: _BitReader, table: dict[tuple[int, int], int]) -> int | None:
    code = 0
    for length in range(1, 17):
        b = r.bit()
        if b is None:
            return None
        code = (code << 1) | b
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _entropy_end(data: bytes, start: int) -> int:
    """First offset at/after ``start`` holding a non-RST, non-stuffing
    marker (where a scan's entropy data ends)."""
    i = start
    n = len(data)
    while i < n:
        if data[i] == 0xFF and i + 1 < n:
            m = data[i + 1]
            if m != 0x00 and not (0xD0 <= m <= 0xD7):
                return i
            i += 2
        else:
            i += 1
    return n


def _parse_jpeg(data: bytes) -> dict | None:  # noqa: PLR0912
    """Marker walk -> frame header + table state + the full SCAN LIST
    (progressive streams carry many). Each scan snapshots the Huffman
    table dicts in force at its SOS (tables may be redefined between
    scans, spec B.2.4)."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    pos = 2
    qts: dict[int, list[int]] = {}
    dcs: dict[int, dict[tuple[int, int], int]] = {}
    acs: dict[int, dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, hs, vs, qt)
    width = height = 0
    progressive = False
    dri = 0
    scans: list[dict] = []
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(data):
            return None
        ln = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                prec = body[b] >> 4
                tid = body[b] & 0x0F
                if prec != 0:
                    return None  # 16-bit tables: out of scope
                raw = body[b + 1 : b + 65]
                qts[tid] = [0] * 64
                for i in range(64):
                    qts[tid][ZIGZAG[i]] = raw[i]
                b += 65
        elif marker in (0xC0, 0xC1, 0xC2):
            if body[0] != 8:
                return None
            progressive = marker == 0xC2
            height, width = struct.unpack_from(">HH", body, 1)
            n = body[5]
            comps = []
            for c in range(n):
                cid, hv, qt = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, qt))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # lossless / arithmetic / hierarchical
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                cls = body[b] >> 4
                tid = body[b] & 0x0F
                bits = [0] + list(body[b + 1 : b + 17])
                nval = sum(bits)
                values = list(body[b + 17 : b + 17 + nval])
                tab = _build_huff_decode(bits, values)
                (dcs if cls == 0 else acs)[tid] = tab
                b += 17 + nval
        elif marker == 0xDD:
            if len(body) < 2:
                return None
            dri = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:
            n = body[0]
            scomp = []
            for c in range(n):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                idx = next((i for i, cc in enumerate(comps) if cc[0] == cid), None)
                if idx is None:
                    return None
                scomp.append((idx, tabs >> 4, tabs & 0x0F))
            if len(body) < 4 + 2 * n:
                return None
            ss, se, ahal = body[1 + 2 * n], body[2 + 2 * n], body[3 + 2 * n]
            start = pos + 2 + ln
            end = _entropy_end(data, start)
            scans.append(
                {
                    "scomp": scomp,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0x0F,
                    "dcs": dict(dcs),
                    "acs": dict(acs),
                    "data": data[start:end],
                    "dri": dri,
                }
            )
            pos = end
            continue
        pos += 2 + ln
    if not scans or not comps or width == 0 or height == 0:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        return None
    return {
        "qts": qts,
        "comps": comps,
        "width": width,
        "height": height,
        "progressive": progressive,
        "scans": scans,
        "hmax": hmax,
        "vmax": vmax,
        "mcux": (width + 8 * hmax - 1) // (8 * hmax),
        "mcuy": (height + 8 * vmax - 1) // (8 * vmax),
    }


def _decode_block_seq(
    r: _BitReader,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    blk: list[int],
    pred: int,
) -> int | None:
    """Sequential full-block decode (DC diff + AC run-lengths) into a
    quantized-coefficient block; returns the updated DC predictor."""
    sym = _decode_huff(r, dc_tab)
    if sym is None:
        return None
    bits = r.bits(sym)
    if bits is None:
        return None
    pred += _extend(bits, sym)
    blk[0] = pred
    k = 1
    while k < 64:
        sym = _decode_huff(r, ac_tab)
        if sym is None:
            return None
        if sym == 0x00:
            break
        if sym == 0xF0:
            k += 16
            continue
        k += sym >> 4
        size = sym & 0x0F
        if k > 63:
            return None
        bits = r.bits(size)
        if bits is None:
            return None
        blk[ZIGZAG[k]] = _extend(bits, size)
        k += 1
    return pred


def _prog_ac_first(
    r: _BitReader,
    blk: list[int],
    ss: int,
    se: int,
    al: int,
    ac_tab: dict[tuple[int, int], int],
    state: dict,
) -> bool:
    """Progressive AC first scan, one block (spec G.1.2.2): band
    coefficients at successive-approximation level Al, EOB-run aware."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return True
    k = ss
    while k <= se:
        sym = _decode_huff(r, ac_tab)
        if sym is None:
            return False
        run = sym >> 4
        size = sym & 0x0F
        if size == 0:
            if run != 15:
                eob = (1 << run) - 1
                if run:
                    bits = r.bits(run)
                    if bits is None:
                        return False
                    eob += bits
                state["eobrun"] = eob
                break
            k += 16
            continue
        k += run
        if k > se:
            return False
        bits = r.bits(size)
        if bits is None:
            return False
        blk[ZIGZAG[k]] = _extend(bits, size) << al
        k += 1
    return True


def _prog_ac_refine(
    r: _BitReader,
    blk: list[int],
    ss: int,
    se: int,
    al: int,
    ac_tab: dict[tuple[int, int], int],
    state: dict,
) -> bool:
    """Progressive AC refinement scan, one block (spec G.1.2.3): one new
    magnitude bit for already-significant coefficients (correction bits),
    newly-significant coefficients arrive as ±(1<<Al). Python's bitwise
    ops on negative ints are two's-complement, so the C idiom
    ``(coef & p1) == 0`` carries over verbatim."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            sym = _decode_huff(r, ac_tab)
            if sym is None:
                return False
            run = sym >> 4
            size = sym & 0x0F
            val = 0
            if size == 0:
                if run != 15:
                    eob = 1 << run
                    if run:
                        bits = r.bits(run)
                        if bits is None:
                            return False
                        eob += bits
                    state["eobrun"] = eob
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if size != 1:
                    return False
                b = r.bit()
                if b is None:
                    return False
                val = p1 if b else m1
            while k <= se:
                z = ZIGZAG[k]
                if blk[z] != 0:
                    b = r.bit()
                    if b is None:
                        return False
                    if b and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= se:
                blk[ZIGZAG[k]] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                b = r.bit()
                if b is None:
                    return False
                if b and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        state["eobrun"] -= 1
    return True


def _comp_blocks(parsed: dict, ci: int) -> tuple[int, int]:
    """(columns, rows) of component ``ci``'s own block raster, unpadded:
    what a single-component scan walks (spec A.2.2)."""
    _, hs, vs, _ = parsed["comps"][ci]
    nbw = (-(-(parsed["width"] * hs) // parsed["hmax"]) + 7) // 8  # ceil(comp_w / 8)
    nbh = (-(-(parsed["height"] * vs) // parsed["vmax"]) + 7) // 8
    return nbw, nbh


def _scan_blocks(scan: dict, parsed: dict) -> int:
    """How many blocks one scan codes: the component's raster for a
    single-component scan, every MCU's blocks for an interleaved one."""
    scomp = scan["scomp"]
    if len(scomp) == 1:
        nbw, nbh = _comp_blocks(parsed, scomp[0][0])
        return nbw * nbh
    per_mcu = sum(parsed["comps"][ci][1] * parsed["comps"][ci][2] for ci, _, _ in scomp)
    return parsed["mcux"] * parsed["mcuy"] * per_mcu


def _decode_one_scan(  # noqa: PLR0912, PLR0915
    scan: dict, parsed: dict, coef: list[list[list[int]]]
) -> bool:
    """Run one scan's entropy data into the coefficient store. Handles
    interleaved MCU order (multi-component scans) and the component's own
    block raster (single-component scans, spec A.2.2), restart intervals,
    and all four progressive scan kinds."""
    comps = parsed["comps"]
    progressive = parsed["progressive"]
    mcux, mcuy = parsed["mcux"], parsed["mcuy"]
    scomp = scan["scomp"]
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    r = _BitReader(scan["data"])
    dri = scan["dri"]
    pred = {ci: 0 for ci, _, _ in scomp}
    state = {"eobrun": 0}
    if progressive and ss > 0 and len(scomp) != 1:
        return False  # AC scans are single-component by spec (G.1.1.1.1)

    def tables(ci: int, dct: int, act: int):
        dc_tab = scan["dcs"].get(dct)
        ac_tab = scan["acs"].get(act)
        return dc_tab, ac_tab

    def do_block(ci: int, dct: int, act: int, blk: list[int]) -> bool:
        dc_tab, ac_tab = tables(ci, dct, act)
        if progressive:
            if ss == 0:
                if ah == 0:  # DC first
                    if dc_tab is None:
                        return False
                    sym = _decode_huff(r, dc_tab)
                    if sym is None:
                        return False
                    bits = r.bits(sym)
                    if bits is None:
                        return False
                    pred[ci] += _extend(bits, sym)
                    blk[0] = pred[ci] << al
                    return True
                b = r.bit()  # DC refine
                if b is None:
                    return False
                if b:
                    blk[0] |= 1 << al
                return True
            if ac_tab is None:
                return False
            if ah == 0:
                return _prog_ac_first(r, blk, ss, se, al, ac_tab, state)
            return _prog_ac_refine(r, blk, ss, se, al, ac_tab, state)
        if dc_tab is None or ac_tab is None:
            return False
        p = _decode_block_seq(r, dc_tab, ac_tab, blk, pred[ci])
        if p is None:
            return False
        pred[ci] = p
        return True

    def resync() -> bool:
        if not r.restart():
            return False
        for ci in pred:
            pred[ci] = 0
        state["eobrun"] = 0
        return True

    if len(scomp) == 1:
        ci, dct, act = scomp[0]
        bw = mcux * comps[ci][1]  # padded store row width (blocks)
        nbw, nbh = _comp_blocks(parsed, ci)
        n = 0
        for by in range(nbh):
            for bx in range(nbw):
                if dri and n and n % dri == 0 and not resync():
                    return False
                if not do_block(ci, dct, act, coef[ci][by * bw + bx]):
                    return False
                n += 1
        return True
    n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n and n % dri == 0 and not resync():
                return False
            for ci, dct, act in scomp:
                _, hs, vs, _ = comps[ci]
                bw = mcux * hs
                for by in range(vs):
                    for bx in range(hs):
                        idx = (my * vs + by) * bw + mx * hs + bx
                        if not do_block(ci, dct, act, coef[ci][idx]):
                            return False
            n += 1
    return True


def jpeg_pixels(data: bytes) -> tuple[int, int, bytes] | None:  # noqa: PLR0912
    """Decode a baseline-sequential OR progressive JPEG to (w, h,
    top-down rgb). Supports 1/3 components, 4:4:4 and 2x-subsampled
    chroma, restart intervals, multi-scan progressive streams (spectral
    selection + successive approximation). None for arithmetic/
    hierarchical/12-bit or malformed streams."""
    parsed = _parse_jpeg(data)
    if parsed is None:
        return None
    comps = parsed["comps"]
    qts = parsed["qts"]
    width, height = parsed["width"], parsed["height"]
    if width * height > MAX_PIXELS:
        return None
    # A sequential scan or a progressive DC scan (Ss = 0) reads at least one
    # Huffman bit per block it covers, so one covering more than 8 blocks
    # per entropy-coded byte runs dry and cannot decode: refuse it before
    # sizing the coefficient store from the SOF (a 633-byte file declaring
    # 4700x4700 would otherwise allocate ~600 MB of blocks first).
    if any(s["ss"] == 0 and _scan_blocks(s, parsed) > 8 * len(s["data"]) for s in parsed["scans"]):
        return None
    hmax, vmax = parsed["hmax"], parsed["vmax"]
    mcux, mcuy = parsed["mcux"], parsed["mcuy"]
    # per-component quantized-coefficient stores at MCU-padded block size
    coef: list[list[list[int]]] = []
    for _, hs, vs, _ in comps:
        coef.append([[0] * 64 for _ in range(mcux * hs * mcuy * vs)])
    for scan in parsed["scans"]:
        if not _decode_one_scan(scan, parsed, coef):
            return None
    # dequantize + IDCT into per-component pixel planes
    pw = [mcux * 8 * c[1] for c in comps]
    planes: list[bytearray] = []
    for i, (_, hs, vs, qtid) in enumerate(comps):
        qt = qts.get(qtid)
        if qt is None:
            return None
        plane = bytearray(pw[i] * mcuy * 8 * vs)
        rowlen = pw[i]
        bw = mcux * hs
        for bidx, blk in enumerate(coef[i]):
            pix = _idct([blk[j] * qt[j] for j in range(64)])
            px0 = (bidx % bw) * 8
            py0 = (bidx // bw) * 8
            for yy in range(8):
                base = (py0 + yy) * rowlen + px0
                for xx in range(8):
                    v = int(round(pix[yy * 8 + xx])) + 128
                    plane[base + xx] = 0 if v < 0 else (255 if v > 255 else v)
        planes.append(plane)
    # upsample + color convert
    out = bytearray(width * height * 3)
    if len(comps) == 1:
        for y in range(height):
            for x in range(width):
                g = planes[0][y * pw[0] + x]
                p = (y * width + x) * 3
                out[p] = out[p + 1] = out[p + 2] = g
        return (width, height, bytes(out))
    if len(comps) != 3:
        return None
    for y in range(height):
        for x in range(width):
            yv = planes[0][(y * comps[0][2] // vmax) * pw[0] + (x * comps[0][1] // hmax)]
            cb = planes[1][(y * comps[1][2] // vmax) * pw[1] + (x * comps[1][1] // hmax)] - 128
            cr = planes[2][(y * comps[2][2] // vmax) * pw[2] + (x * comps[2][1] // hmax)] - 128
            rr = int(round(yv + 1.402 * cr))
            gg = int(round(yv - 0.344136 * cb - 0.714136 * cr))
            bb = int(round(yv + 1.772 * cb))
            p = (y * width + x) * 3
            out[p] = 0 if rr < 0 else (255 if rr > 255 else rr)
            out[p + 1] = 0 if gg < 0 else (255 if gg > 255 else gg)
            out[p + 2] = 0 if bb < 0 else (255 if bb > 255 else bb)
    return (width, height, bytes(out))
