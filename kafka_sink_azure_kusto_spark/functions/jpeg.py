"""Pure-Python baseline JPEG codec (ITU-T T.81 / JFIF).

The multimodal family's real-corpus formats: BMP/PPM/WAV (round 2),
PNG (r11), and now JPEG — the dominant image format in LAION-style
corpora. No codec library ships in this environment, so baseline
sequential DCT JPEG is implemented from the public spec:

- **Decoder**: marker walk (DQT/SOF0/DHT/DRI/SOS), Huffman-coded MCU
  scan with byte unstuffing and restart-marker DC-predictor resets,
  run-length AC with EOB/ZRL, dequantize → de-zigzag → 8×8 IDCT
  (exact separable cosine matrix, float64), chroma upsampling for
  4:4:4 / 4:2:2 / 4:2:0 sampling factors (nearest/box replication),
  JFIF YCbCr→RGB. Progressive (SOF2), arithmetic coding, 12-bit
  precision, and >2 quant/huffman table slots per class reject loudly
  as ``MediaDecodeError``.
- **Encoder**: 4:4:4, Annex-K example quantization tables scaled by
  the libjpeg quality formula, the spec's "typical" Huffman tables
  (K.3.3), level shift → DCT → round-half-away quantize → zigzag →
  DC-differential + AC run-length Huffman, 0xFF byte stuffing.

JPEG is LOSSY, so unlike BMP/PPM/PNG/WAV it cannot join the
exact-value oracle gates (no SQL replays DCT round trips); the
contract here is unit-level: golden hand-assembled streams pin the
decoder (DC-only and single-AC blocks verified against an independent
naive O(N⁴) IDCT), encode→decode round trips bound max pixel error at
high quality, and every unsupported shape rejects loudly. The Spark
integration is the SAME decode-once dispatch (`decode_media_bytes`)
the other formats use — a JPEG blob flows through the multimodal
operators' decode / dHash / resize kernels untouched.
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np

from kafka_sink_azure_kusto_spark.functions.codecs import (
    DecodedMedia,
    MediaDecodeError,
)

# ------------------------------------------------------------ constants

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1/K.2 example quantization tables (natural order)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3.3 "typical" Huffman tables: (bits[1..16], values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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
)

# separable DCT basis: D[u, x] = 0.5 * C(u) * cos((2x+1)uπ/16)
_DCT = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _DCT[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _huff_codes(bits: Sequence[int], values: Sequence[int]) -> dict:
    """Canonical JPEG Huffman code assignment: value → (code, length)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_tree(bits: Sequence[int], values: Sequence[int]) -> dict:
    """(length, code) → value lookup for decoding."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality scaling of the Annex-K tables (public formula):
    scale = 5000/q for q<50 else 200−2q; entries clamped to 1..255."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q

    def scaled(base: np.ndarray) -> np.ndarray:
        t = (base * scale + 50) // 100
        return np.clip(t, 1, 255)

    return scaled(_QT_LUMA), scaled(_QT_CHROMA)


# --------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + the (category)-bit value bits."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _quantize_block(block: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """8×8 spatial block → zigzag-ordered quantized coefficients."""
    coef = _DCT @ (block - 128.0) @ _DCT.T
    # round half away from zero (the spec's quantizer intent; numpy's
    # bankers rounding would bias coefficients toward even)
    q = coef / qt.reshape(8, 8)
    quant = np.sign(q) * np.floor(np.abs(q) + 0.5)
    return quant.reshape(-1)[_ZIGZAG].astype(np.int64)


def _emit_quantized_block(
    w: _BitWriter, zz: np.ndarray,
    dc_codes: dict, ac_codes: dict, pred: int,
) -> int:
    dc = int(zz[0])
    cat, bits = _magnitude(dc - pred)
    code, ln = dc_codes[cat]
    w.write(code, ln)
    if cat:
        w.write(bits, cat)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i] != 0:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        cat, bits = _magnitude(v)
        code, ln = ac_codes[(run << 4) | cat]
        w.write(code, ln)
        w.write(bits, cat)
        run = 0
    if last_nz != 63:
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
    return dc


# Progressive AC table: uniform 8-bit canonical codes over every RS the
# refinement/EOBn machinery can emit — all (run, size 0..10) incl. the
# EOBn symbols 0x10..0xE0 baseline tables never contain. 176 symbols in
# 256 8-bit codes keeps the all-ones code unused (spec requirement).
_PROG_AC = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    [(r << 4) | s for r in range(16) for s in range(11)],
)


def _seg_bytes(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _point_shift(v: int, al: int) -> int:
    """AC point transform: magnitude shift preserving sign (T.81)."""
    return -((-v) >> al) if v < 0 else v >> al


def _emit_ac_first_scan(
    w: _BitWriter, grid: np.ndarray, ss: int, se: int, al: int, ac: dict
) -> None:
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            n = eobrun.bit_length() - 1
            code, ln = ac[n << 4]
            w.write(code, ln)
            if n:
                w.write(eobrun - (1 << n), n)
            eobrun = 0

    bly, blx = grid.shape[0], grid.shape[1]
    for by in range(bly):
        for bx in range(blx):
            band = [
                _point_shift(int(grid[by, bx, k]), al)
                for k in range(ss, se + 1)
            ]
            last_nz = -1
            for i in range(len(band) - 1, -1, -1):
                if band[i] != 0:
                    last_nz = i
                    break
            if last_nz < 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(last_nz + 1):
                v = band[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac[0xF0]
                    w.write(code, ln)
                    run -= 16
                cat, bits = _magnitude(v)
                code, ln = ac[(run << 4) | cat]
                w.write(code, ln)
                w.write(bits, cat)
                run = 0
            if last_nz != se - ss:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()


def _emit_ac_refine_scan(
    w: _BitWriter, grid: np.ndarray, ss: int, se: int, al: int, ac: dict
) -> None:
    """AC successive-approximation refinement (the jcphuff.c
    encode_mcu_AC_refine algorithm). TWO correction-bit buffers, as in
    libjpeg: ``br`` holds the CURRENT block's bits (emitted right after
    each ZRL / newly-significant symbol), ``be`` holds bits belonging
    to blocks folded into the pending EOB run (emitted with the EOBn
    symbol) — conflating them desyncs the decoder's tail-bit reads."""
    eobrun = 0
    be: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            n = eobrun.bit_length() - 1
            code, ln = ac[n << 4]
            w.write(code, ln)
            if n:
                w.write(eobrun - (1 << n), n)
            for bit in be:
                w.write(bit, 1)
            be.clear()
            eobrun = 0

    bly, blx = grid.shape[0], grid.shape[1]
    for by in range(bly):
        for bx in range(blx):
            absv = [
                abs(int(grid[by, bx, k])) >> al for k in range(ss, se + 1)
            ]
            eob = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i
            run = 0
            br: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                # the ZRL flush runs at EVERY nonzero position (old or
                # new) so each ZRL carries exactly the correction bits
                # of the positions it spans (jcphuff.c loop order)
                while run > 15 and i <= eob:
                    flush_eob()
                    code, ln = ac[0xF0]
                    w.write(code, ln)
                    run -= 16
                    for bit in br:
                        w.write(bit, 1)
                    br.clear()
                if t > 1:  # already significant: buffer a correction bit
                    br.append(t & 1)
                    continue
                # newly significant (t == 1)
                flush_eob()
                code, ln = ac[(run << 4) | 1]
                w.write(code, ln)
                w.write(1 if int(grid[by, bx, ss + i]) > 0 else 0, 1)
                for bit in br:
                    w.write(bit, 1)
                br.clear()
                run = 0
            if run > 0 or br:
                eobrun += 1
                be.extend(br)
                if eobrun == 0x7FFF or len(be) > 900:
                    flush_eob()
    flush_eob()


def _coef_grids(
    width: int, height: int, rgb, quality: int
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Shared encode front half: color transform, pad, DCT+quantize →
    per-component zigzag coefficient grids."""
    arr = np.asarray(rgb, dtype=np.float64).reshape(height, width, 3)
    if arr.size and (arr.min() < 0 or arr.max() > 255):
        raise ValueError("rgb values must be in 0..255")
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qly, qlc = quality_tables(quality)

    def pad8(p: np.ndarray) -> np.ndarray:
        ph = (8 - p.shape[0] % 8) % 8
        pw = (8 - p.shape[1] % 8) % 8
        return np.pad(p, ((0, ph), (0, pw)), mode="edge")

    grids = []
    for ci, plane in enumerate((pad8(y), pad8(cb), pad8(cr))):
        qt = qly if ci == 0 else qlc
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        grid = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                grid[by, bx] = _quantize_block(
                    plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8], qt
                )
        grids.append(grid)
    return grids, qly, qlc


def encode_jpeg(
    width: int,
    height: int,
    rgb: Sequence[int],
    quality: int = 90,
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """JFIF JPEG, 4:4:4 (no chroma subsampling), Annex-K tables at the
    given libjpeg-formula quality. ``rgb`` is row-major top-down
    RGB-interleaved. Deterministic byte-for-byte. ``progressive``
    emits SOF2 with a spectral-selection + successive-approximation
    progression (DC first/refine, split AC bands at Al=1, AC
    refinement passes) — the SAME quantized coefficients as the
    baseline form, losslessly rearranged, so the two decode
    identically."""
    if len(rgb) != 3 * width * height:
        raise ValueError("rgb length must be 3*width*height")
    grids, qly, qlc = _coef_grids(width, height, rgb, quality)
    seg = _seg_bytes

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(table[z]) for z in _ZIGZAG))

    def dht(cls: int, tid: int, bits, values) -> bytes:
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    sof_body = bytes([8]) + struct.pack(">HH", height, width) + bytes([
        3,
        1, 0x11, 0,   # Y: 1x1, qt 0
        2, 0x11, 1,   # Cb: 1x1, qt 1
        3, 0x11, 1,   # Cr
    ])
    head = b"\xff\xd8" + app0 + dqt(0, qly) + dqt(1, qlc)

    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval else b""
    )
    if not progressive:
        dc_l, ac_l = _huff_codes(*_DC_LUMA), _huff_codes(*_AC_LUMA)
        dc_c, ac_c = _huff_codes(*_DC_CHROMA), _huff_codes(*_AC_CHROMA)
        w = _BitWriter()
        preds = [0, 0, 0]
        scan_parts: list[bytes] = []
        mcu = 0
        rst = 0
        bh, bw = grids[0].shape[0], grids[0].shape[1]
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    # close the interval: pad, emit RSTn, reset preds
                    w.flush()
                    scan_parts.append(bytes(w.out))
                    scan_parts.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                    rst += 1
                    w = _BitWriter()
                    preds = [0, 0, 0]
                for ci in range(3):
                    zz = grids[ci][by, bx]
                    dcc = dc_l if ci == 0 else dc_c
                    acc = ac_l if ci == 0 else ac_c
                    preds[ci] = _emit_quantized_block(
                        w, zz, dcc, acc, preds[ci]
                    )
                mcu += 1
        w.flush()
        scan_parts.append(bytes(w.out))
        sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        return (
            head + seg(0xC0, sof_body)
            + dht(0, 0, *_DC_LUMA) + dht(1, 0, *_AC_LUMA)
            + dht(0, 1, *_DC_CHROMA) + dht(1, 1, *_AC_CHROMA)
            + dri + sos + b"".join(scan_parts) + b"\xff\xd9"
        )

    # progressive: SOF2 + the scan script
    dc_l = _huff_codes(*_DC_LUMA)
    dc_c = _huff_codes(*_DC_CHROMA)
    prog_ac = _huff_codes(*_PROG_AC)
    out = bytearray(head + seg(0xC2, sof_body))
    out += dht(0, 0, *_DC_LUMA) + dht(0, 1, *_DC_CHROMA)
    out += dht(1, 0, *_PROG_AC)

    def sos_hdr(comps_tt: list[tuple[int, int]], ss_, se_, ah_, al_) -> bytes:
        body = bytes([len(comps_tt)])
        for cid, tt in comps_tt:
            body += bytes([cid, tt])
        return seg(0xDA, body + bytes([ss_, se_, (ah_ << 4) | al_]))

    # scan 1: DC first, interleaved, Al=1
    w = _BitWriter()
    preds = [0, 0, 0]
    bh, bw = grids[0].shape[0], grids[0].shape[1]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                dcc = dc_l if ci == 0 else dc_c
                v = int(grids[ci][by, bx, 0]) >> 1  # arithmetic, Al=1
                cat, bits = _magnitude(v - preds[ci])
                code, ln = dcc[cat]
                w.write(code, ln)
                if cat:
                    w.write(bits, cat)
                preds[ci] = v
    w.flush()
    out += sos_hdr([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, 1) + bytes(w.out)
    # scans 2-5: AC first at Al=1 — luma split into two bands to
    # exercise spectral selection; chroma full-band
    for cid, ci, ss_, se_ in ((1, 0, 1, 5), (3, 2, 1, 63),
                              (2, 1, 1, 63), (1, 0, 6, 63)):
        w = _BitWriter()
        _emit_ac_first_scan(w, grids[ci], ss_, se_, 1, prog_ac)
        w.flush()
        out += sos_hdr([(cid, 0x00)], ss_, se_, 0, 1) + bytes(w.out)
    # scan 6: DC refinement (raw bits, no Huffman)
    w = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                w.write(int(grids[ci][by, bx, 0]) & 1, 1)
    w.flush()
    out += sos_hdr([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 1, 0) + bytes(w.out)
    # scans 7-9: AC refinement to full precision
    for cid, ci in ((1, 0), (2, 1), (3, 2)):
        w = _BitWriter()
        _emit_ac_refine_scan(w, grids[ci], 1, 63, 0, prog_ac)
        w.flush()
        out += sos_hdr([(cid, 0x00)], 1, 63, 1, 0) + bytes(w.out)
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------- decoder


class _BitReader:
    """Entropy-coded segment reader: unstuffs 0xFF00, surfaces RSTn."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise MediaDecodeError("JPEG entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                # a real marker mid-entropy-read means the MCU walk and
                # the stream disagree (restart markers are consumed at
                # MCU boundaries by align_restart, never here)
                raise MediaDecodeError(
                    f"JPEG unexpected marker 0xFF{nxt:02X} in scan"
                    if nxt is not None else "JPEG scan ends at bare 0xFF"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self, expect: int) -> None:
        """Discard pad bits and consume the RSTn marker at an MCU
        restart boundary."""
        self.nbits = 0  # discard pad bits
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                m = d[self.pos + 1]
                if 0xD0 <= m <= 0xD7:
                    if (m - 0xD0) != expect:
                        raise MediaDecodeError(
                            f"JPEG restart marker out of order: got "
                            f"{m - 0xD0}, want {expect}"
                        )
                    self.pos += 2
                    return
                raise MediaDecodeError(
                    f"JPEG expected RST{expect}, found 0xFF{m:02X}"
                )
            self.pos += 1
        raise MediaDecodeError("JPEG truncated before restart marker")


def _exif_orientation(tiff: bytes) -> int:
    """Pull tag 0x0112 (orientation) from an EXIF APP1 TIFF header
    (IFD0 only — where the spec places it). Returns 1 on anything
    malformed: orientation is a hint, a broken EXIF block must never
    fail an otherwise-valid decode."""
    try:
        if tiff[:2] == b"II":
            end = "<"
        elif tiff[:2] == b"MM":
            end = ">"
        else:
            return 1
        (magic,) = struct.unpack_from(end + "H", tiff, 2)
        if magic != 42:
            return 1
        (ifd0,) = struct.unpack_from(end + "I", tiff, 4)
        (n,) = struct.unpack_from(end + "H", tiff, ifd0)
        for i in range(n):
            off = ifd0 + 2 + 12 * i
            tag, typ, _cnt = struct.unpack_from(end + "HHI", tiff, off)
            if tag == 0x0112 and typ == 3:  # SHORT
                (val,) = struct.unpack_from(end + "H", tiff, off + 8)
                return val if 1 <= val <= 8 else 1
        return 1
    except (struct.error, IndexError):
        return 1


def _apply_orientation(px: np.ndarray, orientation: int) -> np.ndarray:
    """EXIF orientation 1-8 → upright raster (TIFF 6.0 table)."""
    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    if orientation == 5:
        return px.transpose(1, 0, 2)
    if orientation == 6:
        return px.transpose(1, 0, 2)[:, ::-1]
    if orientation == 7:
        return px.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return px.transpose(1, 0, 2)[::-1, :]
    return px


def _huff_decode(r: _BitReader, tree: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bit()
        v = tree.get((ln, code))
        if v is not None:
            return v
    raise MediaDecodeError("JPEG invalid Huffman code")


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def _prog_ac_first_block(r, coef, ac_tree, ss, se, al, eobrun: int) -> int:
    """One block of an AC spectral-selection FIRST scan (Ah=0)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, ac_tree)
        run, s = rs >> 4, rs & 0xF
        if s == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.bits(run)
            break
        k += run
        if k > se:
            raise MediaDecodeError("JPEG progressive AC run past band end")
        coef[k] = _extend(r.bits(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine_block(r, coef, ac_tree, ss, se, al, eobrun: int) -> int:
    """One block of an AC successive-approximation REFINEMENT scan
    (Ah=Al+1): correction bits for already-significant coefficients
    interleave with newly-significant ±2^Al insertions (T.81 G.1.2.3 /
    the jdphuff.c refinement algorithm)."""
    p1 = 1 << al
    m1 = -p1

    def correct(k_: int) -> None:
        c = int(coef[k_])
        if r.bit() and (c & p1) == 0:
            coef[k_] = c + (p1 if c >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(r, ac_tree)
            run, s = rs >> 4, rs & 0xF
            if s == 0:
                if run < 15:
                    # FULL count here (unlike the first-pass form): the
                    # tail clause below consumes this block's remaining
                    # correction bits and decrements (jdphuff.c)
                    eobrun = 1 << run
                    if run:
                        eobrun += r.bits(run)
                    break
                sval = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise MediaDecodeError(
                        "JPEG progressive AC refinement size != 1"
                    )
                sval = p1 if r.bit() else m1
            while k <= se:
                if int(coef[k]) != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if k <= se and sval != 0:
                coef[k] = sval
            k += 1
    if eobrun > 0:
        while k <= se:
            if int(coef[k]) != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(
    r, comps, hts, scan, ss, se, ah, al,
    restart, width, height, coef_store,
) -> None:
    """Decode one progressive SOS into the per-component coefficient
    store. Interleaved (multi-component, DC only per T.81) scans walk
    MCUs; single-component scans walk the component's OWN block grid
    in raster order. Restart intervals reset DC predictors and the
    EOB run."""
    # T.81 scan-header ranges: Ss 0..63, Se Ss..63. A corrupted Se
    # would otherwise index past the 64-entry zigzag store as a bare
    # IndexError (found by the r13 mutation property suite).
    if not 0 <= ss <= se <= 63:
        raise MediaDecodeError(
            f"JPEG scan spectral selection out of range (Ss={ss}, Se={se})"
        )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    idx_by_id = {c[0]: i for i, c in enumerate(comps)}
    sel = []
    for cs, td, ta in scan:
        if cs not in idx_by_id:
            raise MediaDecodeError(f"JPEG scan references unknown component {cs}")
        ci = idx_by_id[cs]
        if ss == 0:
            tree = hts.get((0, td))
            if ah == 0 and tree is None:
                raise MediaDecodeError("JPEG missing DC huffman table")
        else:
            tree = hts.get((1, ta))
            if tree is None:
                raise MediaDecodeError("JPEG missing AC huffman table")
        sel.append((ci, tree))
    if ss != 0 and len(sel) != 1:
        raise MediaDecodeError("JPEG progressive AC scan must be single-component")
    if ss == 0 and se != 0:
        raise MediaDecodeError("JPEG progressive DC scan must have Se=0")
    eobrun = 0
    preds = [0] * len(sel)
    rst_seq = 0
    unit = 0

    def maybe_restart() -> None:
        nonlocal eobrun, preds, rst_seq
        if restart and unit and unit % restart == 0:
            r.align_restart(rst_seq % 8)
            rst_seq += 1
            eobrun = 0
            preds = [0] * len(sel)

    def dc_block(si: int, coef) -> None:
        _, tree = sel[si]
        if ah == 0:
            cat = _huff_decode(r, tree)
            # T.81 8-bit: DC magnitude category is 0..11 — a corrupted
            # Huffman table can emit up to 255 here, which reads a
            # 255-bit diff and overflows the int64 store (found by the
            # r13 crash-freedom property suite)
            if cat > 11:
                raise MediaDecodeError(
                    f"JPEG DC magnitude category {cat} out of range"
                )
            diff = _extend(r.bits(cat), cat)
            preds[si] += diff
            coef[0] = preds[si] << al
        else:
            coef[0] = int(coef[0]) | (r.bit() << al)

    if ss == 0 and len(sel) > 1:
        # interleaved DC scan: MCU walk, h×v blocks per component
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for si, (ci, _tree) in enumerate(sel):
                    _, h, v, _ = comps[ci]
                    grid = coef_store[ci]
                    for bv in range(v):
                        for bh_ in range(h):
                            dc_block(si, grid[my * v + bv, mx * h + bh_])
                unit += 1
        return
    # non-interleaved scan (DC or AC): the component's own block raster
    ci, tree = sel[0]
    _, h, v, _ = comps[ci]
    comp_w = -(-(width * h) // hmax)
    comp_h = -(-(height * v) // vmax)
    bw = -(-comp_w // 8)
    bh = -(-comp_h // 8)
    grid = coef_store[ci]
    for by in range(bh):
        for bx in range(bw):
            maybe_restart()
            coef = grid[by, bx]
            if ss == 0:
                dc_block(0, coef)
            elif ah == 0:
                eobrun = _prog_ac_first_block(r, coef, tree, ss, se, al, eobrun)
            else:
                eobrun = _prog_ac_refine_block(r, coef, tree, ss, se, al, eobrun)
            unit += 1


def _skip_to_marker(data: bytes, pos: int) -> int:
    """Advance past entropy-coded data to the next REAL marker (not a
    stuffed 0xFF00, not a restart)."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    raise MediaDecodeError("JPEG truncated inside entropy data")


def decode_jpeg(data: bytes) -> DecodedMedia:
    """Decode a baseline sequential (SOF0/SOF1) or PROGRESSIVE (SOF2)
    JFIF/EXIF JPEG to top-down RGB samples. Supports 1- or 3-component
    frames, sampling factors up to 2×2 (4:4:4 / 4:2:2 / 4:2:0),
    restart intervals, multiple DQT/DHT segments (progressive streams
    legally redefine Huffman tables between scans), spectral-selection
    + successive-approximation progressive scans, and EXIF orientation.
    Arithmetic coding, 12-bit precision, lossless and hierarchical
    modes reject as MediaDecodeError."""
    if data[:2] != b"\xff\xd8":
        raise MediaDecodeError("not a JPEG payload")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    hts: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    restart = 0
    orientation = 1
    progressive = False
    scan = None
    # progressive state: per frame component, zigzag-ordered coefficient
    # grid (blocks_y, blocks_x, 64) at the MCU-padded geometry
    coef_store: list[np.ndarray] | None = None
    saw_eoi = False
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise MediaDecodeError(f"JPEG marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker in (0xC1,):  # extended sequential — same scan layout
            marker = 0xC0
        if marker == 0xC2:
            progressive = True
            marker = 0xC0  # frame header layout is identical
        if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                      0xCD, 0xCE, 0xCF):
            raise MediaDecodeError(
                f"unsupported JPEG SOF marker 0xFF{marker:02X} "
                "(baseline sequential and progressive only)"
            )
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4: pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise MediaDecodeError("JPEG segment truncated")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise MediaDecodeError("unsupported 16-bit JPEG DQT")
                tbl = np.zeros(64, dtype=np.int64)
                raw = body[i + 1: i + 65]
                if len(raw) != 64:
                    raise MediaDecodeError("JPEG DQT truncated")
                tbl[_ZIGZAG] = np.frombuffer(raw, dtype=np.uint8)
                qts[tq] = tbl
                i += 65
        elif marker == 0xC0:  # SOF0
            if len(body) < 6:
                raise MediaDecodeError("JPEG SOF segment truncated")
            prec = body[0]
            if prec != 8:
                raise MediaDecodeError(f"unsupported JPEG precision {prec}")
            height, width = struct.unpack_from(">HH", body, 1)
            n = body[5]
            # a corrupted component count would otherwise read past the
            # segment body as a bare IndexError (found by the r13
            # mutation property suite) — malformed input must always
            # surface as MediaDecodeError
            if n < 1 or len(body) < 6 + 3 * n:
                raise MediaDecodeError("JPEG SOF component list truncated")
            comps = []
            for c in range(n):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                # validate sampling factors AT THE FRAME HEADER so both
                # coding modes share the guard — the progressive path
                # consumed comps before the baseline scan-time check
                # and a corrupted hv byte reached the coefficient-store
                # geometry as a bare ZeroDivisionError (r13 self-review)
                if hv >> 4 not in (1, 2) or hv & 0xF not in (1, 2):
                    raise MediaDecodeError(
                        f"unsupported JPEG sampling factors "
                        f"{hv >> 4}x{hv & 0xF}"
                    )
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise MediaDecodeError("JPEG DHT truncated")
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1: i + 17])
                nv = sum(bits)
                values = list(body[i + 17: i + 17 + nv])
                if len(values) != nv:
                    raise MediaDecodeError("JPEG DHT truncated")
                hts[(cls, tid)] = _huff_tree(bits, values)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise MediaDecodeError("JPEG DRI segment truncated")
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            # full SOS body = Ns + 2 bytes/component + Ss, Se, AhAl —
            # a corrupted Ns must reject loudly, not IndexError (found
            # by the r13 mutation property suite on progressive scans)
            if len(body) < 1 or not 1 <= body[0] <= 4 \
                    or len(body) < 2 * body[0] + 4:
                raise MediaDecodeError("JPEG SOS segment truncated")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 0xF))
            pos = pos + 2 + seg_len
            if not progressive:
                break
            # progressive: decode THIS scan into the coefficient store,
            # then keep walking markers (more scans follow)
            if width is None:
                raise MediaDecodeError("JPEG SOS before SOF")
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            if coef_store is None:
                hmax0 = max(c[1] for c in comps)
                vmax0 = max(c[2] for c in comps)
                mx0 = (width + 8 * hmax0 - 1) // (8 * hmax0)
                my0 = (height + 8 * vmax0 - 1) // (8 * vmax0)
                coef_store = [
                    np.zeros((my0 * v, mx0 * h, 64), dtype=np.int64)
                    for _, h, v, _ in comps
                ]
            r = _BitReader(data, pos)
            _decode_prog_scan(
                r, comps, hts, scan, ss, se, ah, al,
                restart, width, height, coef_store,
            )
            pos = _skip_to_marker(data, r.pos)
            continue
        elif marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            orientation = _exif_orientation(body[6:])
        # other APPn / COM: skipped
        pos = pos + 2 + seg_len
    # the walk requires pos+4 for segment headers, but EOI is a bare
    # 2-byte marker — a valid stream ending exactly in EOI exits the
    # loop without entering it
    if not saw_eoi and pos + 2 <= len(data) \
            and data[pos:pos + 2] == b"\xff\xd9":
        saw_eoi = True
    if width is None or scan is None:
        raise MediaDecodeError("JPEG missing SOF or SOS")
    if width <= 0 or height <= 0:
        raise MediaDecodeError("non-positive JPEG dimensions")
    idct_t = _DCT.T
    if progressive:
        if coef_store is None:
            raise MediaDecodeError("JPEG progressive frame without scans")
        # a progressive stream truncated between two scans (or with its
        # EOI cut off) exits the marker walk with a PARTIAL coefficient
        # store — rendering it would silently serve a half-refined
        # image (found by the r13 truncation property suite)
        if not saw_eoi:
            raise MediaDecodeError("JPEG truncated before EOI")
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        planes = []
        plane_geom = [(h, v) for _, h, v, _ in comps]
        for ci, (cid, h, v, tq) in enumerate(comps):
            if tq not in qts:
                raise MediaDecodeError("JPEG missing quant table")
            qt = qts[tq]
            grid = coef_store[ci]
            bly, blx = grid.shape[0], grid.shape[1]
            plane = np.zeros((bly * 8, blx * 8), dtype=np.float64)
            for by in range(bly):
                for bx in range(blx):
                    blk = np.zeros(64, dtype=np.float64)
                    blk[_ZIGZAG] = grid[by, bx]
                    blk *= qt
                    plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                        idct_t @ blk.reshape(8, 8) @ _DCT + 128.0
                    )
            planes.append(plane)
        return _finish_decode(
            planes, plane_geom, hmax, vmax, width, height, orientation
        )
    by_id = {c[0]: c for c in comps}
    sc = []
    for cs, td, ta in scan:
        if cs not in by_id:
            raise MediaDecodeError(f"JPEG scan references unknown component {cs}")
        _, h, v, tq = by_id[cs]
        if h not in (1, 2) or v not in (1, 2):
            raise MediaDecodeError(
                f"unsupported JPEG sampling factors {h}x{v}"
            )
        if tq not in qts or (0, td) not in hts or (1, ta) not in hts:
            raise MediaDecodeError("JPEG missing quant/huffman table")
        sc.append((cs, h, v, qts[tq], hts[(0, td)], hts[(1, ta)]))
    hmax = max(c[1] for c in sc)
    vmax = max(c[2] for c in sc)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * v * 8, mcux * h * 8), dtype=np.float64)
        for _, h, v, _, _, _ in sc
    ]
    r = _BitReader(data, pos)
    preds = [0] * len(sc)
    mcu_count = 0
    rst_seq = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                r.align_restart(rst_seq % 8)
                rst_seq += 1
                preds = [0] * len(sc)
            for ci, (cs, h, v, qt, dct_tree, act_tree) in enumerate(sc):
                for bv in range(v):
                    for bh_ in range(h):
                        zz = np.zeros(64, dtype=np.int64)
                        cat = _huff_decode(r, dct_tree)
                        if cat > 11:
                            raise MediaDecodeError(
                                f"JPEG DC magnitude category {cat} "
                                "out of range"
                            )
                        diff = _extend(r.bits(cat), cat)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(r, act_tree)
                            run, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if run == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise MediaDecodeError(
                                    "JPEG AC run past block end"
                                )
                            zz[k] = _extend(r.bits(size), size)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        # zz is zigzag-ordered; qt natural-ordered —
                        # scatter FIRST, dequantize in natural order
                        blk[_ZIGZAG] = zz
                        blk *= qt
                        pix = idct_t @ blk.reshape(8, 8) @ _DCT + 128.0
                        y0 = (my * v + bv) * 8
                        x0 = (mx * h + bh_) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = pix
            mcu_count += 1
    # a stream with its EOI cut off decoded every MCU but is still a
    # truncated file — the stored image may continue in bytes we never
    # received (found by the r13 truncation property suite, baseline
    # edition of the progressive saw_eoi check). One marker IS
    # spec-legal between the first scan and EOI: DNL (0xFFDC, B.2.5
    # "define number of lines") — skip its 4-byte fixed segment before
    # requiring EOI (ADVICE r13 #1; anything else still rejects).
    mpos = _skip_to_marker(data, r.pos)
    if data[mpos + 1] == 0xDC:
        # spec fixes DNL's Lf to exactly 4 (2-byte length + 2-byte
        # NL), and EOI must follow the segment IMMEDIATELY — scanning
        # forward would tolerate garbage between DNL and EOI, undoing
        # the r13 hardening (r14 self-review)
        if mpos + 4 > len(data):
            raise MediaDecodeError("JPEG truncated inside DNL segment")
        seg_len = int.from_bytes(data[mpos + 2:mpos + 4], "big")
        if seg_len != 4:
            raise MediaDecodeError(
                f"JPEG DNL segment length {seg_len} (spec requires 4)"
            )
        if mpos + 8 > len(data):
            raise MediaDecodeError("JPEG truncated inside DNL segment")
        mpos = mpos + 2 + seg_len
        if data[mpos] != 0xFF:
            raise MediaDecodeError("JPEG expected marker after DNL")
    if data[mpos + 1] != 0xD9:
        raise MediaDecodeError(
            f"JPEG expected EOI after scan, found 0xFF{data[mpos + 1]:02X}"
        )
    return _finish_decode(
        planes, [(h, v) for _, h, v, _, _, _ in sc],
        hmax, vmax, width, height, orientation,
    )


def _finish_decode(
    planes: list[np.ndarray],
    plane_geom: list[tuple[int, int]],
    hmax: int,
    vmax: int,
    width: int,
    height: int,
    orientation: int,
) -> DecodedMedia:
    """Shared decode tail: chroma upsample → crop → color transform →
    EXIF orientation."""
    full = []
    for ci, (h, v) in enumerate(plane_geom):
        p = planes[ci]
        if h != hmax or v != vmax:
            p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)
        full.append(p[:height, :width])
    if len(full) == 1:
        yp = np.clip(np.round(full[0]), 0, 255).astype(np.int64)
        samples = np.repeat(yp.reshape(height, width, 1), 3, axis=2)
    elif len(full) == 3:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        rr = y + 1.402 * cr
        gg = y - 0.344136 * cb - 0.714136 * cr
        bb = y + 1.772 * cb
        out = np.stack([rr, gg, bb], axis=2)
        samples = np.clip(np.round(out), 0, 255).astype(np.int64)
    else:
        raise MediaDecodeError(f"unsupported JPEG component count {len(full)}")
    samples = _apply_orientation(samples, orientation)
    oh, ow = samples.shape[0], samples.shape[1]
    return DecodedMedia("jpeg", ow, oh, 0, np.ascontiguousarray(samples).reshape(-1))
