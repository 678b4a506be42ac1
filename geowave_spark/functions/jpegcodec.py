"""Dependency-free baseline JPEG (JFIF) codec in pure numpy.

Earlier rounds scoped JPEG out as "genuinely needs a library" — that was
too pessimistic.  Baseline sequential JFIF (ITU-T T.81) is an 8x8 DCT, a
quantizer, and canonical Huffman coding: plain math and bit-twiddling, all
of it in numpy + stdlib.  This module de-stubs the last image format the
synthetic corpus cares about, so :func:`imagecodec.decode_image` covers
BMP/PPM/PNG *and* JPEG with zero external dependencies.

Scope (stated honestly):

- **Encoder**: baseline DCT, 8-bit, YCbCr 4:4:4 or 4:2:0 (or grayscale),
  Annex-K quantization tables scaled by the libjpeg quality convention,
  Annex-K "typical" Huffman tables, optional restart markers.
  ``progressive=True`` emits an SOF2 stream with the libjpeg default scan
  script shape (interleaved DC first+refine, per-component spectral bands
  with one-bit-at-a-time successive approximation), exercising every
  Annex-G code path: EOB runs, ZRL folding, and buffered correction bits.
- **Decoder**: baseline sequential (SOF0/SOF1) and progressive (SOF2) —
  grayscale or YCbCr with any sampling factors in {1, 2} (4:4:4, 4:2:2,
  4:4:0, 4:2:0), multiple DQT/DHT segments (including between scans),
  byte stuffing, DRI/RSTn restart intervals in both modes, non-interleaved
  scans over true component block grids, spectral selection and
  successive approximation (DC and AC first + refinement scans).
  Arithmetic-coded (SOF9+) and hierarchical streams raise with the
  integration point documented (plug PIL/libav into
  :func:`geowave_spark.functions.imagecodec.decode_image`).
- JPEG is lossy: flat-color images (DC-only blocks) round-trip within ONE
  grey level at quality >= 85 (DC quantizer error q/16 in luma plus up to
  1.772x the chroma DC error through the inverse color transform — a
  channel on a .5 rounding boundary can flip by one, so per-color
  exactness is luck, not a theorem; hypothesis found the (0,0,1)@q70
  counterexample).  Representative colors at q90 round-trip exactly
  (pinned); smooth images are held to PSNR bounds.

Reference parity note: the reference's raster adapters lean on Java's
ImageIO for JPEG tiles (extensions/formats); this codec exists so the
Spark engine's media plumbing decodes the same payload family without a
JVM image library.  Fixture scale is small (tests use <= 32x32); the
per-block Huffman loops are Python, amortized per Arrow batch in
``mapInPandas`` like every other codec here.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# Annex K.1/K.2 quantization tables, natural (row-major) order.
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Zigzag scan: ZIGZAG[k] = natural (row-major) index of the k-th scanned
# coefficient (T.81 Figure 5).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.3 "typical" Huffman tables: (bits[1..16], values).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

def _prog_ac_table() -> tuple[list[int], list[int]]:
    """Fixed AC Huffman table for progressive scans.

    Annex-K "typical" AC tables define only baseline symbols (EOB, ZRL,
    run/size) and have exactly ONE free 16-bit leaf — no room for the 14
    EOBn symbols (0x10..0xE0) progressive end-of-band runs need.  This
    builds a complete-coverage canonical table: the 8 most frequent
    symbols at 4 bits, common run/size pairs + every EOBn at 8 bits, the
    long tail at 12 bits (Kraft sum 0.6875, all-ones codes unused).
    """
    tier1 = [0x00, 0x01, 0x02, 0x11, 0x10, 0x21, 0x03, 0x31]
    tier2 = [r << 4 for r in range(2, 15)] + [
        0xF0, 0x04, 0x05, 0x12, 0x13, 0x41, 0x51, 0x61, 0x22, 0x32,
        0x71, 0x81, 0x06, 0x14, 0x91, 0xA1, 0x07, 0x23, 0x42, 0xB1,
        0xC1, 0x15, 0x52, 0xD1, 0x33, 0x62, 0x24,
    ]
    valid = [(r << 4) | s for r in range(16) for s in range(1, 11)]
    valid += [r << 4 for r in range(15)] + [0xF0]
    seen = set(tier1) | set(tier2)
    tier3 = sorted(s for s in set(valid) if s not in seen)
    bits = [0] * 16
    bits[3] = len(tier1)
    bits[7] = len(tier2)
    bits[11] = len(tier3)
    return bits, tier1 + tier2 + tier3


_PROG_AC_BITS, _PROG_AC_VALS = _prog_ac_table()

# Orthonormal 8x8 DCT-II matrix: forward F = M @ b @ M.T, inverse M.T @ F @ M.
_M = np.array(
    [
        [
            (np.sqrt(1.0 / 8.0) if k == 0 else np.sqrt(2.0 / 8.0))
            * np.cos((2 * n + 1) * k * np.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality convention: 50 = Annex K verbatim."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C code assignment: symbol -> (code, length)."""
    if sum(bits) != len(vals):
        raise ValueError("Huffman BITS/HUFFVAL mismatch")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_lut(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """16-bit-peek decode LUT: lut_sym[peek16], lut_len[peek16]."""
    sym = np.full(1 << 16, -1, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.int8)
    for s, (code, length) in _canonical_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = lo + (1 << (16 - length))
        sym[lo:hi] = s
        ln[lo:hi] = length
    return sym, ln


# ------------------------------------------------------------- bit I/O


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad_to_byte(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


class _BitReader:
    """MSB-first reader over an already-unstuffed entropy segment."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        while self.n <= 16:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8

    def peek16(self) -> int:
        self._fill()
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def receive(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.skip(k)
        return v

    def huff(self, lut: tuple[np.ndarray, np.ndarray]) -> int:
        sym_t, len_t = lut
        p = self.peek16()
        s = int(sym_t[p])
        if s < 0:
            raise ValueError("invalid Huffman code in entropy stream")
        self.skip(int(len_t[p]))
        return s


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude -> signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value -> (category s, s appended bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


# ------------------------------------------------------------ color math


def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from geowave_spark.functions.colorspace import rgb_to_ycbcr_f

    ycc = rgb_to_ycbcr_f(rgb)  # unrounded planes feed the DCT directly
    return ycc[:, :, 0], ycc[:, :, 1], ycc[:, :, 2]


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    from geowave_spark.functions.colorspace import ycbcr_to_rgb_u8

    return ycbcr_to_rgb_u8(np.stack([y, cb, cr], axis=2))


def _plane_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate pad to (bh*8, bw*8), return (bh*bw, 8, 8) float64."""
    h, w = plane.shape
    padded = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    return (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(bh * bw, 8, 8)
    ).astype(np.float64)


def _blocks_to_plane(blocks: np.ndarray, bh: int, bw: int) -> np.ndarray:
    return blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


# --------------------------------------------------------------- encoder


def _true_block_dims(
    fh: int, fw: int, hv: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Per-component TRUE block grid (T.81 A.1.1): ceil(comp dims / 8).

    Non-interleaved scans code exactly this grid — NOT the MCU-padded grid
    interleaved scans cover — so encoder and decoder must agree on it.
    """
    hmax = max(h for h, _ in hv)
    vmax = max(v for _, v in hv)
    out = []
    for hc, vc in hv:
        comp_h = -(-fh * vc // vmax)
        comp_w = -(-fw * hc // hmax)
        out.append((-(-comp_h // 8), -(-comp_w // 8)))
    return out


def _mcu_units(
    scan_cis: list[int],
    hv: list[tuple[int, int]],
    mcus_x: int,
    mcus_y: int,
    tdims: list[tuple[int, int]],
):
    """Yield per-MCU lists of ``(ci, block_row, block_col)`` in T.81 order.

    A multi-component scan interleaves hc*vc blocks per component per MCU
    over the padded MCU grid; a single-component scan is non-interleaved
    (one data unit per MCU) over the component's true block grid.
    """
    if len(scan_cis) == 1:
        ci = scan_cis[0]
        tbh, tbw = tdims[ci]
        for b in range(tbh * tbw):
            yield [(ci, b // tbw, b % tbw)]
    else:
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            unit = []
            for ci in scan_cis:
                hc, vc = hv[ci]
                for i in range(vc):
                    for j in range(hc):
                        unit.append((ci, my * vc + i, mx * hc + j))
            yield unit


def _progressive_script(ncomp: int) -> list[tuple[list[int], int, int, int, int]]:
    """Scan script ``(comp_indices, Ss, Se, Ah, Al)`` — libjpeg default shape.

    DC first at Al=1 then refined to Al=0; luma AC split into two spectral
    bands at Al=2 with two one-bit refinement passes; chroma AC at Al=1
    with one refinement pass.  Every Annex-G coding mode is exercised.
    """
    if ncomp == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([1], 1, 63, 0, 1),
        ([2], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([2], 1, 63, 1, 0),
    ]


class _ACProgWriter:
    """Per-scan AC entropy state (T.81 G.1.2.2/G.1.2.3, jcphuff shape):
    an end-of-band run counter plus correction bits buffered until the
    next EOBn symbol is forced out."""

    def __init__(self, bwr: _BitWriter, act: dict[int, tuple[int, int]]) -> None:
        self.bwr = bwr
        self.act = act
        self.eobrun = 0
        self.pending: list[int] = []

    def _sym(self, s: int) -> None:
        code, ln = self.act[s]
        self.bwr.write(code, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self._sym(nbits << 4)
            if nbits:
                self.bwr.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            self.bwr.write(b, 1)
        self.pending = []

    def first_block(self, zz: np.ndarray, ss: int, se: int, al: int) -> None:
        """First scan of a band: code (sign * (|coef| >> Al)) with EOB runs."""
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            self.flush_eobrun()
            while r > 15:
                self._sym(0xF0)
                r -= 16
            s, bits_v = _magnitude(t if v > 0 else -t)
            self._sym((r << 4) | s)
            self.bwr.write(bits_v, s)
            r = 0
        if r:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()

    def refine_block(self, zz: np.ndarray, ss: int, se: int, al: int) -> None:
        """Refinement scan: newly-significant coefficients get (run, 1) codes
        with a sign bit; already-nonzero ones contribute correction bits that
        ride behind the next emitted symbol (or the next EOBn)."""
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob = -1
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        r = 0
        br: list[int] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                self.flush_eobrun()
                self._sym(0xF0)
                r -= 16
                for b in br:
                    self.bwr.write(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            self.flush_eobrun()
            self._sym((r << 4) | 1)
            self.bwr.write(1 if int(zz[ss + i]) > 0 else 0, 1)
            for b in br:
                self.bwr.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            self.eobrun += 1
            self.pending.extend(br)
            if self.eobrun == 0x7FFF or len(self.pending) > 937:
                self.flush_eobrun()


def _enc_prog_scan(
    scan_cis: list[int],
    ss: int,
    se: int,
    ah: int,
    al: int,
    comp_blocks: list[np.ndarray],
    hv: list[tuple[int, int]],
    mcus_x: int,
    mcus_y: int,
    tdims: list[tuple[int, int]],
    dc_codes: list[dict[int, tuple[int, int]]],
    ac_codes: list[dict[int, tuple[int, int]]],
    restart_interval: int,
) -> bytes:
    """Entropy-code one progressive scan; returns the stuffed byte stream."""
    bwr = _BitWriter()
    rst = 0
    if ss == 0:
        preds = [0] * len(hv)
        for m, unit in enumerate(_mcu_units(scan_cis, hv, mcus_x, mcus_y, tdims)):
            if restart_interval and m and m % restart_interval == 0:
                bwr.pad_to_byte()
                bwr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(hv)
            for ci, by, bx in unit:
                dc = int(comp_blocks[ci][by, bx][0])
                if ah == 0:
                    t = dc >> al
                    s, bits_v = _magnitude(t - preds[ci])
                    preds[ci] = t
                    code, ln = dc_codes[0 if ci == 0 else 1][s]
                    bwr.write(code, ln)
                    bwr.write(bits_v, s)
                else:
                    bwr.write((dc >> al) & 1, 1)
    else:
        (ci,) = scan_cis
        wr = _ACProgWriter(bwr, ac_codes[0 if ci == 0 else 1])
        for m, unit in enumerate(_mcu_units(scan_cis, hv, mcus_x, mcus_y, tdims)):
            if restart_interval and m and m % restart_interval == 0:
                wr.flush_eobrun()
                bwr.pad_to_byte()
                bwr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
            _, by, bx = unit[0]
            zz = comp_blocks[ci][by, bx][ZIGZAG]
            if ah == 0:
                wr.first_block(zz, ss, se, al)
            else:
                wr.refine_block(zz, ss, se, al)
        wr.flush_eobrun()
    bwr.pad_to_byte()
    return bytes(bwr.out)


def jpeg_bytes(
    rgb: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    grayscale: bool = False,
    progressive: bool = False,
    gps: tuple[float, float] | None = None,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a JFIF JPEG.

    ``gps=(lat, lon)`` embeds an EXIF APP1 segment with a GPS IFD (see
    :mod:`geowave_spark.functions.exif`) — geotagged fixtures for the
    media->geometry extraction path.

    ``subsample`` is ``"444"`` (no chroma subsampling) or ``"420"`` (2x2
    box-mean chroma).  ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs (per scan, in progressive mode).
    ``grayscale=True`` encodes a single-component stream from the luma
    plane.  ``progressive=True`` emits an SOF2 multi-scan stream (see
    :func:`_progressive_script`); the quantized coefficients are identical
    to the baseline stream's, so both decode to identical pixels.
    """
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    if subsample not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsample!r}")
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ql, qc = _quality_tables(quality)
    y, cb, cr = _rgb_to_ycbcr(rgb)

    if grayscale:
        comps = [(1, 1, 1, 0, y)]
    elif subsample == "444":
        comps = [(1, 1, 1, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]
    else:
        # 2x2 box mean on an edge-padded even grid
        ph, pw = h + (h & 1), w + (w & 1)
        pads = ((0, ph - h), (0, pw - w))
        cbs = np.pad(cb, pads, mode="edge").reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        crs = np.pad(cr, pads, mode="edge").reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        comps = [(1, 2, 2, 0, y), (2, 1, 1, 1, cbs), (3, 1, 1, 1, crs)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # Per-component: quantized coefficient blocks in (block_row, block_col) grids
    comp_blocks = []
    for _, hc, vc, tq, plane in comps:
        bw_, bh_ = mcus_x * hc, mcus_y * vc
        blocks = _plane_to_blocks(plane, bh_, bw_) - 128.0
        coef = np.einsum("ij,njk,kl->nil", _M, blocks, _M.T)
        q = (ql if tq == 0 else qc).reshape(8, 8)
        comp_blocks.append(np.round(coef / q).astype(np.int64).reshape(bh_, bw_, 64))

    dc_codes = [
        _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    if progressive:
        # EOBn symbols require the complete-coverage table (see _prog_ac_table)
        ac_bits_vals = [
            (_PROG_AC_BITS, _PROG_AC_VALS),
            (_PROG_AC_BITS, _PROG_AC_VALS),
        ]
    else:
        ac_bits_vals = [
            (_AC_LUMA_BITS, _AC_LUMA_VALS),
            (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    ac_codes = [_canonical_codes(b, v) for b, v in ac_bits_vals]

    out = bytearray()
    out += bytes([0xFF, 0xD8])  # SOI
    out += bytes([0xFF, 0xE0]) + struct.pack(
        ">H5sBBBHHBB", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0
    )
    if gps is not None:
        from geowave_spark.functions.exif import jpeg_app1_exif

        out += jpeg_app1_exif(*gps)
    for tq, tbl in ((0, ql), (1, qc)) if not grayscale else ((0, ql),):
        out += bytes([0xFF, 0xDB]) + struct.pack(">HB", 67, tq)
        out += bytes(int(x) for x in tbl[ZIGZAG])
    ncomp = len(comps)
    sof = 0xC2 if progressive else 0xC0
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid, hc, vc, tq, _ in comps:
        out += bytes([cid, (hc << 4) | vc, tq])
    huff_sets = [
        (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (1, 0) + ac_bits_vals[0],
    ]
    if not grayscale:
        huff_sets += [
            (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (1, 1) + ac_bits_vals[1],
        ]
    for tc, th, bits, vals in huff_sets:
        out += bytes([0xFF, 0xC4]) + struct.pack(">HB", 19 + len(vals), (tc << 4) | th)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += bytes([0xFF, 0xDD]) + struct.pack(">HH", 4, restart_interval)

    hv = [(hc, vc) for _, hc, vc, _, _ in comps]
    if progressive:
        tdims = _true_block_dims(h, w, hv)
        for scan_cis, ss, se, ah, al in _progressive_script(ncomp):
            out += bytes([0xFF, 0xDA]) + struct.pack(
                ">HB", 6 + 2 * len(scan_cis), len(scan_cis)
            )
            for ci in scan_cis:
                tid = 0 if ci == 0 else 1
                # AC scans reference only the AC table, DC scans only DC.
                out += bytes([comps[ci][0], (tid << 4) | tid])
            out += bytes([ss, se, (ah << 4) | al])
            out += _enc_prog_scan(
                scan_cis, ss, se, ah, al, comp_blocks, hv, mcus_x, mcus_y,
                tdims, dc_codes, ac_codes, restart_interval,
            )
        out += bytes([0xFF, 0xD9])  # EOI
        return bytes(out)

    bwr = _BitWriter()
    preds = [0] * len(comps)
    rst = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bwr.pad_to_byte()
                bwr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            for ci, (_, hc, vc, _, _) in enumerate(comps):
                tid = 0 if ci == 0 else 1
                dct, act = dc_codes[tid], ac_codes[tid]
                for i in range(vc):
                    for j in range(hc):
                        blk = comp_blocks[ci][my * vc + i, mx * hc + j]
                        zz = blk[ZIGZAG]
                        diff = int(zz[0]) - preds[ci]
                        preds[ci] = int(zz[0])
                        s, bits_v = _magnitude(diff)
                        code, ln = dct[s]
                        bwr.write(code, ln)
                        bwr.write(bits_v, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = act[0xF0]  # ZRL
                                bwr.write(code, ln)
                                run -= 16
                            s, bits_v = _magnitude(v)
                            code, ln = act[(run << 4) | s]
                            bwr.write(code, ln)
                            bwr.write(bits_v, s)
                            run = 0
                        if run:
                            code, ln = act[0x00]  # EOB
                            bwr.write(code, ln)
            mcu_count += 1
    bwr.pad_to_byte()

    out += bytes([0xFF, 0xDA]) + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        out += bytes([comps[ci][0], (tid << 4) | tid])
    out += bytes([0, 63, 0])  # Ss, Se, Ah/Al
    out += bwr.out
    out += bytes([0xFF, 0xD9])  # EOI
    return bytes(out)


# --------------------------------------------------------------- decoder


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Unstuff + split the entropy stream on RSTn; stop at any other marker."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        b2 = data[pos + 1]
        if b2 == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= b2 <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, pos


def _decode_scan_baseline(
    segments: list[bytes],
    scan: list[tuple[int, int, int]],
    comps: list[tuple[int, int, int, int]],
    coef: dict[int, np.ndarray],
    mcus_x: int,
    mcus_y: int,
    dc_luts: dict[int, tuple[np.ndarray, np.ndarray]],
    ac_luts: dict[int, tuple[np.ndarray, np.ndarray]],
    restart_interval: int,
) -> None:
    """Baseline sequential scan: full-band interleaved MCU decode."""
    seg_idx = 0
    br = _BitReader(segments[0])
    preds = [0] * len(comps)
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("truncated entropy stream at restart boundary")
            br = _BitReader(segments[seg_idx])
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, td, ta in scan:
            _, hc, vc, _ = comps[ci]
            dcl, acl = dc_luts[td], ac_luts[ta]
            for i in range(vc):
                for j in range(hc):
                    s = br.huff(dcl)
                    preds[ci] += _extend(br.receive(s), s)
                    blk = coef[ci][my * vc + i, mx * hc + j]
                    blk[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = br.huff(acl)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run past end of block")
                        blk[ZIGZAG[k]] = _extend(br.receive(s), s)
                        k += 1


def _ac_correction(br: _BitReader, blk: np.ndarray, k: int, p1: int) -> None:
    """Read one correction bit for an already-nonzero coefficient and, if
    set and the bit isn't already present, push the magnitude outward
    (T.81 G.1.2.3 / jdphuff refinement rule)."""
    c = int(blk[ZIGZAG[k]])
    if br.receive(1) and (abs(c) & p1) == 0:
        blk[ZIGZAG[k]] = c + (p1 if c >= 0 else -p1)


def _ac_first_block(
    br: _BitReader,
    acl: tuple[np.ndarray, np.ndarray],
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """First AC scan of a band for one block; returns the EOB-run balance."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.huff(acl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                return (1 << r) - 1 + br.receive(r)
            k += 16
            continue
        k += r
        if k > se:
            raise ValueError("AC run past end of band")
        blk[ZIGZAG[k]] = _extend(br.receive(s), s) << al
        k += 1
    return 0


def _ac_refine_block(
    br: _BitReader,
    acl: tuple[np.ndarray, np.ndarray],
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """AC refinement scan for one block; returns the EOB-run balance."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.huff(acl)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + br.receive(r)
                    break
                # ZRL: skip 16 zero-history positions (corrections en route)
            elif s == 1:
                val = p1 if br.receive(1) else -p1
            else:
                raise ValueError("invalid magnitude in AC refinement scan")
            while k <= se:
                if blk[ZIGZAG[k]] != 0:
                    _ac_correction(br, blk, k, p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[ZIGZAG[k]] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[ZIGZAG[k]] != 0:
                _ac_correction(br, blk, k, p1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan_progressive(
    segments: list[bytes],
    scan: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    comps: list[tuple[int, int, int, int]],
    coef: dict[int, np.ndarray],
    mcus_x: int,
    mcus_y: int,
    tdims: list[tuple[int, int]],
    dc_luts: dict[int, tuple[np.ndarray, np.ndarray]],
    ac_luts: dict[int, tuple[np.ndarray, np.ndarray]],
    restart_interval: int,
) -> None:
    """One progressive scan (T.81 Annex G): DC or a single-component AC
    band, first pass (Ah=0) or one successive-approximation refinement."""
    hv = [(hc, vc) for _, hc, vc, _ in comps]
    scan_cis = [ci for ci, _, _ in scan]
    seg_idx = 0
    br = _BitReader(segments[0])
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        tables = {ci: dc_luts[td] for ci, td, _ in scan}
        preds = [0] * len(comps)
        for m, unit in enumerate(_mcu_units(scan_cis, hv, mcus_x, mcus_y, tdims)):
            if restart_interval and m and m % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("truncated entropy stream at restart boundary")
                br = _BitReader(segments[seg_idx])
                preds = [0] * len(comps)
            for ci, by, bx in unit:
                blk = coef[ci][by, bx]
                if ah == 0:
                    s = br.huff(tables[ci])
                    preds[ci] += _extend(br.receive(s), s)
                    blk[0] = preds[ci] << al
                elif br.receive(1):
                    blk[0] = int(blk[0]) | (1 << al)
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scan must cover one component")
        (ci, _, ta) = scan[0]
        acl = ac_luts[ta]
        grid = coef[ci]
        tbh, tbw = tdims[ci]
        eobrun = 0
        step = _ac_first_block if ah == 0 else _ac_refine_block
        for b in range(tbh * tbw):
            if restart_interval and b and b % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("truncated entropy stream at restart boundary")
                br = _BitReader(segments[seg_idx])
                eobrun = 0
            eobrun = step(br, acl, grid[b // tbw, b % tbw], ss, se, al, eobrun)


def jpeg_decode(buf: bytes) -> np.ndarray:
    """Decode a baseline or progressive JFIF JPEG into (h, w, 3) uint8 RGB.

    Grayscale streams are replicated to 3 channels (same contract as PNG
    color type 0 in :mod:`geowave_spark.functions.imagecodec`).  Corrupt or
    truncated streams raise ValueError (the whole codec family's contract),
    never a bare KeyError/IndexError/struct.error.
    """
    try:
        return _jpeg_decode_impl(buf)
    except (KeyError, IndexError, struct.error) as e:
        # corrupt table ids / truncated segments surface as lookup and
        # bounds errors deep in the scan decoders; normalize at the boundary
        raise ValueError(f"corrupt JPEG stream: {type(e).__name__}: {e}") from None


def _jpeg_decode_impl(buf: bytes) -> np.ndarray:
    if len(buf) < 4 or buf[:2] != bytes([0xFF, 0xD8]):
        raise ValueError("not a JPEG payload")
    qtabs: dict[int, np.ndarray] = {}
    dc_luts: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    ac_luts: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    restart_interval = 0
    frame = None  # (h, w, [(cid, hc, vc, tq)])
    progressive = False
    coef: dict[int, np.ndarray] = {}
    geom = None  # (mcus_x, mcus_y, tdims)
    nscans = 0
    pos = 2
    n = len(buf)
    while pos < n:
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
            continue
        (seglen,) = struct.unpack_from(">H", buf, pos)
        body = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    raw = np.frombuffer(body, np.uint8, 64, i).astype(np.int64)
                    i += 64
                else:
                    raw = np.frombuffer(body, ">u2", 64, i).astype(np.int64)
                    i += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = raw  # DQT stores zigzag order
                qtabs[tq] = nat
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                i += 17 + nv
                (ac_luts if tc else dc_luts)[th] = _decode_lut(bits, vals)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            _, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if fh == 0 or fw == 0 or fh * fw > 100_000_000:
                # corrupt dims would drive a giant coefficient allocation
                raise ValueError(f"implausible JPEG dimensions {fw}x{fh}")
            comps = []
            for ci in range(ncomp):
                cid, hv_b, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hc, vc = hv_b >> 4, hv_b & 15
                if not (1 <= hc <= 2 and 1 <= vc <= 2):
                    raise ValueError(f"unsupported sampling factors {hc}x{vc}")
                comps.append((cid, hc, vc, tq))
            frame = (fh, fw, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-fw // (8 * hmax))
            mcus_y = -(-fh // (8 * vmax))
            tdims = _true_block_dims(fh, fw, [(hc, vc) for _, hc, vc, _ in comps])
            geom = (mcus_x, mcus_y, tdims)
            coef = {
                ci: np.zeros((mcus_y * vc, mcus_x * hc, 64), dtype=np.int64)
                for ci, (_, hc, vc, _) in enumerate(comps)
            }
            pos += seglen
            continue
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(f"unsupported JPEG frame type SOF{marker - 0xC0}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None or geom is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            cids = [c[0] for c in frame[2]]
            for si in range(ns):
                cid, tt = body[1 + 2 * si], body[2 + 2 * si]
                scan.append((cids.index(cid), tt >> 4, tt & 15))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            pos += seglen
            segments, pos = _split_entropy(buf, pos)
            mcus_x, mcus_y, tdims = geom
            if progressive:
                _decode_scan_progressive(
                    segments, scan, ss, se, ahal >> 4, ahal & 15,
                    frame[2], coef, mcus_x, mcus_y, tdims,
                    dc_luts, ac_luts, restart_interval,
                )
            else:
                if nscans:
                    raise ValueError("multi-scan baseline JPEG not supported")
                _decode_scan_baseline(
                    segments, scan, frame[2], coef, mcus_x, mcus_y,
                    dc_luts, ac_luts, restart_interval,
                )
            nscans += 1
            continue
        pos += seglen
    if frame is None or nscans == 0:
        raise ValueError("truncated JPEG: missing SOF/SOS")

    fh, fw, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x, mcus_y, _ = geom  # same grid scan decoding used

    planes = []
    for ci, (_, hc, vc, tq) in enumerate(comps):
        bh_, bw_ = mcus_y * vc, mcus_x * hc
        q = qtabs[tq].reshape(8, 8).astype(np.float64)
        blocks = coef[ci].reshape(-1, 8, 8).astype(np.float64) * q
        spatial = np.einsum("ij,njk,kl->nil", _M.T, blocks, _M) + 128.0
        plane = _blocks_to_plane(spatial, bh_, bw_)
        comp_h = -(-fh * vc // vmax)
        comp_w = -(-fw * hc // hmax)
        plane = plane[:comp_h, :comp_w]
        if vc < vmax:
            plane = np.repeat(plane, vmax // vc, axis=0)
        if hc < hmax:
            plane = np.repeat(plane, hmax // hc, axis=1)
        planes.append(plane[:fh, :fw])

    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.ascontiguousarray(np.repeat(g.reshape(fh, fw, 1), 3, axis=2))
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
