"""Minimal pure-Python baseline JPEG codec (stdlib ``struct`` for framing,
numpy for the 8x8 block transforms).

Moves the image tier beyond PNG's lossless niche (round-5 verdict, next
item 8): JPEG is the first LOSSY container in the multimodal path, and its
decode chain — marker parse, Huffman entropy decode, dequantize, zigzag,
IDCT, chroma upsample, YCbCr→RGB — is the real shape of production image
ingestion. Implements the PUBLIC baseline-sequential process of ITU-T T.81
(ISO/IEC 10918-1): SOI/APP0/DQT/SOF0/DHT/SOS/DRI/RSTn/EOI markers, 8-bit
samples, Huffman coding with the Annex K typical tables, interleaved MCUs
with arbitrary sampling factors (4:4:4, 4:2:0, 4:2:2, grayscale tested) —
PLUS the PROGRESSIVE process (SOF2, T.81 Annex G; round-11 verdict item
5): multi-scan decode with spectral selection and successive
approximation (DC first/refine, AC first with EOBRUN, AC refinement with
correction bits), and a progressive encoder driving the libjpeg-style
scan script with per-scan frequency-optimal Huffman tables (Annex K.2
construction). Progressive transmits the SAME quantized coefficients as
baseline, only reordered — so progressive decode is bit-identical to the
baseline roundtrip, which is the pytest pin.

Scope still excludes: arithmetic coding, 12-bit, hierarchical (SOF3+),
ICC, and restart intervals inside progressive scans. That covers every
fixture this repo synthesizes; libjpeg-turbo/Pillow would replace
``decode_jpeg`` inside the same per-row functions that
``operators/multimodal.py:map_rows`` runs.

Determinism contract (what the DuckDB oracle leans on): all roundings are
``floor(x + 0.5)`` — color conversion both ways, quantization, and the
final IDCT sample rounding. With the FLAT (all-ones) quantization tables a
CONSTANT-color image round-trips bit-exactly: a constant 8x8 block's FDCT
is DC-only (DC = 8·(c−128) ± ~1e-13, so the rounded integer is exact),
quantization by 1 preserves it, and the IDCT of a DC-only spectrum is the
constant back — so the decoded RGB of a constant image is a pure scalar
function of the input RGB that a SQL oracle replays with the same two
color-transform formulas. Gradient images round-trip within a small bound
(coefficient rounding only) — pinned by test, not oracle-matched.

Pure-Python entropy coding is the slow path — acceptable because it runs
inside Arrow-batched ``mapInPandas`` exactly where libjpeg would, so
swapping implementations changes zero plumbing. The DCTs are numpy matrix
products (vectorized across all blocks at once), not per-pixel Python.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K — the "typical" quantization + Huffman tables)
# --------------------------------------------------------------------------

#: zigzag position -> row-major index (T.81 Figure 5)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K Table K.1 (luminance) / K.2 (chrominance), row-major
QUANT_LUMA_K1 = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA_K2 = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]
#: all-ones tables: maximal-fidelity mode where roundtrip error comes from
#: coefficient rounding alone (and is ZERO for constant-color images)
QUANT_FLAT = [1] * 64

# Huffman table specs: (BITS[1..16], HUFFVAL). Annex K Tables K.3-K.6.
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment per T.81 C.2."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_tables(bits: list[int], vals: list[int]):
    """(mincode, maxcode, valptr) per code length — T.81 F.2.2.3 DECODE."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        if bits[length - 1]:
            valptr[length] = k
            mincode[length] = code
            code += bits[length - 1]
            k += bits[length - 1]
            maxcode[length] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, vals


# --------------------------------------------------------------------------
# Block transform: 2-D DCT as C · X · Cᵀ with the orthonormal 8x8 basis,
# vectorized over every block of a component at once.
# --------------------------------------------------------------------------

def _dct_matrix() -> np.ndarray:
    c = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            cu = (1 / np.sqrt(2)) if u == 0 else 1.0
            c[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _dct_matrix()
_CT = _C.T


def fdct(blocks: np.ndarray) -> np.ndarray:
    """Forward DCT of (n, 8, 8) level-shifted samples → float coefficients."""
    return _C @ blocks @ _CT


def idct(blocks: np.ndarray) -> np.ndarray:
    """Inverse DCT of (n, 8, 8) coefficients → float samples (pre-shift)."""
    return _CT @ blocks @ _C


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5) — the single rounding rule the oracle replays."""
    return np.floor(x + 0.5)


# --------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full range), floor(x+0.5) rounding
# --------------------------------------------------------------------------

def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Bit I/O with 0xFF byte stuffing
# --------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # stuff per B.1.1.5
                self.buf.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per F.1.2.3


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def _fill(self) -> None:
        byte = self.data[self.pos]
        if byte == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RST handled by caller; pad with 1s
                self._acc = (self._acc << 8) | 0xFF
                self._nbits += 8
                return
            else:  # segment end (EOI etc.): pad with 1s, don't consume
                self._acc = (self._acc << 8) | 0xFF
                self._nbits += 8
                return
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | byte
        self._nbits += 8

    def bits(self, n: int) -> int:
        while self._nbits < n:
            self._fill()
        self._nbits -= n
        v = (self._acc >> self._nbits) & ((1 << n) - 1)
        self._acc &= (1 << self._nbits) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)

    def align_to_rst(self) -> None:
        """Drop buffered bits and consume an RSTn marker."""
        self._acc = 0
        self._nbits = 0
        while self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        self.pos += 2


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size``-bit magnitude to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (size SSSS, raw bits) for encoding."""
    size = abs(v).bit_length()
    if v < 0:
        v += (1 << size) - 1
    return size, v


def _build_huffman_spec(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Optimal length-limited Huffman table from symbol frequencies — the
    T.81 Annex K.2 procedure (CODE_SIZE via pairwise merge with the
    reserved symbol 256 guaranteeing the all-ones code is never assigned,
    COUNT_BITS, ADJUST_BITS to the 16-bit limit, SORT_INPUT). Progressive
    scans emit EOBn / correction symbols the fixed Annex-K tables don't
    define, so each scan carries its own frequency-built tables (the
    libjpeg "optimize" path)."""
    freq = [0] * 257
    for s, f in freqs.items():
        freq[s] = f
    freq[256] = 1  # reserved: soaks up the all-ones code
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        v1 = min(
            (v for v in range(257) if freq[v] > 0),
            key=lambda v: (freq[v], -v),
        )
        rest = [v for v in range(257) if freq[v] > 0 and v != v1]
        if not rest:
            break
        v2 = min(rest, key=lambda v: (freq[v], -v))
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for v in range(257):
        if codesize[v]:
            bits[codesize[v]] += 1
    i = 32
    while i > 16:  # ADJUST_BITS
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved symbol's (longest) code
    huffval = [
        v
        for cs in range(1, 17)
        for v in sorted(s for s in range(256) if codesize[s] == cs)
    ]
    return bits[1:17], huffval


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------

def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) uint8 plane (H, W multiples of 8) -> (n, 8, 8) float blocks
    in MCU-free raster block order (row of blocks at a time)."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
    )


def _pad_edge(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate to multiples of (mh, mw) — keeps constant images
    constant, so flat-table exactness survives non-multiple geometry."""
    h, w = plane.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


#: libjpeg-style progressive scan script (jcparam.c "simple" script, a
#: public reference shape): DC with one point-transform bit held back,
#: spectral bands per component, then AC refinement passes, DC refinement
#: last-but-one. Exercises every progressive decode path: interleaved DC
#: first/refine, AC first with EOBRUN, AC refine with correction bits.
def _progressive_scan_script(ncomp: int) -> list[tuple[tuple[int, ...], int, int, int, int]]:
    if ncomp == 1:
        return [
            ((0,), 0, 0, 0, 1),
            ((0,), 1, 5, 0, 2),
            ((0,), 6, 63, 0, 2),
            ((0,), 1, 63, 2, 1),
            ((0,), 0, 0, 1, 0),
            ((0,), 1, 63, 1, 0),
        ]
    return [
        ((0, 1, 2), 0, 0, 0, 1),
        ((0,), 1, 5, 0, 2),
        ((1,), 1, 63, 0, 1),
        ((2,), 1, 63, 0, 1),
        ((0,), 6, 63, 0, 2),
        ((0,), 1, 63, 2, 1),
        ((0, 1, 2), 0, 0, 1, 0),
        ((1,), 1, 63, 1, 0),
        ((2,), 1, 63, 1, 0),
        ((0,), 1, 63, 1, 0),
    ]


def _nonpadded_grid(width: int, height: int, h: int, v: int, hmax: int, vmax: int) -> tuple[int, int]:
    """Single-component (non-interleaved) scan block grid per T.81 A.1.1 /
    A.2.2: ceil over the component's own sample dimensions, NOT the
    MCU-padded grid (for subsampled luma they differ by up to one block
    column/row; padding blocks are simply never transmitted in AC scans)."""
    comp_w = -(-width * h // hmax)
    comp_h = -(-height * v // vmax)
    return -(-comp_w // 8), -(-comp_h // 8)


def _ops_dc_first(ops, scan_comps, comps, quantized, pbws, grids, mcus_x, mcus_y, al):
    pred = {ci: 0 for ci in scan_comps}

    def emit(ci, blk, tid):
        v = int(blk[0]) >> al  # arithmetic shift per G.1.2.1
        diff = v - pred[ci]
        pred[ci] = v
        size, bits_ = _magnitude(diff)
        ops.append(("s", tid, size))
        if size:
            ops.append(("b", bits_, size))

    if len(scan_comps) > 1:  # interleaved MCU walk (padded grid)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in scan_comps:
                    _cid, (h, v), _qi = comps[ci]
                    for by in range(v):
                        for bx in range(h):
                            bi = (my * v + by) * pbws[ci] + (mx * h + bx)
                            emit(ci, quantized[ci][bi], 0 if ci == 0 else 1)
    else:
        ci = scan_comps[0]
        nbw, nbh = grids[ci]
        for by in range(nbh):
            for bx in range(nbw):
                emit(ci, quantized[ci][by * pbws[ci] + bx], 0)


def _ops_dc_refine(ops, scan_comps, comps, quantized, pbws, grids, mcus_x, mcus_y, al):
    def emit(blk):
        ops.append(("b", (int(blk[0]) >> al) & 1, 1))

    if len(scan_comps) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in scan_comps:
                    _cid, (h, v), _qi = comps[ci]
                    for by in range(v):
                        for bx in range(h):
                            emit(quantized[ci][(my * v + by) * pbws[ci] + (mx * h + bx)])
    else:
        ci = scan_comps[0]
        nbw, nbh = grids[ci]
        for by in range(nbh):
            for bx in range(nbw):
                emit(quantized[ci][by * pbws[ci] + bx])


def _ops_ac_first(ops, qrows, pbw, grid, ss, se, al):
    nbw, nbh = grid
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            ops.append(("s", 0, n << 4))
            if n:
                ops.append(("b", eobrun - (1 << n), n))
            eobrun = 0

    for by in range(nbh):
        for bx in range(nbw):
            blk = qrows[by * pbw + bx]
            run = 0
            for k in range(ss, se + 1):
                c = int(blk[k])
                av = abs(c) >> al  # magnitude shift per G.1.2.2
                if av == 0:
                    run += 1
                    continue
                flush_eob()
                while run > 15:
                    ops.append(("s", 0, 0xF0))
                    run -= 16
                size, bits_ = _magnitude(av if c > 0 else -av)
                ops.append(("s", 0, (run << 4) | size))
                ops.append(("b", bits_, size))
                run = 0
            if run:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()


def _ops_ac_refine(ops, qrows, pbw, grid, ss, se, al):
    """T.81 G.1.2.3 AC successive-approximation refinement (the jcphuff.c
    shape): newly-significant coefficients emit (run, 1) + sign, history
    coefficients contribute correction bits buffered behind the next
    emitted symbol (or the EOB run that folds them)."""
    nbw, nbh = grid
    eobrun = 0
    gbuf: list[int] = []  # correction bits owned by the pending EOB run

    def flush_eob():
        nonlocal eobrun, gbuf
        if eobrun:
            n = eobrun.bit_length() - 1
            ops.append(("s", 0, n << 4))
            if n:
                ops.append(("b", eobrun - (1 << n), n))
            for b in gbuf:
                ops.append(("b", b, 1))
            eobrun = 0
            gbuf = []

    for by in range(nbh):
        for bx in range(nbw):
            blk = qrows[by * pbw + bx]
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eobpos = -1
            for i, t in enumerate(absv):
                if t == 1:  # |c|>>al == 1 <=> newly significant at this point
                    eobpos = i
            r = 0
            bbuf: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eobpos:
                    flush_eob()
                    ops.append(("s", 0, 0xF0))
                    r -= 16
                    for b in bbuf:
                        ops.append(("b", b, 1))
                    bbuf = []
                if t > 1:  # history coefficient: one correction bit
                    bbuf.append(t & 1)
                    continue
                flush_eob()
                ops.append(("s", 0, (r << 4) | 1))
                ops.append(("b", 1 if int(blk[ss + i]) > 0 else 0, 1))
                for b in bbuf:
                    ops.append(("b", b, 1))
                bbuf = []
                r = 0
            if r > 0 or bbuf:
                eobrun += 1
                gbuf.extend(bbuf)
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()


def _encode_progressive_scans(
    quantized, comps, planes, width, height, hmax, vmax, mcus_x, mcus_y
) -> bytes:
    """Emit the full progressive tail (per-scan DHT + SOS + entropy data)
    for the scan script. Every Huffman-coded scan carries frequency-built
    optimal tables (the Annex-K fixed tables lack the EOBn/correction
    symbols progressive scans need)."""
    pbws = [p.shape[1] // 8 for p in planes]
    grids = [
        _nonpadded_grid(width, height, h, v, hmax, vmax) for _cid, (h, v), _qi in comps
    ]
    out = bytearray()
    for scan_comps, ss, se, ah, al in _progressive_scan_script(len(comps)):
        ops: list[tuple] = []
        if ss == 0:
            if ah == 0:
                _ops_dc_first(ops, scan_comps, comps, quantized, pbws, grids, mcus_x, mcus_y, al)
            else:
                _ops_dc_refine(ops, scan_comps, comps, quantized, pbws, grids, mcus_x, mcus_y, al)
        else:
            ci = scan_comps[0]
            if ah == 0:
                _ops_ac_first(ops, quantized[ci], pbws[ci], grids[ci], ss, se, al)
            else:
                _ops_ac_refine(ops, quantized[ci], pbws[ci], grids[ci], ss, se, al)
        freqs: dict[int, dict[int, int]] = {}
        for op in ops:
            if op[0] == "s":
                freqs.setdefault(op[1], {})
                freqs[op[1]][op[2]] = freqs[op[1]].get(op[2], 0) + 1
        tclass = 0 if ss == 0 else 1
        enc_tabs: dict[int, dict[int, tuple[int, int]]] = {}
        dht = bytearray()
        for tid in sorted(freqs):
            bits, vals = _build_huffman_spec(freqs[tid])
            enc_tabs[tid] = _canonical_codes(bits, vals)
            dht += bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        if dht:
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
        sos = bytes([len(scan_comps)])
        for ci in scan_comps:
            tid = 0 if (ss > 0 or ci == 0) else 1
            td_ta = (tid << 4) if ss == 0 else tid
            if ah > 0 and ss == 0:
                td_ta = 0  # DC refinement reads raw bits, no table
            sos += bytes([comps[ci][0], td_ta])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        w = _BitWriter()
        for op in ops:
            if op[0] == "s":
                code, length = enc_tabs[op[1]][op[2]]
                w.write(code, length)
            else:
                w.write(op[1], op[2])
        w.flush()
        out += w.buf
    return bytes(out)


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    *,
    channels: int = 3,
    subsampling: str = "444",
    quant: str = "flat",
    progressive: bool = False,
) -> bytes:
    """JFIF encode of an interleaved 8-bit buffer (RGB or gray).

    subsampling: '444' | '420' | '422' (ignored for grayscale).
    quant: 'flat' (all-ones — constant images roundtrip bit-exactly) or
    'annexk' (T.81 K.1/K.2 typical tables).
    progressive: emit SOF2 with the libjpeg-style scan script (spectral
    selection + successive approximation). The quantized coefficients are
    IDENTICAL to the baseline encode — progressive only reorders their
    transmission — so progressive decode output is bit-identical to the
    baseline roundtrip (pytest-pinned).
    """
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    if channels == 3:
        ycc = rgb_to_ycbcr(arr)
    else:
        ycc = arr
    if quant == "flat":
        qtabs = [QUANT_FLAT, QUANT_FLAT]
    elif quant == "annexk":
        qtabs = [QUANT_LUMA_K1, QUANT_CHROMA_K2]
    else:
        raise ValueError(f"unknown quant preset {quant!r}")

    sampling = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}[subsampling]
    if channels == 1:
        comps = [(1, (1, 1), 0)]  # (id, (h,v), qtab)
    else:
        comps = [(1, sampling, 0), (2, (1, 1), 1), (3, (1, 1), 1)]
    hmax = max(c[1][0] for c in comps)
    vmax = max(c[1][1] for c in comps)

    # Per-component planes: luma at full res, chroma downsampled by mean
    planes: list[np.ndarray] = []
    for idx, (_cid, (h, v), _qi) in enumerate(comps):
        plane = ycc[..., idx].astype(np.float64)
        if (h, v) != (hmax, vmax):
            fy, fx = vmax // v, hmax // h
            p = _pad_edge(plane, fy, fx)
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean(
                axis=(1, 3)
            )
            plane = _round_half_up(p)
        planes.append(_pad_edge(plane, 8 * v, 8 * h))

    # FDCT + quantize each component's blocks (raster block order per plane)
    zz = np.array(ZIGZAG)
    quantized: list[np.ndarray] = []  # (n_blocks, 64) int32, zigzag order
    for (_cid, (h, v), qi), plane in zip(comps, planes):
        coef = fdct(_plane_blocks(plane) - 128.0)
        q = np.array(qtabs[qi], dtype=np.float64).reshape(8, 8)  # natural order
        qd = _round_half_up(coef / q).astype(np.int32)
        quantized.append(qd.reshape(-1, 64)[:, zz])  # natural -> zigzag rows

    mcus_x = planes[0].shape[1] // (8 * hmax)
    mcus_y = planes[0].shape[0] // (8 * vmax)

    if progressive:
        out = bytearray(b"\xff\xd8")  # SOI
        out += (
            b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HHBB", 1, 1, 0, 0)
        )
        for ti, tab in enumerate(qtabs[: 2 if channels == 3 else 1]):
            zz_tab = bytes(tab[i] for i in ZIGZAG)
            out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz_tab
        sof = struct.pack(">BHHB", 8, height, width, len(comps))
        for cid, (h, v), qi in comps:
            sof += bytes([cid, (h << 4) | v, qi])
        out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
        out += _encode_progressive_scans(
            quantized, comps, planes, width, height, hmax, vmax, mcus_x, mcus_y
        )
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    dc_enc = [_canonical_codes(*DC_LUMA_SPEC), _canonical_codes(*DC_CHROMA_SPEC)]
    ac_enc = [_canonical_codes(*AC_LUMA_SPEC), _canonical_codes(*AC_CHROMA_SPEC)]

    w = _BitWriter()
    pred = [0] * len(comps)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (_cid, (h, v), qi) in enumerate(comps):
                bw = planes[ci].shape[1] // 8  # blocks per row in this plane
                ti = 0 if ci == 0 else 1
                for by in range(v):
                    for bx in range(h):
                        blk = quantized[ci][(my * v + by) * bw + (mx * h + bx)]
                        diff = int(blk[0]) - pred[ci]
                        pred[ci] = int(blk[0])
                        size, bits_ = _magnitude(diff)
                        code, length = dc_enc[ti][size]
                        w.write(code, length)
                        if size:
                            w.write(bits_, size)
                        run = 0
                        for k in range(1, 64):
                            val = int(blk[k])
                            if val == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, length = ac_enc[ti][0xF0]
                                w.write(code, length)
                                run -= 16
                            size, bits_ = _magnitude(val)
                            code, length = ac_enc[ti][(run << 4) | size]
                            w.write(code, length)
                            w.write(bits_, size)
                            run = 0
                        if run:
                            code, length = ac_enc[ti][0x00]  # EOB
                            w.write(code, length)
    w.flush()

    # ---- container ----
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )  # APP0, 1:1 aspect, no thumbnail
    for ti, tab in enumerate(qtabs[: 2 if channels == 3 else 1]):
        zz_tab = bytes(tab[i] for i in ZIGZAG)  # DQT stores zigzag order
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz_tab
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, (h, v), qi in comps:
        sof += bytes([cid, (h << 4) | v, qi])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    specs = [(0x00, DC_LUMA_SPEC), (0x10, AC_LUMA_SPEC)]
    if channels == 3:
        specs += [(0x01, DC_CHROMA_SPEC), (0x11, AC_CHROMA_SPEC)]
    for tc_th, (bits, vals) in specs:
        payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    sos = bytes([len(comps)])
    for ci, (cid, _s, _qi) in enumerate(comps):
        td_ta = 0x00 if ci == 0 else 0x11
        sos += bytes([cid, td_ta])
    sos += bytes([0, 63, 0])  # Ss, Se, Ah/Al (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += w.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------

def parse_header(data: bytes) -> dict:
    """Marker-level parse WITHOUT entropy decode — the metadata fast path
    (geometry/sampling from SOF0, table counts from DQT/DHT). Mirrors the
    GIF/WAV metadata-without-decode tier: at 100 TB you route/filter on
    header facts and decode only the sampled subset."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    out = {
        "n_quant_tables": 0,
        "n_huffman_tables": 0,
        "restart_interval": 0,
        "progressive": False,
    }
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:
            off = 0
            while off < len(seg):
                out["n_quant_tables"] += 1
                off += 65 if seg[off] >> 4 == 0 else 129
        elif marker == 0xC4:
            off = 0
            while off < len(seg):
                out["n_huffman_tables"] += 1
                off += 17 + sum(seg[off + 1 : off + 17])
        elif marker in (0xC0, 0xC1, 0xC2):
            out["progressive"] = marker == 0xC2
            out["height"], out["width"] = struct.unpack(">HH", seg[1:5])
            out["channels"] = seg[5]
            out["sampling"] = [
                (seg[6 + 3 * i + 1] >> 4, seg[6 + 3 * i + 1] & 0x0F)
                for i in range(seg[5])
            ]
        elif marker == 0xDD:
            out["restart_interval"] = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:
            break
    return out

def _decode_sym(r: "_BitReader", tables) -> int:
    mincode, maxcode, valptr, vals = tables
    code = r.bit()
    length = 1
    while code > maxcode[length]:
        code = (code << 1) | r.bit()
        length += 1
        if length > 16:
            raise ValueError("invalid Huffman stream")
    return vals[valptr[length] + code - mincode[length]]


def _resync_to_marker(data: bytes, pos: int) -> int:
    """After a progressive scan's entropy data, advance to the next real
    marker (0xFF not followed by a stuffed 0x00). In-scan 0xFF bytes are
    always stuffed per B.1.1.5, so the first unstuffed 0xFF is a marker."""
    while pos < len(data) - 1 and (
        data[pos] != 0xFF or data[pos + 1] == 0x00
    ):
        pos += 1
    return pos


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    scan: list[dict],
    huff_dc: dict,
    huff_ac: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
    mcus_x: int,
    mcus_y: int,
) -> int:
    """Decode ONE progressive scan (T.81 Annex G) in place into each
    component's ``coef`` array; returns the stream position of the next
    marker. ``scan`` is the ordered list of components in this scan, each
    dict carrying coef/bw/grid geometry plus the scan's td/ta ids."""
    if ss == 0 and se != 0:
        # T.81 G.1.1.1.1: a progressive DC scan must have Se = 0 (a
        # baseline stream mislabeled SOF2 lands here and is rejected
        # rather than mis-decoded as DC-only).
        raise ValueError("progressive scan with Ss=0 requires Se=0")
    if not (ss <= se <= 63):
        raise ValueError("invalid spectral band")
    r = _BitReader(data, pos)
    if ss == 0:  # DC scan (interleaved if ns > 1, else single component)
        if ah == 0:
            pred = [0] * len(scan)
            if len(scan) > 1:
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        for si, c in enumerate(scan):
                            for by in range(c["v"]):
                                for bx in range(c["h"]):
                                    size = _decode_sym(r, huff_dc[c["td"]])
                                    diff = _extend(r.bits(size), size) if size else 0
                                    pred[si] += diff
                                    bi = (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                                    c["coef"][bi, 0] = pred[si] << al
            else:
                c = scan[0]
                nbw, nbh = c["nbw"], c["nbh"]
                for by in range(nbh):
                    for bx in range(nbw):
                        size = _decode_sym(r, huff_dc[c["td"]])
                        diff = _extend(r.bits(size), size) if size else 0
                        pred[0] += diff
                        c["coef"][by * c["bw"] + bx, 0] = pred[0] << al
        else:  # DC refinement: one raw bit per block, |= (bit << al)
            if len(scan) > 1:
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        for c in scan:
                            for by in range(c["v"]):
                                for bx in range(c["h"]):
                                    if r.bit():
                                        bi = (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                                        c["coef"][bi, 0] |= 1 << al
            else:
                c = scan[0]
                for by in range(c["nbh"]):
                    for bx in range(c["nbw"]):
                        if r.bit():
                            c["coef"][by * c["bw"] + bx, 0] |= 1 << al
    else:  # AC scan: always single component, non-padded grid
        if len(scan) != 1:
            raise ValueError("interleaved AC progressive scan is illegal")
        c = scan[0]
        tab = huff_ac[c["ta"]]
        coef = c["coef"]
        nbw, nbh, bw = c["nbw"], c["nbh"], c["bw"]
        eobrun = 0
        p1 = 1 << al
        if ah == 0:  # first scan of this band
            for by in range(nbh):
                for bx in range(nbw):
                    if eobrun:
                        eobrun -= 1
                        continue
                    row = coef[by * bw + bx]
                    k = ss
                    while k <= se:
                        sym = _decode_sym(r, tab)
                        rn, s = sym >> 4, sym & 15
                        if s:
                            k += rn
                            if k > se:
                                raise ValueError("AC run overflow")
                            row[k] = _extend(r.bits(s), s) << al
                            k += 1
                        elif rn != 15:  # EOBn
                            eobrun = (1 << rn) - 1
                            if rn:
                                eobrun += r.bits(rn)
                            break
                        else:  # ZRL
                            k += 16
        else:  # refinement of this band (G.1.2.3 / the jdphuff.c shape)
            for by in range(nbh):
                for bx in range(nbw):
                    row = coef[by * bw + bx]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = _decode_sym(r, tab)
                            rn, s = sym >> 4, sym & 15
                            newval = 0
                            if s:
                                if s != 1:
                                    raise ValueError("bad refinement symbol")
                                newval = p1 if r.bit() else -p1
                            elif rn != 15:  # EOBn
                                eobrun = 1 << rn
                                if rn:
                                    eobrun += r.bits(rn)
                                break
                            # advance past rn zero-history positions,
                            # correcting nonzero history on the way
                            while k <= se:
                                cv = int(row[k])
                                if cv != 0:
                                    if r.bit() and (cv & p1) == 0:
                                        row[k] = cv + (p1 if cv >= 0 else -p1)
                                else:
                                    if rn == 0:
                                        break
                                    rn -= 1
                                k += 1
                            if newval and k <= se:
                                row[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            cv = int(row[k])
                            if cv != 0:
                                if r.bit() and (cv & p1) == 0:
                                    row[k] = cv + (p1 if cv >= 0 else -p1)
                            k += 1
                        eobrun -= 1
    return _resync_to_marker(data, r.pos)


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode baseline (SOF0/1) or progressive (SOF2) JPEG bytes ->
    (width, height, channels, pixels).

    Pixels are interleaved 8-bit RGB (3 components, JFIF YCbCr assumed) or
    grayscale (1 component). Progressive streams are decoded scan by scan
    (spectral selection + successive approximation, T.81 Annex G) into the
    same per-component coefficient store the baseline path fills — the
    reconstruction tail (dequantize, IDCT, upsample, color transform) is
    shared, so a progressive stream of the same quantized coefficients
    decodes bit-identically to its baseline counterpart (pytest-pinned).
    Raises ValueError on hierarchical/arithmetic/12-bit streams and on
    restart intervals inside progressive scans (our encoder never emits
    them; real-world DRI progressive streams are routed to the metadata
    tier)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}  # id -> (64,) natural order
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    geom_ready = False
    scans_done = 0
    baseline_scan = None  # (scan_sel,) once the single baseline SOS is seen

    def _init_geometry():
        nonlocal geom_ready
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mx = -(-width // (8 * hmax))
        my = -(-height // (8 * vmax))
        for c in comps:
            c["bw"] = mx * c["h"]
            c["bh"] = my * c["v"]
            c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
            c["nbw"], c["nbh"] = _nonpadded_grid(
                width, height, c["h"], c["v"], hmax, vmax
            )
        geom_ready = True
        return hmax, vmax, mx, my

    hmax = vmax = mcus_x = mcus_y = 0

    while True:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and scans_done:
                break
            raise ValueError("EOI before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                zzvals = list(seg[off + 1 : off + 65])
                nat = np.zeros(64, dtype=np.float64)
                for zpos, idx in enumerate(ZIGZAG):
                    nat[idx] = zzvals[zpos]
                qtabs[tq] = nat
                off += 65
        elif marker == 0xC4:  # DHT (may appear between progressive scans)
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                vals = list(seg[off + 17 : off + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _decode_tables(bits, vals)
                off += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            precision = seg[0]
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline SOF not supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if not comps or not width:
                raise ValueError("missing SOF before SOS")
            if not geom_ready:
                hmax, vmax, mcus_x, mcus_y = _init_geometry()
            ns = seg[0]
            sel = {}
            for i in range(ns):
                cs, td_ta = seg[1 + 2 * i : 3 + 2 * i]
                sel[cs] = (td_ta >> 4, td_ta & 0x0F)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive:
                baseline_scan = sel
                break
            if restart_interval:
                raise ValueError(
                    "restart intervals in progressive scans not supported"
                )
            scan = []
            for c in comps:
                if c["id"] in sel:
                    c2 = dict(c)
                    c2["coef"] = c["coef"]  # share the array, not a copy
                    c2["td"], c2["ta"] = sel[c["id"]]
                    scan.append(c2)
            pos = _decode_progressive_scan(
                data, pos, scan, huff_dc, huff_ac,
                ss, se, ah, al, mcus_x, mcus_y,
            )
            scans_done += 1
        # APPn / COM / others: skipped

    if not progressive:
        # ---- baseline: single interleaved scan ----
        for c in comps:
            c["td"], c["ta"] = baseline_scan[c["id"]]
        r = _BitReader(data, pos)
        pred = [0] * len(comps)
        mcu_count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    r.align_to_rst()
                    pred = [0] * len(comps)
                mcu_count += 1
                for ci, c in enumerate(comps):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = np.zeros(64, dtype=np.int64)
                            size = _decode_sym(r, huff_dc[c["td"]])
                            diff = _extend(r.bits(size), size) if size else 0
                            pred[ci] += diff
                            row[0] = pred[ci]
                            k = 1
                            while k < 64:
                                rs = _decode_sym(r, huff_ac[c["ta"]])
                                run, size = rs >> 4, rs & 0x0F
                                if size == 0:
                                    if run == 15:  # ZRL
                                        k += 16
                                        continue
                                    break  # EOB
                                k += run
                                if k > 63:
                                    raise ValueError("AC run overflow")
                                row[k] = _extend(r.bits(size), size)
                                k += 1
                            bi = (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                            c["coef"][bi] = row

    # Dequantize + un-zigzag + IDCT per component, vectorized (shared tail)
    planes = []
    for c in comps:
        q = qtabs[c["tq"]]
        nat = np.zeros(c["coef"].shape, dtype=np.float64)
        nat[:, ZIGZAG] = c["coef"]  # zigzag row -> natural order
        nat *= q
        samples = np.clip(
            _round_half_up(idct(nat.reshape(-1, 8, 8))) + 128, 0, 255
        ).astype(np.uint8)
        # blocks (raster order) -> plane
        bh, bw = c["bh"], c["bw"]
        plane = (
            samples.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        # upsample to full grid by replication
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1 or fx > 1:
            plane = plane.repeat(fy, axis=0).repeat(fx, axis=1)
        planes.append(plane[: mcus_y * vmax * 8, : mcus_x * hmax * 8])

    stacked = np.stack(planes, axis=-1)[:height, :width, :]
    if len(comps) == 3:
        rgb = ycbcr_to_rgb(stacked)
        return width, height, 3, rgb.tobytes()
    return width, height, 1, stacked[..., 0].tobytes()
