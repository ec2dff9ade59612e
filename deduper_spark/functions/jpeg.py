"""Minimal real baseline JPEG codec — pure NumPy + stdlib (ITU-T T.81).

Closes the "JPEG is stubbed" gap without any image library: baseline
sequential DCT JPEG is 8x8 block DCT + quantization + canonical
Huffman coding, all implementable from the public spec. The constant
tables below are the example tables from ITU-T T.81 Annex K (the
"standard" quantization + Huffman tables every interoperable codec
ships).

Supported:
  * encode: 8-bit RGB, 4:4:4 (no subsampling, default) or 4:2:0
    (``subsample=True``), IJG-style quality scaling (1..100),
    deterministic output for a given input (fixed tables, no
    optimization passes) — the synth corpus requires bytes to be a
    pure function of ``(seed, i)``.
  * decode: baseline sequential (SOF0), 8-bit, 1 or 3 components,
    sampling factors 1 or 2 per axis (covers 4:4:4 / 4:2:2 / 4:2:0),
    restart intervals, 0xFF00 byte stuffing. Progressive (SOF2) and
    arithmetic coding are rejected with ValueError (the multimodal
    decode-isolation path maps that to decode_ok=false).

Hot-path note: entropy DECODE is table-driven — a cached 2^16-entry
canonical-Huffman LUT over vectorized 16-bit lookahead windows
(np.unpackbits + sliding-window dot), so each symbol costs a couple of
list indexes instead of a per-bit reader walk; DCT/IDCT/quantization
are BLAS matmuls over all blocks. The remaining per-symbol Python loop
is inherent to JPEG's serial bitstream; measured ~5x faster end-to-end
than the round-3 bit-at-a-time decoder (it is the MJPEG video-dedup
hot path via multimodal.video_frame_phashes). Entropy ENCODE remains a
per-symbol loop — encode only runs in synth/test corpora, never in the
dedup hot path. At production scale foreign JPEG corpora would still
route decode through a JVM/Arrow library on a real cluster; what
matters here is that the PSNR>=40dB fidelity invariant (BASELINE.json
input_hint) is exercised against a REAL lossy DCT codec.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

from deduper_spark.functions.phash import _dct_matrix

# ------------------------------------------------------------------ tables
# ITU-T T.81 Annex K.1 — example quantization tables
Q_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

Q_CHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# zigzag scan order: ZIGZAG[k] = row-major index of the k-th coefficient
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# T.81 Annex K.3 — standard Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
            list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
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
])
AC_CHROM = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
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
])


_D8 = _dct_matrix(8)


def _quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling: 1..100 -> scaled Annex K tables."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (Q_LUM, Q_CHROM):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _build_codes(table: tuple[list[int], list[int]]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman (T.81 C.2): symbol -> (code, length)."""
    bits, vals = table
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


@lru_cache(maxsize=64)
def _build_decode_lut(bits: tuple[int, ...],
                      vals: tuple[int, ...]) -> tuple[list[int], list[int]]:
    """Canonical-Huffman 16-bit-lookahead LUT: for every 16-bit window
    w, sym[w] is the decoded symbol (-1 = invalid prefix) and ln[w] the
    code length to consume. One list index replaces the old per-bit
    walk (max JPEG code length is 16, so a 2^16 table is total).
    Cached on table content — real corpora overwhelmingly ship the
    Annex K tables, so the ~65k-entry build cost is paid once per
    worker, not per frame."""
    sym = np.full(1 << 16, -1, dtype=np.int32)
    ln = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym[lo:hi] = vals[k]
            ln[lo:hi] = length
            k += 1
            code += 1
        code <<= 1
    # plain Python lists index ~2x faster than numpy scalars in the
    # symbol loop
    return sym.tolist(), ln.tolist()


_POW2_16 = (1 << np.arange(15, -1, -1)).astype(np.uint32)

# lookahead chunk: bit positions per _peek_windows call. The window
# list is ~36 B/bit of Python ints plus a transient (n, 16) uint32
# matrix (~64 B/bit) — materializing a whole multi-MB foreign scan at
# once is ~300-500x the segment size (a 5 MB scan would be ~GBs per
# concurrent task). 2^20 positions caps that at ~100 MB transient /
# ~36 MB retained per task regardless of scan size; the engine's own
# 64px MJPEG frames (a few KB) always fit one chunk, so the hot path
# refills zero times. Must exceed _REFILL_MARGIN_BITS.
_PEEK_CHUNK_BITS = 1 << 20
# refill when fewer than this many window positions remain in the
# chunk: the decode loop only checks between MCUs, and one MCU is at
# most 12 blocks (sampling factors <= 2) x ~2 KB/block of entropy
# bits, well under 32k.
_REFILL_MARGIN_BITS = 1 << 15


def _peek_windows(seg: bytes, start: int = 0,
                  chunk_bits: int | None = None) -> tuple[list[int], int]:
    """16-bit lookahead windows of an entropy segment for bit
    positions [start, min(start + chunk_bits, nbits + 1)) (vectorized:
    unpackbits + sliding-window dot; only the covering bytes are
    unpacked). The symbol loop then reads any Huffman code or
    amplitude field as ``peek[p - base] >> (16 - n)`` — no per-bit
    Python I/O. Positions past the stream read zero-padded windows
    (truncation surfaces as p > nbits or an invalid-prefix symbol)."""
    nbits = 8 * len(seg)
    n_pos = nbits + 1 - start
    if chunk_bits is not None:
        n_pos = min(n_pos, chunk_bits)
    b0 = start // 8
    b1 = min((start + n_pos + 16 + 7) // 8, len(seg))
    bits = np.unpackbits(
        np.frombuffer(seg, dtype=np.uint8, offset=b0, count=b1 - b0))
    padded = np.concatenate([bits, np.zeros(16, dtype=np.uint8)])
    off = start - 8 * b0
    win = np.lib.stride_tricks.sliding_window_view(
        padded, 16)[off:off + n_pos]
    return (win.astype(np.uint32) @ _POW2_16).tolist(), nbits


# ------------------------------------------------------------------ encoder

def _pack_entropy(codes: list[int], lens: list[int]) -> bytes:
    """One vectorized pass: variable-length codes -> bit array ->
    packed bytes with T.81 F.1.2.3 stuffing (0x00 after every 0xFF)
    and 1-bit padding. Bit-identical to the old per-symbol shifter."""
    if not codes:
        return b""
    C = np.asarray(codes, dtype=np.uint64)
    L = np.asarray(lens, dtype=np.int64)
    n = int(L.sum())
    pad = (-n) % 8
    if pad:
        C = np.append(C, np.uint64((1 << pad) - 1))
        L = np.append(L, np.int64(pad))
        n += pad
    C &= (np.uint64(1) << L.astype(np.uint64)) - np.uint64(1)
    starts = np.cumsum(L) - L
    idx = np.repeat(np.arange(C.size), L)
    within = np.arange(n) - np.repeat(starts, L)
    shift = (L[idx] - 1 - within).astype(np.uint64)
    bits = ((C[idx] >> shift) & np.uint64(1)).astype(np.uint8)
    stream = np.packbits(bits)
    ff = np.flatnonzero(stream == 0xFF)
    if ff.size:
        stream = np.insert(stream, ff + 1, 0)
    return stream.tobytes()


class _BitWriter:
    """Symbol collector: write() is two list appends; flush() packs
    the whole entropy stream in one vectorized pass (_pack_entropy).
    The old per-symbol shift-and-stuff loop dominated encode time
    (~12x the LUT decode); the emitted bytes are identical."""

    def __init__(self) -> None:
        self.codes: list[int] = []
        self.lens: list[int] = []
        self.out: bytes = b""

    def write(self, code: int, length: int) -> None:
        self.codes.append(code)
        self.lens.append(length)

    def flush(self) -> None:
        self.out = _pack_entropy(self.codes, self.lens)


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category/size, amplitude bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_blocks(writer: _BitWriter, zz: np.ndarray, dc_codes: dict,
                   ac_codes: dict, prev_dc: int) -> int:
    """Entropy-code one component block (zz: 64 ints, zigzag order)."""
    zzl = zz.tolist()      # native ints: the scan loop reads ~64 coeffs
    dc = zzl[0]
    size, bits = _magnitude(dc - prev_dc)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zzl[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = zzl[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]      # ZRL
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]          # EOB
        writer.write(code, length)
    return dc


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _pad_to(img: np.ndarray, mult: int) -> np.ndarray:
    h, w = img.shape[:2]
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        img = np.pad(img, [(0, ph), (0, pw)] + [(0, 0)] * (img.ndim - 2),
                     mode="edge")
    return img


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W % 8 == 0 -> (H//8, W//8, 8, 8)."""
    h, w = plane.shape
    return plane.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2)


def _fdct_quant(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """level-shifted plane -> quantized zigzag coeffs (by, bx, 64).
    matmul broadcasts over the block grid and hits BLAS; the equivalent
    3-operand einsum measured ~18x slower (no BLAS path)."""
    blocks = _blockify(plane)
    coef = np.matmul(_D8, np.matmul(blocks, _D8.T))
    q = np.round(coef / qtab).astype(np.int32)
    return q.reshape(*q.shape[:2], 64)[..., ZIGZAG]


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_jpeg(pixels: np.ndarray, quality: int = 90,
                subsample: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes (deterministic).

    ``subsample=True`` emits 4:2:0 (chroma averaged 2x2); default 4:4:4.
    """
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_jpeg expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    qlum, qchr = _quant_tables(quality)
    ycc = _rgb_to_ycbcr(pixels.astype(np.float64))

    if subsample:
        ycc = _pad_to(ycc, 16)
        y = ycc[..., 0]
        # 2x2 mean chroma
        cb = ycc[..., 1].reshape(ycc.shape[0] // 2, 2,
                                 ycc.shape[1] // 2, 2).mean(axis=(1, 3))
        cr = ycc[..., 2].reshape(ycc.shape[0] // 2, 2,
                                 ycc.shape[1] // 2, 2).mean(axis=(1, 3))
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        ycc = _pad_to(ycc, 8)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        samp = [(1, 1), (1, 1), (1, 1)]

    zz = [
        _fdct_quant(y - 128.0, qlum),
        _fdct_quant(cb - 128.0, qchr),
        _fdct_quant(cr - 128.0, qchr),
    ]

    dc_l, ac_l = _build_codes(DC_LUM), _build_codes(AC_LUM)
    dc_c, ac_c = _build_codes(DC_CHROM), _build_codes(AC_CHROM)
    comp_codes = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    writer = _BitWriter()
    prev_dc = [0, 0, 0]
    max_h, max_v = samp[0]
    mcus_y = zz[0].shape[0] // max_v
    mcus_x = zz[0].shape[1] // max_h
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(3):
                hc, vc = samp[c]
                for by in range(vc):
                    for bx in range(hc):
                        block = zz[c][my * vc + by, mx * hc + bx]
                        prev_dc[c] = _encode_blocks(
                            writer, block, comp_codes[c][0],
                            comp_codes[c][1], prev_dc[c])
    writer.flush()

    # headers
    out = bytearray(b"\xff\xd8")                       # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(qlum.reshape(64)[ZIGZAG].astype(
        np.uint8)))
    out += _seg(0xFFDB, b"\x01" + bytes(qchr.reshape(64)[ZIGZAG].astype(
        np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (hc, vc), tq in ((1, samp[0], 0), (2, samp[1], 1),
                              (3, samp[2], 1)):
        sof += struct.pack(">BBB", cid, (hc << 4) | vc, tq)
    out += _seg(0xFFC0, sof)                           # SOF0 baseline
    for cls, tid, (bits, vals) in ((0, 0, DC_LUM), (1, 0, AC_LUM),
                                   (0, 1, DC_CHROM), (1, 1, AC_CHROM)):
        out += _seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits)
                    + bytes(vals))
    sos = b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += _seg(0xFFDA, sos)
    out += writer.out
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


# ------------------------------------------------------------------ decoder

def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> (h, w, 3) uint8 RGB.

    Contract: ANY malformed input raises ValueError (the mapInPandas
    isolation layer catches exactly that) — structurally-well-framed
    streams with inconsistent contents (empty SOS, short SOF, scan
    referencing an absent component) would otherwise surface as
    IndexError/struct.error/KeyError from the segment parsers and kill
    the whole job at scale."""
    try:
        return _decode_jpeg_inner(bytes(buf))
    except (IndexError, KeyError, struct.error, ZeroDivisionError) as exc:
        raise ValueError(f"malformed JPEG stream: {type(exc).__name__}: {exc}") from exc


def _decode_jpeg_inner(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    frame = None          # (h, w, comps) comps: list of (cid, hc, vc, tq)
    restart_interval = 0
    scan = None           # (comp order with table ids, entropy segments)

    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = data[pos + 1]
        if marker == 0xFF:                      # fill byte before a marker
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:                      # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue                            # standalone markers
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment")
        (length,) = struct.unpack(">H", data[pos:pos + 2])
        payload = data[pos + 2:pos + length]
        if len(payload) != length - 2:
            raise ValueError("truncated JPEG segment")
        pos += length
        if marker == 0xDB:                      # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                t64 = np.frombuffer(payload[p + 1:p + 65], dtype=np.uint8)
                if t64.size != 64:
                    raise ValueError("truncated DQT")
                qtabs[tq] = t64.astype(np.int32)[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker == 0xC4:                    # DHT
            p = 0
            while p < len(payload):
                cls, tid = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1:p + 17])
                cnt = sum(bits)
                vals = tuple(payload[p + 17:p + 17 + cnt])
                if len(vals) != cnt:
                    raise ValueError("truncated DHT")
                huff[(cls, tid)] = _build_decode_lut(bits, vals)
                p += 17 + cnt
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/SOF1 (baseline DCT)
            prec, fh, fw, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = payload[6 + 3 * c:9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding process (SOF marker 0xFF{marker:02X});"
                " only baseline sequential is supported")
        elif marker == 0xDD:                    # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:                    # SOS
            ns = payload[0]
            order = []
            for c in range(ns):
                cs, tabs = payload[1 + 2 * c], payload[2 + 2 * c]
                order.append((cs, tabs >> 4, tabs & 0x0F))
            # entropy data runs from pos to the next real marker.
            # Vectorized: locate every 0xFF once, classify its successor
            # (stuff/RST/real marker), then bulk-delete stuffed zero
            # bytes — the old per-byte walk was ~8k bytearray appends
            # per frame, a measurable share of MJPEG decode.
            tail = np.frombuffer(data, dtype=np.uint8, count=n - pos,
                                 offset=pos)
            ffpos = np.flatnonzero(tail[:-1] == 0xFF)
            nxtb = tail[ffpos + 1]
            real = ffpos[(nxtb != 0x00)
                         & ((nxtb < 0xD0) | (nxtb > 0xD7))]
            end = int(real[0]) if real.size else int(tail.size)
            rsts = ffpos[(nxtb >= 0xD0) & (nxtb <= 0xD7)]
            rsts = rsts[rsts < end]

            def _destuff(a: np.ndarray) -> bytes:
                if a.size < 2:
                    return a.tobytes()
                stuffed = np.flatnonzero(
                    (a[1:] == 0x00) & (a[:-1] == 0xFF)) + 1
                return (np.delete(a, stuffed) if stuffed.size
                        else a).tobytes()

            segs: list[bytes] = []
            lo = 0
            for r in rsts:
                segs.append(_destuff(tail[lo:int(r)]))
                lo = int(r) + 2                 # skip the RSTn marker
            segs.append(_destuff(tail[lo:end]))
            scan = (order, segs)
            break                                # single-scan baseline
        # other segments (APPn, COM) are skipped

    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    fh, fw, comps = frame
    if fh == 0 or fw == 0:
        raise ValueError("JPEG empty frame")
    order, segs = scan
    max_h = max(c[1] for c in comps)
    max_v = max(c[2] for c in comps)
    if not all(c[1] in (1, 2) and c[2] in (1, 2) for c in comps):
        raise ValueError("sampling factors beyond 2 unsupported")
    mcus_x = -(-fw // (8 * max_h))
    mcus_y = -(-fh // (8 * max_v))

    by_id = {c[0]: c for c in comps}
    for cs, td, ta in order:
        # validate every scan/frame linkage up front so unsupported or
        # inconsistent streams raise a named error here, not a wrapped
        # KeyError/IndexError mid-entropy-decode. The sampling-factor
        # check above also bounds MCU size to <= 12 blocks, which is
        # what the _REFILL_MARGIN_BITS sizing assumes (margin note at
        # its definition).
        if cs not in by_id:
            raise ValueError(
                f"JPEG scan references missing frame component {cs}")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("JPEG scan references missing DHT")

    # entropy decode: LUT symbol lookup over precomputed 16-bit
    # lookahead windows (_peek_windows) — every Huffman code and
    # amplitude field is one list index + shift, no per-bit reader.
    # Blocks accumulate as plain Python lists (one bulk np.array per
    # component at the end); a truncated stream walks p past the
    # window list and surfaces as IndexError -> ValueError via the
    # decode_jpeg wrapper.
    comp_blocks: dict[int, list[list[int]]] = {cs: [] for cs, _, _ in order}
    pred = {cs: 0 for cs, _, _ in order}
    mcu_idx = 0
    seg_i = 0
    peek, nbits = _peek_windows(segs[0], 0, _PEEK_CHUNK_BITS)
    base = 0
    p = 0
    for _my in range(mcus_y):
        for _mx in range(mcus_x):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    raise ValueError("JPEG missing restart segment")
                peek, nbits = _peek_windows(segs[seg_i], 0,
                                            _PEEK_CHUNK_BITS)
                base = 0
                p = 0
                pred = {cs: 0 for cs, _, _ in order}
            elif (p - base + _REFILL_MARGIN_BITS > len(peek)
                    and base + len(peek) < nbits + 1):
                # chunked lookahead: slide the window list forward so a
                # multi-MB scan never holds more than one chunk. p only
                # advances between refills, so p - base stays >= 0.
                base = p
                peek, _ = _peek_windows(segs[seg_i], p, _PEEK_CHUNK_BITS)
            for cs, td, ta in order:
                _cid, hc, vc, _tq = by_id[cs]
                dc_sym, dc_len = huff[(0, td)]
                ac_sym, ac_len = huff[(1, ta)]
                for _b in range(vc * hc):
                    blk = [0] * 64
                    w = peek[p - base]
                    size = dc_sym[w]
                    if size < 0:
                        raise ValueError("invalid JPEG Huffman code")
                    p += dc_len[w]
                    if size:
                        v = peek[p - base] >> (16 - size)
                        p += size
                        if v < (1 << (size - 1)):       # T.81 EXTEND
                            v += 1 - (1 << size)
                    else:
                        v = 0
                    pred[cs] += v
                    blk[0] = pred[cs]
                    k = 1
                    while k < 64:
                        w = peek[p - base]
                        sym = ac_sym[w]
                        if sym < 0:
                            raise ValueError("invalid JPEG Huffman code")
                        p += ac_len[w]
                        if sym == 0x00:                 # EOB
                            break
                        run = sym >> 4
                        sz = sym & 0x0F
                        if sz == 0:
                            if run != 15:
                                raise ValueError("bad JPEG AC symbol")
                            k += 16                     # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("JPEG AC run overflow")
                        v = peek[p - base] >> (16 - sz)
                        p += sz
                        if v < (1 << (sz - 1)):
                            v += 1 - (1 << sz)
                        blk[k] = v
                        k += 1
                    comp_blocks[cs].append(blk)
            mcu_idx += 1
            if p > nbits:
                raise ValueError("JPEG entropy data truncated")

    # assemble (rows, cols, 64) coefficient grids: blocks appended in
    # MCU raster order with vc x hc sub-blocks per MCU
    coef = {}
    for cs, _td, _ta in order:
        _cid, hc, vc, _tq = by_id[cs]
        arr = np.array(comp_blocks[cs], dtype=np.int32).reshape(
            mcus_y, mcus_x, vc, hc, 64)
        coef[cs] = arr.transpose(0, 2, 1, 3, 4).reshape(
            mcus_y * vc, mcus_x * hc, 64)

    # vectorized dequant + IDCT + upsample per component
    planes = {}
    for cs, _td, _ta in order:
        _cid, hc, vc, tq = by_id[cs]
        if tq not in qtabs:
            raise ValueError("JPEG scan references missing DQT")
        q = qtabs[tq].reshape(64)[ZIGZAG]        # zigzag-ordered table
        dequant = (coef[cs] * q)[..., UNZIGZAG].reshape(
            *coef[cs].shape[:2], 8, 8).astype(np.float64)
        # matmul broadcasts over the block grid and hits BLAS; the
        # 3-operand einsum measured ~18x slower (no BLAS path)
        spatial = np.matmul(_D8.T, np.matmul(dequant, _D8))
        by_, bx_ = spatial.shape[:2]
        plane = spatial.swapaxes(1, 2).reshape(by_ * 8, bx_ * 8) + 128.0
        plane = np.repeat(np.repeat(plane, max_v // vc, axis=0),
                          max_h // hc, axis=1)
        planes[cs] = plane[:fh, :fw]

    if len(order) == 1:
        g = np.clip(np.round(planes[order[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(order) != 3:
        raise ValueError(f"unsupported JPEG component count {len(order)}")
    y = planes[order[0][0]]
    cb = planes[order[1][0]] - 128.0
    cr = planes[order[2][0]] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
