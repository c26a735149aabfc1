"""Raster fixture encoders: JPEG (ITU-T T.81), JPEG 2000 (T.800), PNG,
GIF, the LZW that GIF and PDF share, and the 5x7 page renderer.

Each encoder inverts a decoder in ``core/`` and takes that decoder's
tables from it (``ZIGZAG`` and the DCT basis, the T1 context model, tag
tree and precinct geometry, the Adam7 passes, the font).  JPEG uses the
Annex K tables at IJG quality scaling: at ``quality=100`` every
quantizer is 1, so a decoded page stays within ±2 of the source, far
inside the recognizer's 128 threshold.  Any image tool reads the output.
"""

from __future__ import annotations

import math
import struct
import zlib
from binascii import crc32
from collections.abc import Callable

import numpy as np

from ..core.gifcodec import _GIF_INTERLACE
from ..core.jpegcodec import ZIGZAG, _C
from ..core.jpxcodec import (
    _97_PAD,
    _ALPHA,
    _BETA,
    _CTX_RL,
    _CTX_UNI,
    _DELTA,
    _GAMMA,
    _KAPPA,
    _MAX_DIM,
    _MAX_LEVELS,
    JpxError,
    _band_dims,
    _fresh_t1_ctx,
    _grid,
    _lift97,
    _precinct_geometry,
    _sym_ext,
    _T1State,
    _TagTree,
)
from ..core.pngcodec import _ADAM7, PNG_MAGIC
from ..core.rasterfont import _CELL_W, _TEMPLATES, GLYPH_H, GLYPH_W
from .bilevel import _MQEncoder, _pack_codes


# --------------------------------------------------------------------------
# JPEG (T.81): baseline / progressive / RGB, standard Annex K tables
# --------------------------------------------------------------------------

#: T.81 Annex K.1 luminance quantization table, zigzag order
_STD_LUM_QT = np.array([
    16, 11, 12, 14, 12, 10, 16, 14,
    13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37,
    29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68,
    87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113,
    121, 112, 100, 120, 92, 101, 103, 99], dtype=np.int64)


#: Annex K.1 chrominance table, zigzag order
_STD_CHR_QT = np.array([
    17, 18, 18, 24, 21, 24, 47, 26,
    26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)


# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
_STD_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
               bytes(range(12)))


_STD_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
               bytes(range(12)))


_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes([
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]))


_STD_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    bytes([
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]))


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 100 → all-ones (near-lossless), 50 → base."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality {quality} outside [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _huff_encode_table(counts: list[int], symbols: bytes) -> dict:
    """(BITS, HUFFVAL) → symbol → (code, length) per canonical ordering."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.buf = (self.buf << 1) | ((code >> i) & 1)
            self.cnt += 1
            if self.cnt == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.buf = 0
                self.cnt = 0

    def pad(self) -> None:
        while self.cnt:
            self.write(1, 1)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (category t, t-bit code)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    code = v if v > 0 else v + (1 << t) - 1
    return t, code


def _encode_block(bw: _BitWriter, coefs_zig: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    dc = int(coefs_zig[0])
    t, code = _magnitude(dc - pred)
    c, ln = dc_tab[t]
    bw.write(c, ln)
    if t:
        bw.write(code, t)
    run = 0
    last_nz = int(np.max(np.flatnonzero(coefs_zig), initial=0))
    for k in range(1, 64):
        v = int(coefs_zig[k])
        if v == 0:
            if k > last_nz:
                c, ln = ac_tab[0x00]  # EOB
                bw.write(c, ln)
                break
            run += 1
            continue
        while run > 15:
            c, ln = ac_tab[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        t, code = _magnitude(v)
        c, ln = ac_tab[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0
    return dc


def _tab_arrays(tab: dict) -> tuple[np.ndarray, np.ndarray]:
    """symbol → (code, length) dict → dense arrays for vectorized lookup."""
    code = np.zeros(256, dtype=np.int64)
    ln = np.zeros(256, dtype=np.int64)
    for s, (c, length) in tab.items():
        code[s] = c
        ln[s] = length
    return code, ln


def _bitsize(a: np.ndarray) -> np.ndarray:
    """Vectorized T.81 magnitude category: |v| → bit length (0 for 0).
    Exact for all int magnitudes here (≪ 2^53): log2 is monotonic and
    only powers of two land on representable boundaries."""
    return np.where(
        a == 0, 0,
        np.floor(np.log2(np.maximum(a, 1))).astype(np.int64) + 1)


def _pack_bits(lens: np.ndarray, vals: np.ndarray) -> bytes:
    """(bit-length, value) emission arrays → padded, 0xFF-stuffed entropy
    bytes — the vectorized replacement for the per-bit ``_BitWriter``."""
    packed = np.frombuffer(_pack_codes(lens, vals, 1), np.uint8)  # 1-pad
    ff = np.flatnonzero(packed == 0xFF)
    if ff.size:
        packed = np.insert(packed, ff + 1, 0)  # byte stuffing
    return packed.tobytes()


def _encode_gray_segment(zz: np.ndarray, dc_code: np.ndarray,
                         dc_len: np.ndarray, ac_code: np.ndarray,
                         ac_len: np.ndarray) -> bytes:
    """One entropy segment (DC pred starts at 0) of single-component
    blocks ``zz (N, 64)`` — fully vectorized: every Huffman symbol and
    magnitude-extra emission is computed as numpy arrays, ordered by a
    ``(block, zigzag_pos, sub)`` lexsort, and bit-packed in one pass."""
    n = zz.shape[0]
    recs_b: list[np.ndarray] = []
    recs_k: list[np.ndarray] = []
    recs_s: list[np.ndarray] = []
    recs_l: list[np.ndarray] = []
    recs_v: list[np.ndarray] = []

    def emit(b, k, s, ln, v):
        recs_b.append(np.asarray(b, dtype=np.int64))
        recs_k.append(np.broadcast_to(
            np.asarray(k, dtype=np.int64), recs_b[-1].shape).copy())
        recs_s.append(np.broadcast_to(
            np.asarray(s, dtype=np.int64), recs_b[-1].shape).copy())
        recs_l.append(np.asarray(ln, dtype=np.int64))
        recs_v.append(np.asarray(v, dtype=np.int64))

    # DC: symbol (sub 0) + magnitude extra (sub 1) at zigzag pos 0
    diff = np.diff(zz[:, 0], prepend=0)
    t_dc = _bitsize(np.abs(diff))
    if np.any(dc_len[t_dc] == 0):
        raise ValueError("DC category outside Huffman table")
    emit(np.arange(n), 0, 0, dc_len[t_dc], dc_code[t_dc])
    m = t_dc > 0
    if m.any():
        mag = np.where(diff > 0, diff,
                       diff + np.left_shift(1, t_dc) - 1)
        emit(np.flatnonzero(m), 0, 1, t_dc[m], mag[m])

    # AC: ZRLs (sub 0-2), (run, size) symbol (sub 3), extra (sub 4)
    b_idx, k0 = np.nonzero(zz[:, 1:])
    k = k0 + 1
    if b_idx.size:
        vals = zz[b_idx, k]
        first = np.ones(b_idx.size, dtype=bool)
        first[1:] = b_idx[1:] != b_idx[:-1]
        prevk = np.empty_like(k)
        prevk[1:] = k[:-1]
        prevk[first] = 0
        run = k - prevk - 1
        nzrl = run >> 4
        t_ac = _bitsize(np.abs(vals))
        sym = ((run & 15) << 4) | t_ac
        if np.any(ac_len[sym] == 0):
            raise ValueError("AC (run, size) outside Huffman table")
        zrl_c, zrl_l = int(ac_code[0xF0]), int(ac_len[0xF0])
        for zi in range(1, 4):  # run ≤ 62 → at most 3 ZRLs
            zm = nzrl >= zi
            if zm.any():
                emit(b_idx[zm], k[zm], zi - 1,
                     np.full(int(zm.sum()), zrl_l),
                     np.full(int(zm.sum()), zrl_c))
        emit(b_idx, k, 3, ac_len[sym], ac_code[sym])
        mag = np.where(vals > 0, vals, vals + np.left_shift(1, t_ac) - 1)
        emit(b_idx, k, 4, t_ac, mag)

    # EOB (zigzag pos 64) for every block whose last AC nonzero is < 63
    last = np.zeros(n, dtype=np.int64)
    if b_idx.size:
        last[b_idx] = k  # k ascends within a block: final write is max
    eob = np.flatnonzero(last < 63)
    if eob.size:
        emit(eob, 64, 0,
             np.full(eob.size, int(ac_len[0x00])),
             np.full(eob.size, int(ac_code[0x00])))

    bb = np.concatenate(recs_b)
    kk = np.concatenate(recs_k)
    ss = np.concatenate(recs_s)
    ll = np.concatenate(recs_l)
    vv = np.concatenate(recs_v)
    order = np.lexsort((ss, kk, bb))
    return _pack_bits(ll[order], vv[order])


def _fdct_quant(plane: np.ndarray, qt_zig: np.ndarray) -> np.ndarray:
    """(H, W) uint8 (H, W multiples of 8) → per-block quantized zigzag
    coefficients, shape (blocks_y, blocks_x, 64)."""
    hh, ww = plane.shape
    by, bx = hh // 8, ww // 8
    blocks = plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) \
        .astype(np.float64) - 128.0
    coefs = np.einsum("ux,byxw,vw->byuv", _C, blocks, _C, optimize=True)
    # natural→zigzag: zig[k] = natural[ZIGZAG[k]]
    zig = coefs.reshape(by, bx, 64)[:, :, ZIGZAG]
    return np.rint(zig / qt_zig).astype(np.int64)


def _pad_to_blocks(plane: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """Edge-replicate pad up to multiples of (bh, bw_)."""
    h, w = plane.shape
    ph = (-h) % bh
    pw = (-w) % bw_
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _dqt_segment(tid: int, qt_zig: np.ndarray) -> bytes:
    body = bytes([tid]) + qt_zig.astype(np.uint8).tobytes()
    return b"\xFF\xDB" + struct.pack(">H", len(body) + 2) + body


def _dht_segment(tc: int, th: int, table: tuple) -> bytes:
    counts, syms = table
    body = bytes([(tc << 4) | th]) + bytes(counts) + syms
    return b"\xFF\xC4" + struct.pack(">H", len(body) + 2) + body


def _gray_blocks(px: np.ndarray, quality: int, who: str) -> tuple:
    """uint8 (h, w) → ``(h, w, quantizer, (blocks, 64) zigzag
    coefficients)`` in raster block order."""
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(f"{who} wants (h, w)")
    qt_zig = _scaled_qt(_STD_LUM_QT, quality)
    coefs = _fdct_quant(_pad_to_blocks(arr, 8, 8), qt_zig)
    return (*arr.shape, qt_zig, coefs.reshape(-1, 64))


def encode_jpeg_gray(px: np.ndarray, quality: int = 90,
                     restart_interval: int = 0) -> bytes:
    """uint8 (h, w) → single-component baseline JPEG."""
    h, w, qt_zig, zz = _gray_blocks(px, quality, "encode_jpeg_gray")
    dc_code, dc_len = _tab_arrays(_huff_encode_table(*_STD_DC_LUM))
    ac_code, ac_len = _tab_arrays(_huff_encode_table(*_STD_AC_LUM))
    ri = restart_interval
    ecs = bytearray()
    if ri:
        # each restart segment is an independent entropy stream (pred
        # reset, byte-aligned), joined by cycling RSTn markers
        for si, s in enumerate(range(0, len(zz), ri)):
            if si:
                ecs += bytes([0xFF, 0xD0 + ((si - 1) & 7)])
            ecs += _encode_gray_segment(zz[s:s + ri], dc_code, dc_len,
                                        ac_code, ac_len)
    else:
        ecs += _encode_gray_segment(zz, dc_code, dc_len, ac_code, ac_len)
    sof = b"\xFF\xC0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + \
        bytes([1, 0x11, 0])
    sos = b"\xFF\xDA" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    dri = (b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
           if restart_interval else b"")
    return b"\xFF\xD8" + _dqt_segment(0, qt_zig) + \
        _dht_segment(0, 0, _STD_DC_LUM) + _dht_segment(1, 0, _STD_AC_LUM) + \
        dri + sof + sos + bytes(ecs) + b"\xFF\xD9"


#: progressive fixture tables: flat canonical codes (16 DC symbols at 5
#: bits, all 256 AC symbols at 9 bits) — deliberately complete so EOBn
#: codes with any run category exist; compression quality is irrelevant
#: for fixture authoring, validity and path coverage are the point
_PROG_DC = ([0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
            bytes(range(16)))


#: DHT length counts are single bytes (≤255), so the last AC symbol
#: rides one level deeper
_PROG_AC = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0],
            bytes(range(256)))


def encode_jpeg_gray_progressive(px: np.ndarray,
                                 quality: int = 90) -> bytes:
    """uint8 (h, w) → single-component **progressive** JPEG (SOF2) with a
    six-scan script that exercises every T.81 Annex G decode path: DC
    first with point transform (Al=1), DC refinement, AC first per
    spectral band (1-5, 6-63, Al=1) with EOB runs, and AC refinement with
    correction bits.  Fixture-authoring side of the progressive decoder;
    the scan shapes mirror what libjpeg's default progression emits."""
    h, w, qt_zig, zz = _gray_blocks(px, quality,
                                    "encode_jpeg_gray_progressive")
    dc_tab = _huff_encode_table(*_PROG_DC)
    ac_tab = _huff_encode_table(*_PROG_AC)

    def sos(ss, se, ah, al):
        return b"\xFF\xDA" + struct.pack(">HB", 8, 1) + \
            bytes([1, 0x00, ss, se, (ah << 4) | al])

    out = bytearray(b"\xFF\xD8")
    out += _dqt_segment(0, qt_zig)
    out += _dht_segment(0, 0, _PROG_DC)
    out += _dht_segment(1, 0, _PROG_AC)
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + \
        bytes([1, 0x11, 0])

    # ---- scan 1: DC first, Al=1 ----
    bw = _BitWriter()
    pred = 0
    for i in range(len(zz)):
        v = int(zz[i, 0]) >> 1
        t, code = _magnitude(v - pred)
        pred = v
        c, ln = dc_tab[t]
        bw.write(c, ln)
        if t:
            bw.write(code, t)
    bw.pad()
    out += sos(0, 0, 0, 1) + bw.out

    # ---- scan 2: DC refinement, Ah=1 Al=0 ----
    bw = _BitWriter()
    for i in range(len(zz)):
        bw.write(int(zz[i, 0]) & 1, 1)
    bw.pad()
    out += sos(0, 0, 1, 0) + bw.out

    def pt(v: int, al: int) -> int:
        """AC point transform: magnitude shift, sign preserved (G.1.2.2)."""
        return -((-v) >> al) if v < 0 else v >> al

    def _flush(bwr, state, buffered):
        """Emit the pending EOB run (EOBn symbol + run bits), then the
        correction bits buffered behind it."""
        n = state[0]
        if not n:
            return
        r = n.bit_length() - 1
        c, ln = ac_tab[r << 4]
        bwr.write(c, ln)
        if r:
            bwr.write(n - (1 << r), r)
        state[0] = 0
        for bit in buffered:
            bwr.write(bit, 1)
        buffered.clear()

    for ss, se in ((1, 5), (6, 63)):
        # ---- AC first for the band, Al=1 ----
        bw = _BitWriter()
        st = [0]  # eobrun box
        for i in range(len(zz)):
            r = 0
            for k in range(ss, se + 1):
                t = pt(int(zz[i, k]), 1)
                if t == 0:
                    r += 1
                    continue
                _flush(bw, st, [])
                while r > 15:
                    c, ln = ac_tab[0xF0]
                    bw.write(c, ln)
                    r -= 16
                s, code = _magnitude(t)
                c, ln = ac_tab[(r << 4) | s]
                bw.write(c, ln)
                bw.write(code, s)
                r = 0
            if r:
                st[0] += 1
                if st[0] == 0x7FFF:
                    _flush(bw, st, [])
        _flush(bw, st, [])
        bw.pad()
        out += sos(ss, se, 0, 1) + bw.out

        # ---- AC refinement for the band, Ah=1 Al=0 ----
        bw = _BitWriter()
        st = [0]           # eobrun
        be: list[int] = []  # correction bits buffered behind the EOB run
        for i in range(len(zz)):
            vals = [int(zz[i, k]) for k in range(ss, se + 1)]
            absv = [pt(abs(v), 0) for v in vals]  # Al=0: |v|
            eob_rel = -1
            for j, t in enumerate(absv):
                if t == 1:
                    eob_rel = j
            r = 0
            br: list[int] = []
            for j, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and j <= eob_rel:
                    _flush(bw, st, be)
                    c, ln = ac_tab[0xF0]
                    bw.write(c, ln)
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                    r -= 16
                if t > 1:
                    br.append(t & 1)
                    continue
                _flush(bw, st, be)
                c, ln = ac_tab[(r << 4) | 1]
                bw.write(c, ln)
                bw.write(1 if vals[j] > 0 else 0, 1)
                for bit in br:
                    bw.write(bit, 1)
                br = []
                r = 0
            if r > 0 or br:
                st[0] += 1
                be.extend(br)
                if st[0] == 0x7FFF:
                    _flush(bw, st, be)
        _flush(bw, st, be)
        bw.pad()
        out += sos(ss, se, 1, 0) + bw.out

    return bytes(out) + b"\xFF\xD9"


def encode_jpeg_rgb(px: np.ndarray, quality: int = 90,
                    subsample: bool = True) -> bytes:
    """uint8 (h, w, 3) RGB → 3-component YCbCr baseline JPEG
    (4:2:0 when ``subsample``, else 4:4:4) — exercises the decoder's
    interleaved multi-component MCU path."""
    arr = np.ascontiguousarray(px, dtype=np.uint8).astype(np.float64)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb wants (h, w, 3)")
    h, w = arr.shape[:2]
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [np.clip(np.rint(p), 0, 255).astype(np.uint8)
              for p in (y, cb, cr)]
    sh = sv = 2 if subsample else 1
    # luma padded to MCU multiples; chroma averaged down then padded
    yp = _pad_to_blocks(planes[0], 8 * sv, 8 * sh)
    if subsample:
        ch, cw = yp.shape[0] // 2, yp.shape[1] // 2
        chroma = []
        for p in planes[1:]:
            pp = _pad_to_blocks(p, 2, 2).astype(np.float64)
            down = (pp[0::2, 0::2] + pp[1::2, 0::2] +
                    pp[0::2, 1::2] + pp[1::2, 1::2]) / 4.0
            down = np.clip(np.rint(down), 0, 255).astype(np.uint8)
            chroma.append(_pad_to_blocks(down, 8, 8)[:ch, :cw])
    else:
        chroma = [_pad_to_blocks(p, 8, 8) for p in planes[1:]]
    lum_qt = _scaled_qt(_STD_LUM_QT, quality)
    chr_qt = _scaled_qt(_STD_CHR_QT, quality)
    lum_coefs = _fdct_quant(yp, lum_qt)
    chr_coefs = [_fdct_quant(c, chr_qt) for c in chroma]
    tabs = {
        "dcl": _huff_encode_table(*_STD_DC_LUM),
        "acl": _huff_encode_table(*_STD_AC_LUM),
        "dcc": _huff_encode_table(*_STD_DC_CHR),
        "acc": _huff_encode_table(*_STD_AC_CHR),
    }
    mcux = yp.shape[1] // (8 * sh)
    mcuy = yp.shape[0] // (8 * sv)
    bw = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for by_ in range(sv):
                for bx_ in range(sh):
                    preds[0] = _encode_block(
                        bw, lum_coefs[my * sv + by_, mx * sh + bx_],
                        preds[0], tabs["dcl"], tabs["acl"])
            for ci, cc in enumerate(chr_coefs):
                preds[ci + 1] = _encode_block(
                    bw, cc[my, mx], preds[ci + 1],
                    tabs["dcc"], tabs["acc"])
    bw.pad()
    hv_l = (sh << 4) | sv
    sof = b"\xFF\xC0" + struct.pack(">HBHHB", 17, 8, h, w, 3) + \
        bytes([1, hv_l, 0, 2, 0x11, 1, 3, 0x11, 1])
    sos = b"\xFF\xDA" + struct.pack(">HB", 12, 3) + \
        bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return b"\xFF\xD8" + _dqt_segment(0, lum_qt) + _dqt_segment(1, chr_qt) + \
        _dht_segment(0, 0, _STD_DC_LUM) + _dht_segment(1, 0, _STD_AC_LUM) + \
        _dht_segment(0, 1, _STD_DC_CHR) + _dht_segment(1, 1, _STD_AC_CHR) + \
        sof + sos + bytes(bw.out) + b"\xFF\xD9"


# --------------------------------------------------------------------------
# JPEG 2000 (T.800): forward wavelets, EBCOT T1, tag-tree packets, JP2
# --------------------------------------------------------------------------

def _t1_encode(coeffs: np.ndarray, cls: str) -> tuple[bytes, int, int]:
    """(h, w) int coefficients → (codeword segment, n passes, n bitplanes).
    All-zero blocks return ``(b"", 0, 0)`` (not included in any packet)."""
    h, w = coeffs.shape
    absv = np.abs(coeffs).astype(np.int64)
    vmax = int(absv.max()) if absv.size else 0
    if vmax == 0:
        return b"", 0, 0
    nbps = vmax.bit_length()
    npasses = 3 * nbps - 2
    enc = _MQEncoder()
    idx, mps = _fresh_t1_ctx()
    code = enc.encode
    st = _T1State(w, h, cls)
    sig, pi = st.sig, st.pi
    lut = st.lut
    av = [int(v) for v in absv.reshape(-1)]
    neg = [1 if v < 0 else 0 for v in coeffs.reshape(-1)]
    weight = nbps - 1
    for p in range(npasses):
        kind = 2 if p == 0 else (p - 1) % 3
        if kind == 0:                                   # significance prop
            for y0 in range(0, h, 4):
                if not st.stripe_live(y0 >> 2):
                    continue
                ymax = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, ymax):
                        i = y * w + x
                        if sig[i]:
                            continue
                        sh, sv, sd = st.counts(x, y, i)
                        if not (sh | sv | sd):
                            continue
                        b = (av[i] >> weight) & 1
                        code(idx, mps, lut[sh][sv][sd], b)
                        if b:
                            sc, xr = st.sign_ctx(x, y, i)
                            code(idx, mps, sc, neg[i] ^ xr)
                            st.set_sig(y, i, neg[i])
                        pi[i] = 1
        elif kind == 1:                                 # magnitude refine
            ref = st.ref
            for y0 in range(0, h, 4):
                if not st.stripe_cnt[y0 >> 2]:
                    continue
                ymax = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, ymax):
                        i = y * w + x
                        if not sig[i] or pi[i]:
                            continue
                        if ref[i]:
                            c = 16
                        else:
                            sh, sv, sd = st.counts(x, y, i)
                            c = 15 if (sh | sv | sd) else 14
                            ref[i] = 1
                        code(idx, mps, c, (av[i] >> weight) & 1)
        else:                                           # cleanup
            for y0 in range(0, h, 4):
                ymax = min(y0 + 4, h)
                full = ymax - y0 == 4
                clean = full and not st.stripe_live(y0 >> 2)
                for x in range(w):
                    y = y0
                    rl = clean
                    if full and not clean:
                        rl = True
                        for yy in range(y0, ymax):
                            i = yy * w + x
                            if sig[i] or pi[i]:
                                rl = False
                                break
                            sh, sv, sd = st.counts(x, yy, i)
                            if sh | sv | sd:
                                rl = False
                                break
                    if rl:
                        bits = [(av[(y0 + k) * w + x] >> weight) & 1
                                for k in range(4)]
                        if not any(bits):
                            code(idx, mps, _CTX_RL, 0)
                            continue
                        code(idx, mps, _CTX_RL, 1)
                        r = bits.index(1)
                        code(idx, mps, _CTX_UNI, (r >> 1) & 1)
                        code(idx, mps, _CTX_UNI, r & 1)
                        y = y0 + r
                        i = y * w + x
                        sc, xr = st.sign_ctx(x, y, i)
                        code(idx, mps, sc, neg[i] ^ xr)
                        st.set_sig(y, i, neg[i])
                        clean = False
                        y += 1
                    for yy in range(y, ymax):
                        i = yy * w + x
                        if sig[i] or pi[i]:
                            continue
                        sh, sv, sd = st.counts(x, yy, i)
                        b = (av[i] >> weight) & 1
                        code(idx, mps, lut[sh][sv][sd], b)
                        if b:
                            sc, xr = st.sign_ctx(x, yy, i)
                            code(idx, mps, sc, neg[i] ^ xr)
                            st.set_sig(yy, i, neg[i])
                            clean = False
            weight -= 1
            for i, v in enumerate(pi):
                if v:
                    pi[i] = 0
    return enc.flush(), npasses, nbps


def _fwd53_axis(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-D forward lifting along axis 0 with symmetric extension; even
    absolute indices are low-pass (the image origin is 0)."""
    n = a.shape[0]
    if n == 1:
        return a.astype(np.int64), a[:0].astype(np.int64)
    xe = a[0::2].astype(np.int64)
    xo = a[1::2].astype(np.int64)
    ce, co = xe.shape[0], xo.shape[0]
    re = xe[1:] if ce > co else np.concatenate([xe[1:], xe[-1:]])
    hb = xo - ((xe[:co] + re) >> 1)
    hl = np.concatenate([hb[:1], hb[:ce - 1]])
    hr = hb[:ce] if co >= ce else np.concatenate([hb, hb[-1:]])
    lb = xe + ((hl + hr + 2) >> 2)
    return lb, hb


def _fwd97_axis(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-D forward 9/7 lifting along axis 0 (float64), whole-sample
    symmetric extension — the irreversible analysis filter."""
    n = a.shape[0]
    x = a.astype(np.float64)
    if n == 1:
        return x, x[:0]
    y = _sym_ext(x, n)
    _lift97(y, ((_ALPHA, 1), (_BETA, 0), (_GAMMA, 1), (_DELTA, 0)))
    core = y[_97_PAD:_97_PAD + n]
    return core[0::2] / _KAPPA, core[1::2] * _KAPPA


def _fwd_2d(a: np.ndarray, fwd_axis: Callable) -> tuple[np.ndarray, ...]:
    """One decomposition with ``fwd_axis`` (:func:`_fwd53_axis` or
    :func:`_fwd97_axis`): vertical then horizontal lifting → LL, HL
    (horizontally high-pass), LH, HH.  The inverse mirrors the order, so
    the 5/3 is exactly reversible."""
    lv, hv = fwd_axis(a)
    ll_t, hl_t = fwd_axis(np.ascontiguousarray(lv.T))
    lh_t, hh_t = fwd_axis(np.ascontiguousarray(hv.T))
    return ll_t.T, hl_t.T, lh_t.T, hh_t.T


class _HdrWriter:
    """MSB-first bit writer with JPEG 2000 header stuffing: a byte after
    an emitted 0xFF carries only 7 bits, and a header never ends 0xFF."""

    __slots__ = ("out", "_acc", "_n", "_cap")

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0
        self._cap = 8

    def bit(self, b: int) -> None:
        self._acc = (self._acc << 1) | (b & 1)
        self._n += 1
        if self._n == self._cap:
            self.out.append(self._acc)
            self._cap = 7 if self._acc == 0xFF else 8
            self._acc = 0
            self._n = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def flush(self) -> bytes:
        if self._n:
            self.out.append(self._acc << (self._cap - self._n))
            self._acc = 0
            self._n = 0
            self._cap = 8
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0)
        return bytes(self.out)


class _TagTreeWriter(_TagTree):
    """The writing side of :class:`_TagTree`: leaf values are set up
    front, :meth:`finalize` propagates the minima, :meth:`encode` codes a
    leaf against a threshold (T.800 B.10.2)."""

    __slots__ = ()

    def set(self, x: int, y: int, v: int) -> None:
        node = self.off[0] + y * self.sizes[0][0] + x
        self.value[node] = v

    def finalize(self) -> None:
        """Propagate child minima up — call once after all leaf values
        are set (encoder side)."""
        for lev in range(1, len(self.sizes)):
            pw, _ph = self.sizes[lev]
            cw, ch = self.sizes[lev - 1]
            for cy in range(ch):
                for cx in range(cw):
                    child = self.off[lev - 1] + cy * cw + cx
                    parent = self.off[lev] + (cy >> 1) * pw + (cx >> 1)
                    if self.value[child] < self.value[parent]:
                        self.value[parent] = self.value[child]

    def encode(self, x: int, y: int, threshold: int, bw: _HdrWriter) -> None:
        value, low, known = self.value, self.low, self.known
        cur = 0
        for node in self._path(x, y):
            if cur > low[node]:
                low[node] = cur
            else:
                cur = low[node]
            while cur < threshold:
                if cur >= value[node]:
                    if not known[node]:
                        bw.bit(1)
                        known[node] = True
                    break
                bw.bit(0)
                cur += 1
            low[node] = cur


def _write_npasses(bw: _HdrWriter, n: int) -> None:
    """Coding-pass count codeword (T.800 Table B.4)."""
    if n == 1:
        bw.bit(0)
    elif n == 2:
        bw.bit(1)
        bw.bit(0)
    elif n <= 5:
        bw.bits(0b11, 2)
        bw.bits(n - 3, 2)
    elif n <= 36:
        bw.bits(0b1111, 4)
        bw.bits(n - 6, 5)
    elif n <= 164:
        bw.bits(0b111111111, 9)
        bw.bits(n - 37, 7)
    else:
        raise JpxError(f"cannot signal {n} coding passes")


def _encode_component(a: np.ndarray, levels: int, geo: list[tuple],
                      layout: list[dict],
                      deltas: list[float] | None = None,
                      ) -> tuple[list, list]:
    """DC-shifted plane → (per-resolution T1-coded block lists, flat
    resolution-major per-band max bitplane counts).  ``geo`` is the
    :func:`_precinct_geometry` of the tile (carries the per-resolution
    clamped block size); ``deltas`` (one quantization step per flat
    band index) switches to the irreversible path: 9/7 float wavelet,
    coefficients quantized toward zero."""
    per_res: list[list[np.ndarray]] = []
    ll = a
    lvl_bands = []
    fwd_axis = _fwd97_axis if deltas is not None else _fwd53_axis
    for _ in range(levels):
        ll, hl, lh, hh = _fwd_2d(ll, fwd_axis)
        lvl_bands.append([hl, lh, hh])
    per_res.append([ll])
    for r in range(1, levels + 1):
        per_res.append(lvl_bands[levels - r])

    res_blocks: list[list[list[dict]]] = []
    band_maxes: list[int] = []
    flat = 0
    for r, resol in enumerate(layout):
        res_blocks.append([])
        cw_r, ch_r = geo[r][0], geo[r][1]
        for bi, (cls, bw_, bh_, _gain) in enumerate(resol["bands"]):
            arr = per_res[r][bi]
            if deltas is not None:
                arr = np.trunc(arr / deltas[flat]).astype(np.int64)
            flat += 1
            assert arr.shape == (bh_, bw_), (arr.shape, bw_, bh_)
            blocks = []
            band_max = 0
            for by in range(_grid(bh_, ch_r)):
                for bx in range(_grid(bw_, cw_r)):
                    sub = arr[by * ch_r:(by + 1) * ch_r,
                              bx * cw_r:(bx + 1) * cw_r]
                    data, npasses, nbps = _t1_encode(sub, cls)
                    band_max = max(band_max, nbps)
                    blocks.append({"x": bx, "y": by, "data": data,
                                   "npasses": npasses, "nbps": nbps})
            band_maxes.append(band_max)
            res_blocks[r].append(blocks)
    return res_blocks, band_maxes


def _emit_tile_body(comps: list, layout: list[dict], levels: int,
                    geo: list[tuple], comp_mbs: list[list[int]],
                    sop: bool, eph: bool) -> bytes:
    """One tile's per-component T1-coded blocks → packet bytes, LRCP
    order (single layer): resolution, then component, then precinct in
    raster order.  ``comp_mbs`` are the per-component per-band
    magnitude bitplane counts (QCD, overridden per component by QCC)."""
    for c, res_blocks in enumerate(comps):
        flat = 0
        for r in range(levels + 1):
            for band in res_blocks[r]:
                for blk in band:
                    blk["p"] = comp_mbs[c][flat] - blk["nbps"]
                flat += 1

    body = bytearray()
    nsop = 0
    for r, resol in enumerate(layout):
        cw_r, ch_r, cell_w, cell_h, npx, npy = geo[r]
        sx, sy = cell_w // cw_r, cell_h // ch_r
        for res_blocks in comps:
            # bucket each band's blocks by precinct ONCE (mirror of the
            # decoder's _band_precincts grouping; avoids an O(blocks x
            # precincts) rescan)
            grouped: list[dict[int, list]] = []
            for band in res_blocks[r]:
                buckets: dict[int, list] = {}
                for blk in band:
                    px, py = blk["x"] // sx, blk["y"] // sy
                    buckets.setdefault(py * npx + px, []).append(
                        (blk, blk["x"] - px * sx, blk["y"] - py * sy))
                grouped.append(buckets)
            for p in range(npx * npy):
                py, px = divmod(p, npx)
                x0, y0 = px * sx, py * sy
                if sop:
                    body += struct.pack(">HHH", 0xFF91, 4,
                                        nsop & 0xFFFF)
                    nsop += 1
                hdr = _HdrWriter()
                if not any(blk["npasses"]
                           for buckets in grouped
                           for blk, _lx, _ly in buckets.get(p, ())):
                    hdr.bit(0)
                    body += hdr.flush()
                    if eph:
                        body += b"\xff\x92"
                    continue
                hdr.bit(1)
                payload = bytearray()
                for bi, (cls, bw_, bh_, _gain) in \
                        enumerate(resol["bands"]):
                    local = grouped[bi].get(p)
                    if not local:
                        continue
                    gw, gh = _grid(bw_, cw_r), _grid(bh_, ch_r)
                    lgw = min(sx, gw - x0)
                    lgh = min(sy, gh - y0)
                    incl = _TagTreeWriter(lgw, lgh)
                    imsb = _TagTreeWriter(lgw, lgh)
                    for blk, lx, ly in local:
                        incl.set(lx, ly, 0 if blk["npasses"] else 1)
                        imsb.set(lx, ly,
                                 blk["p"] if blk["npasses"] else 0)
                    incl.finalize()
                    imsb.finalize()
                    for blk, lx, ly in local:
                        incl.encode(lx, ly, 1, hdr)
                        if not blk["npasses"]:
                            continue
                        imsb.encode(lx, ly, blk["p"] + 1, hdr)
                        _write_npasses(hdr, blk["npasses"])
                        length = len(blk["data"])
                        lblock = 3
                        nbits = lblock + blk["npasses"].bit_length() - 1
                        extra = max(0, length.bit_length() - nbits)
                        for _ in range(extra):
                            hdr.bit(1)
                        hdr.bit(0)
                        hdr.bits(length, nbits + extra)
                        payload += blk["data"]
                body += hdr.flush()
                if eph:
                    body += b"\xff\x92"
                body += payload
    return bytes(body)


def _emit_codestream(planes: list[np.ndarray], w: int, h: int, bpc: int,
                     levels: int, cblk: int, mct: int, sop: bool,
                     eph: bool, tile: int | None,
                     irreversible: bool = False,
                     step: float = 0.25,
                     derived: bool = False,
                     precincts: list[tuple[int, int]] | None = None,
                     comp_steps: list[float] | None = None) -> bytes:
    """DC-shifted component planes → full codestream.  ``tile`` splits
    the image into a ``tile``×``tile`` grid (one tile-part per tile);
    None keeps the single whole-image tile.  The QCD (shared across
    components and tiles) is derived from the global per-band maxima.
    ``irreversible`` switches to the 9/7 wavelet with scalar-expounded
    quantization (step 1/4 of a unit in every band)."""
    if tile is None:
        xts = yts = max(w, h)
    else:
        if tile < 1:
            raise ValueError(f"tile size {tile} must be positive")
        xts = yts = tile
    ntx, nty = _grid(w, xts), _grid(h, yts)
    if ((ntx > 1 and xts % (1 << levels))
            or (nty > 1 and yts % (1 << levels))):
        # only axes with >1 tile need even-origin parity
        raise ValueError(
            f"tile size {tile} must be a multiple of 2^levels so "
            "every tile origin keeps even wavelet parity")
    if ntx * nty > 1 << 16:
        raise ValueError("tile count exceeds the 16-bit Isot field")
    ncomp = len(planes)
    csteps = comp_steps if comp_steps is not None else [step] * ncomp
    if len(csteps) != ncomp:
        raise ValueError("need one quantization step per component")
    comp_deltas: list = [None] * ncomp
    comp_exps: list = [None] * ncomp
    comp_mants = [0] * ncomp
    if irreversible:
        gains = [g for resol in _band_dims(max(w, 2), max(h, 2), levels)
                 for (_c, _w2, _h2, g) in resol["bands"]]
        guard = 3
        for c, cstep in enumerate(csteps):
            if not 2.0 ** -10 <= cstep <= 2.0 ** 10:
                raise ValueError(f"quantization step {cstep} out of"
                                 " range")
            e2 = math.floor(math.log2(cstep))
            mant = min(max(int(round((cstep / 2.0 ** e2 - 1) * 2048)),
                           0), 2047)
            if derived:
                # scalar derived: LL carries (eps0, mu); band exponents
                # drop by one per finer resolution (E.1.1)
                eps0 = bpc - e2
                exps = [eps0]
                for r in range(1, levels + 1):
                    exps += [eps0 - (r - 1)] * 3
            else:
                exps = [bpc + g - e2 for g in gains]
            if min(exps) < 0 or max(exps) > 31:
                raise ValueError("quantization step outside the"
                                 " exponent field for this precision")
            # the REPRESENTABLE steps (mantissa-rounded) — encoder and
            # decoder must agree exactly
            comp_exps[c] = exps
            comp_mants[c] = mant
            comp_deltas[c] = [2.0 ** (bpc + g - e) * (1 + mant / 2048.0)
                              for g, e in zip(gains, exps)]
    if precincts is not None:
        if ntx > 1 or nty > 1:
            raise ValueError("custom precincts with multiple tiles are"
                             " out of scope (reference-grid anchoring)")
        if len(precincts) != levels + 1:
            raise ValueError("need one precinct size per resolution")
        for r, (px, py) in enumerate(precincts):
            if not (0 <= px <= 15 and 0 <= py <= 15) \
                    or (r > 0 and (px == 0 or py == 0)):
                raise ValueError(f"invalid precinct exponents ({px},"
                                 f" {py}) at resolution {r}")
    pps = precincts if precincts is not None \
        else [(15, 15)] * (levels + 1)
    tiles = []                       # (layout, geo, comps_res_blocks)
    comp_maxes: list = [None] * ncomp
    for ty in range(nty):
        for tx in range(ntx):
            tw = min(xts, w - tx * xts)
            th = min(yts, h - ty * yts)
            layout = _band_dims(tw, th, levels)
            geo = _precinct_geometry(tw, th, levels, pps, cblk, cblk)
            comps = []
            for c, plane in enumerate(planes):
                sub = plane[ty * yts:ty * yts + th,
                            tx * xts:tx * xts + tw]
                res_blocks, band_maxes = _encode_component(
                    sub, levels, geo, layout, deltas=comp_deltas[c])
                comps.append(res_blocks)
                comp_maxes[c] = band_maxes if comp_maxes[c] is None \
                    else [max(a2, b2) for a2, b2
                          in zip(comp_maxes[c], band_maxes)]
            tiles.append((layout, geo, comps))

    if irreversible:
        comp_mbs = [[guard + e - 1 for e in comp_exps[c]]
                    for c in range(ncomp)]
        for c in range(ncomp):
            for m, mb in zip(comp_maxes[c], comp_mbs[c]):
                if m > mb:
                    raise ValueError("quantized coefficient range"
                                     " exceeds the guard-bit budget")
    else:
        guard = 2
        maxes = [max(ms) for ms in zip(*comp_maxes)]   # shared QCD
        exps = [max(m, 1) - guard + 1 if max(m, 1) - guard + 1 > 0
                else 0 for m in maxes]
        comp_exps = [exps] * ncomp
        comp_mbs = [[guard + e - 1 for e in exps]] * ncomp

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, xts, yts, 0, 0,
                      ncomp) + bytes([bpc - 1, 1, 1]) * ncomp
    xcb = cblk.bit_length() - 1
    scod = (0x01 if precincts is not None else 0) \
        | (0x02 if sop else 0) | (0x04 if eph else 0)
    cod = bytes([scod]) + bytes([0]) + struct.pack(">H", 1) \
        + bytes([mct]) + bytes([levels, xcb - 2, xcb - 2, 0,
                                0 if irreversible else 1])
    if precincts is not None:
        cod += bytes((py << 4) | px for px, py in precincts)

    def quant_seg(c: int) -> bytes:
        exps_, mant_ = comp_exps[c], comp_mants[c]
        if max(exps_) > 31:
            raise ValueError("coefficient range exceeds QCD exponent"
                             " field")
        if irreversible and derived:   # derived: single 16-bit pair
            return bytes([(guard << 5) | 1]) \
                + struct.pack(">H", (exps_[0] << 11) | mant_)
        if irreversible:               # expounded: (exponent, mantissa)
            return bytes([(guard << 5) | 2]) + b"".join(
                struct.pack(">H", (e << 11) | mant_) for e in exps_)
        return bytes([(guard << 5) | 0]) + bytes(e << 3 for e in exps_)

    out = bytearray(b"\xffO" + seg(0xFF51, siz) + seg(0xFF52, cod)
                    + seg(0xFF5C, quant_seg(0)))
    for c in range(1, ncomp):          # QCC for components that differ
        if comp_exps[c] != comp_exps[0] \
                or comp_mants[c] != comp_mants[0]:
            out += seg(0xFF5D, bytes([c]) + quant_seg(c))
    for i, (layout, geo, comps) in enumerate(tiles):
        body = _emit_tile_body(comps, layout, levels, geo, comp_mbs,
                               sop, eph)
        psot = 2 + 10 + 2 + len(body)     # SOT..Lsot seg..SOD..body
        out += seg(0xFF90, struct.pack(">HIBB", i, psot, 0, 1))
        out += b"\xff\x93" + body
    out += b"\xff\xd9"
    return bytes(out)


def _wrap_boxes(stream: bytes, w: int, h: int, bpc: int,
                ncomp: int) -> bytes:
    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ihdr = box(b"ihdr",
               struct.pack(">IIHBBBB", h, w, ncomp, bpc - 1, 7, 0, 0))
    colr = box(b"colr", bytes([1, 0, 0])
               + struct.pack(">I", 17 if ncomp == 1 else 16))
    return (struct.pack(">I", 12) + b"jP  " + b"\x0d\x0a\x87\x0a"
            + box(b"ftyp", b"jp2 \x00\x00\x00\x00jp2 ")
            + box(b"jp2h", ihdr + colr)
            + box(b"jp2c", stream))


def _check_encode_args(shape: tuple, bpc: int, levels: int,
                       cblk: int) -> None:
    h, w = shape
    if not 1 <= bpc <= 8:
        raise ValueError(f"unsupported bpc {bpc}")
    if not 0 <= levels <= _MAX_LEVELS:
        raise ValueError(f"unsupported decomposition levels {levels}")
    if cblk & (cblk - 1) or not 4 <= cblk <= 64:
        # square blocks: xcb + ycb <= 12 (T.800 A.6.1) caps a side at 64
        raise ValueError(f"code-block size {cblk} not a power of two in "
                         "[4, 64]")
    if w > _MAX_DIM or h > _MAX_DIM:
        raise ValueError(f"image {w}x{h} exceeds {_MAX_DIM} per axis")


def encode_jp2_gray(img: np.ndarray, bpc: int = 8, levels: int = 1,
                    cblk: int = 64, wrap_jp2: bool = True,
                    sop: bool = False, eph: bool = False,
                    tile: int | None = None,
                    irreversible: bool = False,
                    step: float = 0.25,
                    derived: bool = False,
                    precincts: list[tuple[int, int]] | None = None,
                    ) -> bytes:
    """Grayscale 2-D uint8 array → lossless JPEG 2000 bytes (JP2 file by
    default; ``wrap_jp2=False`` emits the raw codestream).  ``bpc`` sets
    the component precision: 8 stores samples as-is, lower depths
    re-quantize (``bpc=1`` thresholds at 128 — the bilevel-scan form,
    the fixture corpus's fast tier: ±1 coefficients keep the T1 pass
    count tiny while exercising the whole wavelet/packet machinery).
    ``sop``/``eph`` emit the optional packet-boundary markers some real
    encoders use; ``tile`` splits the image into a tile grid (one
    tile-part each), the way scanners tile large pages;
    ``irreversible=True`` codes through the 9/7 float wavelet with
    scalar-expounded quantization — the LOSSY form photographic archive
    scans use (reconstruction error bounded by the 1/4-unit step)."""
    if img.ndim != 2 or img.size == 0:
        raise ValueError("need a non-empty 2-D grayscale array")
    _check_encode_args(img.shape, bpc, levels, cblk)
    h, w = img.shape
    if bpc == 8:
        samples = img.astype(np.int64)
    else:
        top = (1 << bpc) - 1
        samples = ((img.astype(np.int64) * top + 127) // 255)
    a = samples - (1 << (bpc - 1))
    stream = _emit_codestream([a], w, h, bpc, levels, cblk, mct=0,
                              sop=sop, eph=eph, tile=tile,
                              irreversible=irreversible, step=step,
                              derived=derived, precincts=precincts)
    return _wrap_boxes(stream, w, h, bpc, 1) if wrap_jp2 else stream


def encode_jp2_rgb(img: np.ndarray, levels: int = 1, cblk: int = 64,
                   wrap_jp2: bool = True, sop: bool = False,
                   eph: bool = False, tile: int | None = None,
                   irreversible: bool = False, step: float = 0.25,
                   precincts: list[tuple[int, int]] | None = None,
                   chroma_step: float | None = None) -> bytes:
    """(h, w, 3) uint8 RGB → JPEG 2000 bytes: three 8-bit components
    through the reversible color transform (T.800 Annex G.2 RCT,
    lossless), or — with ``irreversible=True`` — the float ICT (G.3)
    over the 9/7 wavelet, the lossy color-scan form."""
    if img.ndim != 3 or img.shape[2] != 3 or img.size == 0:
        raise ValueError("need a non-empty (h, w, 3) RGB array")
    _check_encode_args(img.shape[:2], 8, levels, cblk)
    h, w = img.shape[:2]
    if irreversible:                   # DC level shift, then float ICT
        rgb = img.astype(np.float64) - 128.0
        r_, g_, b_ = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [0.299 * r_ + 0.587 * g_ + 0.114 * b_,
                  -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_,
                  0.5 * r_ - 0.418688 * g_ - 0.081312 * b_]
    else:                              # DC level shift, then RCT
        rgb = img.astype(np.int64) - 128
        r_, g_, b_ = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [(r_ + 2 * g_ + b_) >> 2, b_ - g_, r_ - g_]
    if chroma_step is not None and not irreversible:
        raise ValueError("chroma_step needs irreversible coding")
    comp_steps = [step, chroma_step, chroma_step] \
        if chroma_step is not None else None
    stream = _emit_codestream(planes, w, h, 8, levels, cblk, mct=1,
                              sop=sop, eph=eph, tile=tile,
                              irreversible=irreversible, step=step,
                              precincts=precincts,
                              comp_steps=comp_steps)
    return _wrap_boxes(stream, w, h, 8, 3) if wrap_jp2 else stream


# --------------------------------------------------------------------------
# PNG, GIF and the LZW they and PDF share
# --------------------------------------------------------------------------

def _chunk(ctype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body)) + ctype + body + \
        struct.pack(">I", crc32(ctype + body) & 0xFFFFFFFF)


def _filter_row(cur: np.ndarray, prev: np.ndarray, fu: int,
                f: int) -> np.ndarray:
    """Apply filter ``f`` forward (encoder side)."""
    c = cur.astype(np.int64)
    a = np.zeros_like(c)
    a[fu:] = c[:-fu]
    b = prev.astype(np.int64)
    cc = np.zeros_like(b)
    cc[fu:] = b[:-fu]
    if f == 0:
        out = c
    elif f == 1:
        out = c - a
    elif f == 2:
        out = c - b
    elif f == 3:
        out = c - ((a + b) >> 1)
    else:  # Paeth
        p = a + b - cc
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
        out = c - pred
    return (out & 255).astype(np.uint8)


def encode_png(px: np.ndarray, filter_type: int = 0,
               interlace: bool = False) -> bytes:
    """uint8 array (h, w) gray, (h, w, 3) RGB or (h, w, 4) RGBA → PNG bytes
    (8-bit, one IDAT).  ``filter_type`` selects the same scanline filter
    for every row — 0 for plain fixtures, 1-4 to exercise the decoder's
    unfilter paths; ``interlace`` emits Adam7 (each pass filtered
    independently, per spec)."""
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter_type {filter_type}")
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, channels = arr.shape
    color = {1: 0, 3: 2, 4: 6}.get(channels)
    if color is None:
        raise ValueError(f"unsupported channel count {channels}")
    fu = channels
    body = bytearray()

    def filter_rows(sub: np.ndarray) -> None:
        hp, wp = sub.shape[:2]
        flat = np.ascontiguousarray(sub).reshape(hp, wp * channels)
        prev = np.zeros(wp * channels, dtype=np.uint8)
        for y in range(hp):
            body.append(filter_type)
            body.extend(_filter_row(flat[y], prev, fu,
                                    filter_type).tobytes())
            prev = flat[y]

    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                filter_rows(sub)
    else:
        filter_rows(arr)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0,
                       1 if interlace else 0)
    return PNG_MAGIC + _chunk(b"IHDR", ihdr) + \
        _chunk(b"IDAT", zlib.compress(bytes(body), 6)) + _chunk(b"IEND", b"")


def lzw_encode(data: bytes, min_code_size: int, msb_first: bool,
               early: int) -> bytes:
    """Variable-width LZW, the mirror of :func:`..core.filters.lzw_decode`:
    codes packed MSB-first (PDF) or LSB-first (GIF) grow from
    ``min_code_size + 1`` to 12 bits, ``early`` codes early (PDF
    ``EarlyChange``; GIF 0).  The stream starts with CLEAR and ends with
    EOI; CLEAR is emitted again before the table would pass 4,096
    entries, so any input length decodes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf = buf << width | code if msb_first else buf | code << nbits
        nbits += width
        while nbits >= 8:
            nbits -= 8
            if msb_first:
                out.append(buf >> nbits)
                buf &= (1 << nbits) - 1
            else:
                out.append(buf & 0xFF)
                buf >>= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            # the decoder adds nothing for the first post-clear code, so
            # its table length trails next_code by one: it grows width
            # when length + early hits 1 << width
            if next_code + early > 1 << width and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = c
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(buf << (8 - nbits) if msb_first else buf)
    return bytes(out)


def encode_gif_gray(px: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 (h, w) grayscale → GIF89a with a 256-entry gray global
    color table — fixture authoring; standard output any GIF tool reads."""
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_gif_gray wants (h, w)")
    h, w = arr.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"bad dimensions {w}x{h}")
    gct = bytes(v for g in range(256) for v in (g, g, g))
    if interlace:
        rows = [arr[start::step] for start, step in _GIF_INTERLACE]
        indices = np.concatenate(rows).tobytes()
    else:
        indices = arr.tobytes()
    lzw = lzw_encode(indices, 8, False, 0)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0) + gct
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                    0x40 if interlace else 0)
            + bytes([8]) + bytes(blocks) + b"\x3B")


# --------------------------------------------------------------------------
# 5x7 page renderer (the scanner stand-in)
# --------------------------------------------------------------------------

_INK_Y_OFF = 2                 # ink anchored 2 px below the word-box top


def render_words_gray(width: int, height: int,
                      words: list[tuple[str, float, float, float, float]],
                      ) -> bytes:
    """Render word boxes into an 8-bit grayscale page (row-major samples,
    255 = background, 0 = ink).  ``words`` are ``(text, x0, y0, x1, y1)``
    in top-origin pixel coords; each character prints in a 6-px cell
    starting at ``round(x0)``, glyph ink 2 px below ``round(y0)``.

    Raises ``ValueError`` on characters outside the font or on ink that
    would fall outside the page — a silently clipped word would break the
    extraction byte-identity oracle downstream.
    """
    w, h = int(width), int(height)
    page = np.full((h, w), 255, dtype=np.uint8)
    for text, x0, y0, _x1, _y1 in words:
        cx = int(round(x0))
        cy = int(round(y0)) + _INK_Y_OFF
        if cy < 0 or cy + GLYPH_H > h:
            raise ValueError(
                f"word {text!r} ink rows [{cy}, {cy + GLYPH_H}) outside "
                f"page height {h}")
        for ch in text:
            tpl = _TEMPLATES.get(ch)
            if tpl is None:
                raise ValueError(
                    f"character {ch!r} not in the 5x7 raster font")
            if cx < 0 or cx + GLYPH_W > w:
                raise ValueError(
                    f"word {text!r} ink cols [{cx}, {cx + GLYPH_W}) "
                    f"outside page width {w}")
            region = page[cy:cy + GLYPH_H, cx:cx + GLYPH_W]
            region[tpl == 1] = 0
            cx += _CELL_W
    return page.tobytes()
