"""JPEG 2000 (ITU-T T.800 / ISO-IEC 15444-1) codec in pure stdlib+numpy.

The last raster family the reference handles that this repo could not:
pdf.js decodes **JPXDecode** page images transparently
(``/root/reference/src/lib/ocr/extractor.ts:12-37`` renders any embedded
raster before ``ocr.ts:50-110`` reads it); JPEG 2000 is the archive /
ebook-scanner format (JSTOR-style scans, DjVu re-exports).  This module
decodes the common PDF-embedded case from the public spec:

* JP2 box wrapper or raw codestream (auto-detected),
* 1-8 bit unsigned components: grayscale, or 3-component color through
  the reversible color transform (Annex G.2 RCT) or the float ICT
  (G.3, irreversible streams) — decoded to ITU-R BT.601 luma, the
  gray the OCR tier reads,
* tiled images (the way scanners tile large pages): any power-of-two-
  aligned tile grid (tile size a multiple of 2^levels, so every tile
  keeps even wavelet parity — true of every real tiler), each tile in
  one or more tile-parts in any order,
* reversible 5/3 integer wavelet (T.800 Annex F), any 0-10
  decomposition levels, with a no-quantization QCD — OR the
  irreversible 9/7 float wavelet (F.4.8) with scalar quantization
  (expounded or derived) and midpoint dequantization (E.1.1) — the
  LOSSY form photographic archive scans use,
* EBCOT Tier-1 coefficient coding (Annex D: significance-propagation /
  magnitude-refinement / cleanup passes, run-length mode, sign
  contexts) over the MQ arithmetic coder shared with
  :mod:`core.jbig2codec` (T.88 Annex E ≡ T.800 Annex C — the two
  standards specify the same coder),
* Tier-2 packet headers (Annex B: tag trees, bit-stuffed headers,
  Lblock length signalling), LRCP/RLCP progressions, multi-layer
  pass accumulation, SOP/EPH packet-boundary markers, and CUSTOM
  PRECINCTS (per-resolution sizes, per-precinct tag trees and
  packets, precinct-clamped code-blocks — the random-access layout
  archive encoders emit).

QCC per-component quantization overrides (the chroma-coarser form
lossy color encoders emit) are honored.  Out-of-scope arrangements
reject cleanly as :class:`JpxUnsupported` (a :class:`JpxError`):
component counts other than 1/3, subsampled images, COC/POC/PPM
overrides, coder bypass/termination style bits.  Malformed streams raise
:class:`JpxError` — error-as-value at the extraction layer
(``operators/ocr.py`` maps it to ``status='decode_error'``), never a
crash, and every allocation is budget-capped before it happens.

The fixture encoder (``encoders.raster.encode_jp2_gray`` /
``encode_jp2_rgb``) shares the T1 context model, the inverse-wavelet
lifting constants, the tag tree and the precinct geometry with this
module; it emits real, spec-shaped codestreams the decoder has no
private knowledge of.
"""

from __future__ import annotations

import struct

import numpy as np

from .images import _luma
from .jbig2codec import _MQDecoder

__all__ = [
    "JpxError",
    "JpxUnsupported",
    "decode_jpx_gray",
]


class JpxError(ValueError):
    """Malformed or truncated JPEG 2000 stream."""


class JpxUnsupported(JpxError):
    """Valid-looking stream using an arrangement outside this decoder's
    scope (9/7 irreversible, multi-component, custom precincts, ...)."""


# --------------------------------------------------------------------------
# budgets — enforced before any allocation (repo codec convention)
# --------------------------------------------------------------------------

_MAX_PIXELS = 1 << 26          # whole-image pixel budget
_MAX_DIM = 1 << 15             # per-axis cap; keeps default 2^15 precincts
                               # single-precinct at every resolution
_MAX_LEVELS = 10
_MAX_LAYERS = 1 << 12
_MAX_MB = 31                   # magnitude bitplanes per block
_MAX_BLOCKS = 1 << 20          # total code-blocks across all bands


# --------------------------------------------------------------------------
# T1 context model (T.800 Annex D)
# --------------------------------------------------------------------------

#: context ids: 0-8 significance, 9-13 sign, 14-16 magnitude refinement,
#: 17 run-length, 18 uniform
_CTX_RL = 17
_CTX_UNI = 18


def _fresh_t1_ctx() -> tuple[list, list]:
    """Initial MQ context states (T.800 Table D.7): all (index 0, MPS 0)
    except the all-zero-neighbourhood significance context (index 4),
    run-length (index 3) and uniform (index 46)."""
    idx = [0] * 19
    idx[0] = 4
    idx[_CTX_RL] = 3
    idx[_CTX_UNI] = 46
    return idx, [0] * 19


def _build_sig_luts() -> dict:
    """Significance-coding context per (sum-H, sum-V, sum-D) and band
    class (T.800 Table D.1).  LL and LH share the H-primary column, HL
    swaps H and V, HH keys on the diagonal sum."""
    luts = {}
    for cls in ("ll_lh", "hl", "hh"):
        t = [[[0] * 5 for _ in range(3)] for _ in range(3)]
        for sh in range(3):
            for sv in range(3):
                for sd in range(5):
                    if cls == "hh":
                        hv = sh + sv
                        if sd >= 3:
                            c = 8
                        elif sd == 2:
                            c = 7 if hv >= 1 else 6
                        elif sd == 1:
                            c = 5 if hv >= 2 else 4 if hv == 1 else 3
                        else:
                            c = 2 if hv >= 2 else 1 if hv == 1 else 0
                    else:
                        h_, v_ = (sh, sv) if cls == "ll_lh" else (sv, sh)
                        if h_ == 2:
                            c = 8
                        elif h_ == 1:
                            c = 7 if v_ >= 1 else 6 if sd >= 1 else 5
                        elif v_ == 2:
                            c = 4
                        elif v_ == 1:
                            c = 3
                        else:
                            c = 2 if sd >= 2 else 1 if sd == 1 else 0
                    t[sh][sv][sd] = c
        luts[cls] = t
    return luts


_SIG_LUT = _build_sig_luts()

#: sign-coding context and XOR bit per (Hc+1, Vc+1) (T.800 Table D.2)
_SIGN_CTX = (
    ((13, 1), (12, 1), (11, 1)),   # Hc = -1
    ((10, 1), (9, 0), (10, 0)),    # Hc = 0
    ((11, 0), (12, 0), (13, 0)),   # Hc = +1
)


class _T1State:
    """Per-code-block coder state shared by the encode and decode passes:
    flat significance / visited / refined / sign arrays plus per-stripe
    significance counts (the skip accelerator for blank regions)."""

    __slots__ = ("w", "h", "sig", "pi", "ref", "sgn",
                 "stripe_cnt", "lut")

    def __init__(self, w: int, h: int, cls: str) -> None:
        n = w * h
        self.w, self.h = w, h
        self.sig = [0] * n
        self.pi = [0] * n
        self.ref = [0] * n
        self.sgn = [0] * n
        self.stripe_cnt = [0] * ((h + 3) // 4)
        self.lut = _SIG_LUT[cls]

    def counts(self, x: int, y: int, i: int) -> tuple[int, int, int]:
        sig, w = self.sig, self.w
        left, right = x > 0, x < w - 1
        sh = sv = sd = 0
        if left:
            sh += sig[i - 1]
        if right:
            sh += sig[i + 1]
        if y > 0:
            j = i - w
            sv += sig[j]
            if left:
                sd += sig[j - 1]
            if right:
                sd += sig[j + 1]
        if y < self.h - 1:
            j = i + w
            sv += sig[j]
            if left:
                sd += sig[j - 1]
            if right:
                sd += sig[j + 1]
        return sh, sv, sd

    def sign_ctx(self, x: int, y: int, i: int) -> tuple[int, int]:
        sig, sgn, w = self.sig, self.sgn, self.w
        hc = vc = 0
        if x > 0 and sig[i - 1]:
            hc += -1 if sgn[i - 1] else 1
        if x < w - 1 and sig[i + 1]:
            hc += -1 if sgn[i + 1] else 1
        if y > 0 and sig[i - w]:
            vc += -1 if sgn[i - w] else 1
        if y < self.h - 1 and sig[i + w]:
            vc += -1 if sgn[i + w] else 1
        hc = 1 if hc > 0 else -1 if hc < 0 else 0
        vc = 1 if vc > 0 else -1 if vc < 0 else 0
        return _SIGN_CTX[hc + 1][vc + 1]

    def set_sig(self, y: int, i: int, neg: int) -> None:
        self.sig[i] = 1
        self.sgn[i] = neg
        self.stripe_cnt[y >> 2] += 1

    def stripe_live(self, k: int) -> bool:
        """True iff stripe k or a neighbouring stripe holds significance
        (conservative candidate test for the SPP stripe skip)."""
        cnt = self.stripe_cnt
        if cnt[k]:
            return True
        if k > 0 and cnt[k - 1]:
            return True
        return k + 1 < len(cnt) and bool(cnt[k + 1])


def _t1_decode(data: bytes, w: int, h: int, npasses: int, nbps: int,
               cls: str) -> np.ndarray:
    """One code-block's codeword segment → (h, w) int32 coefficients."""
    out = np.zeros((h, w), np.int32)
    if nbps <= 0 or npasses <= 0:
        return out
    if npasses > 3 * nbps - 2:
        raise JpxError(f"{npasses} passes exceed {nbps} bitplanes")
    mq = _MQDecoder(bytes(data))
    idx, mps = _fresh_t1_ctx()
    dec = mq.decode
    st = _T1State(w, h, cls)
    sig, pi = st.sig, st.pi
    lut = st.lut
    mag = [0] * (w * h)
    weight = nbps - 1
    for p in range(npasses):
        kind = 2 if p == 0 else (p - 1) % 3
        bit = 1 << weight
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
                        if dec(idx, mps, lut[sh][sv][sd]):
                            sc, xr = st.sign_ctx(x, y, i)
                            st.set_sig(y, i, dec(idx, mps, sc) ^ xr)
                            mag[i] = bit
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
                        if dec(idx, mps, c):
                            mag[i] |= bit
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
                        if not dec(idx, mps, _CTX_RL):
                            continue
                        r = (dec(idx, mps, _CTX_UNI) << 1) \
                            | dec(idx, mps, _CTX_UNI)
                        y = y0 + r
                        i = y * w + x
                        sc, xr = st.sign_ctx(x, y, i)
                        st.set_sig(y, i, dec(idx, mps, sc) ^ xr)
                        mag[i] = bit
                        clean = False
                        y += 1
                    for yy in range(y, ymax):
                        i = yy * w + x
                        if sig[i] or pi[i]:
                            continue
                        sh, sv, sd = st.counts(x, yy, i)
                        if dec(idx, mps, lut[sh][sv][sd]):
                            sc, xr = st.sign_ctx(x, yy, i)
                            st.set_sig(yy, i, dec(idx, mps, sc) ^ xr)
                            mag[i] = bit
                            clean = False
            weight -= 1
            for i, v in enumerate(pi):
                if v:
                    pi[i] = 0
    flat = out.reshape(-1)
    sgn = st.sgn
    for i, m in enumerate(mag):
        if m:
            flat[i] = -m if sgn[i] else m
    return out


# --------------------------------------------------------------------------
# 5/3 reversible wavelet (T.800 Annex F)
# --------------------------------------------------------------------------

def _inv53_axis(lb: np.ndarray, hb: np.ndarray) -> np.ndarray:
    ce, co = lb.shape[0], hb.shape[0]
    n = ce + co
    if n == 1:
        return lb.astype(np.int64)
    lb = lb.astype(np.int64)
    hb = hb.astype(np.int64)
    hl = np.concatenate([hb[:1], hb[:ce - 1]])
    hr = hb[:ce] if co >= ce else np.concatenate([hb, hb[-1:]])
    xe = lb - ((hl + hr + 2) >> 2)
    re = xe[1:] if ce > co else np.concatenate([xe[1:], xe[-1:]])
    xo = hb + ((xe[:co] + re) >> 1)
    out = np.empty((n,) + lb.shape[1:], np.int64)
    out[0::2] = xe
    out[1::2] = xo
    return out


# 9/7 irreversible lifting constants (T.800 F.4.8.1)
_ALPHA = -1.586134342059924
_BETA = -0.052980118572961
_GAMMA = 0.882911075530934
_DELTA = 0.443506852043971
_KAPPA = 1.230174104914001


_97_PAD = 4  # one lifting step of boundary staleness per pass


def _sym_ext(x: np.ndarray, n: int) -> np.ndarray:
    """Whole-sample symmetric extension of a length-n signal by
    ``_97_PAD`` samples each side (period 2(n-1)); the pad is even so
    extended-index parity equals absolute parity."""
    if n == 1:
        return np.repeat(x[:1], 1 + 2 * _97_PAD, axis=0)
    i = np.arange(-_97_PAD, n + _97_PAD)
    p = np.mod(np.abs(i), 2 * (n - 1))
    return x[np.where(p > n - 1, 2 * (n - 1) - p, p)]


def _lift97(y: np.ndarray, steps: tuple) -> None:
    m = y.shape[0]
    k = np.arange(1, m - 1)
    even = k[(k & 1) == 0]
    odd = k[(k & 1) == 1]
    for coef, parity in steps:
        sel = odd if parity else even
        y[sel] += coef * (y[sel - 1] + y[sel + 1])


def _inv97_axis(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    ce, co = lo.shape[0], hi.shape[0]
    n = ce + co
    if n == 1:
        return lo.astype(np.float64)
    core = np.empty((n,) + lo.shape[1:], np.float64)
    core[0::2] = lo * _KAPPA
    core[1::2] = hi / _KAPPA
    y = _sym_ext(core, n)
    _lift97(y, ((-_DELTA, 0), (-_GAMMA, 1), (-_BETA, 0), (-_ALPHA, 1)))
    return y[_97_PAD:_97_PAD + n]


def _inv53_2d(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
              hh: np.ndarray) -> np.ndarray:
    lv = _inv53_axis(np.ascontiguousarray(ll.T),
                     np.ascontiguousarray(hl.T)).T
    hv = _inv53_axis(np.ascontiguousarray(lh.T),
                     np.ascontiguousarray(hh.T)).T
    return _inv53_axis(np.ascontiguousarray(lv), np.ascontiguousarray(hv))


def _inv97_2d(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
              hh: np.ndarray) -> np.ndarray:
    lv = _inv97_axis(np.ascontiguousarray(ll.T),
                     np.ascontiguousarray(hl.T)).T
    hv = _inv97_axis(np.ascontiguousarray(lh.T),
                     np.ascontiguousarray(hh.T)).T
    return _inv97_axis(np.ascontiguousarray(lv), np.ascontiguousarray(hv))


def _band_dims(w: int, h: int, levels: int) -> list[dict]:
    """Resolution-major band layout: entry 0 is ``LL_n``; entry r>0 holds
    the HL/LH/HH triple at decomposition level ``n-r+1``.  Each band
    carries its T1 context class and QCD gain."""
    dims = [(w, h)]
    for _ in range(levels):
        pw, ph = dims[-1]
        dims.append(((pw + 1) // 2, (ph + 1) // 2))
    res = [{"bands": [("ll_lh", dims[levels][0], dims[levels][1], 0)]}]
    for r in range(1, levels + 1):
        lw, lh_ = dims[levels - r]
        cw, ch = dims[levels - r + 1]
        hw, hh_ = lw - cw, lh_ - ch
        res.append({"bands": [("hl", hw, ch, 1),
                              ("ll_lh", cw, hh_, 1),
                              ("hh", hw, hh_, 2)]})
    return res


# --------------------------------------------------------------------------
# Tier-2: tag trees and bit-stuffed packet headers (T.800 Annex B)
# --------------------------------------------------------------------------

class _HdrReader:
    """MSB-first packet-header bit reader over a shared buffer + cursor,
    undoing JPEG 2000 header stuffing: a byte after 0xFF carries only 7
    bits."""

    __slots__ = ("data", "pos", "_acc", "_n", "_prev")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self._prev = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise JpxError("truncated packet header")
            b = self.data[self.pos]
            self.pos += 1
            if self._prev == 0xFF:
                if b & 0x80:
                    raise JpxError("invalid packet-header bit stuffing")
                self._n = 7
            else:
                self._n = 8
            self._acc = b
            self._prev = b
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """Finish the header: drop partial bits, consume the stuffing
        byte a trailing 0xFF forces, return the body offset."""
        self._n = 0
        if self._prev == 0xFF:
            if self.pos >= len(self.data):
                raise JpxError("truncated packet header")
            self.pos += 1
        self._prev = 0
        return self.pos


class _TagTree:
    """T.800 B.10.2 tag tree over a w×h leaf grid.  Decoder state
    persists across packets (thresholds only ever grow); the fixture
    encoder's subclass adds the leaf values and the writing side."""

    __slots__ = ("sizes", "off", "value", "low", "known")

    def __init__(self, w: int, h: int) -> None:
        sizes = [(w, h)]
        while sizes[-1] != (1, 1):
            pw, ph = sizes[-1]
            sizes.append(((pw + 1) // 2, (ph + 1) // 2))
        self.sizes = sizes
        self.off = [0]
        for sw, sh in sizes:
            self.off.append(self.off[-1] + sw * sh)
        n = self.off[-1]
        self.value = [1 << 30] * n
        self.low = [0] * n
        self.known = [False] * n

    def _path(self, x: int, y: int) -> list[int]:
        path = []
        for lev, (sw, _sh) in enumerate(self.sizes):
            path.append(self.off[lev] + y * sw + x)
            x >>= 1
            y >>= 1
        path.reverse()              # root first
        return path

    def decode(self, x: int, y: int, threshold: int,
               br: _HdrReader) -> bool:
        """True iff the leaf value is < threshold (refining state)."""
        value, low, known = self.value, self.low, self.known
        cur = 0
        node = 0
        for node in self._path(x, y):
            if cur > low[node]:
                low[node] = cur
            else:
                cur = low[node]
            while cur < threshold and not known[node]:
                if br.bit():
                    value[node] = cur
                    known[node] = True
                else:
                    cur += 1
            low[node] = cur
            if known[node]:
                cur = max(cur, value[node])
        return known[node] and self.value[node] < threshold


def _read_npasses(br: _HdrReader) -> int:
    if not br.bit():
        return 1
    if not br.bit():
        return 2
    v = br.bits(2)
    if v < 3:
        return 3 + v
    v = br.bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.bits(7)


class _Block:
    """Per-code-block packet-parsing state (persists across layers)."""

    __slots__ = ("x", "y", "w", "h", "included", "nbps", "lblock",
                 "npasses", "data")

    def __init__(self, x: int, y: int, w: int, h: int) -> None:
        self.x, self.y, self.w, self.h = x, y, w, h
        self.included = False
        self.nbps = 0
        self.lblock = 3
        self.npasses = 0
        self.data = bytearray()


# --------------------------------------------------------------------------
# precinct geometry (T.800 B.6 / B.7), shared with the fixture encoder
# --------------------------------------------------------------------------

def _grid(n: int, step: int) -> int:
    return (n + step - 1) // step


def _precinct_geometry(tw: int, th: int, levels: int, pps: list,
                       cw: int, ch: int) -> list[tuple]:
    """Per resolution r: ``(cw_r, ch_r, cell_w, cell_h, npx, npy)`` —
    the precinct-CLAMPED code-block size (B.7), the precinct cell in
    BAND coordinates (halved for r>0, where band coords are half the
    resolution grid), and the precinct grid counts."""
    geo = []
    for r in range(levels + 1):
        ppx, ppy = pps[r]
        res_w = _grid(tw, 1 << (levels - r))
        res_h = _grid(th, 1 << (levels - r))
        npx = _grid(res_w, 1 << ppx)
        npy = _grid(res_h, 1 << ppy)
        sub = 1 if r else 0
        cell_w, cell_h = 1 << max(ppx - sub, 0), 1 << max(ppy - sub, 0)
        geo.append((min(cw, cell_w), min(ch, cell_h),
                    cell_w, cell_h, npx, npy))
    return geo


def _band_precincts(bw_: int, bh_: int, geo_r: tuple) -> list[dict]:
    """One band's code-blocks grouped per precinct (raster order):
    ``{"blocks": [(blk, lx, ly)], "incl": tree, "imsb": tree}`` with
    block coordinates local to the precinct's tag-tree grid."""
    cw_r, ch_r, cell_w, cell_h, npx, npy = geo_r
    gw, gh = _grid(bw_, cw_r), _grid(bh_, ch_r)
    sx, sy = cell_w // cw_r, cell_h // ch_r   # blocks per precinct axis
    precs = []
    for py in range(npy):
        for px in range(npx):
            x0, y0 = px * sx, py * sy
            lgw = min(sx, gw - x0)
            lgh = min(sy, gh - y0)
            if lgw <= 0 or lgh <= 0:
                precs.append(None)
                continue
            blocks = []
            for ly in range(lgh):
                for lx in range(lgw):
                    bx, by = x0 + lx, y0 + ly
                    blocks.append((_Block(
                        bx, by, min(cw_r, bw_ - bx * cw_r),
                        min(ch_r, bh_ - by * ch_r)), lx, ly))
            precs.append({"blocks": blocks, "incl": _TagTree(lgw, lgh),
                          "imsb": _TagTree(lgw, lgh)})
    return precs


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

def _unwrap_jp2(data: bytes) -> bytes:
    """JP2 box file → contained codestream; raw codestreams pass
    through."""
    if data[:4] == b"\xffO\xffQ":        # SOC + SIZ
        return data
    pos = 0
    n = len(data)
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4:pos + 8]
        off = pos + 8
        if ln == 1:
            if pos + 16 > n:
                raise JpxError("truncated XLBox")
            (ln,) = struct.unpack_from(">Q", data, pos + 8)
            off = pos + 16
        elif ln == 0:
            ln = n - pos
        if ln < off - pos or pos + ln > n:
            raise JpxError("malformed JP2 box length")
        if btype == b"jp2c":
            return data[off:pos + ln]
        pos += ln
    raise JpxError("no jp2c codestream box found")


def _parse_markers(cs: bytes) -> tuple[dict, list[bytearray]]:
    """Main header + tile-parts → (params, per-tile packet bytes)."""
    if cs[:2] != b"\xffO":
        raise JpxError("missing SOC marker")
    pos = 2
    siz = cod = qcd = None
    qccs: list[bytes] = []
    n = len(cs)
    bodies: dict[int, bytearray] = {}
    while True:
        if pos + 2 > n:
            raise JpxError("truncated codestream header")
        (marker,) = struct.unpack_from(">H", cs, pos)
        if marker == 0xFFD9:            # EOC
            break
        if marker == 0xFF93:
            raise JpxError("SOD before SOT")
        if pos + 4 > n:
            raise JpxError("truncated codestream header")
        (ln,) = struct.unpack_from(">H", cs, pos + 2)
        seg_ = cs[pos + 4:pos + 2 + ln]
        if len(seg_) != ln - 2:
            raise JpxError("truncated marker segment")
        if bodies and marker in (0xFF51, 0xFF52, 0xFF5C, 0xFF5D):
            # T.800 A.3: SIZ/COD/QCD/QCC belong to the main header; one
            # between tile-parts would rewrite every tile's parameters
            raise JpxError(f"main-header marker 0x{marker:04X} after SOT")
        if marker == 0xFF51:
            siz = seg_
            pos += 2 + ln
        elif marker == 0xFF52:
            cod = seg_
            pos += 2 + ln
        elif marker == 0xFF5C:
            qcd = seg_
            pos += 2 + ln
        elif marker == 0xFF5D:          # QCC: per-component quantization
            qccs.append(seg_)
            pos += 2 + ln
        elif marker in (0xFF64, 0xFF55, 0xFF57, 0xFF63):  # COM/TLM/PLM/CRG
            pos += 2 + ln
        elif marker in (0xFF53, 0xFF5E, 0xFF5F, 0xFF58, 0xFF60, 0xFF61):
            raise JpxUnsupported(
                f"marker 0x{marker:04X} (per-component coding/POC/PPM"
                " overrides) not supported")
        elif marker == 0xFF90:          # SOT
            if ln != 10:
                raise JpxError("bad SOT length")
            isot, psot, _tpsot, _tnsot = struct.unpack(">HIBB", seg_)
            part_end = pos + psot if psot else n - 2
            if part_end > n or part_end <= pos:
                raise JpxError("SOT Psot out of range")
            tpos = pos + 12
            # tile-part header: only SOD expected (overrides unsupported)
            while True:
                if tpos + 2 > n:
                    raise JpxError("truncated tile-part header")
                (tm,) = struct.unpack_from(">H", cs, tpos)
                if tm == 0xFF93:
                    tpos += 2
                    break
                if tm in (0xFF52, 0xFF5C, 0xFF53, 0xFF5D, 0xFF5E,
                          0xFF5F, 0xFF61):
                    # COD/QCD/COC/QCC/RGN/POC/PPT change decoding
                    # semantics; PLT/COM are informational and skip
                    raise JpxUnsupported("tile-part coding overrides not"
                                         " supported")
                if tpos + 4 > n:
                    raise JpxError("truncated tile-part header")
                (tln,) = struct.unpack_from(">H", cs, tpos + 2)
                tpos += 2 + tln
            bodies.setdefault(isot, bytearray()).extend(
                cs[tpos:part_end])
            pos = part_end
            if pos + 2 <= n and cs[pos:pos + 2] == b"\xff\xd9":
                break
        else:
            raise JpxError(f"unexpected marker 0x{marker:04X}")
    if siz is None or cod is None or qcd is None:
        raise JpxError("missing SIZ/COD/QCD marker")

    if len(siz) < 39:
        raise JpxError("truncated SIZ")
    (rsiz, xs, ys, xos, yos, xts, yts, xtos, ytos, csiz) = \
        struct.unpack_from(">HIIIIIIIIH", siz, 0)
    del rsiz
    if csiz not in (1, 3):
        raise JpxUnsupported(f"{csiz}-component images not supported")
    if len(siz) < 36 + 3 * csiz:
        raise JpxError("truncated SIZ")
    bpc = None
    for c in range(csiz):
        ssiz, xr, yr = siz[36 + 3 * c:39 + 3 * c]
        if ssiz & 0x80:
            raise JpxUnsupported("signed components not supported")
        cb = (ssiz & 0x7F) + 1
        if cb > 8:
            raise JpxUnsupported(f"{cb}-bit components not supported")
        if xr != 1 or yr != 1:
            raise JpxUnsupported("subsampled components not supported")
        if bpc is None:
            bpc = cb
        elif bpc != cb:
            raise JpxUnsupported("mixed component precisions not"
                                 " supported")
    if xos or yos or xtos or ytos:
        raise JpxUnsupported("image/tile offsets not supported")
    w, h = xs, ys
    if w == 0 or h == 0 or w > _MAX_DIM or h > _MAX_DIM \
            or w * h > _MAX_PIXELS:
        raise JpxError(f"image size {w}x{h} out of bounds")
    if xts == 0 or yts == 0:
        raise JpxError("zero tile size")
    ntx, nty = _grid(w, xts), _grid(h, yts)
    if ntx * nty > 1 << 16:
        raise JpxError("tile count exceeds budget")

    if len(cod) < 10:
        raise JpxError("truncated COD")
    scod = cod[0]
    use_sop, use_eph = bool(scod & 0x02), bool(scod & 0x04)
    prog, layers, mct = cod[1], struct.unpack_from(">H", cod, 2)[0], cod[4]
    if prog not in (0, 1):
        raise JpxUnsupported(f"progression order {prog} not supported")
    if not 1 <= layers <= _MAX_LAYERS:
        raise JpxError(f"layer count {layers} out of bounds")
    if mct not in (0, 1):
        raise JpxUnsupported(f"component transform {mct} not supported")
    if mct and csiz != 3:
        raise JpxError("RCT requires three components")
    levels, cbw, cbh, cbstyle, xfrm = cod[5:10]
    if levels > _MAX_LEVELS:
        raise JpxUnsupported(f"{levels} decomposition levels exceed cap")
    if ((ntx > 1 and xts % (1 << levels))
            or (nty > 1 and yts % (1 << levels))):
        # a tile whose origin is odd at some decomposition level flips
        # the low/high parity of the wavelet; only axes with more than
        # one tile have nonzero origins (strip-tiled images stay in
        # scope).  Every real tiler uses power-of-two tiles.
        raise JpxUnsupported("tile size not a multiple of 2^levels")
    if (cbw & 0xF0) or (cbh & 0xF0) or cbw + cbh > 8:
        raise JpxError("invalid code-block size exponents")
    if cbstyle:
        raise JpxUnsupported("code-block style (bypass/termination/causal)"
                             " not supported")
    if xfrm not in (0, 1):
        raise JpxError(f"unknown wavelet transform {xfrm}")
    if scod & 0x01:                    # per-resolution precinct sizes
        if ntx > 1 or nty > 1:
            # T.800 B.6 anchors precinct grids at the REFERENCE-GRID
            # origin; tiles whose origins sit mid-precinct need
            # absolute-coordinate block anchoring.  Real archive
            # encoders use tiles or precincts, not both.
            raise JpxUnsupported("custom precincts with multiple tiles"
                                 " not supported")
        if len(cod) < 10 + levels + 1:
            raise JpxError("COD too short for precinct sizes")
        pps = []
        for r in range(levels + 1):
            b = cod[10 + r]
            ppx, ppy = b & 0x0F, b >> 4
            if (ppx == 0 or ppy == 0) and r > 0:
                raise JpxError("precinct exponent 0 only valid at the"
                               " lowest resolution")
            pps.append((ppx, ppy))
    else:
        pps = [(15, 15)] * (levels + 1)   # default: maximal precincts

    if not qcd:
        raise JpxError("empty QCD")

    def parse_quant(payload: bytes, what: str) -> tuple:
        sq = payload[0]
        qstyle = sq & 0x1F
        guard_ = sq >> 5
        nsb = 3 * levels + 1
        mants_ = None
        if qstyle == 0:                # no quantization (reversible)
            if xfrm != 1:
                raise JpxError(f"9/7 transform with a no-quantization"
                               f" {what}")
            if len(payload) < 1 + nsb:
                raise JpxError(f"{what} too short for decomposition"
                               " levels")
            exps_ = [payload[1 + i] >> 3 for i in range(nsb)]
        elif qstyle == 2:              # scalar expounded (irreversible)
            if xfrm != 0:
                raise JpxError(f"5/3 transform with a quantized {what}")
            if len(payload) < 1 + 2 * nsb:
                raise JpxError(f"{what} too short for decomposition"
                               " levels")
            vals = struct.unpack_from(f">{nsb}H", payload, 1)
            exps_ = [v >> 11 for v in vals]
            mants_ = [v & 0x7FF for v in vals]
        elif qstyle == 1:              # scalar derived (irreversible):
            # one (eps, mu) pair for LL; band b gets eps_b = eps_0 -
            # N_L + n_b with n_b the band's decomposition depth (E.1.1)
            if xfrm != 0:
                raise JpxError(f"5/3 transform with a quantized {what}")
            if len(payload) < 3:
                raise JpxError(f"{what} too short for derived"
                               " quantization")
            v = struct.unpack_from(">H", payload, 1)[0]
            eps0, mu0 = v >> 11, v & 0x7FF
            exps_, mants_ = [eps0], [mu0]
            for r in range(1, levels + 1):
                e = eps0 - (r - 1)     # level d = N_L - r + 1
                if e < 0:
                    raise JpxError("derived exponent underflow")
                exps_ += [e, e, e]
                mants_ += [mu0, mu0, mu0]
        else:
            raise JpxUnsupported(f"{what} quantization style {qstyle}"
                                 " not supported")
        return guard_, exps_, mants_

    guard, exps, mants = parse_quant(qcd, "QCD")
    comp_exps = [exps] * csiz
    comp_mants = [mants] * csiz
    comp_guard = [guard] * csiz
    for seg_ in qccs:                  # per-component overrides (A.6.5)
        if len(seg_) < 2:
            raise JpxError("truncated QCC")
        cq = seg_[0]                   # Cqcc is 1 byte while Csiz < 257
        if cq >= csiz:
            raise JpxError(f"QCC component {cq} out of range")
        g2, e2_, m2 = parse_quant(seg_[1:], "QCC")
        comp_guard[cq] = g2
        comp_exps[cq] = e2_
        comp_mants[cq] = m2

    ntiles = ntx * nty
    for isot in bodies:
        if isot >= ntiles:
            raise JpxError(f"SOT tile index {isot} out of range")
    return ({"w": w, "h": h, "bpc": bpc, "levels": levels,
             "cblk_w": 1 << (cbw + 2), "cblk_h": 1 << (cbh + 2),
             "layers": layers, "prog": prog,
             "exps": comp_exps, "mants": comp_mants,
             "guards": comp_guard, "irrev": xfrm == 0, "ncomp": csiz,
             "mct": mct, "sop": use_sop, "eph": use_eph, "xts": xts,
             "yts": yts, "ntx": ntx, "nty": nty, "pps": pps},
            [bodies.get(i, bytearray()) for i in range(ntiles)])


def _decode_tile(body: bytes, prm: dict, tw: int, th: int,
                 blocks_used: list[int]) -> list[np.ndarray]:
    """One tile's packet bytes → per-component int64 coefficient planes
    (inverse wavelet applied, DC shift / color transform NOT yet).
    ``blocks_used`` is the image-wide code-block counter (single-element
    list) charged against ``_MAX_BLOCKS`` across all tiles."""
    levels = prm["levels"]
    cw, ch = prm["cblk_w"], prm["cblk_h"]
    layout = _band_dims(tw, th, levels)

    # per-component, per-band, per-precinct block grids + tag trees
    ncomp = prm["ncomp"]
    geo = _precinct_geometry(tw, th, levels, prm["pps"], cw, ch)
    comp_state = []
    n_blocks = blocks_used[0]
    for _c in range(ncomp):
        res_state = []
        exp_i = 0
        for r, resol in enumerate(layout):
            bands = []
            for cls, bw_, bh_, _gain in resol["bands"]:
                mb = prm["guards"][_c] + prm["exps"][_c][exp_i] - 1
                exp_i += 1
                if mb < 0 or mb > _MAX_MB:
                    raise JpxError(f"magnitude bitplane count {mb} out of"
                                   " bounds")
                if bw_ == 0 or bh_ == 0:
                    bands.append(None)
                    continue
                cw_r, ch_r = geo[r][0], geo[r][1]
                n_blocks += _grid(bw_, cw_r) * _grid(bh_, ch_r)
                if n_blocks > _MAX_BLOCKS:
                    raise JpxError("code-block count exceeds budget")
                bands.append({"cls": cls, "w": bw_, "h": bh_, "mb": mb,
                              "cw": cw_r, "ch": ch_r,
                              "precs": _band_precincts(bw_, bh_,
                                                       geo[r])})
            res_state.append(bands)
        comp_state.append(res_state)
    blocks_used[0] = n_blocks

    # packet walk — LRCP (layer outer) or RLCP (resolution outer);
    # component then precinct (raster order) are the inner loops.
    # Built LAZILY: layers x precincts can be huge on crafted streams,
    # and the header reader's truncation guard bounds the walk by the
    # actual body length.
    pos = 0
    nprec = [g[4] * g[5] for g in geo]
    if prm["prog"] == 0:
        order = ((lay, r, c, p) for lay in range(prm["layers"])
                 for r in range(levels + 1) for c in range(ncomp)
                 for p in range(nprec[r]))
    else:
        order = ((lay, r, c, p) for r in range(levels + 1)
                 for lay in range(prm["layers"]) for c in range(ncomp)
                 for p in range(nprec[r]))
    for lay, r, c, p in order:
        if prm["sop"] and body[pos:pos + 2] == b"\xff\x91":
            if body[pos + 2:pos + 4] != b"\x00\x04" or pos + 6 > len(body):
                raise JpxError("malformed SOP marker")
            pos += 6
        br = _HdrReader(body, pos)
        seglens: list[tuple[_Block, int, int]] = []
        if br.bit():                       # non-empty packet
            for band in comp_state[c][r]:
                if band is None or band["precs"][p] is None:
                    continue
                prec = band["precs"][p]
                for blk, lx, ly in prec["blocks"]:
                    if not blk.included:
                        inc = prec["incl"].decode(lx, ly, lay + 1, br)
                    else:
                        inc = bool(br.bit())
                    if not inc:
                        continue
                    if not blk.included:
                        k = 1
                        while not prec["imsb"].decode(lx, ly, k, br):
                            k += 1
                            if k > _MAX_MB + 2:
                                raise JpxError("runaway zero-bitplane tag"
                                               " tree")
                        blk.nbps = band["mb"] - (k - 1)
                        if blk.nbps <= 0:
                            raise JpxError("non-positive bitplane count")
                        blk.included = True
                    np_ = _read_npasses(br)
                    total = blk.npasses + np_
                    if total > 3 * _MAX_MB - 2:
                        raise JpxError("coding pass count out of bounds")
                    while br.bit():
                        blk.lblock += 1
                        if blk.lblock > 32:
                            raise JpxError("runaway Lblock signalling")
                    nbits = blk.lblock + np_.bit_length() - 1
                    ln = br.bits(nbits)
                    if ln > len(body):
                        raise JpxError("code-block segment length exceeds"
                                       " stream")
                    seglens.append((blk, np_, ln))
        pos = br.align()
        if prm["eph"]:
            if body[pos:pos + 2] != b"\xff\x92":
                raise JpxError("missing EPH marker")
            pos += 2
        for blk, np_, ln in seglens:
            chunk = body[pos:pos + ln]
            if len(chunk) != ln:
                raise JpxError("truncated code-block segment")
            blk.data += chunk
            blk.npasses += np_
            pos += ln

    # Tier-1 decode + band assembly (+ dequantization for 9/7 streams)
    # + inverse wavelet per component
    irrev = prm["irrev"]
    bpc = prm["bpc"]
    planes = []
    for ci, res_state in enumerate(comp_state):
        per_res: list[list[np.ndarray]] = []
        flat = 0
        for r, resol in enumerate(layout):
            arrs = []
            for bi, (cls, bw_, bh_, gain) in enumerate(resol["bands"]):
                band = res_state[r][bi]
                arr = np.zeros((bh_, bw_), np.int32)
                if band is not None:
                    bcw, bch = band["cw"], band["ch"]
                    for prec in band["precs"]:
                        if prec is None:
                            continue
                        for blk, _lx, _ly in prec["blocks"]:
                            if not blk.npasses:
                                continue
                            co = _t1_decode(bytes(blk.data), blk.w,
                                            blk.h, blk.npasses,
                                            blk.nbps, cls)
                            y0, x0 = blk.y * bch, blk.x * bcw
                            arr[y0:y0 + blk.h, x0:x0 + blk.w] = co
                if irrev:
                    # E.1.1: step = 2^(Rb-eps) * (1 + mu/2^11); midpoint
                    # reconstruction for nonzero magnitudes
                    delta = (2.0 ** (bpc + gain
                                     - prm["exps"][ci][flat])
                             * (1 + prm["mants"][ci][flat] / 2048.0))
                    q = arr.astype(np.float64)
                    arr = (np.sign(q) * (np.abs(q) + 0.5 * (q != 0))
                           * delta)
                flat += 1
                arrs.append(arr)
            per_res.append(arrs)
        if irrev:
            ll = per_res[0][0]
            for r in range(1, levels + 1):
                hl, lh, hh = per_res[r]
                ll = _inv97_2d(ll, hl, lh, hh)
        else:
            ll = per_res[0][0].astype(np.int64)
            for r in range(1, levels + 1):
                hl, lh, hh = per_res[r]
                ll = _inv53_2d(ll, hl, lh, hh)
        planes.append(ll)
    return planes


def decode_jpx_gray(data: bytes) -> np.ndarray:
    """JPEG 2000 bytes (JP2 file or raw codestream) → (h, w) uint8
    grayscale.  Sub-8-bit components are scaled to the full 8-bit range
    (a 1-bit scan decodes to 0/255); 3-component images decode to
    ITU-R BT.601 luma (through the inverse RCT when signalled), the
    integer weights of raw ``/DeviceRGB`` page samples (``images._luma``;
    not PNG/GIF's ``pngcodec.to_gray``, which differs by one at times)."""
    if len(data) < 12:
        raise JpxError("not a JPEG 2000 stream (too short)")
    if len(data) > (1 << 28):
        raise JpxError("stream exceeds size budget")
    cs = _unwrap_jp2(bytes(data))
    prm, bodies = _parse_markers(cs)
    w, h = prm["w"], prm["h"]
    xts, yts, ntx = prm["xts"], prm["yts"], prm["ntx"]
    ncomp = prm["ncomp"]
    dtype = np.float64 if prm["irrev"] else np.int64
    planes = [np.zeros((h, w), dtype) for _ in range(ncomp)]
    blocks_used = [0]
    for i, body in enumerate(bodies):
        ty, tx = divmod(i, ntx)
        tw = min(xts, w - tx * xts)
        th = min(yts, h - ty * yts)
        tile_planes = _decode_tile(bytes(body), prm, tw, th, blocks_used)
        for c in range(ncomp):
            planes[c][ty * yts:ty * yts + th,
                      tx * xts:tx * xts + tw] = tile_planes[c]

    bpc = prm["bpc"]
    shift = 1 << (bpc - 1)
    top = (1 << bpc) - 1
    irrev = prm["irrev"]
    if irrev and ncomp == 3 and prm["mct"]:
        # inverse ICT (T.800 G.3): float YCbCr -> RGB before rounding
        y_, cb, cr = planes
        planes = [y_ + 1.402 * cr,
                  y_ - 0.344136 * cb - 0.714136 * cr,
                  y_ + 1.772 * cb]
    if irrev:                          # round the float synthesis
        planes = [np.rint(p).astype(np.int64) for p in planes]
    if ncomp == 1:
        out = planes[0] + shift
        np.clip(out, 0, top, out=out)
        if bpc != 8:
            out = (out * 255) // top
        return out.astype(np.uint8)
    if prm["mct"] and not irrev:       # inverse RCT (T.800 G.2)
        y_, cb, cr = planes
        g_ = y_ - ((cb + cr) >> 2)
        comps = [cr + g_, g_, cb + g_]
    else:
        comps = planes
    rgb = []
    for p in comps:
        p = p + shift
        np.clip(p, 0, top, out=p)
        if bpc != 8:
            p = (p * 255) // top
        rgb.append(p)
    return _luma(*rgb)
