"""Pure-stdlib JBIG2 codec — embedded (PDF) segments, generic regions.

Modern black-and-white scanners and PDF optimizers embed **JBIG2Decode**
image XObjects (ISO/IEC 14492 / ITU-T T.88) — the successor to CCITT G4,
typically 2-5× smaller on scanned text.  The reference delegates their
decode to pdf.js (``/root/reference/src/lib/ocr/extractor.ts:12-37``);
this repo decodes them itself, from the public T.88 recommendation:

* **MQ arithmetic coder** (T.88 Annex E — the same coder JPEG 2000
  uses): 47-state Qe table, INITDEC/DECODE/BYTEIN and the encoder-side
  INITENC/CODEMPS/CODELPS/BYTEOUT/FLUSH flows, bit-exact per the spec's
  software conventions.
* **Generic region decoding** (T.88 §6.2): templates 0-3 with nominal
  adaptive-template pixels via the sliding-context formulation (the
  per-template keep-masks 0x7BF7/0x0EFB/0x01BD/0x01F7 fall out of the
  figure layouts), non-nominal AT pixels via the general per-pixel
  gather; TPGDON typical-prediction rows (special contexts
  0x9B25/0x0795/0x00E5/0x0195).
* **Symbol dictionary + text region decoding** (T.88 §6.5 / §6.4, the
  dictionary-coded arrangement real scanner output predominantly uses):
  arithmetic integer decoding IAx/IAID (Annex A), height-class symbol
  bitmaps over shared GB contexts, export-run selection, and instance
  placement with all four REFCORNERs, TRANSPOSED both ways, SBSTRIPS
  T residuals and SBDSOFFSET.  The HUFFMAN-coded arrangement
  (SDHUFF/SBHUFF) decodes too: Annex-B standard tables, runcode-built
  symbol ID codes, collective height-class bitmaps (raw or MMR), and
  CUSTOM table segments (type 53, Annex B.2) resolved through the
  referred-to list for every selector with the custom value.
* **Refinement coding** (T.88 §6.3): generic refinement templates 0/1
  with adaptive pixels and TPGRON typical prediction, consumed by
  SDREFAGG symbol dictionaries (single-instance aggregates refining
  referred-dict symbols, multi-instance aggregates decoded as a text
  region over the symbols known so far per §6.5.8.2.2) and SBREFINE
  text regions (per-instance RI + RDW/RDH/RDX/RDY refinement of the
  placed symbol).  Refinement/aggregation stays arithmetic-only: the
  Huffman-coded (SDHUFF=1) REFAGG arrangement rejects as unsupported.
* **Pattern dictionaries + halftone regions** (T.88 §6.7 / §6.6, the
  screened-scan tier): collectively-coded pattern bitmaps (arithmetic
  or MMR), gray-coded bitplane decoding of the gray-scale image
  (Annex C) over shared arithmetic contexts OR as HMMR=1 G4 bitplanes
  in one bit-continuous stream (C.5), and grid-vector pattern
  placement with all combination operators.  HENABLESKIP raises
  :class:`Jbig2Unsupported`.
* **Embedded segment layer** (T.88 §7.2, the "embedded stream" format
  PDF requires — no file header): segment headers with short/long
  referred-to forms, page info (type 48), symbol dictionaries (0),
  immediate text regions (6/7) resolving symbols from their
  referred-to dictionaries, immediate/intermediate generic regions
  (36/38/39), halftone regions (22/23), standalone refinement regions
  (42/43), custom table segments (53), end-of-stripe/page/file
  (50/49/51), and the PDF ``/JBIG2Globals`` prefix stream.  Generic
  regions with ``MMR=1`` reuse the T.6 decoder (``core/ccittcodec``).
  The residual out-of-scope arrangements (intermediate regions,
  EXTTEMPLATE, HENABLESKIP halftones) raise :class:`Jbig2Unsupported`
  — callers surface undecodable data as an error value, never a
  crash.

The decoder emits semantic pixels (0 = black ink, 255 = white), the
input contract of the OCR tier (``core/rasterfont.recognize_gray``) and
the same convention as ``core/ccittcodec``.  The encoders are the
fixture-authoring side: :func:`encode_jbig2_embedded` writes one
immediate-lossless generic region (template 0, nominal AT, TPGDON);
:func:`encode_jbig2_symbol_embedded` writes the dictionary-coded
arrangement (connected components → deduplicated symbol classes → text
region, the jbig2enc architecture).  Both emit standard T.88 any
JBIG2-capable tool decodes.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from functools import partial

import numpy as np

__all__ = [
    "Jbig2Error",
    "Jbig2Unsupported",
    "decode_jbig2_embedded",
    "encode_jbig2_embedded",
    "encode_jbig2_halftone_embedded",
    "encode_jbig2_symbol_embedded",
]


class Jbig2Error(ValueError):
    """Malformed JBIG2 data — a data problem, never a task crash."""


class Jbig2Unsupported(Jbig2Error):
    """Valid JBIG2 outside the decoded scope (intermediate regions,
    Huffman-coded REFAGG dictionaries / refinement tables, EXTTEMPLATE,
    HENABLESKIP halftones, unknown-length segments)."""


# --------------------------------------------------------------------------
# MQ arithmetic coder (T.88 Annex E; table E.1)
# --------------------------------------------------------------------------

#: (Qe, NMPS, NLPS, SWITCH) — the public 47-state probability table shared
#: verbatim by T.88 and JPEG 2000 (T.800 Annex C).
_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)


class _MQDecoder:
    """T.88 Annex E decoder, software conventions (32-bit C register).
    Context state lives in caller-owned ``idx``/``mps`` lists so one
    decoder instance can serve many context sets."""

    __slots__ = ("data", "bp", "c", "a", "ct")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        data, bp = self.data, self.bp
        b = data[bp] if bp < len(data) else 0xFF
        if b == 0xFF:
            b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, idx: list, mps: list, cx: int) -> int:
        qe, nmps, nlps, switch = _QE[idx[cx]]
        self.a -= qe
        if (self.c >> 16) < qe:
            # LPS exchange path
            if self.a < qe:
                d = mps[cx]
                idx[cx] = nmps
            else:
                d = mps[cx] ^ 1
                if switch:
                    mps[cx] ^= 1
                idx[cx] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return mps[cx]
            # MPS exchange path
            if self.a < qe:
                d = mps[cx] ^ 1
                if switch:
                    mps[cx] ^= 1
                idx[cx] = nlps
            else:
                d = mps[cx]
                idx[cx] = nmps
        # renormalize
        a, c, ct = self.a, self.c, self.ct
        while True:
            if ct == 0:
                self.c, self.ct = c, 0
                self._bytein()
                c, ct = self.c, self.ct
            a = a << 1  # loop runs only while the top bit is clear, so
            c = (c << 1) & 0xFFFFFFFF  # A stays within 16 bits unmasked
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return d


class _MQEncoder:
    """T.88 Annex E encoder (INITENC/CODEMPS/CODELPS/BYTEOUT/FLUSH)."""

    __slots__ = ("out", "c", "a", "ct")

    def __init__(self) -> None:
        self.out = bytearray(b"\x00")  # BP starts one before the buffer
        self.c = 0
        self.a = 0x8000
        self.ct = 12

    def encode(self, idx: list, mps: list, cx: int, d: int) -> None:
        qe, nmps, nlps, switch = _QE[idx[cx]]
        if d == mps[cx]:
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            idx[cx] = nmps
        else:
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                mps[cx] ^= 1
            idx[cx] = nlps
        while True:  # RENORME
            self.a = (self.a << 1) & 0xFFFF
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def _byteout(self) -> None:
        out = self.out
        if out[-1] == 0xFF:
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            out[-1] += 1
            if out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def flush(self) -> bytes:
        # SETBITS: force the low 16 bits to ONES so the decoder's
        # feed-1s-past-the-end tail reproduces the code exactly, backing
        # off half a step if that left the final interval [C, C+A) — the
        # back-off stays inside because A >= 0x8000 post-renormalization
        top = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= top:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        if self.out[-1] != 0xFF:
            self.out.append(0xFF)
        self.out.append(0xAC)
        return bytes(self.out[1:])  # strip the BP-start dummy


# --------------------------------------------------------------------------
# Generic region coding (T.88 §6.2)
# --------------------------------------------------------------------------

#: nominal adaptive-template pixel positions per GBTEMPLATE (T.88 §6.2.5.3)
_NOMINAL_AT = (
    ((3, -1), (-3, -1), (2, -2), (-2, -2)),  # template 0: A1..A4
    ((3, -1),),                              # template 1
    ((2, -1),),                              # template 2
    ((2, -1),),                              # template 3
)

#: TPGDON pseudo-pixel contexts per template (T.88 §6.2.5.7)
_TPGD_CTX = (0x9B25, 0x0795, 0x00E5, 0x0195)

#: context bit-width per template
_CTX_BITS = (16, 13, 10, 10)

#: template pixel layouts, raster order == context bit order (MSB first).
#: Slots holding a nominal AT pixel are marked with their AT index (1-4);
#: the sliding-window keep-masks in _decode_generic derive from these.
_TEMPLATE_PIXELS = (
    # template 0 — rows y-2: x-2..x+2, y-1: x-3..x+3, y: x-4..x-1
    [(-2, -2, 4), (-1, -2, 0), (0, -2, 0), (1, -2, 0), (2, -2, 3),
     (-3, -1, 2), (-2, -1, 0), (-1, -1, 0), (0, -1, 0), (1, -1, 0),
     (2, -1, 0), (3, -1, 1),
     (-4, 0, 0), (-3, 0, 0), (-2, 0, 0), (-1, 0, 0)],
    # template 1 — y-2: x-1..x+2, y-1: x-2..x+3(A1), y: x-3..x-1
    [(-1, -2, 0), (0, -2, 0), (1, -2, 0), (2, -2, 0),
     (-2, -1, 0), (-1, -1, 0), (0, -1, 0), (1, -1, 0), (2, -1, 0),
     (3, -1, 1),
     (-3, 0, 0), (-2, 0, 0), (-1, 0, 0)],
    # template 2 — y-2: x-1..x+1, y-1: x-2..x+2(A1), y: x-2..x-1
    [(-1, -2, 0), (0, -2, 0), (1, -2, 0),
     (-2, -1, 0), (-1, -1, 0), (0, -1, 0), (1, -1, 0), (2, -1, 1),
     (-2, 0, 0), (-1, 0, 0)],
    # template 3 — y-1: x-3..x+2(A1), y: x-4..x-1 (single line above)
    [(-3, -1, 0), (-2, -1, 0), (-1, -1, 0), (0, -1, 0), (1, -1, 0),
     (2, -1, 1),
     (-4, 0, 0), (-3, 0, 0), (-2, 0, 0), (-1, 0, 0)],
)


def _at_is_nominal(template: int, at: tuple) -> bool:
    return tuple(at) == _NOMINAL_AT[template]


def _fresh_contexts(template: int) -> tuple[list, list]:
    n = 1 << _CTX_BITS[template]
    return [0] * n, [0] * n


def _at_pixels(data: bytes, pos: int, n: int, what: str,
               ) -> tuple[tuple, int]:
    """``n`` signed-byte (x, y) adaptive-template pixels at ``pos`` →
    (pairs, position after them); ``what`` names the truncated part."""
    if pos + 2 * n > len(data):
        raise Jbig2Error(f"truncated {what}")
    v = [struct.unpack_from("b", data, pos + k)[0] for k in range(2 * n)]
    return tuple(zip(v[::2], v[1::2])), pos + 2 * n


def _mmr_bitmap(data: bytes, width: int, height: int,
                what: str) -> np.ndarray:
    """MMR-coded (T.6) bitmap → (height, width) uint8 0/1 (1 = black);
    ``what`` names the bitmap in the error a bad stream raises."""
    from .ccittcodec import CcittError, decode_g4

    try:
        gray = decode_g4(data, width, height)
    except CcittError as exc:
        raise Jbig2Error(f"bad MMR {what}: {exc}") from exc
    return (gray == 0).astype(np.uint8)


def _decode_generic(mq: _MQDecoder, width: int, height: int, template: int,
                    at: tuple, tpgdon: bool,
                    contexts: tuple[list, list] | None = None) -> np.ndarray:
    """MQ-coded generic region → (height, width) uint8 bitmap of 0/1
    (1 = black).  Nominal-AT decoding runs the sliding-context inner
    loop; non-nominal ATs take the general per-pixel gather."""
    if not 0 <= template <= 3:
        raise Jbig2Error(f"bad GBTEMPLATE {template}")
    idx, mps = contexts if contexts is not None else _fresh_contexts(template)
    bm = np.zeros((height, width), dtype=np.uint8)
    if width <= 0 or height <= 0:
        return bm
    rows = bm.tolist()  # python ints in the hot loop, ~3x over ndarray
    zrow = [0] * width
    nominal = _at_is_nominal(template, at)
    tctx = _TPGD_CTX[template]
    pixels = _TEMPLATE_PIXELS[template]
    if not nominal:
        # general gather: replace AT slots with the stream's positions
        atl = list(at)
        pixels = [(atl[a - 1][0], atl[a - 1][1], 0) if a else (dx, dy, 0)
                  for (dx, dy, a) in pixels]
    ltp = 0
    dec = mq.decode
    for y in range(height):
        if tpgdon:
            ltp ^= dec(idx, mps, tctx)
            if ltp:
                rows[y] = rows[y - 1][:] if y else zrow[:]
                continue
        row = rows[y]
        r1 = rows[y - 1] if y >= 1 else zrow
        r2 = rows[y - 2] if y >= 2 else zrow
        if nominal and template == 0:
            # bits: [15..11]=r2[x-2..x+2] [10..4]=r1[x-3..x+3] [3..0]=row[x-4..x-1]
            ctx = (r2[0] << 13) | (r1[0] << 7)
            if width > 1:
                ctx |= (r2[1] << 12) | (r1[1] << 6)
            if width > 2:
                ctx |= (r2[2] << 11) | (r1[2] << 5)
            if width > 3:
                ctx |= r1[3] << 4
            for x in range(width):
                bit = dec(idx, mps, ctx)
                row[x] = bit
                n2 = r2[x + 3] if x + 3 < width else 0
                n1 = r1[x + 4] if x + 4 < width else 0
                ctx = (((ctx & 0x7BF7) << 1) | (n2 << 11) | (n1 << 4)
                       | bit)
        elif nominal and template == 1:
            ctx = (r2[0] << 11) | (r1[0] << 6)
            if width > 1:
                ctx |= (r2[1] << 10) | (r1[1] << 5)
            if width > 2:
                ctx |= (r2[2] << 9) | (r1[2] << 4)
            if width > 3:
                ctx |= r1[3] << 3
            for x in range(width):
                bit = dec(idx, mps, ctx)
                row[x] = bit
                n2 = r2[x + 3] if x + 3 < width else 0
                n1 = r1[x + 4] if x + 4 < width else 0
                ctx = (((ctx & 0x0EFB) << 1) | (n2 << 9) | (n1 << 3)
                       | bit)
        elif nominal and template == 2:
            ctx = (r2[0] << 8) | (r1[0] << 4)
            if width > 1:
                ctx |= (r2[1] << 7) | (r1[1] << 3)
            if width > 2:
                ctx |= (r1[2] << 2)
            for x in range(width):
                bit = dec(idx, mps, ctx)
                row[x] = bit
                n2 = r2[x + 2] if x + 2 < width else 0
                n1 = r1[x + 3] if x + 3 < width else 0
                ctx = (((ctx & 0x01BD) << 1) | (n2 << 7) | (n1 << 2)
                       | bit)
        elif nominal and template == 3:
            ctx = (r1[0] << 6)
            if width > 1:
                ctx |= r1[1] << 5
            if width > 2:
                ctx |= r1[2] << 4
            for x in range(width):
                bit = dec(idx, mps, ctx)
                row[x] = bit
                n1 = r1[x + 3] if x + 3 < width else 0
                ctx = (((ctx & 0x01F7) << 1) | (n1 << 4) | bit)
        else:
            # general gather (non-nominal AT): a pixel is readable when
            # already decoded — any earlier row, or left of x on this row
            # (stream-supplied AT offsets can point anywhere, so the
            # causal bound also guards the row index)
            for x in range(width):
                ctx = 0
                for dx, dy, _a in pixels:
                    px, py = x + dx, y + dy
                    v = (rows[py][px]
                         if 0 <= px < width and 0 <= py <= y
                         and (py < y or px < x) else 0)
                    ctx = (ctx << 1) | v
                row[x] = dec(idx, mps, ctx)
    return np.array(rows, dtype=np.uint8)


def _encode_generic(bm: np.ndarray, template: int = 0,
                    tpgdon: bool = True, enc: "_MQEncoder | None" = None,
                    contexts: tuple[list, list] | None = None,
                    at: tuple | None = None) -> bytes | None:
    """(h, w) 0/1 bitmap → MQ-coded generic region data.

    With ``enc``/``contexts`` the bitmap is coded INTO an existing MQ
    codestream with persistent GB contexts (the symbol-dictionary
    arrangement, T.88 §6.5.8) and None is returned; standalone callers
    get the flushed bytes.  ``at`` defaults to the nominal adaptive
    pixels; non-nominal positions (the pattern-dictionary collective
    bitmap uses A1 = (-HDPW, 0)) take the general gather path, the
    mirror of the decoder's."""
    h, w = bm.shape
    own = enc is None
    idx, mps = contexts if contexts is not None else _fresh_contexts(template)
    if own:
        enc = _MQEncoder()
    rows = bm.astype(np.uint8).tolist()
    zrow = [0] * w
    tctx = _TPGD_CTX[template]
    nominal = at is None or _at_is_nominal(template, at)
    if not nominal:
        atl = list(at)
        pixels = [(atl[a - 1][0], atl[a - 1][1], 0) if a else (dx, dy, 0)
                  for (dx, dy, a) in _TEMPLATE_PIXELS[template]]
    ltp = 0
    put = enc.encode
    for y in range(h):
        row = rows[y]
        prev = rows[y - 1] if y else zrow
        if tpgdon:
            typical = 1 if row == prev else 0
            put(idx, mps, tctx, typical ^ ltp)
            ltp = typical
            if typical:
                continue
        r1 = prev
        r2 = rows[y - 2] if y >= 2 else zrow
        if not nominal:
            for x in range(w):
                ctx = 0
                for dx, dy, _a in pixels:
                    px, py = x + dx, y + dy
                    v = (rows[py][px]
                         if 0 <= px < w and 0 <= py <= y
                         and (py < y or px < x) else 0)
                    ctx = (ctx << 1) | v
                put(idx, mps, ctx, row[x])
        elif template == 0:
            ctx = (r2[0] << 13) | (r1[0] << 7)
            if w > 1:
                ctx |= (r2[1] << 12) | (r1[1] << 6)
            if w > 2:
                ctx |= (r2[2] << 11) | (r1[2] << 5)
            if w > 3:
                ctx |= r1[3] << 4
            for x in range(w):
                bit = row[x]
                put(idx, mps, ctx, bit)
                n2 = r2[x + 3] if x + 3 < w else 0
                n1 = r1[x + 4] if x + 4 < w else 0
                ctx = (((ctx & 0x7BF7) << 1) | (n2 << 11) | (n1 << 4)
                       | bit)
        elif template == 1:
            ctx = (r2[0] << 11) | (r1[0] << 6)
            if w > 1:
                ctx |= (r2[1] << 10) | (r1[1] << 5)
            if w > 2:
                ctx |= (r2[2] << 9) | (r1[2] << 4)
            if w > 3:
                ctx |= r1[3] << 3
            for x in range(w):
                bit = row[x]
                put(idx, mps, ctx, bit)
                n2 = r2[x + 3] if x + 3 < w else 0
                n1 = r1[x + 4] if x + 4 < w else 0
                ctx = (((ctx & 0x0EFB) << 1) | (n2 << 9) | (n1 << 3)
                       | bit)
        elif template == 2:
            ctx = (r2[0] << 8) | (r1[0] << 4)
            if w > 1:
                ctx |= (r2[1] << 7) | (r1[1] << 3)
            if w > 2:
                ctx |= (r1[2] << 2)
            for x in range(w):
                bit = row[x]
                put(idx, mps, ctx, bit)
                n2 = r2[x + 2] if x + 2 < w else 0
                n1 = r1[x + 3] if x + 3 < w else 0
                ctx = (((ctx & 0x01BD) << 1) | (n2 << 7) | (n1 << 2)
                       | bit)
        elif template == 3:
            ctx = (r1[0] << 6)
            if w > 1:
                ctx |= r1[1] << 5
            if w > 2:
                ctx |= r1[2] << 4
            for x in range(w):
                bit = row[x]
                put(idx, mps, ctx, bit)
                n1 = r1[x + 3] if x + 3 < w else 0
                ctx = (((ctx & 0x01F7) << 1) | (n1 << 4) | bit)
        else:
            raise Jbig2Error(f"bad GBTEMPLATE {template}")
    return enc.flush() if own else None


# --------------------------------------------------------------------------
# Arithmetic integer decoding (T.88 Annex A) — the IAx procedures
# --------------------------------------------------------------------------

#: (value-bit count, range offset) per prefix class; selector prefixes are
#: 0 / 10 / 110 / 1110 / 11110 / 11111 (Table A.1)
_INT_CLASSES = ((2, 0), (4, 4), (6, 20), (8, 84), (12, 340), (32, 4436))


def _int_ctx() -> tuple[list, list]:
    """One IAx context set: 512 states indexed by the PREV register."""
    return [0] * 512, [0] * 512


def _int_decode(mq: _MQDecoder, idx: list, mps: list) -> int | None:
    """Decode one signed integer per A.2; None is the OOB value."""
    prev = 1

    def bit() -> int:
        nonlocal prev
        b = mq.decode(idx, mps, prev)
        prev = ((prev << 1) | b) if prev < 256 else \
            ((((prev << 1) | b) & 511) | 256)
        return b

    s = bit()
    cls = 0
    while cls < 5 and bit():
        cls += 1
    nbits, offset = _INT_CLASSES[cls]
    v = 0
    for _ in range(nbits):
        v = (v << 1) | bit()
    v += offset
    if s:
        return -v if v else None  # "negative zero" signals OOB
    return v


def _int_encode(enc: _MQEncoder, idx: list, mps: list,
                value: int | None) -> None:
    """Inverse of :func:`_int_decode` (None encodes OOB)."""
    prev = 1

    def put(b: int) -> None:
        nonlocal prev
        enc.encode(idx, mps, prev, b)
        prev = ((prev << 1) | b) if prev < 256 else \
            ((((prev << 1) | b) & 511) | 256)

    if value is None:
        put(1)
        v = 0
    else:
        put(1 if value < 0 else 0)
        v = -value if value < 0 else value
    cls = 5
    for ci, (nb, off) in enumerate(_INT_CLASSES):
        if v < off + (1 << nb):
            cls = ci
            break
    for _ in range(cls):
        put(1)
    if cls < 5:
        put(0)
    nbits, offset = _INT_CLASSES[cls]
    rem = v - offset
    for i in range(nbits - 1, -1, -1):
        put((rem >> i) & 1)


def _iaid_ctx(symcodelen: int) -> tuple[list, list]:
    n = 1 << (symcodelen + 1)
    return [0] * n, [0] * n


def _iaid_decode(mq: _MQDecoder, idx: list, mps: list,
                 symcodelen: int) -> int:
    """Symbol ID decoding (A.3): a symcodelen-deep context tree."""
    prev = 1
    for _ in range(symcodelen):
        prev = (prev << 1) | mq.decode(idx, mps, prev)
    return prev - (1 << symcodelen)


def _iaid_encode(enc: _MQEncoder, idx: list, mps: list,
                 value: int, symcodelen: int) -> None:
    prev = 1
    v = value + (1 << symcodelen)
    for i in range(symcodelen - 1, -1, -1):
        b = (v >> i) & 1
        enc.encode(idx, mps, prev, b)
        prev = (prev << 1) | b


# --------------------------------------------------------------------------
# Generic refinement region coding (T.88 §6.3)
# --------------------------------------------------------------------------

#: refinement template pixel layouts (current-bitmap layer, then the
#: reference layer), raster order == context bit order, MSB first.
#: Template 0 appends the adaptive A1 (coding layer) and A2 (reference
#: layer) pixels carried in the segment header.
_REF_CODING = (
    ((0, -1), (1, -1), (-1, 0)),
    ((-1, -1), (0, -1), (1, -1), (-1, 0)),
)
_REF_REFERENCE = (
    ((0, -1), (1, -1), (-1, 0), (0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)),
    ((0, -1), (-1, 0), (0, 0), (1, 0), (0, 1), (1, 1)),
)
#: TPGRON pseudo-pixel contexts (the center reference pixel set)
_REF_TPGR_CTX = (0x0020, 0x0008)
#: nominal refinement AT pixels (A1 coding layer, A2 reference layer)
_REF_NOMINAL_AT = ((-1, -1), (-1, -1))

# Total pixels one text region may spend on refined-instance decodes —
# same ceiling as the symbol dictionary's px_budget and the region-size
# caps, applied cumulatively across instances.
_REF_PX_BUDGET = 1 << 26


def _ref_ctx() -> tuple[list, list]:
    """One GR context set (13-bit worst case, shared across symbols)."""
    return [0] * 8192, [0] * 8192


def _ref_layout(template: int, at) -> tuple[list, list]:
    if template not in (0, 1):
        raise Jbig2Error(f"bad GRTEMPLATE {template}")
    coding = list(_REF_CODING[template])
    refer = list(_REF_REFERENCE[template])
    if template == 0:
        coding.append(tuple(at[0]))
        refer.append(tuple(at[1]))
    return coding, refer


def _decode_refinement(mq: _MQDecoder, width: int, height: int,
                       template: int, reference: np.ndarray,
                       dx: int, dy: int, at=_REF_NOMINAL_AT,
                       tpgron: bool = False,
                       contexts: tuple[list, list] | None = None,
                       ) -> np.ndarray:
    """Refine ``reference`` (offset ``dx, dy`` inside the new bitmap's
    coordinates) into a (height, width) 0/1 bitmap (§6.3.5)."""
    coding, refer = _ref_layout(template, at)
    idx, mps = contexts if contexts is not None else _ref_ctx()
    rows = [[0] * width for _ in range(height)]
    ref_rows = reference.tolist()
    rh = len(ref_rows)
    rw = len(ref_rows[0]) if rh else 0

    def rpix(x: int, y: int) -> int:
        return ref_rows[y][x] if 0 <= x < rw and 0 <= y < rh else 0

    tctx = _REF_TPGR_CTX[template]
    ltp = 0
    dec = mq.decode
    for y in range(height):
        if tpgron:
            ltp ^= dec(idx, mps, tctx)
        row = rows[y]
        for x in range(width):
            if ltp:
                s = sum(rpix(x - dx + i, y - dy + j)
                        for j in (-1, 0, 1) for i in (-1, 0, 1))
                if s == 0:
                    continue  # row pre-zeroed
                if s == 9:
                    row[x] = 1
                    continue
            ctx = 0
            for cx_, cy_ in coding:
                px, py = x + cx_, y + cy_
                v = (rows[py][px]
                     if 0 <= px < width and 0 <= py < height else 0)
                ctx = (ctx << 1) | v
            for rx_, ry_ in refer:
                ctx = (ctx << 1) | rpix(x - dx + rx_, y - dy + ry_)
            row[x] = dec(idx, mps, ctx)
    return np.array(rows, dtype=np.uint8) if height else \
        np.zeros((0, width), dtype=np.uint8)


def _encode_refinement(enc: _MQEncoder, bm: np.ndarray,
                       template: int, reference: np.ndarray,
                       dx: int, dy: int, at=_REF_NOMINAL_AT,
                       tpgron: bool = False,
                       contexts: tuple[list, list] | None = None) -> None:
    """Inverse of :func:`_decode_refinement`, coding INTO ``enc``.  With
    ``tpgron`` a row is marked typical whenever every uniform-reference-
    window pixel already equals its window value (those pixels are then
    skipped, the refinement win the flag exists for)."""
    coding, refer = _ref_layout(template, at)
    idx, mps = contexts if contexts is not None else _ref_ctx()
    height, width = bm.shape
    rows = bm.astype(np.uint8).tolist()
    ref_rows = reference.tolist()
    rh = len(ref_rows)
    rw = len(ref_rows[0]) if rh else 0

    def rpix(x: int, y: int) -> int:
        return ref_rows[y][x] if 0 <= x < rw and 0 <= y < rh else 0

    tctx = _REF_TPGR_CTX[template]
    ltp = 0
    put = enc.encode
    for y in range(height):
        row = rows[y]
        skip = [False] * width
        if tpgron:
            typical = True
            for x in range(width):
                s = sum(rpix(x - dx + i, y - dy + j)
                        for j in (-1, 0, 1) for i in (-1, 0, 1))
                if s == 0 or s == 9:
                    if row[x] != (1 if s == 9 else 0):
                        typical = False
                        break
                    skip[x] = True
            if not typical:
                skip = [False] * width
            put(idx, mps, tctx, ltp ^ typical)
            ltp = typical
        for x in range(width):
            if ltp and skip[x]:
                continue
            ctx = 0
            for cx_, cy_ in coding:
                px, py = x + cx_, y + cy_
                v = (rows[py][px]
                     if 0 <= px < width and 0 <= py < height else 0)
                ctx = (ctx << 1) | v
            for rx_, ry_ in refer:
                ctx = (ctx << 1) | rpix(x - dx + rx_, y - dy + ry_)
            put(idx, mps, ctx, row[x])


# --------------------------------------------------------------------------
# Symbol dictionary (§6.5) and text region (§6.4) — one header parse, one
# export-run tail and one strip walk for both codings; only the integer
# reads and the symbol bitmaps differ (Huffman side further below)
# --------------------------------------------------------------------------


def _decode_symbol_dict(seg_data: bytes,
                        input_syms: list[np.ndarray],
                        custom_tables: list | None = None,
                        ) -> list[np.ndarray]:
    """Symbol dictionary segment data → the EXPORTED symbol bitmaps
    (referred-dict inputs prepended per §6.5.8.2.3's SDINSYMS order).
    ``custom_tables`` are the referred type-53 tables in referred-to
    order, consumed by Huffman selectors with the custom value."""
    if len(seg_data) < 2:
        raise Jbig2Error("short symbol dictionary")
    flags = struct.unpack_from(">H", seg_data, 0)[0]
    pos = 2
    sdhuff = flags & 1
    refagg = (flags >> 1) & 1
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    if sdhuff:
        if refagg:
            raise Jbig2Unsupported(
                "huffman symbol dictionary with refinement/aggregation")
        # selector value 3 (DH/DW) or 1 (BMSIZE/AGGINST) takes the next
        # referred custom table, in §7.4.3.1.6 order DH, DW, BMSIZE,
        # AGGINST
        custom = list(custom_tables or ())
        sel_dh = (flags >> 2) & 3
        sel_dw = (flags >> 4) & 3
        if sel_dh == 2 or sel_dw == 2:
            raise Jbig2Error("reserved huffman table selector")
        t_dh = _take_table(custom, "DH") if sel_dh == 3 \
            else _std_table(4 + sel_dh)
        t_dw = _take_table(custom, "DW") if sel_dw == 3 \
            else _std_table(2 + sel_dw)
        t_bm = _take_table(custom, "BMSIZE") if (flags >> 6) & 1 \
            else _std_table(1)
        if (flags >> 7) & 1:   # AGGINST custom table: REFAGG=0 never reads
            _take_table(custom, "AGGINST")   # it, but it consumes its slot
    else:
        if (flags >> 8) & 1:
            # SDCONTEXTUSED: MQ coding contexts imported from a referred
            # dictionary (7.4.3.1.1) — decoding with fresh contexts would
            # produce silently garbled symbols, so reject loudly
            raise Jbig2Unsupported(
                "symbol dictionary imports coding contexts")
        at, pos = _at_pixels(seg_data, pos, 4 if template == 0 else 1,
                             "symbol dictionary header")
        rat = _REF_NOMINAL_AT
        if refagg and rtemplate == 0:
            rat, pos = _at_pixels(seg_data, pos, 2, "refinement AT pixels")
    if pos + 8 > len(seg_data):
        raise Jbig2Error("truncated symbol dictionary header")
    num_ex, num_new = struct.unpack_from(">II", seg_data, pos)
    pos += 8
    if num_new > 1 << 16 or num_ex > 1 << 16:
        raise Jbig2Error("implausible symbol counts")
    if sdhuff:
        r = _BitReader(seg_data[pos:])
        newsyms = _sd_huffman_symbols(r, t_dh, t_dw, t_bm, num_new)
        read_ex = partial(_std_table(1).decode, r)
    else:
        mq = _MQDecoder(seg_data[pos:])
        newsyms = _sd_arith_symbols(mq, input_syms, num_new, template, at,
                                    refagg, rtemplate, rat)
        read_ex = partial(_int_decode, mq, *_int_ctx())
    # export runs (§6.5.10): alternating no-export / export, summing to
    # exactly SDNUMINSYMS + SDNUMNEWSYMS
    syms = list(input_syms) + newsyms
    exported: list[np.ndarray] = []
    i = 0
    exflag = 0
    zero_runs = 0
    while i < len(syms):
        run = read_ex()
        if run is None or run < 0 or i + run > len(syms):
            raise Jbig2Error("bad export run")
        if run == 0:
            # zero-length runs only flip the export flag; more than two
            # in a row means a stream that will never advance
            zero_runs += 1
            if zero_runs > 2:
                raise Jbig2Error("export runs make no progress")
        else:
            zero_runs = 0
        if exflag:
            exported.extend(syms[i:i + run])
        i += run
        exflag ^= 1
    if len(exported) != num_ex:
        raise Jbig2Error(
            f"dictionary exported {len(exported)} != declared {num_ex}")
    return exported


def _sd_arith_symbols(mq: _MQDecoder, input_syms: list[np.ndarray],
                      num_new: int, template: int, at: tuple, refagg: int,
                      rtemplate: int, rat: tuple) -> list[np.ndarray]:
    """SDHUFF=0 new symbols: height classes of MQ-coded generic bitmaps
    over shared GB contexts, or with SDREFAGG refinements of earlier
    symbols and multi-instance aggregates (§6.5.8.2)."""
    iadh, iadw, iaai = _int_ctx(), _int_ctx(), _int_ctx()
    iardx, iardy = _int_ctx(), _int_ctx()
    scl = _symcodelen(len(input_syms) + num_new)
    iaid = _iaid_ctx(scl)
    gb_ctx = _fresh_contexts(template)
    gr_ctx = _ref_ctx()
    agg_reads: tuple | None = None   # built on the first multi-instance
    newsyms: list[np.ndarray] = []
    hcheight = 0
    px_budget = 1 << 26  # total decoded symbol pixels, matching regions
    # the MQ decoder feeds 1s past the end of data and keeps yielding
    # values, so every stream-driven loop needs an iteration bound: a
    # conforming dictionary uses at most one height class per symbol
    empty_classes = 0
    while len(newsyms) < num_new:
        dh = _int_decode(mq, *iadh)
        if dh is None:
            raise Jbig2Error("OOB height-class delta")
        hcheight += dh
        if hcheight <= 0 or hcheight > 1 << 14:
            raise Jbig2Error(f"bad height class {hcheight}")
        symwidth = 0
        n_before = len(newsyms)
        while True:
            dw = _int_decode(mq, *iadw)
            if dw is None:
                break  # end of height class
            symwidth += dw
            if symwidth <= 0 or symwidth > 1 << 14 \
                    or len(newsyms) >= num_new:
                raise Jbig2Error("bad symbol width sequence")
            px_budget -= symwidth * hcheight
            if px_budget < 0:
                raise Jbig2Error("symbol dictionary pixel budget exceeded")
            if not refagg:
                newsyms.append(_decode_generic(
                    mq, symwidth, hcheight, template, at, False,
                    contexts=gb_ctx))
                continue
            # refinement/aggregate coding (§6.5.8.2): the common
            # single-instance arrangement refines an earlier symbol;
            # multi-instance aggregates decode as a TEXT REGION over
            # the symbols known so far (§6.5.8.2.2)
            n_inst = _int_decode(mq, *iaai)
            if n_inst is None or not 0 < n_inst <= 1 << 22:
                raise Jbig2Error(f"bad aggregate instance count "
                                 f"{n_inst}")
            if n_inst != 1:
                if agg_reads is None:
                    # strip-walk integer contexts persist across the
                    # dictionary's aggregates; IAID / IARDX / IARDY and
                    # the GR bitmap contexts are the dictionary's own
                    # (§6.5.8.2.3)
                    agg_reads = _arith_text_reads(
                        mq, scl, 1, rtemplate, rat, iaid=iaid,
                        iardx=iardx, iardy=iardy, gr=gr_ctx)
                page = np.zeros((hcheight, symwidth), np.uint8)
                _text_strip_walk(
                    *agg_reads, input_syms + newsyms, page, n_inst,
                    sbstrips=1, refcorner=1, transposed=0, sbcombop=0,
                    sbdsoffset=0)
                newsyms.append(page)
                continue
            rid = _iaid_decode(mq, *iaid, scl) if scl else 0
            rdx = _int_decode(mq, *iardx)
            rdy = _int_decode(mq, *iardy)
            if rdx is None or rdy is None:
                raise Jbig2Error("OOB refinement offset")
            pool = input_syms if rid < len(input_syms) else newsyms
            ridx = rid if rid < len(input_syms) else rid - len(input_syms)
            if not 0 <= ridx < len(pool):
                raise Jbig2Error(f"refinement reference id {rid} "
                                 "out of range")
            newsyms.append(_decode_refinement(
                mq, symwidth, hcheight, rtemplate, pool[ridx],
                rdx, rdy, rat, False, contexts=gr_ctx))
        if len(newsyms) == n_before:
            empty_classes += 1
            if empty_classes > 64:
                raise Jbig2Error("symbol dictionary makes no progress")
    return newsyms


def _symcodelen(n_syms: int) -> int:
    """SBSYMCODELEN = ceil(log2(SBNUMSYMS)) (Table 31); zero bits when a
    single symbol exists (its ID is implicit)."""
    return (n_syms - 1).bit_length() if n_syms > 1 else 0


def _decode_text_region(seg_data: bytes, syms: list[np.ndarray],
                        custom_tables: list | None = None,
                        ) -> tuple[dict, np.ndarray]:
    """Text region segment data → (region info, 0/1 bitmap) with every
    symbol instance drawn per §6.4.5 (all four REFCORNERs, TRANSPOSED
    both ways, strip T residuals).  Both codings parse one header and
    run one strip walk; SBHUFF=1 reads table-coded values, a raw-bit
    CURT residual and the runcode-built symbol ID code, and selector
    value 3 takes the next of ``custom_tables`` (the referred type-53
    tables, §7.4.4.1.6)."""
    info, pos = _parse_region_info(seg_data, 0)
    if pos + 6 > len(seg_data):
        raise Jbig2Error("truncated text region header")
    flags = struct.unpack_from(">H", seg_data, pos)[0]
    pos += 2
    sbhuff = flags & 1
    sbrefine = (flags >> 1) & 1
    sbstrips = 1 << ((flags >> 2) & 3)
    refcorner = (flags >> 4) & 3  # 0=BL 1=TL 2=BR 3=TR (Table 34)
    transposed = (flags >> 6) & 1
    sbcombop = (flags >> 7) & 3
    sbdefpixel = (flags >> 9) & 1
    sbdsoffset = (flags >> 10) & 0x1F
    if sbdsoffset > 15:
        sbdsoffset -= 32
    sbrtemplate = (flags >> 15) & 1
    if sbhuff:
        if sbrefine:
            raise Jbig2Unsupported("huffman text region with refinement")
        if pos + 2 > len(seg_data):
            raise Jbig2Error("truncated huffman text region flags")
        hflags = struct.unpack_from(">H", seg_data, pos)[0]
        pos += 2
        custom = list(custom_tables or ())
        sel_fs = hflags & 3
        sel_ds = (hflags >> 2) & 3
        sel_dt = (hflags >> 4) & 3
        if sel_fs == 2:
            raise Jbig2Error("reserved huffman FS table selector")
        if (hflags >> 6) & 0xFF or (hflags >> 14) & 1:
            # RDW/RDH/RDX/RDY/RSIZE tables are meaningful only with
            # SBREFINE, which rejects above
            raise Jbig2Unsupported(
                "refinement huffman tables in text region")
        t_fs = _take_table(custom, "FS") if sel_fs == 3 \
            else _std_table(6 + sel_fs)
        t_ds = _take_table(custom, "DS") if sel_ds == 3 \
            else _std_table(8 + sel_ds)
        t_dt = _take_table(custom, "DT") if sel_dt == 3 \
            else _std_table(11 + sel_dt)
    rat = _REF_NOMINAL_AT
    if sbrefine and sbrtemplate == 0:
        rat, pos = _at_pixels(seg_data, pos, 2, "refinement AT pixels")
    if pos + 4 > len(seg_data):
        raise Jbig2Error("truncated text region header")
    num_instances = struct.unpack_from(">I", seg_data, pos)[0]
    pos += 4
    w, h = info["w"], info["h"]
    if w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26 \
            or num_instances > 1 << 22:
        raise Jbig2Error("implausible text region")
    if not syms:
        raise Jbig2Error("text region with no symbols")
    if sbhuff:
        r = _BitReader(seg_data[pos:])
        t_sym = _huffman_symbol_ids(r, len(syms))
        reads = (partial(t_dt.decode, r), partial(t_fs.decode, r),
                 partial(t_ds.decode, r),
                 partial(r.read, (sbstrips - 1).bit_length()),
                 partial(t_sym.decode, r) if t_sym else lambda: 0)
        refine = None
    else:
        reads, refine = _arith_text_reads(
            _MQDecoder(seg_data[pos:]), _symcodelen(len(syms)), sbrefine,
            sbrtemplate, rat)
    page = np.full((h, w), sbdefpixel, dtype=np.uint8)
    _text_strip_walk(reads, refine, syms, page, num_instances,
                     sbstrips=sbstrips, refcorner=refcorner,
                     transposed=transposed, sbcombop=sbcombop,
                     sbdsoffset=sbdsoffset)
    return info, page


def _arith_text_reads(mq: _MQDecoder, scl: int, sbrefine: int,
                      sbrtemplate: int, rat: tuple,
                      iaid: tuple | None = None,
                      iardx: tuple | None = None,
                      iardy: tuple | None = None,
                      gr: tuple | None = None,
                      ) -> tuple[tuple, Callable | None]:
    """The strip walk's arithmetic side → ((DT, FS, DS, IT, ID) reads,
    refine step or None).  A symbol dictionary's aggregates pass their
    own IAID / IARDX / IARDY and GR bitmap contexts (§6.5.8.2.3 shares
    them with the single-instance refinement path); text region
    segments leave them fresh."""
    iaid = iaid if iaid is not None else _iaid_ctx(scl)
    reads = (partial(_int_decode, mq, *_int_ctx()),     # IADT
             partial(_int_decode, mq, *_int_ctx()),     # IAFS
             partial(_int_decode, mq, *_int_ctx()),     # IADS
             partial(_int_decode, mq, *_int_ctx()),     # IAIT
             partial(_iaid_decode, mq, *iaid, scl))     # IAID
    if not sbrefine:
        return reads, None
    read_ri, read_rdw, read_rdh = (partial(_int_decode, mq, *_int_ctx())
                                   for _ in range(3))
    read_rdx = partial(_int_decode, mq,
                       *(iardx if iardx is not None else _int_ctx()))
    read_rdy = partial(_int_decode, mq,
                       *(iardy if iardy is not None else _int_ctx()))
    gr = gr if gr is not None else _ref_ctx()
    # Cumulative refined-instance pixel budget: SBREFINE decodes a fresh
    # bitmap per refined instance, so per-dimension caps alone still let
    # a malformed stream request num_instances × huge decodes.  Mirror
    # the symbol dictionary's px_budget (1<<26 total decoded pixels).
    ref_px = _REF_PX_BUDGET

    def refine(sym: np.ndarray) -> np.ndarray:
        nonlocal ref_px
        if not read_ri():
            return sym
        rdw, rdh, rdx, rdy = read_rdw(), read_rdh(), read_rdx(), read_rdy()
        if None in (rdw, rdh, rdx, rdy):
            raise Jbig2Error("OOB refinement deltas")
        nw = sym.shape[1] + rdw
        nh = sym.shape[0] + rdh
        if not (0 < nw <= 1 << 14 and 0 < nh <= 1 << 14) \
                or nw * nh > 1 << 26:
            raise Jbig2Error("bad refined symbol size")
        ref_px -= nw * nh
        if ref_px < 0:
            raise Jbig2Error("refinement pixel budget exhausted")
        return _decode_refinement(
            mq, nw, nh, sbrtemplate, sym, (rdw >> 1) + rdx,
            (rdh >> 1) + rdy, rat, False, contexts=gr)

    return reads, refine


def _text_strip_walk(reads: tuple, refine: Callable | None,
                     syms: list[np.ndarray], page: np.ndarray,
                     num_instances: int, *, sbstrips: int, refcorner: int,
                     transposed: int, sbcombop: int,
                     sbdsoffset: int) -> None:
    """The §6.4.5 strip walk, drawing onto ``page`` — the one walk of
    arithmetic text regions, SBHUFF text regions and symbol-dictionary
    multi-instance aggregates (§6.5.8.2.2).  ``reads`` are the DT, FS,
    DS, IT and ID integer reads (None = OOB); ``refine`` is the SBREFINE
    per-instance step."""
    read_dt, read_fs, read_ds, read_it, read_id = reads
    first_dt = read_dt()
    if first_dt is None:
        raise Jbig2Error("OOB strip T")
    stript = -first_dt * sbstrips
    firsts = 0
    inst = 0
    while inst < num_instances:
        dt = read_dt()
        if dt is None:
            raise Jbig2Error("OOB strip T delta")
        stript += dt * sbstrips
        dfs = read_fs()
        if dfs is None:
            raise Jbig2Error("OOB first S")
        firsts += dfs
        curs = firsts
        first = True
        while inst < num_instances:
            if first:
                first = False
            else:
                ids = read_ds()
                if ids is None:
                    break  # end of strip
                curs += ids + sbdsoffset
            curt = read_it() if sbstrips > 1 else 0
            if curt is None:
                raise Jbig2Error("OOB T residual")
            ti = stript + curt
            sid = read_id()
            if not 0 <= sid < len(syms):
                raise Jbig2Error(f"symbol id {sid} out of range")
            sym = syms[sid]
            if refine is not None:
                sym = refine(sym)
            curs = _draw_instance(page, sym, int(curs), int(ti),
                                  refcorner, transposed, sbcombop)
            inst += 1


# --------------------------------------------------------------------------
# Huffman-coded arrangement (T.88 SDHUFF/SBHUFF with Annex B tables) —
# the alternative coding some encoders emit instead of MQ arithmetic.
# Only what the coding changes lives here: the bit reader, the tables,
# the collective symbol bitmaps and the symbol ID code; the header
# parse, the export runs and the strip walk are the shared ones above.
# Table data transcribed from the public ITU-T T.88 Annex B; canonical
# prefix-code assignment per B.3.
# --------------------------------------------------------------------------

#: the out-of-band value :meth:`_HuffTable.decode` returns — None, as
#: from the arithmetic IAx decoder, so both codings feed one strip walk
_HUFF_OOB = None


class _BitReader:
    """MSB-first bit reader with byte alignment and raw-byte access."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # in bits

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > 8 * len(self.data):
            raise Jbig2Error("truncated huffman-coded data")
        b0, b1 = self.pos >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.data[b0:b1], "big")
        v = (chunk >> (8 * (b1 - b0) - (end - 8 * b0))) & ((1 << n) - 1)
        self.pos = end
        return v

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def read_bytes(self, n: int) -> bytes:
        self.byte_align()
        b0 = self.pos >> 3
        if b0 + n > len(self.data):
            raise Jbig2Error("truncated huffman-coded data")
        self.pos = (b0 + n) * 8
        return self.data[b0:b0 + n]


class _BitWriter:
    """MSB-first bit writer (fixture/encoder side)."""

    __slots__ = ("bits",)

    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def byte_align(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def write_bytes(self, data: bytes) -> None:
        self.byte_align()
        for b in data:
            self.write(b, 8)

    def flush(self) -> bytes:
        self.byte_align()
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            v = 0
            for b in self.bits[i:i + 8]:
                v = (v << 1) | b
            out.append(v)
        return bytes(out)


class _HuffTable:
    """One Annex-B Huffman table: lines are ``("n", preflen, rangelen,
    low)`` (value = low + rangelen extra bits), ``("l", preflen, low)``
    (lower range: value = low - 32 extra bits), ``("u", preflen, low)``
    (upper range: value = low + 32 extra bits), ``("o", preflen)``
    (out-of-band).  Prefix codes are assigned canonically per B.3 in
    table order; the constructor proves prefix-freeness.  Line sets can
    be DATA-derived (runcode lengths, custom table segments), so an
    unassignable length multiset raises :class:`Jbig2Error`, never an
    assertion."""

    __slots__ = ("lines", "by_code")

    def __init__(self, lines: list[tuple]) -> None:
        self.lines = [ln for ln in lines if ln[1] > 0]
        max_len = max((ln[1] for ln in self.lines), default=0)
        count = [0] * (max_len + 2)
        for ln in self.lines:
            count[ln[1]] += 1
        self.by_code: dict[tuple[int, int], tuple] = {}
        firstcode = 0
        for curlen in range(1, max_len + 1):
            firstcode = (firstcode + count[curlen - 1]) << 1
            code = firstcode
            for ln in self.lines:
                if ln[1] == curlen:
                    if code >= (1 << curlen):
                        raise Jbig2Error("huffman code overflow")
                    key = (curlen, code)
                    if key in self.by_code:
                        raise Jbig2Error("huffman code collision")
                    self.by_code[key] = ln
                    code += 1

    def decode(self, r: _BitReader):
        code = 0
        length = 0
        while True:
            code = (code << 1) | r.read(1)
            length += 1
            ln = self.by_code.get((length, code))
            if ln is not None:
                kind = ln[0]
                if kind == "n":
                    return ln[3] + r.read(ln[2])
                if kind == "u":
                    return ln[2] + r.read(32)
                if kind == "l":
                    return ln[2] - r.read(32)
                return _HUFF_OOB
            if length > 32:
                raise Jbig2Error("invalid huffman code")

    # ---- encoder side (fixtures) ----

    def _code_of(self, target) -> tuple[int, int]:
        for (length, code), ln in self.by_code.items():
            if ln is target:
                return length, code
        raise AssertionError("line not in table")

    def encode(self, w: _BitWriter, value: int) -> None:
        for ln in self.lines:
            if ln[0] == "n" and ln[3] <= value < ln[3] + (1 << ln[2]):
                length, code = self._code_of(ln)
                w.write(code, length)
                w.write(value - ln[3], ln[2])
                return
        for ln in self.lines:
            if ln[0] == "u" and value >= ln[2]:
                length, code = self._code_of(ln)
                w.write(code, length)
                w.write(value - ln[2], 32)
                return
            if ln[0] == "l" and value <= ln[2]:
                length, code = self._code_of(ln)
                w.write(code, length)
                w.write(ln[2] - value, 32)
                return
        raise ValueError(f"value {value} not codable by this table")

    def encode_oob(self, w: _BitWriter) -> None:
        for ln in self.lines:
            if ln[0] == "o":
                length, code = self._code_of(ln)
                w.write(code, length)
                return
        raise ValueError("table has no OOB code")


#: ITU-T T.88 Annex B standard tables B.1-B.15 (public spec data)
_STD_TABLE_LINES: dict[int, list[tuple]] = {
    1: [("n", 1, 4, 0), ("n", 2, 8, 16), ("n", 3, 16, 272),
        ("u", 3, 65808)],
    2: [("n", 1, 0, 0), ("n", 2, 0, 1), ("n", 3, 0, 2), ("n", 4, 3, 3),
        ("n", 5, 6, 11), ("u", 6, 75), ("o", 6)],
    3: [("n", 8, 8, -256), ("n", 1, 0, 0), ("n", 2, 0, 1),
        ("n", 3, 0, 2), ("n", 4, 3, 3), ("n", 5, 6, 11),
        ("l", 8, -257), ("u", 7, 75), ("o", 6)],
    4: [("n", 1, 0, 1), ("n", 2, 0, 2), ("n", 3, 0, 3), ("n", 4, 3, 4),
        ("n", 5, 6, 12), ("u", 5, 76)],
    5: [("n", 7, 8, -255), ("n", 1, 0, 1), ("n", 2, 0, 2),
        ("n", 3, 0, 3), ("n", 4, 3, 4), ("n", 5, 6, 12),
        ("l", 7, -256), ("u", 6, 76)],
    6: [("n", 5, 10, -2048), ("n", 4, 9, -1024), ("n", 4, 8, -512),
        ("n", 4, 7, -256), ("n", 5, 6, -128), ("n", 5, 5, -64),
        ("n", 4, 5, -32), ("n", 2, 7, 0), ("n", 3, 7, 128),
        ("n", 3, 8, 256), ("n", 4, 9, 512), ("n", 4, 10, 1024),
        ("l", 6, -2049), ("u", 6, 2048)],
    7: [("n", 4, 9, -1024), ("n", 3, 8, -512), ("n", 4, 7, -256),
        ("n", 5, 6, -128), ("n", 5, 5, -64), ("n", 4, 5, -32),
        ("n", 4, 5, 0), ("n", 5, 5, 32), ("n", 5, 6, 64),
        ("n", 4, 7, 128), ("n", 3, 8, 256), ("n", 3, 9, 512),
        ("n", 3, 10, 1024), ("l", 5, -1025), ("u", 5, 2048)],
    8: [("n", 8, 3, -15), ("n", 9, 1, -7), ("n", 8, 1, -5),
        ("n", 9, 0, -3), ("n", 7, 0, -2), ("n", 4, 0, -1),
        ("n", 2, 1, 0), ("n", 5, 0, 2), ("n", 6, 0, 3),
        ("n", 3, 4, 4), ("n", 6, 1, 20), ("n", 4, 4, 22),
        ("n", 4, 5, 38), ("n", 5, 6, 70), ("n", 5, 7, 134),
        ("n", 6, 7, 262), ("n", 7, 8, 390), ("n", 6, 10, 646),
        ("l", 9, -16), ("u", 9, 1670), ("o", 2)],
    9: [("n", 8, 4, -31), ("n", 9, 2, -15), ("n", 8, 2, -11),
        ("n", 9, 1, -7), ("n", 7, 1, -5), ("n", 4, 1, -3),
        ("n", 3, 1, -1), ("n", 3, 1, 1), ("n", 5, 1, 3),
        ("n", 6, 1, 5), ("n", 3, 5, 7), ("n", 6, 2, 39),
        ("n", 4, 5, 43), ("n", 4, 6, 75), ("n", 5, 7, 139),
        ("n", 5, 8, 267), ("n", 6, 8, 523), ("n", 7, 9, 779),
        ("n", 6, 11, 1291), ("l", 9, -32), ("u", 9, 3339), ("o", 2)],
    10: [("n", 7, 4, -21), ("n", 8, 0, -5), ("n", 7, 0, -4),
         ("n", 5, 0, -3), ("n", 2, 2, -2), ("n", 5, 0, 2),
         ("n", 6, 0, 3), ("n", 7, 0, 4), ("n", 8, 0, 5),
         ("n", 2, 6, 6), ("n", 5, 5, 70), ("n", 6, 5, 102),
         ("n", 7, 6, 134), ("n", 8, 7, 198), ("n", 8, 8, 326),
         ("n", 8, 9, 582), ("n", 8, 10, 1094), ("n", 7, 11, 2118),
         ("l", 8, -22), ("u", 8, 4166), ("o", 2)],
    11: [("n", 1, 0, 1), ("n", 2, 1, 2), ("n", 4, 0, 4), ("n", 4, 1, 5),
         ("n", 5, 1, 7), ("n", 5, 2, 9), ("n", 6, 2, 13),
         ("n", 7, 2, 17), ("n", 7, 3, 21), ("n", 7, 4, 29),
         ("n", 7, 5, 45), ("n", 7, 6, 77), ("u", 7, 141)],
    12: [("n", 1, 0, 1), ("n", 2, 0, 2), ("n", 3, 1, 3), ("n", 5, 0, 5),
         ("n", 5, 1, 6), ("n", 6, 1, 8), ("n", 7, 0, 10),
         ("n", 7, 1, 11), ("n", 7, 2, 13), ("n", 7, 3, 17),
         ("n", 7, 4, 25), ("n", 8, 5, 41), ("u", 8, 73)],
    13: [("n", 1, 0, 1), ("n", 3, 0, 2), ("n", 4, 0, 3), ("n", 5, 0, 4),
         ("n", 4, 1, 5), ("n", 3, 3, 7), ("n", 6, 1, 15),
         ("n", 6, 2, 17), ("n", 6, 3, 21), ("n", 6, 4, 29),
         ("n", 6, 5, 45), ("n", 7, 6, 77), ("u", 7, 141)],
    14: [("n", 3, 0, -2), ("n", 3, 0, -1), ("n", 1, 0, 0),
         ("n", 3, 0, 1), ("n", 3, 0, 2)],
    15: [("n", 7, 4, -24), ("n", 6, 2, -8), ("n", 5, 1, -4),
         ("n", 4, 0, -2), ("n", 3, 0, -1), ("n", 1, 0, 0),
         ("n", 3, 0, 1), ("n", 4, 0, 2), ("n", 5, 1, 3), ("n", 6, 2, 5),
         ("n", 7, 4, 9), ("l", 7, -25), ("u", 7, 25)],
}

_STD_TABLES: dict[int, _HuffTable] = {}


def _std_table(n: int) -> _HuffTable:
    t = _STD_TABLES.get(n)
    if t is None:
        t = _HuffTable(_STD_TABLE_LINES[n])
        _STD_TABLES[n] = t
    return t


# import-time proof: every standard table builds (prefix-free, no
# overflow) and satisfies Kraft <= 1
for _n, _lines in _STD_TABLE_LINES.items():
    _t = _HuffTable(_lines)
    _kraft = sum(2.0 ** -ln[1] for ln in _lines if ln[1] > 0)
    assert _kraft <= 1.0 + 1e-12, f"table B.{_n} over-complete"


def _parse_table_segment(seg_data: bytes) -> _HuffTable:
    """Custom Huffman table segment (type 53, T.88 §7.4.13 / Annex B.2):
    flags byte (HTOOB, prefix/range field widths), signed low/high
    bounds, then bit-packed (preflen, rangelen) pairs per value line
    plus the lower-range, upper-range and optional OOB prefix lengths."""
    if len(seg_data) < 9:
        raise Jbig2Error("short table segment")
    tflags = seg_data[0]
    if tflags & 0x80:
        raise Jbig2Error("reserved table flag bit set")
    htoob = tflags & 1
    htps = ((tflags >> 1) & 7) + 1
    htrs = ((tflags >> 4) & 7) + 1
    htlow, hthigh = struct.unpack_from(">ii", seg_data, 1)
    if hthigh <= htlow:
        raise Jbig2Error("empty custom table range")
    r = _BitReader(seg_data[9:])
    lines: list[tuple] = []
    cur = htlow
    while cur < hthigh:
        if len(lines) > 4096:
            raise Jbig2Error("custom table line budget exceeded")
        pl = r.read(htps)
        rl = r.read(htrs)
        if rl > 32:
            raise Jbig2Error("custom table range length over 32 bits")
        lines.append(("n", pl, rl, cur))
        cur += 1 << rl
    lines.append(("l", r.read(htps), htlow - 1))
    lines.append(("u", r.read(htps), hthigh))
    if htoob:
        lines.append(("o", r.read(htps)))
    return _HuffTable(lines)


def _encode_table_segment(value_lines: list[tuple], low_pl: int,
                          high_pl: int, oob_pl: int = 0) -> bytes:
    """Fixture inverse of :func:`_parse_table_segment`: ``value_lines``
    are ``(preflen, rangelen, low)`` triples tiling ``[low, high)`` from
    the first line's low bound; ``oob_pl=0`` omits the OOB line."""
    if not value_lines:
        raise ValueError("need at least one value line")
    htlow = value_lines[0][2]
    cur = htlow
    pls = [pl for pl, _rl, _lo in value_lines]
    pls += [low_pl, high_pl] + ([oob_pl] if oob_pl else [])
    rls = [rl for _pl, rl, _lo in value_lines]
    htps = max(max(pls).bit_length(), 1)
    htrs = max(max(rls).bit_length(), 1)
    w = _BitWriter()
    for pl, rl, lo in value_lines:
        if lo != cur:
            raise ValueError("value lines must tile the range")
        w.write(pl, htps)
        w.write(rl, htrs)
        cur += 1 << rl
    w.write(low_pl, htps)
    w.write(high_pl, htps)
    if oob_pl:
        w.write(oob_pl, htps)
    tflags = (1 if oob_pl else 0) | ((htps - 1) << 1) | ((htrs - 1) << 4)
    return bytes([tflags]) + struct.pack(">ii", htlow, cur) + w.flush()


def _take_table(custom: list, what: str) -> _HuffTable:
    if not custom:
        raise Jbig2Error(f"selector asks for a custom {what} table but "
                         "no referred table segment remains")
    return custom.pop(0)


def _sd_huffman_symbols(r: _BitReader, t_dh: _HuffTable, t_dw: _HuffTable,
                        t_bm: _HuffTable, num_new: int) -> list[np.ndarray]:
    """SDHUFF=1 new symbols (T.88 §6.5 with Huffman tables, REFAGG=0):
    per height class the symbols are coded COLLECTIVELY — widths via the
    DW table, then one bitmap holding the class side by side, stored raw
    (BMSIZE=0) or MMR-coded."""
    newsyms: list[np.ndarray] = []
    hcheight = 0
    px_budget = 1 << 26
    empty_classes = 0
    while len(newsyms) < num_new:
        dh = t_dh.decode(r)
        if dh is None:
            raise Jbig2Error("OOB height-class delta")
        hcheight += dh
        if hcheight <= 0 or hcheight > 1 << 14:
            raise Jbig2Error(f"bad height class {hcheight}")
        symwidth = 0
        totwidth = 0
        widths: list[int] = []
        while True:
            dw = t_dw.decode(r)
            if dw is None:
                break
            symwidth += dw
            if symwidth <= 0 or symwidth > 1 << 14 \
                    or len(newsyms) + len(widths) >= num_new:
                raise Jbig2Error("bad symbol width sequence")
            px_budget -= symwidth * hcheight
            if px_budget < 0:
                raise Jbig2Error("symbol dictionary pixel budget exceeded")
            widths.append(symwidth)
            totwidth += symwidth
        if not widths:
            empty_classes += 1
            if empty_classes > num_new + 1:
                raise Jbig2Error("runaway empty height classes")
            continue
        bmsize = t_bm.decode(r)
        if bmsize is None or bmsize < 0:
            raise Jbig2Error("bad collective bitmap size")
        if bmsize == 0:
            stride = (totwidth + 7) // 8
            raw = r.read_bytes(stride * hcheight)
            coll = np.unpackbits(
                np.frombuffer(raw, np.uint8).reshape(hcheight, stride),
                axis=1)[:, :totwidth]
        else:
            coll = _mmr_bitmap(r.read_bytes(bmsize), totwidth, hcheight,
                               "collective bitmap")
        x = 0
        for wd in widths:
            newsyms.append(np.ascontiguousarray(coll[:, x:x + wd]))
            x += wd
    return newsyms


def _huffman_symbol_ids(r: _BitReader, n_syms: int) -> _HuffTable | None:
    """SBHUFF symbol ID code (§7.4.3.1.7): 35 runcode lengths, then every
    symbol's code length run-coded through them → the ID table, or None
    when a single symbol's ID is implicit.  Leaves ``r`` byte-aligned."""
    runlens = [r.read(4) for _ in range(35)]
    t_run = _HuffTable([("n", ln, 0, i)
                        for i, ln in enumerate(runlens) if ln])
    lens: list[int] = []
    prev = 0
    while len(lens) < n_syms:
        c = t_run.decode(r)
        if c is None:
            raise Jbig2Error("bad symbol-length runcode")
        if c < 32:
            lens.append(c)
            prev = c
        elif c == 32:
            lens.extend([prev] * (r.read(2) + 3))
        elif c == 33:
            lens.extend([0] * (r.read(3) + 3))
        else:
            lens.extend([0] * (r.read(7) + 11))
    if len(lens) != n_syms:
        raise Jbig2Error("symbol-length run overshoot")
    r.byte_align()
    return _HuffTable([("n", ln, 0, i) for i, ln in enumerate(lens) if ln]) \
        if n_syms > 1 else None


def _draw_instance(page: np.ndarray, sym: np.ndarray, curs: int,
                   ti: int, refcorner: int, transposed: int,
                   sbcombop: int) -> int:
    """Place one symbol instance of the strip walk per §6.4.5
    (REFCORNER / TRANSPOSED semantics); returns the advanced S
    coordinate."""
    h, w = page.shape
    hi, wi = sym.shape

    def draw(x0: int, y0: int) -> None:
        sh, sw = sym.shape
        sx0, sy0 = max(0, -x0), max(0, -y0)
        x0c, y0c = max(0, x0), max(0, y0)
        sw2 = min(sw - sx0, w - x0c)
        sh2 = min(sh - sy0, h - y0c)
        if sw2 <= 0 or sh2 <= 0:
            return
        dst = page[y0c:y0c + sh2, x0c:x0c + sw2]
        src = sym[sy0:sy0 + sh2, sx0:sx0 + sw2]
        if sbcombop == 0:
            dst |= src
        elif sbcombop == 1:
            dst &= src
        elif sbcombop == 2:
            dst ^= src
        else:
            dst ^= src ^ 1

    if not transposed:
        if refcorner in (2, 3):
            curs += wi - 1
            x0 = curs - wi + 1
        else:
            x0 = curs
        y0 = ti if refcorner in (1, 3) else ti - hi + 1
        draw(x0, y0)
        if refcorner in (0, 1):
            curs += wi - 1
    else:
        if refcorner in (0, 2):
            curs += hi - 1
            y0 = curs - hi + 1
        else:
            y0 = curs
        x0 = ti if refcorner in (0, 1) else ti - wi + 1
        draw(x0, y0)
        if refcorner in (1, 3):
            curs += hi - 1
    return curs


#: custom DW table emitted by the ``custom_dw_table`` fixture tier:
#: [0, 64) with 6 extra bits, [64, 1088) with 10 — covers every width
#: delta the fixture pages produce; Kraft 31/32 (incomplete is legal)
_CUSTOM_DW_SEG = None


def _custom_dw_table_segment() -> bytes:
    global _CUSTOM_DW_SEG
    if _CUSTOM_DW_SEG is None:
        _CUSTOM_DW_SEG = _encode_table_segment(
            [(1, 6, 0), (2, 10, 64)], low_pl=5, high_pl=4, oob_pl=3)
    return _CUSTOM_DW_SEG


def _encode_huffman_symbol_dict(symbols: list[np.ndarray],
                                custom_dw: bool = False) -> bytes:
    """Symbols (sorted by ascending height, then width) → SDHUFF=1
    dictionary segment data with B.4/B.2/B.1 tables and UNCOMPRESSED
    collective bitmaps (BMSIZE=0) — the simplest conforming huffman
    arrangement.  ``custom_dw=True`` codes the width deltas with the
    type-53 custom table of :func:`_custom_dw_table_segment` instead
    (selector value 3); the caller must emit that table segment in the
    dictionary's referred-to list."""
    flags = 1 | ((3 << 4) if custom_dw else 0)
    header = struct.pack(">H", flags) + struct.pack(
        ">II", len(symbols), len(symbols))
    t_dh, t_bm, t_ex = (_std_table(4), _std_table(1), _std_table(1))
    t_dw = _parse_table_segment(_custom_dw_table_segment()) \
        if custom_dw else _std_table(2)
    w = _BitWriter()
    classes: dict[int, list[np.ndarray]] = {}
    for sym in symbols:
        classes.setdefault(sym.shape[0], []).append(sym)
    prev_h = 0
    for hh in sorted(classes):
        t_dh.encode(w, hh - prev_h)
        prev_h = hh
        prev_w = 0
        for sym in classes[hh]:
            t_dw.encode(w, sym.shape[1] - prev_w)
            prev_w = sym.shape[1]
        t_dw.encode_oob(w)
        t_bm.encode(w, 0)  # uncompressed collective bitmap
        coll = np.hstack(classes[hh])
        w.write_bytes(np.packbits(coll, axis=1).tobytes())
    t_ex.encode(w, 0)              # run of 0 non-exports,
    t_ex.encode(w, len(symbols))   # then export everything
    return header + w.flush()


def _encode_huffman_text_region(instances: list[tuple],
                                symbols: list[np.ndarray],
                                w: int, h: int,
                                refcorner: int = 1) -> bytes:
    """Instances ``[(x0, y0, symbol_id)]`` (top-left anchors) →
    SBHUFF=1 text region segment data (standard tables, flat symbol ID
    code, SBSTRIPS=1)."""
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)
    flags = 1 | ((refcorner & 3) << 4)  # SBHUFF=1, LOGSBSTRIPS=0
    hflags = 0  # B.6 / B.8 / B.11, no refinement tables, RSIZE=B.1
    t_fs, t_ds, t_dt = _std_table(6), _std_table(8), _std_table(11)
    bw = _BitWriter()
    n_syms = len(symbols)
    scl = max((n_syms - 1).bit_length(), 1)
    # 35 runcode lengths: only runcode `scl` is used, as a 1-bit code
    for i in range(35):
        bw.write(1 if i == scl else 0, 4)
    for _ in range(n_syms):
        bw.write(0, 1)  # every symbol's code length = scl (runcode 0b0)
    bw.byte_align()
    t_sym = _HuffTable([("n", scl, 0, i) for i in range(n_syms)]) \
        if n_syms > 1 else None

    def enc_t(y0: int, sid: int) -> int:
        return y0 if refcorner in (1, 3) else y0 + symbols[sid].shape[0] - 1

    strips: dict[int, list[tuple]] = {}
    for x0, y0, sid in instances:
        strips.setdefault(enc_t(y0, sid), []).append((x0, y0, sid))

    t_dt.encode(bw, 1)  # initial STRIPT = -1
    stript = -1
    firsts = 0
    for st in sorted(strips):
        t_dt.encode(bw, st - stript)
        stript = st
        row = sorted(strips[st])
        first = True
        curs = 0
        for x0, _y0, sid in row:
            wi = symbols[sid].shape[1]
            if first:
                t_fs.encode(bw, x0 - firsts)
                firsts = x0
                first = False
            else:
                t_ds.encode(bw, x0 - curs)  # SBDSOFFSET = 0
            curs = x0 + wi - 1
            if t_sym is not None:
                length, code = t_sym._code_of(t_sym.lines[sid])
                bw.write(code, length)
        t_ds.encode_oob(bw)
    return (region_info + struct.pack(">H", flags)
            + struct.pack(">H", hflags)
            + struct.pack(">I", len(instances)) + bw.flush())


def encode_jbig2_symbol_huffman_embedded(bitmap: np.ndarray,
                                         refcorner: int = 1,
                                         custom_dw_table: bool = False,
                                         ) -> bytes:
    """2-D bitmap → PDF-embedded JBIG2 stream in the HUFFMAN-CODED
    dictionary arrangement (SDHUFF=1 collective bitmaps + SBHUFF=1 text
    region with standard Annex-B tables) — the non-arithmetic variant
    some encoders emit.  ``custom_dw_table=True`` additionally routes
    the width deltas through a type-53 CUSTOM table segment (Annex
    B.2) referred by the dictionary — the custom-table arrangement.
    Lossless; inverse of :func:`decode_jbig2_embedded`."""
    bm = np.asarray(bitmap)
    if bm.ndim != 2:
        raise ValueError(
            "encode_jbig2_symbol_huffman_embedded wants a 2-D bitmap")
    bm = bm.astype(bool).astype(np.uint8)
    h, w = bm.shape
    comps = _connected_components(bm)
    page_info = (struct.pack(">IIII", w, h, 0, 0) + b"\x01"
                 + b"\x00\x00")
    if not comps:
        return (_segment(1, 48, 1, page_info)
                + _segment(2, 49, 1, b""))
    comp_keys = [(mask.shape[0], mask.shape[1], mask.tobytes())
                 for _x0, _y0, mask in comps]
    keys = sorted(set(comp_keys))  # ascending height, width, pixels
    classes = {key: sid for sid, key in enumerate(keys)}
    symbols = [np.frombuffer(key[2], dtype=np.uint8)
               .reshape(key[0], key[1]) for key in keys]
    instances = [(x0, y0, classes[key])
                 for (x0, y0, _mask), key in zip(comps, comp_keys)]
    parts: list[tuple[int, bytes, str]] = [(48, page_info, "")]
    if custom_dw_table:
        parts.append((53, _custom_dw_table_segment(), ""))
    parts.append((0, _encode_huffman_symbol_dict(
        symbols, custom_dw=custom_dw_table),
        "table" if custom_dw_table else ""))
    parts.append((7, _encode_huffman_text_region(
        instances, symbols, w, h, refcorner), "dict"))
    parts.append((49, b"", ""))
    out = bytearray()
    num_of = {}
    for num, (seg_type, payload, ref_kind) in enumerate(parts, start=1):
        refs = (num_of[ref_kind],) if ref_kind else ()
        if seg_type in (0, 53):
            num_of["table" if seg_type == 53 else "dict"] = num
        out += _segment(num, seg_type, 1, payload, refs=refs)
    return bytes(out)


def _combine(dst: np.ndarray, src: np.ndarray, op: int) -> None:
    """In-place external/internal combination operator (T.88 §8.2):
    OR / AND / XOR / XNOR / REPLACE."""
    if op == 0:
        dst |= src
    elif op == 1:
        dst &= src
    elif op == 2:
        dst ^= src
    elif op == 3:
        dst ^= src ^ 1
    elif op == 4:
        dst[:] = src
    else:
        raise Jbig2Error(f"bad combination operator {op}")


def _parse_refinement_segment(seg_data: bytes,
                              ) -> tuple[dict, tuple]:
    """Standalone refinement region header → (region info, deferred
    decode marker).  The body decodes at page-composition time because
    its reference is the page content under the region (§6.3.2)."""
    info, pos = _parse_region_info(seg_data, 0)
    if pos >= len(seg_data):
        raise Jbig2Error("refinement region missing flags")
    flags = seg_data[pos]
    pos += 1
    template = flags & 1
    tpgron = bool(flags & 2)
    at = _REF_NOMINAL_AT
    if template == 0:
        at, pos = _at_pixels(seg_data, pos, 2, "refinement AT pixels")
    w, h = info["w"], info["h"]
    if w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26:
        raise Jbig2Error(f"implausible refinement region {w}x{h}")
    return info, ("refine", template, tpgron, at, seg_data[pos:])


# --------------------------------------------------------------------------
# Pattern dictionary (§6.7) and halftone region (§6.6)
# --------------------------------------------------------------------------


def _decode_pattern_dict(seg_data: bytes) -> list[np.ndarray]:
    """Pattern dictionary segment data → GRAYMAX+1 pattern bitmaps of
    HDPW×HDPH, split from one collectively-coded bitmap (§6.7.5)."""
    if len(seg_data) < 7:
        raise Jbig2Error("short pattern dictionary")
    flags, hdpw, hdph = seg_data[0], seg_data[1], seg_data[2]
    graymax = struct.unpack_from(">I", seg_data, 3)[0]
    template = (flags >> 1) & 3
    if hdpw <= 0 or hdph <= 0:
        raise Jbig2Error("zero pattern size")
    if graymax > 1 << 12 or (graymax + 1) * hdpw * hdph > 1 << 26:
        raise Jbig2Error("implausible pattern dictionary")
    width = (graymax + 1) * hdpw
    if flags & 1:  # HDMMR
        collective = _mmr_bitmap(seg_data[7:], width, hdph,
                                 "pattern dictionary")
    else:
        at = ((-hdpw, 0),) + (((-3, -1), (2, -2), (-2, -2))
                              if template == 0 else ())
        collective = _decode_generic(_MQDecoder(seg_data[7:]), width,
                                     hdph, template, at, False)
    return [collective[:, i * hdpw:(i + 1) * hdpw]
            for i in range(graymax + 1)]


def _decode_halftone_region(seg_data: bytes,
                            patterns: list[np.ndarray],
                            ) -> tuple[dict, np.ndarray]:
    """Halftone region segment data → (region info, 0/1 bitmap): decode
    the gray-scale image as gray-coded bitplanes (Annex C, arithmetic)
    and stamp one pattern per grid cell (§6.6.5)."""
    if not patterns:
        raise Jbig2Error("halftone region with no patterns")
    if any(p.shape != patterns[0].shape for p in patterns):
        # multiple referred dictionaries with differing HDPW/HDPH
        raise Jbig2Error("halftone patterns disagree in size")
    info, pos = _parse_region_info(seg_data, 0)
    # flags (1) + HGW/HGH (8) + HGX/HGY (8) + HRX/HRY (4)
    if pos + 21 > len(seg_data):
        raise Jbig2Error("truncated halftone region header")
    flags = seg_data[pos]
    pos += 1
    hmmr = flags & 1
    template = (flags >> 1) & 3
    if (flags >> 3) & 1:
        raise Jbig2Unsupported("HENABLESKIP halftone region")
    hcombop = (flags >> 4) & 7
    hdefpixel = (flags >> 7) & 1
    hgw, hgh = struct.unpack_from(">II", seg_data, pos)
    hgx, hgy = struct.unpack_from(">ii", seg_data, pos + 8)
    hrx, hry = struct.unpack_from(">HH", seg_data, pos + 16)
    pos += 20
    w, h = info["w"], info["h"]
    bpv = (len(patterns) - 1).bit_length()
    if w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26 \
            or hgw > 1 << 16 or hgh > 1 << 16 \
            or hgw * hgh * max(bpv, 1) > 1 << 26:
        # the gray image costs hgw*hgh MQ pixel decodes PER BITPLANE —
        # budget the product like every other region type
        raise Jbig2Error("implausible halftone region")
    if hmmr:
        # Annex C.5 with HMMR=1: the bitplanes are EOFB-terminated G4
        # codings in one bit-continuous stream (pdf.js decodes these;
        # same gray accumulation as the arithmetic path below)
        from .ccittcodec import CcittError, decode_g4_planes

        planes = []
        if bpv:
            try:
                raw_planes = decode_g4_planes(seg_data[pos:], hgw, hgh,
                                              bpv)
            except CcittError as exc:
                raise Jbig2Error(
                    f"bad MMR halftone gray planes: {exc}") from exc
            planes = [(g == 0).astype(np.uint8) for g in raw_planes]
    else:
        mq = _MQDecoder(seg_data[pos:])
        gb_ctx = _fresh_contexts(template)
        at = ((3 if template <= 1 else 2, -1),) + (((-3, -1), (2, -2),
                                                    (-2, -2))
                                                   if template == 0
                                                   else ())
        planes = [_decode_generic(mq, hgw, hgh, template, at, False,
                                  contexts=gb_ctx)
                  for _j in range(bpv)]
    # Annex C.5: planes MSB→LSB; gray decode: bit_j = plane_j XOR
    # bit_{j+1}
    gray = np.zeros((hgh, hgw), dtype=np.int64)
    prev = np.zeros((hgh, hgw), dtype=np.uint8)
    for plane in planes:
        prev = plane ^ prev
        gray = (gray << 1) | prev
    if (gray >= len(patterns)).any():
        raise Jbig2Error("gray value exceeds pattern count")
    page = np.full((h, w), hdefpixel, dtype=np.uint8)
    ph, pw = patterns[0].shape
    for m in range(hgh):
        for n in range(hgw):
            # grid geometry per §6.6.5.1 (offsets/vectors in 1/256 px)
            x = (hgx + m * hry + n * hrx) >> 8
            y = (hgy + m * hrx - n * hry) >> 8
            pat = patterns[int(gray[m, n])]
            sx, sy = max(0, -x), max(0, -y)
            x0, y0 = max(0, x), max(0, y)
            cw = min(pw - sx, w - x0)
            ch = min(ph - sy, h - y0)
            if cw <= 0 or ch <= 0:
                continue
            _combine(page[y0:y0 + ch, x0:x0 + cw],
                     pat[sy:sy + ch, sx:sx + cw], hcombop)
    return info, page


def _encode_pattern_dict(patterns: list[np.ndarray]) -> bytes:
    """Pattern bitmaps (equal HDPW×HDPH) → pattern dictionary segment
    data (template 0, collective coding)."""
    ph, pw = patterns[0].shape
    collective = np.concatenate([p.astype(np.uint8) for p in patterns],
                                axis=1)
    at = ((-pw, 0), (-3, -1), (2, -2), (-2, -2))
    return (bytes([0, pw, ph]) + struct.pack(">I", len(patterns) - 1)
            + _encode_generic(collective, template=0, tpgdon=False,
                              at=at))


def _encode_halftone_region(gray: np.ndarray, patterns: list[np.ndarray],
                            w: int, h: int, mmr: bool = False) -> bytes:
    """Gray-scale pattern-index grid → halftone region segment data on
    a regular grid (square patterns; HRX = HDPW<<8, HRY = 0).
    ``mmr=True`` codes the gray bitplanes as one bit-continuous G4
    stream (HMMR=1, Annex C.5) instead of MQ arithmetic."""
    ph, pw = patterns[0].shape
    if ph != pw:
        raise ValueError("fixture halftone grid wants square patterns")
    hgh, hgw = gray.shape
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)
    bpv = (len(patterns) - 1).bit_length()
    g = gray.astype(np.int64)
    planes = [((g >> j) & 1).astype(np.uint8)
              for j in range(bpv - 1, -1, -1)]  # MSB first
    coded: list[np.ndarray] = []
    prev = np.zeros_like(g, dtype=np.uint8)
    for bits in planes:
        coded.append(bits ^ prev)  # gray-code the bitplane
        prev = bits
    if mmr:
        from .ccittcodec import encode_g4_planes

        body = encode_g4_planes(coded) if coded else b""
    else:
        enc = _MQEncoder()
        gb_ctx = _fresh_contexts(0)
        at = ((3, -1), (-3, -1), (2, -2), (-2, -2))
        for plane in coded:
            _encode_generic(plane, template=0, tpgdon=False, enc=enc,
                            contexts=gb_ctx, at=at)
        body = enc.flush()
    return (region_info + bytes([1 if mmr else 0])  # template 0, OR
            + struct.pack(">II", hgw, hgh)
            + struct.pack(">ii", 0, 0)
            + struct.pack(">HH", pw << 8, 0)
            + body)


def encode_jbig2_halftone_embedded(gray: np.ndarray,
                                   patterns: list[np.ndarray],
                                   mmr: bool = False) -> bytes:
    """Pattern-index grid (values < len(patterns)) + square patterns →
    PDF-embedded JBIG2 stream: page info + pattern dictionary +
    immediate lossless halftone region + end of page.  ``mmr=True``
    emits the HMMR=1 (G4-coded gray planes) arrangement."""
    g = np.asarray(gray)
    ph, pw = patterns[0].shape
    hgh, hgw = g.shape
    w, h = hgw * pw, hgh * ph
    page_info = (struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00")
    return (_segment(1, 48, 1, page_info)
            + _segment(2, 16, 1, _encode_pattern_dict(patterns))
            + _segment(3, 23, 1,  # immediate lossless halftone region
                       _encode_halftone_region(g, patterns, w, h,
                                               mmr=mmr),
                       refs=(2,))
            + _segment(4, 49, 1, b""))


# --------------------------------------------------------------------------
# Embedded segment layer (T.88 §7.2)
# --------------------------------------------------------------------------

#: generic regions, incl. the intermediate form (36): its auxiliary
#: buffer exists for refinement-with-refs segments — which reject as
#: unsupported before any second consumption could happen — so the
#: lenient compose-as-immediate treatment real-world buggy encoders
#: rely on is safe
_GENERIC_REGION_TYPES = {36, 38, 39}


def _parse_segment_header(data: bytes, pos: int) -> tuple[dict, int]:
    if pos + 11 > len(data):
        raise Jbig2Error("truncated segment header")
    number, flags = struct.unpack_from(">IB", data, pos)
    pos += 5
    seg_type = flags & 0x3F
    page_assoc_4 = bool(flags & 0x40)
    rts = data[pos]
    count = rts >> 5
    if count == 7:
        if pos + 4 > len(data):
            raise Jbig2Error("truncated referred-to count")
        count = struct.unpack_from(">I", data, pos)[0] & 0x1FFFFFFF
        pos += 4 + (count + 8) // 8  # long form: retain bits follow
    else:
        pos += 1
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    refs = []
    for _ in range(count):
        if pos + ref_size > len(data):
            raise Jbig2Error("truncated referred-to segment numbers")
        if ref_size == 1:
            refs.append(data[pos])
        elif ref_size == 2:
            refs.append(struct.unpack_from(">H", data, pos)[0])
        else:
            refs.append(struct.unpack_from(">I", data, pos)[0])
        pos += ref_size
    if page_assoc_4:
        if pos + 4 > len(data):
            raise Jbig2Error("truncated page association")
        page = struct.unpack_from(">I", data, pos)[0]
        pos += 4
    else:
        if pos >= len(data):
            raise Jbig2Error("truncated page association")
        page = data[pos]
        pos += 1
    if pos + 4 > len(data):
        raise Jbig2Error("truncated segment data length")
    length = struct.unpack_from(">I", data, pos)[0]
    pos += 4
    if length == 0xFFFFFFFF:
        raise Jbig2Unsupported("unknown-length segment (7.2.7)")
    return ({"number": number, "type": seg_type, "refs": refs,
             "page": page, "length": length}, pos)


def _parse_region_info(data: bytes, pos: int) -> tuple[dict, int]:
    if pos + 17 > len(data):
        raise Jbig2Error("truncated region segment info")
    w, h, x, y, comb = struct.unpack_from(">IIIIB", data, pos)
    return {"w": w, "h": h, "x": x, "y": y, "comb": comb & 0x7}, pos + 17


def _decode_generic_segment(seg_data: bytes) -> tuple[dict, np.ndarray]:
    """Generic-region segment data → (region info, 0/1 bitmap)."""
    info, pos = _parse_region_info(seg_data, 0)
    if pos >= len(seg_data):
        raise Jbig2Error("generic region missing flags")
    flags = seg_data[pos]
    pos += 1
    mmr = flags & 1
    template = (flags >> 1) & 3
    tpgdon = bool(flags & 8)
    if flags & 0x10:
        # EXTTEMPLATE (T.88 Amd.2): template 0 with 12 AT pairs — the
        # extra AT bytes would otherwise be consumed as MQ data and
        # decode to silent garbage
        raise Jbig2Unsupported("EXTTEMPLATE generic region")
    w, h = info["w"], info["h"]
    if w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26:
        raise Jbig2Error(f"implausible region {w}x{h}")
    if mmr:
        return info, _mmr_bitmap(seg_data[pos:], w, h, "generic region")
    at, pos = _at_pixels(seg_data, pos, 4 if template == 0 else 1,
                         "AT pixels")
    mq = _MQDecoder(seg_data[pos:])
    return info, _decode_generic(mq, w, h, template, at, tpgdon)


def decode_jbig2_embedded(data: bytes, globals_data: bytes | None = None,
                          width: int | None = None,
                          height: int | None = None) -> np.ndarray:
    """PDF-embedded JBIG2 stream (+ optional ``/JBIG2Globals``) →
    ``uint8 ndarray (rows, cols)``, 0 = black ink, 255 = white.

    Composes every generic-region segment onto the page bitmap with the
    region's external combination operator (OR/AND/XOR/XNOR/REPLACE —
    T.88 §8.2); page size comes from the page-info segment, else from
    the declared image ``width``/``height``, else from the region hull.
    """
    segments: list[tuple[dict, bytes]] = []
    for blob in ((globals_data,) if globals_data else ()) + (data,):
        pos = 0
        while pos < len(blob):
            head, pos = _parse_segment_header(blob, pos)
            end = pos + head["length"]
            if end > len(blob):
                raise Jbig2Error("segment data overruns stream")
            segments.append((head, blob[pos:end]))
            pos = end

    page_w = page_h = None
    page_default = 0
    regions: list[tuple[dict, np.ndarray]] = []
    sym_exports: dict[int, list[np.ndarray]] = {}
    pat_dicts: dict[int, list[np.ndarray]] = {}
    tables: dict[int, bytes] = {}   # type-53 raw payloads, parsed lazily
    for head, seg_data in segments:
        t = head["type"]
        if t == 48:  # page info
            if len(seg_data) < 19:
                raise Jbig2Error("short page info segment")
            pw, ph = struct.unpack_from(">II", seg_data, 0)
            pflags = seg_data[16]
            page_default = (pflags >> 2) & 1
            if pw != 0xFFFFFFFF:
                page_w = pw
            if ph != 0xFFFFFFFF:
                page_h = ph
        elif t in _GENERIC_REGION_TYPES:
            regions.append(_decode_generic_segment(seg_data))
        elif t == 0:  # symbol dictionary
            inputs: list[np.ndarray] = []
            for r in head["refs"]:
                inputs.extend(sym_exports.get(r, ()))
            sym_exports[head["number"]] = _decode_symbol_dict(
                seg_data, inputs,
                [_parse_table_segment(tables[r]) for r in head["refs"]
                 if r in tables])
        elif t in (6, 7):  # immediate (lossless) text region
            syms: list[np.ndarray] = []
            for r in head["refs"]:
                syms.extend(sym_exports.get(r, ()))
            regions.append(_decode_text_region(
                seg_data, syms,
                [_parse_table_segment(tables[r]) for r in head["refs"]
                 if r in tables]))
        elif t == 16:  # pattern dictionary
            pat_dicts[head["number"]] = _decode_pattern_dict(seg_data)
        elif t in (22, 23):  # immediate (lossless) halftone region
            pats: list[np.ndarray] = []
            for r in head["refs"]:
                pats.extend(pat_dicts.get(r, ()))
            regions.append(_decode_halftone_region(seg_data, pats))
        elif t in (42, 43):  # immediate (lossless) refinement region
            if head["refs"]:
                raise Jbig2Unsupported(
                    "refinement of intermediate regions")
            regions.append(_parse_refinement_segment(seg_data))
        elif t in (49, 50, 51):  # end of page / stripe / file
            continue
        elif t in (4, 5, 20, 40):
            raise Jbig2Unsupported(
                f"JBIG2 segment type {t} (intermediate region, needs "
                "auxiliary-buffer plumbing) outside the decoded scope")
        elif t == 53:  # custom huffman table — parsed LAZILY at the
            # referencing segment, so a malformed table nothing uses
            # can't abort an otherwise-decodable page
            tables[head["number"]] = seg_data
        elif t in (52, 62):  # retention / extension: skip
            continue
        else:
            raise Jbig2Error(f"unknown JBIG2 segment type {t}")

    if page_w is None:
        page_w = width if width else max(
            (r["x"] + r["w"] for r, _ in regions), default=0)
    if page_h is None:
        page_h = height if height else max(
            (r["y"] + r["h"] for r, _ in regions), default=0)
    if not page_w or not page_h:
        raise Jbig2Error("no page dimensions and no regions")
    if page_w > 1 << 20 or page_h > 1 << 20 or page_w * page_h > 1 << 26:
        # declared page-info sizes and region x/y offsets are
        # attacker-controlled — cap before allocating, same bound as
        # the per-region check
        raise Jbig2Error(f"implausible page {page_w}x{page_h}")
    page = np.full((page_h, page_w), page_default, dtype=np.uint8)
    for info, bm in regions:
        x, y = info["x"], info["y"]
        if isinstance(bm, tuple) and bm[0] == "refine":
            # standalone refinement region: the reference is the page
            # content currently under the region's footprint (§6.3.2)
            _tag, template, tpgron, rat, body = bm
            rw, rh = info["w"], info["h"]
            ref = np.zeros((rh, rw), dtype=np.uint8)
            cw = min(rw, page_w - x)
            ch = min(rh, page_h - y)
            if cw > 0 and ch > 0:
                ref[:ch, :cw] = page[y:y + ch, x:x + cw]
            bm = _decode_refinement(_MQDecoder(body), rw, rh, template,
                                    ref, 0, 0, rat, tpgron)
        h, w = bm.shape
        if y + h > page_h or x + w > page_w:
            h = min(h, page_h - y)
            w = min(w, page_w - x)
            if h <= 0 or w <= 0:
                continue
            bm = bm[:h, :w]
        _combine(page[y:y + h, x:x + w], bm, info["comb"])
    return np.where(page, 0, 255).astype(np.uint8)


def _segment(number: int, seg_type: int, page: int, payload: bytes,
             refs: tuple[int, ...] = ()) -> bytes:
    """Author one segment (short referred-to form, 1-byte refs and page
    association — valid while segment numbers stay ≤ 256)."""
    if len(refs) > 4:
        raise ValueError("short referred-to form holds at most 4 refs")
    return (struct.pack(">IB", number, seg_type)
            + bytes([len(refs) << 5]) + bytes(refs)
            + struct.pack(">B", page) + struct.pack(">I", len(payload))
            + payload)


def encode_jbig2_embedded(bitmap: np.ndarray) -> bytes:
    """2-D bitmap (nonzero/True = black ink) → PDF-embedded JBIG2 stream:
    page info + immediate lossless generic region (template 0, nominal
    AT, TPGDON) + end of page.  Inverse of :func:`decode_jbig2_embedded`
    and standard T.88, so any JBIG2-capable tool decodes the output.
    Grayscale callers threshold first (``gray < 128``)."""
    bm = np.asarray(bitmap)
    if bm.ndim != 2:
        raise ValueError("encode_jbig2_embedded wants a 2-D bitmap")
    bm = (bm.astype(bool)).astype(np.uint8)
    h, w = bm.shape
    page_info = (struct.pack(">IIII", w, h, 0, 0)
                 + b"\x01"    # flags: defaults may be overridden... bit0=lossless
                 + b"\x00\x00")  # no striping
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)  # OR onto page
    gflags = (0 << 1) | (1 << 3)  # MMR=0, template 0, TPGDON=1
    at = b"".join(struct.pack("bb", dx, dy) for dx, dy in _NOMINAL_AT[0])
    body = _encode_generic(bm, template=0, tpgdon=True)
    region = region_info + bytes([gflags]) + at + body
    return (_segment(1, 48, 1, page_info)
            + _segment(2, 39, 1, region)      # immediate lossless generic
            + _segment(3, 49, 1, b""))        # end of page


def _connected_components(bm: np.ndarray,
                          ) -> list[tuple[int, int, np.ndarray]]:
    """8-connected ink components of a 0/1 bitmap → [(x0, y0, mask)] in
    raster order of each component's first pixel.  ``mask`` holds exactly
    the component's pixels (overlapping bounding boxes stay clean).
    Fixture-authoring side only — pages are glyph-sized."""
    h, w = bm.shape
    labels = np.zeros((h, w), dtype=np.int32)
    comps: list[tuple[int, int, np.ndarray]] = []
    ys, xs = np.nonzero(bm)
    for y, x in zip(ys.tolist(), xs.tolist()):
        if labels[y, x]:
            continue
        label = len(comps) + 1
        labels[y, x] = label
        stack = [(y, x)]
        pix: list[tuple[int, int]] = []
        while stack:
            cy, cx = stack.pop()
            pix.append((cy, cx))
            for ny in range(max(0, cy - 1), min(h, cy + 2)):
                for nx in range(max(0, cx - 1), min(w, cx + 2)):
                    if bm[ny, nx] and not labels[ny, nx]:
                        labels[ny, nx] = label
                        stack.append((ny, nx))
        py = [p[0] for p in pix]
        px = [p[1] for p in pix]
        y0, y1, x0, x1 = min(py), max(py), min(px), max(px)
        mask = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=np.uint8)
        for cy, cx in pix:
            mask[cy - y0, cx - x0] = 1
        comps.append((x0, y0, mask))
    return comps


def _encode_symbol_dict(symbols: list[np.ndarray],
                        refine_from: "list | None" = None,
                        input_syms: "list[np.ndarray] | None" = None,
                        ) -> bytes:
    """Symbol bitmaps (MUST be sorted by ascending height; IDs are list
    positions) → symbol dictionary segment data, all exported (input
    symbols from referred-to dicts are re-exported first).  With
    ``refine_from`` (one global symbol id per entry, indexing the
    input+new space) the dictionary is SDREFAGG-coded: every symbol is
    a single-instance refinement of an earlier one."""
    input_syms = input_syms or []
    refagg = refine_from is not None
    flags = 2 if refagg else 0  # SDHUFF=0, template 0, rtemplate 0
    header = (struct.pack(">H", flags)
              + b"".join(struct.pack("bb", dx, dy)
                         for dx, dy in _NOMINAL_AT[0])
              + (b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in _REF_NOMINAL_AT) if refagg
                 else b"")
              + struct.pack(">II", len(input_syms) + len(symbols),
                            len(symbols)))
    enc = _MQEncoder()
    iadh, iadw, iaex = _int_ctx(), _int_ctx(), _int_ctx()
    iaai, iardx, iardy = _int_ctx(), _int_ctx(), _int_ctx()
    scl = _symcodelen(len(input_syms) + len(symbols))
    iaid = _iaid_ctx(scl)
    gb_ctx = _fresh_contexts(0)
    gr_ctx = _ref_ctx()
    pool = list(input_syms)
    hprev = 0
    i = 0
    while i < len(symbols):
        hc = symbols[i].shape[0]
        _int_encode(enc, *iadh, hc - hprev)
        hprev = hc
        wprev = 0
        while i < len(symbols) and symbols[i].shape[0] == hc:
            wi = symbols[i].shape[1]
            _int_encode(enc, *iadw, wi - wprev)
            wprev = wi
            if refagg:
                rid = refine_from[i]
                _int_encode(enc, *iaai, 1)  # REFAGGNINST
                if scl:
                    _iaid_encode(enc, *iaid, rid, scl)
                _int_encode(enc, *iardx, 0)
                _int_encode(enc, *iardy, 0)
                _encode_refinement(enc, symbols[i], 0, pool[rid], 0, 0,
                                   contexts=gr_ctx)
            else:
                _encode_generic(symbols[i], template=0, tpgdon=False,
                                enc=enc, contexts=gb_ctx)
            pool.append(symbols[i])
            i += 1
        _int_encode(enc, *iadw, None)  # OOB closes the height class
    _int_encode(enc, *iaex, 0)                    # run of 0 non-exports,
    _int_encode(enc, *iaex, len(pool))            # then export everything
    return header + enc.flush()


def _encode_text_region(instances: list[tuple],
                        symbols: list[np.ndarray],
                        w: int, h: int, refcorner: int = 1,
                        sbstrips: int = 1) -> bytes:
    """Instances ``[(x0, y0, symbol_id)]`` or ``[(x0, y0, symbol_id,
    target_bitmap)]`` (top-left anchors) drawn onto a (h, w) region →
    text region segment data (TRANSPOSED=0, OR composition).  A 4-tuple
    instance is SBREFINE-coded: the placed bitmap is ``target`` coded
    as a refinement of ``symbols[symbol_id]``.  ``refcorner`` picks the
    encoded REFCORNER and ``sbstrips`` ∈ {1,2,4,8} the strip height
    (>1 exercises the IAIT T-residual path) — the emitted T/S values
    are adjusted so every variant draws identically."""
    if sbstrips not in (1, 2, 4, 8):
        raise ValueError("SBSTRIPS must be 1, 2, 4 or 8")
    insts = [inst if len(inst) == 4 else (*inst, None)
             for inst in instances]
    sbrefine = any(t is not None for *_x, t in insts)
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)
    flags = ((refcorner & 3) << 4  # SBHUFF=0 ...
             | (1 << 1 if sbrefine else 0)
             | (sbstrips.bit_length() - 1) << 2)  # LOGSBSTRIPS
    rat_hdr = (b"".join(struct.pack("bb", dx, dy)
                        for dx, dy in _REF_NOMINAL_AT) if sbrefine
               else b"")
    enc = _MQEncoder()
    iadt, iafs, iads, iait = (_int_ctx() for _ in range(4))
    iari, iardw, iardh, iardx, iardy = (_int_ctx() for _ in range(5))
    gr_ctx = _ref_ctx()
    scl = _symcodelen(len(symbols))
    iaid = _iaid_ctx(scl)

    def placed(sid: int, target) -> np.ndarray:
        return symbols[sid] if target is None else target

    def enc_t(y0: int, sid: int, target) -> int:
        hi = placed(sid, target).shape[0]
        return y0 if refcorner in (1, 3) else y0 + hi - 1

    strips: dict[int, list[tuple]] = {}
    for x0, y0, sid, target in insts:
        t = enc_t(y0, sid, target)
        strips.setdefault(t - t % sbstrips, []).append((x0, y0, sid,
                                                        target))

    _int_encode(enc, *iadt, 0)  # STRIPT starts at 0
    stript = 0
    firsts = 0
    for st in sorted(strips):
        _int_encode(enc, *iadt, (st - stript) // sbstrips)
        stript = st
        row = sorted(strips[st],
                     key=lambda inst: (inst[0], inst[1], inst[2]))
        first = True
        curs = 0
        for x0, y0, sid, target in row:
            wi = placed(sid, target).shape[1]
            if first:
                _int_encode(enc, *iafs, x0 - firsts)
                firsts = x0
                first = False
            else:
                _int_encode(enc, *iads, x0 - curs)  # SBDSOFFSET = 0
            curs = x0 + wi - 1
            if sbstrips > 1:
                _int_encode(enc, *iait, enc_t(y0, sid, target) - st)
            if scl:
                _iaid_encode(enc, *iaid, sid, scl)
            if sbrefine:
                _int_encode(enc, *iari, 0 if target is None else 1)
                if target is not None:
                    rdw = target.shape[1] - symbols[sid].shape[1]
                    rdh = target.shape[0] - symbols[sid].shape[0]
                    _int_encode(enc, *iardw, rdw)
                    _int_encode(enc, *iardh, rdh)
                    _int_encode(enc, *iardx, -(rdw >> 1))
                    _int_encode(enc, *iardy, -(rdh >> 1))
                    _encode_refinement(enc, target, 0, symbols[sid],
                                       0, 0, contexts=gr_ctx)
        _int_encode(enc, *iads, None)  # OOB ends the strip
    return (region_info + struct.pack(">H", flags) + rat_hdr
            + struct.pack(">I", len(instances)) + enc.flush())


def encode_jbig2_symbol_embedded(bitmap: np.ndarray,
                                 refcorner: int = 1,
                                 sbstrips: int = 1) -> bytes:
    """2-D bitmap (nonzero/True = black ink) → PDF-embedded JBIG2 stream
    in the DICTIONARY-CODED arrangement real scanner output uses: each
    connected ink component becomes a symbol instance, identical shapes
    share one dictionary entry (the jbig2enc architecture), and a text
    region places them.  Lossless for any bitmap — a component is its
    own symbol — and the inverse of :func:`decode_jbig2_embedded`."""
    bm = np.asarray(bitmap)
    if bm.ndim != 2:
        raise ValueError("encode_jbig2_symbol_embedded wants a 2-D bitmap")
    bm = (bm.astype(bool)).astype(np.uint8)
    h, w = bm.shape
    comps = _connected_components(bm)
    if not comps:
        # no ink: an empty page needs no region segments at all
        page_info = (struct.pack(">IIII", w, h, 0, 0) + b"\x01"
                     + b"\x00\x00")
        return (_segment(1, 48, 1, page_info)
                + _segment(2, 49, 1, b""))
    comp_keys = [(mask.shape[0], mask.shape[1], mask.tobytes())
                 for _x0, _y0, mask in comps]
    keys = sorted(set(comp_keys))  # ascending height, width, pixels
    classes = {key: sid for sid, key in enumerate(keys)}
    symbols = [np.frombuffer(key[2], dtype=np.uint8)
               .reshape(key[0], key[1]) for key in keys]
    instances = [(x0, y0, classes[key])
                 for (x0, y0, _mask), key in zip(comps, comp_keys)]
    page_info = (struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00")
    return (_segment(1, 48, 1, page_info)
            + _segment(2, 0, 1, _encode_symbol_dict(symbols))
            + _segment(3, 7, 1,  # immediate lossless text region
                       _encode_text_region(instances, symbols, w, h,
                                           refcorner, sbstrips),
                       refs=(2,))
            + _segment(4, 49, 1, b""))
