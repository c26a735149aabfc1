"""Pure-stdlib JBIG2 codec — embedded (PDF) segments, generic regions.

Modern black-and-white scanners and PDF optimizers embed **JBIG2Decode**
image XObjects (ISO/IEC 14492 / ITU-T T.88) — the successor to CCITT G4,
typically 2-5× smaller on scanned text.  The reference delegates their
decode to pdf.js (``/root/reference/src/lib/ocr/extractor.ts:12-37``);
this repo decodes them itself, from the public T.88 recommendation:

* **MQ arithmetic coder** (T.88 Annex E — the same coder JPEG 2000
  uses): 47-state Qe table and the INITDEC/DECODE/BYTEIN flows,
  bit-exact per the spec's software conventions.
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
the same convention as ``core/ccittcodec``.  The fixture encoders live
in ``encoders.bilevel`` and import the MQ state table, the template
layouts and the Huffman tables from here.
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

