"""Bilevel fixture encoders: CCITT G3/G4 (ITU-T T.4 / T.6) and JBIG2
(T.88) with its MQ arithmetic coder.

Each encoder inverts a decoder in ``core/ccittcodec`` or
``core/jbig2codec`` and takes its code tables, template layouts and
Huffman tables from there.  The output is standard T.4 / T.6 / T.88
(vertical-preferred G4 with EOFB; MQ generic, symbol, text, refinement
and halftone segments; the Huffman-coded arrangement), so any fax- or
JBIG2-capable tool decodes it.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from functools import partial

import numpy as np

from ..core.ccittcodec import (
    _BLACK_MAKEUP,
    _BLACK_TERM,
    _EXT_MAKEUP,
    _MODE_CODES,
    _WHITE_MAKEUP,
    _WHITE_TERM,
)
from ..core.jbig2codec import (
    _INT_CLASSES,
    _NOMINAL_AT,
    _QE,
    _REF_NOMINAL_AT,
    _REF_TPGR_CTX,
    _TEMPLATE_PIXELS,
    _TPGD_CTX,
    Jbig2Error,
    _at_is_nominal,
    _fresh_contexts,
    _HuffTable,
    _iaid_ctx,
    _int_ctx,
    _parse_table_segment,
    _ref_ctx,
    _ref_layout,
    _std_table,
    _symcodelen,
)


# --------------------------------------------------------------------------
# CCITT G3/G4 (T.4 / T.6): vertical-preferred 2-D coding, EOFB / RTC
# --------------------------------------------------------------------------

_EOL = "000000000001"  # 12 bits; EOFB = two in a row


def _enc_tables() -> tuple[list, list]:
    """Per color: (terminating (code,len) by run, makeup dict)."""
    out = []
    for term, makeup in ((_WHITE_TERM, _WHITE_MAKEUP),
                         (_BLACK_TERM, _BLACK_MAKEUP)):
        t = [(int(c, 2), len(c)) for c in term]
        m = {run: (int(c, 2), len(c)) for run, c in makeup.items()}
        m.update({run: (int(c, 2), len(c))
                  for run, c in _EXT_MAKEUP.items()})
        out.append((t, m))
    return out[0], out[1]


_ENC_WHITE, _ENC_BLACK = _enc_tables()
_ENC_MODES = {key: (int(c, 2), len(c)) for c, key in _MODE_CODES.items()}


def _emit_run(lens: list[int], vals: list[int], color: int,
              run: int) -> None:
    term, makeup = _ENC_BLACK if color else _ENC_WHITE
    while run >= 2624:
        c, ln = makeup[2560]
        lens.append(ln)
        vals.append(c)
        run -= 2560
    if run >= 64:
        m = (run >> 6) << 6
        c, ln = makeup[m]
        lens.append(ln)
        vals.append(c)
        run -= m
    c, ln = term[run]
    lens.append(ln)
    vals.append(c)


def encode_g4(bitmap: np.ndarray) -> bytes:
    """2-D bitmap (nonzero/True = black ink) → G4 bytes ending in EOFB,
    zero-padded to a byte boundary.  Inverse of :func:`decode_g4` and
    standard T.6, so fax-capable tools decode the output.  Grayscale
    callers threshold first (``gray < 128``) — the truthy-is-black
    contract is deliberate and unambiguous."""
    return encode_g4_planes([bitmap])


def encode_g4_planes(planes: list[np.ndarray]) -> bytes:
    """Bitplanes → ONE bit-continuous G4 stream, each plane EOFB-
    terminated with the next starting at the following bit (no byte
    alignment) — the T.88 Annex C.5 halftone form.  Inverse of
    :func:`decode_g4_planes`."""
    if not planes:
        raise ValueError("encode_g4_planes wants at least one plane")
    lens: list[int] = []
    vals: list[int] = []
    eol_c, eol_l = int(_EOL, 2), len(_EOL)
    for bm in planes:
        bm = np.asarray(bm)
        if bm.ndim != 2 or bm.size == 0:
            raise ValueError("G4 wants non-empty 2-D bitmaps")
        if bm.shape != np.shape(planes[0]):
            raise ValueError("planes disagree in shape")
        w = bm.shape[1]
        ref: list[int] = [w, w, w, w]
        for cur in _bitmap_transitions(bm):  # 2-D lines, then EOFB
            _emit_2d_line(lens, vals, cur, ref, w)
            ref = cur + [w, w, w, w]
        lens += [eol_l, eol_l]
        vals += [eol_c, eol_c]
    return _pack_codes(lens, vals)


def _pack_codes(lens: list[int], vals: list[int], pad_bit: int = 0) -> bytes:
    """(code length, code value) streams → bytes, the last one padded
    with ``pad_bit``."""
    la = np.asarray(lens, dtype=np.int64)
    va = np.asarray(vals, dtype=np.int64)
    j = np.arange(int(la.max()) if la.size else 1, dtype=np.int64)
    shifts = np.maximum(la[:, None] - 1 - j[None, :], 0)
    bitmat = ((va[:, None] >> shifts) & 1).astype(np.uint8)
    bits = bitmat[j[None, :] < la[:, None]]
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.full(pad, pad_bit, np.uint8)])
    return np.packbits(bits).tobytes()


def _bitmap_transitions(bm: np.ndarray) -> list[list[int]]:
    """Per-line changing-element columns for a truthy-is-black bitmap."""
    black = bm != 0
    trans_mask = np.concatenate(
        [black[:, :1], black[:, 1:] != black[:, :-1]], axis=1)
    rows_idx, cols_idx = np.nonzero(trans_mask)
    splits = np.searchsorted(rows_idx, np.arange(1, bm.shape[0]))
    return [c.tolist() for c in np.split(cols_idx, splits)]


def _emit_1d_line(lens: list[int], vals: list[int], cur: list[int],
                  w: int) -> None:
    """T.4 1-D modified-Huffman line from its transition columns —
    alternating runs starting white (zero-length first white run when
    the line starts black)."""
    prev = 0
    color = 0
    for t in [*cur, w]:
        _emit_run(lens, vals, color, t - prev)
        prev = t
        color ^= 1


def _emit_2d_line(lens: list[int], vals: list[int], cur: list[int],
                  ref: list[int], w: int) -> None:
    """One vertical-preferred 2-D coding line (the single mode-selection
    loop shared by encode_g4 and encode_g3's mixed lines)."""
    a0 = -1
    color = 0
    ci = 0
    ptr = 0
    while a0 < w:
        a1 = cur[ci] if ci < len(cur) else w
        a2 = cur[ci + 1] if ci + 1 < len(cur) else w
        while ptr < len(ref) and ref[ptr] <= a0:
            ptr += 1
        bi = ptr if (ptr & 1) == color else ptr + 1
        b1 = ref[bi] if bi < len(ref) else w
        b2 = ref[bi + 1] if bi + 1 < len(ref) else w
        if b2 < a1:
            c, ln = _ENC_MODES[("p", 0)]
            lens.append(ln)
            vals.append(c)
            a0 = b2
        elif -3 <= a1 - b1 <= 3:
            c, ln = _ENC_MODES[("v", a1 - b1)]
            lens.append(ln)
            vals.append(c)
            a0 = a1
            color ^= 1
            ci += 1
        else:
            c, ln = _ENC_MODES[("h", 0)]
            lens.append(ln)
            vals.append(c)
            start = a0 if a0 > 0 else 0
            _emit_run(lens, vals, color, a1 - start)
            _emit_run(lens, vals, color ^ 1, a2 - a1)
            a0 = a2
            ci += 2


def encode_g3(bitmap: np.ndarray, k: int = 0,
              with_eol: bool = True) -> bytes:
    """2-D bitmap (truthy = black ink) → G3 (T.4) bytes.  ``k = 0``
    emits pure 1-D modified-Huffman lines; ``k > 0`` emits the mixed
    arrangement (every ``k``-th line 1-D, the rest 2-D), each line
    tagged after its EOL.  ``with_eol=False`` (K=0 only) emits bare
    concatenated lines — the PDF ``/EndOfLine false`` shape.  Ends with
    RTC so self-delimiting decoders stop cleanly.  Inverse of
    :func:`decode_g3`."""
    bm = np.asarray(bitmap)
    if bm.ndim != 2:
        raise ValueError("encode_g3 wants a 2-D bitmap")
    h, w = bm.shape
    if w == 0 or h == 0:
        raise ValueError("encode_g3 wants a non-empty bitmap")
    if k < 0:
        raise ValueError("encode_g3 is for K >= 0 (use encode_g4)")
    if k > 0 and not with_eol:
        raise ValueError("K > 0 G3 needs EOL+tag line prefixes")
    per_line = _bitmap_transitions(bm)
    eol_c, eol_l = int(_EOL, 2), len(_EOL)
    lens: list[int] = []
    vals: list[int] = []
    ref: list[int] = [w, w, w, w]
    for li in range(h):
        cur = per_line[li]
        one_d = k == 0 or li % k == 0
        if with_eol:
            lens.append(eol_l)
            vals.append(eol_c)
            if k > 0:
                lens.append(1)
                vals.append(1 if one_d else 0)
        if one_d:
            _emit_1d_line(lens, vals, cur, w)
        else:
            _emit_2d_line(lens, vals, cur, ref, w)
        ref = cur + [w, w, w, w]
    # RTC: six EOLs (K=0) / six EOL+1 (K>0); two suffice for decode_g3
    # but the full pattern keeps the stream standard
    for _ in range(6):
        lens.append(eol_l)
        vals.append(eol_c)
        if k > 0:
            lens.append(1)
            vals.append(1)
    return _pack_codes(lens, vals)


# --------------------------------------------------------------------------
# MQ arithmetic encoder (T.88 Annex E: INITENC/CODEMPS/CODELPS/BYTEOUT/FLUSH)
# --------------------------------------------------------------------------

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
# Generic, integer and refinement coding (T.88 §6.2, Annex A, §6.3)
# --------------------------------------------------------------------------

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


def _iaid_encode(enc: _MQEncoder, idx: list, mps: list,
                 value: int, symcodelen: int) -> None:
    prev = 1
    v = value + (1 << symcodelen)
    for i in range(symcodelen - 1, -1, -1):
        b = (v >> i) & 1
        enc.encode(idx, mps, prev, b)
        prev = (prev << 1) | b


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
# Segments, page and symbol classes (T.88 §7.2)
# --------------------------------------------------------------------------

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


def _bitmap(bitmap: np.ndarray, who: str) -> np.ndarray:
    """2-D bitmap (nonzero/True = black ink) → (h, w) uint8 0/1."""
    bm = np.asarray(bitmap)
    if bm.ndim != 2:
        raise ValueError(f"{who} wants a 2-D bitmap")
    return bm.astype(bool).astype(np.uint8)


def _page_stream(w: int, h: int, regions: list[tuple]) -> bytes:
    """One embedded page: page information (type 48: lossless, no
    striping), the ``(type, data, referred-to numbers)`` segments numbered
    from 2, then end of page (49)."""
    info = struct.pack(">IIII", w, h, 0, 0) + b"\x01" + b"\x00\x00"
    segs = [(48, info, ()), *regions, (49, b"", ())]
    return b"".join(_segment(num, seg_type, 1, data, refs=refs)
                    for num, (seg_type, data, refs) in enumerate(segs, 1))


def _symbol_classes(bm: np.ndarray) -> tuple[list, list]:
    """0/1 bitmap → ``(symbols, instances)``: each connected ink component
    is an instance ``(x0, y0, symbol_id)`` of its shape class, and
    identical shapes share one symbol (the jbig2enc architecture).
    Symbols sort by ascending height, width, then pixels."""
    comps = _connected_components(bm)
    comp_keys = [(mask.shape[0], mask.shape[1], mask.tobytes())
                 for _x0, _y0, mask in comps]
    keys = sorted(set(comp_keys))
    classes = {key: sid for sid, key in enumerate(keys)}
    symbols = [np.frombuffer(key[2], dtype=np.uint8)
               .reshape(key[0], key[1]) for key in keys]
    instances = [(x0, y0, classes[key])
                 for (x0, y0, _mask), key in zip(comps, comp_keys)]
    return symbols, instances


# --------------------------------------------------------------------------
# Symbol dictionary (§6.5) and text region (§6.4) — one height-class walk
# and one strip walk for both codings; only the integer writes and the
# symbol bitmaps differ (Huffman side further below)
# --------------------------------------------------------------------------

def _height_class_emit(symbols: list[np.ndarray], put_dh: Callable,
                       put_dw: Callable, put_ex: Callable, n_exported: int,
                       symbol: Callable | None = None,
                       class_end: Callable | None = None) -> None:
    """The §6.5.5 height-class walk, writing: the height delta per class
    and the width delta per symbol (``symbols`` sorted by ascending
    height), ``symbol(i)`` after each width, an OOB width and
    ``class_end(class_symbols)`` closing each class, then the export
    runs — none skipped, ``n_exported`` exported."""
    hprev = 0
    i = 0
    while i < len(symbols):
        hc = symbols[i].shape[0]
        put_dh(hc - hprev)
        hprev = hc
        wprev = 0
        start = i
        while i < len(symbols) and symbols[i].shape[0] == hc:
            put_dw(symbols[i].shape[1] - wprev)
            wprev = symbols[i].shape[1]
            if symbol is not None:
                symbol(i)
            i += 1
        put_dw(None)  # OOB closes the height class
        if class_end is not None:
            class_end(symbols[start:i])
    put_ex(0)           # run of 0 non-exports,
    put_ex(n_exported)  # then export everything


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
    iaai, iardx, iardy = _int_ctx(), _int_ctx(), _int_ctx()
    scl = _symcodelen(len(input_syms) + len(symbols))
    iaid = _iaid_ctx(scl)
    gb_ctx = _fresh_contexts(0)
    gr_ctx = _ref_ctx()
    pool = list(input_syms)

    def symbol(i: int) -> None:
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

    iadh, iadw, iaex = (partial(_int_encode, enc, *_int_ctx())
                        for _ in range(3))
    _height_class_emit(symbols, iadh, iadw, iaex,
                       len(input_syms) + len(symbols), symbol=symbol)
    return header + enc.flush()


def _text_strip_emit(puts: tuple, refine: Callable | None,
                     instances: list[tuple], symbols: list[np.ndarray],
                     refcorner: int, sbstrips: int, stript: int) -> None:
    """The §6.4.5 strip walk, writing: the inverse of the decoder's
    ``_text_strip_walk``, shared by both text-region codings.  ``puts``
    write the DT, FS, DS, IT and ID integers (None = OOB);
    ``refine(sid, target)`` writes the SBREFINE step; ``stript`` is the
    initial STRIPT.  Instances are ``(x0, y0, symbol_id[, target])``
    top-left anchors; the emitted T/S values are adjusted to
    ``refcorner`` and ``sbstrips``."""
    put_dt, put_fs, put_ds, put_it, put_id = puts
    insts = [inst if len(inst) == 4 else (*inst, None)
             for inst in instances]

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

    put_dt(-stript // sbstrips)
    firsts = 0
    for st in sorted(strips):
        put_dt((st - stript) // sbstrips)
        stript = st
        first = True
        curs = 0
        for x0, y0, sid, target in sorted(strips[st],
                                          key=lambda inst: inst[:3]):
            if first:
                put_fs(x0 - firsts)
                firsts = x0
                first = False
            else:
                put_ds(x0 - curs)  # SBDSOFFSET = 0
            curs = x0 + placed(sid, target).shape[1] - 1
            if sbstrips > 1:
                put_it(enc_t(y0, sid, target) - st)
            put_id(sid)
            if refine is not None:
                refine(sid, target)
        put_ds(None)  # OOB ends the strip


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
    are adjusted so every variant draws identically (see
    :func:`_text_strip_emit`)."""
    if sbstrips not in (1, 2, 4, 8):
        raise ValueError("SBSTRIPS must be 1, 2, 4 or 8")
    sbrefine = any(len(inst) == 4 and inst[3] is not None
                   for inst in instances)
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)
    flags = ((refcorner & 3) << 4  # SBHUFF=0 ...
             | (1 << 1 if sbrefine else 0)
             | (sbstrips.bit_length() - 1) << 2)  # LOGSBSTRIPS
    rat_hdr = (b"".join(struct.pack("bb", dx, dy)
                        for dx, dy in _REF_NOMINAL_AT) if sbrefine
               else b"")
    enc = _MQEncoder()
    iari, iardw, iardh, iardx, iardy = (_int_ctx() for _ in range(5))
    gr_ctx = _ref_ctx()
    scl = _symcodelen(len(symbols))
    iaid = _iaid_ctx(scl)

    def put_id(sid: int) -> None:
        if scl:
            _iaid_encode(enc, *iaid, sid, scl)

    def refine(sid: int, target) -> None:
        _int_encode(enc, *iari, 0 if target is None else 1)
        if target is not None:
            rdw = target.shape[1] - symbols[sid].shape[1]
            rdh = target.shape[0] - symbols[sid].shape[0]
            _int_encode(enc, *iardw, rdw)
            _int_encode(enc, *iardh, rdh)
            _int_encode(enc, *iardx, -(rdw >> 1))
            _int_encode(enc, *iardy, -(rdh >> 1))
            _encode_refinement(enc, target, 0, symbols[sid], 0, 0,
                               contexts=gr_ctx)

    puts = (*(partial(_int_encode, enc, *_int_ctx()) for _ in range(4)),
            put_id)  # IADT, IAFS, IADS, IAIT, IAID
    _text_strip_emit(puts, refine if sbrefine else None, instances,
                     symbols, refcorner, sbstrips, 0)
    return (region_info + struct.pack(">H", flags) + rat_hdr
            + struct.pack(">I", len(instances)) + enc.flush())


# --------------------------------------------------------------------------
# Huffman-coded arrangement (SDHUFF/SBHUFF, Annex B tables)
# --------------------------------------------------------------------------

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


def _huff_put(t: _HuffTable, w: _BitWriter, value: int | None) -> None:
    """Inverse of :meth:`_HuffTable.decode`: ``value``'s prefix code and
    range bits (None writes the OOB code)."""
    if value is None:
        hits = [(ln, 0, 0) for ln in t.lines if ln[0] == "o"]
    else:
        hits = [(ln, value - ln[3], ln[2]) for ln in t.lines
                if ln[0] == "n" and ln[3] <= value < ln[3] + (1 << ln[2])]
        hits += [(ln, abs(value - ln[2]), 32) for ln in t.lines
                 if ln[0] == "u" and value >= ln[2]
                 or ln[0] == "l" and value <= ln[2]]
    if not hits:
        raise ValueError(f"value {value} not codable by this table")
    line, extra, nbits = hits[0]
    length, code = next(k for k, ln in t.by_code.items() if ln is line)
    w.write(code, length)
    w.write(extra, nbits)


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


#: custom DW table segment of the ``custom_dw_table`` fixture tier:
#: [0, 64) with 6 extra bits, [64, 1088) with 10 — covers every width
#: delta the fixture pages produce; Kraft 31/32 (incomplete is legal)
_CUSTOM_DW_SEG = _encode_table_segment(
    [(1, 6, 0), (2, 10, 64)], low_pl=5, high_pl=4, oob_pl=3)


def _encode_huffman_symbol_dict(symbols: list[np.ndarray],
                                custom_dw: bool = False) -> bytes:
    """Symbols (sorted by ascending height, then width) → SDHUFF=1
    dictionary segment data with B.4/B.2/B.1 tables and UNCOMPRESSED
    collective bitmaps (BMSIZE=0) — the simplest conforming huffman
    arrangement.  ``custom_dw=True`` codes the width deltas with the
    type-53 custom table ``_CUSTOM_DW_SEG`` instead
    (selector value 3); the caller must emit that table segment in the
    dictionary's referred-to list."""
    flags = 1 | ((3 << 4) if custom_dw else 0)
    header = struct.pack(">H", flags) + struct.pack(
        ">II", len(symbols), len(symbols))
    t_dw = _parse_table_segment(_CUSTOM_DW_SEG) \
        if custom_dw else _std_table(2)
    w = _BitWriter()

    def class_end(syms: list[np.ndarray]) -> None:
        _huff_put(_std_table(1), w, 0)  # uncompressed collective bitmap
        w.write_bytes(np.packbits(np.hstack(syms), axis=1).tobytes())

    _height_class_emit(symbols, partial(_huff_put, _std_table(4), w),
                       partial(_huff_put, t_dw, w),
                       partial(_huff_put, _std_table(1), w), len(symbols),
                       class_end=class_end)
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
    puts = (partial(_huff_put, _std_table(11), bw),
            partial(_huff_put, _std_table(6), bw),
            partial(_huff_put, _std_table(8), bw), None,
            partial(_huff_put, t_sym, bw) if t_sym else lambda sid: None)
    _text_strip_emit(puts, None, instances, symbols, refcorner, 1, -1)
    return (region_info + struct.pack(">H", flags)
            + struct.pack(">H", hflags)
            + struct.pack(">I", len(instances)) + bw.flush())


# --------------------------------------------------------------------------
# Pattern dictionary (§6.7) and halftone region (§6.6)
# --------------------------------------------------------------------------

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


# --------------------------------------------------------------------------
# Embedded JBIG2 streams (PDF /JBIG2Decode)
# --------------------------------------------------------------------------

def encode_jbig2_embedded(bitmap: np.ndarray) -> bytes:
    """2-D bitmap (nonzero/True = black ink) → PDF-embedded JBIG2 stream:
    page info + immediate lossless generic region (template 0, nominal
    AT, TPGDON) + end of page.  Inverse of :func:`decode_jbig2_embedded`
    and standard T.88, so any JBIG2-capable tool decodes the output.
    Grayscale callers threshold first (``gray < 128``)."""
    bm = _bitmap(bitmap, "encode_jbig2_embedded")
    h, w = bm.shape
    region_info = struct.pack(">IIIIB", w, h, 0, 0, 0)  # OR onto page
    gflags = (0 << 1) | (1 << 3)  # MMR=0, template 0, TPGDON=1
    at = b"".join(struct.pack("bb", dx, dy) for dx, dy in _NOMINAL_AT[0])
    body = _encode_generic(bm, template=0, tpgdon=True)
    region = region_info + bytes([gflags]) + at + body
    return _page_stream(w, h, [(39, region, ())])  # immediate lossless


def encode_jbig2_symbol_embedded(bitmap: np.ndarray,
                                 refcorner: int = 1,
                                 sbstrips: int = 1) -> bytes:
    """2-D bitmap (nonzero/True = black ink) → PDF-embedded JBIG2 stream
    in the DICTIONARY-CODED arrangement real scanner output uses: each
    connected ink component becomes a symbol instance, identical shapes
    share one dictionary entry (the jbig2enc architecture), and a text
    region places them.  Lossless for any bitmap — a component is its
    own symbol — and the inverse of :func:`decode_jbig2_embedded`."""
    bm = _bitmap(bitmap, "encode_jbig2_symbol_embedded")
    h, w = bm.shape
    symbols, instances = _symbol_classes(bm)
    if not symbols:
        # no ink: an empty page needs no region segments at all
        return _page_stream(w, h, [])
    return _page_stream(w, h, [
        (0, _encode_symbol_dict(symbols), ()),
        (7, _encode_text_region(instances, symbols, w, h, refcorner,
                                sbstrips), (2,)),  # immediate lossless
    ])


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
    bm = _bitmap(bitmap, "encode_jbig2_symbol_huffman_embedded")
    h, w = bm.shape
    symbols, instances = _symbol_classes(bm)
    if not symbols:
        return _page_stream(w, h, [])
    # the custom table (segment 2) is referred to by the dictionary
    table = [(53, _CUSTOM_DW_SEG, ())] if custom_dw_table else []
    sdict = _encode_huffman_symbol_dict(symbols, custom_dw=custom_dw_table)
    return _page_stream(w, h, [
        *table, (0, sdict, (2,) if table else ()),
        (7, _encode_huffman_text_region(instances, symbols, w, h,
                                        refcorner), (len(table) + 2,)),
    ])


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
    return _page_stream(w, h, [
        (16, _encode_pattern_dict(patterns), ()),
        (23, _encode_halftone_region(g, patterns, w, h, mmr=mmr),
         (2,)),  # immediate lossless halftone region
    ])
