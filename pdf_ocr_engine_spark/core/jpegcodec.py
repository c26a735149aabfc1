"""Pure-stdlib JPEG decoder (ITU-T T.81) — baseline and progressive luma.

The reference delegates all raster decode to ``sharp``/``pdf.js``
(``/root/reference/src/lib/ocr/ocr.ts:67-71``, ``extractor.ts:12-37``);
this sandbox ships no image library, and PDF scanned pages in the wild
overwhelmingly embed **DCTDecode (JPEG) image XObjects**.  Baseline
sequential JPEG is fully specified in the public T.81 spec (Annex F for
the decoder, Annex K for the standard tables), so the decoder here is
real: marker parse → canonical Huffman → dequant → batched 8×8 IDCT.

Scope (everything baseline PDF scanners actually emit):

* baseline sequential DCT (SOF0; SOF1 accepted — same coded form),
  8-bit samples, 1-4 components, any sampling factors ≤ 4 (4:4:4,
  4:2:2, 4:2:0 included), restart intervals (DRI / RSTn), multi-table
  DQT/DHT segments, 16-bit quantizer entries;
* **progressive DCT (SOF2, T.81 Annex G)** — the default for web JPEGs:
  spectral selection, successive approximation (DC and AC refinement
  scans with EOB runs and correction bits), interleaved DC scans;
  single-component chroma scans are skipped without decoding (each
  scan's entropy data is delimited by the next marker);
* output is the **luma plane** (:func:`decode_jpeg_gray`) — JPEG's Y
  channel *is* BT.601 luma, which is exactly what OCR and the grayscale
  multimodal tier consume, and skipping chroma IDCT halves the work;
* lossless, arithmetic-coded and 12-bit streams raise
  :class:`JpegUnsupported` — the caller's optional-PIL tier takes
  those when PIL exists, else the row is undecodable data; any other
  malformed input raises :class:`JpegError`, never an ``IndexError``.

Decoder shape: each SOF builds one ``_Frame`` (geometry, the luma
coefficient grid, and the block plan of one MCU).  The sequential scan
(``_decode_scan``) is one loop over the MCUs; each progressive scan
(``_decode_prog_scan``) refines the same grid in one loop over its
units; one ``_restart`` check serves every loop, and ``_Frame.finish``
runs the one batched dequant + IDCT.

The fixture encoder (``encoders.raster.encode_jpeg_gray`` and its
progressive and RGB siblings) takes ``ZIGZAG`` and the DCT basis from
here.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "JpegError",
    "JpegUnsupported",
    "decode_jpeg_gray",
]


class JpegError(ValueError):
    """Malformed JPEG — a data problem, never a task crash."""


class JpegUnsupported(JpegError):
    """Valid JPEG using a coding process outside baseline sequential."""


#: zigzag position → natural (row-major) coefficient index (T.81 fig. 5)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)


def _dct_matrix() -> np.ndarray:
    """8×8 DCT basis ``C`` with ``C[u, x] = c(u)/2 · cos((2x+1)uπ/16)``:
    forward transform is ``C @ X @ C.T``, inverse is ``C.T @ S @ C``."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.cos((2 * x + 1) * u * np.pi / 16) * 0.5
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


_C = _dct_matrix()


# --------------------------------------------------------------------------
# Huffman
# --------------------------------------------------------------------------


#: (BITS bytes + HUFFVAL bytes) → 65536-entry flat LUT; a handful of
#: tables (usually the Annex K standard four) recur across a whole corpus,
#: so the one-time LUT build amortizes to zero per image.
_LUT_CACHE: dict[bytes, list[int]] = {}


def _huff_lut(counts: list[int], symbols: bytes) -> list[int]:
    """Canonical Huffman table → flat 16-bit-lookahead LUT.

    ``lut[peek16]`` packs ``(code_length << 8) | symbol``; 0 marks an
    invalid prefix.  One list index replaces the per-bit MINCODE/MAXCODE
    walk of T.81 F.2.2.3 — same codes, same symbols, ~20× fewer Python
    operations on the scan's hot path."""
    if len(counts) != 16 or sum(counts) != len(symbols):
        raise JpegError("bad Huffman table lengths")
    key = bytes(counts) + symbols
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    lut = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            lo = code << (16 - length)
            if lo >= (1 << 16) or code >= (1 << length):
                raise JpegError("overlong Huffman code space")
            lut[lo:lo + (1 << (16 - length))] = (length << 8) | symbols[k]
            code += 1
            k += 1
        code <<= 1
    out = lut.tolist()
    if len(_LUT_CACHE) >= 64:
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = out
    return out


def _entropy_stream(data: bytes, pos: int, any_marker: bool = False,
                    ) -> tuple[list[int], int, list[tuple[int, int]], int]:
    """Unstuff the entropy-coded segment starting at ``pos``.

    Returns ``(look, nbits, restarts, end)`` where ``look[i]`` is the
    32-bit big-endian word of clean bytes ``i..i+3`` (zero-padded past the
    end by more than any one block or MCU can read — at most 64 codes of
    ≤ 31 bits — and every decode checks ``nbits`` per block or MCU, so
    a read past the data ends as "entropy data exhausted"), ``nbits``
    the clean bit count, ``restarts`` the ``(clean_byte_offset, rst_id)``
    of each RSTn marker removed from the stream, and ``end`` the offset in
    ``data`` of the terminating marker's 0xFF (``len(data)`` when the
    stream runs out).  With ``any_marker=False`` (baseline: one scan,
    nothing may follow but EOI) a non-RST, non-EOI marker is a hard error
    — truncated/corrupt data must not silently decode as zeros; with
    ``any_marker=True`` (progressive: DHT/SOS/EOI delimit scans) any
    non-RST marker ends the segment."""
    arr = np.frombuffer(data, np.uint8)[pos:]
    segments: list[np.ndarray] = []
    restarts: list[tuple[int, int]] = []
    clean_len = 0
    start = 0
    end = len(data)
    for i in np.flatnonzero(arr == 0xFF).tolist():
        if i < start:
            continue
        if i + 1 >= arr.size:
            raise JpegError("entropy data exhausted")
        nxt = int(arr[i + 1])
        if nxt == 0x00:                      # stuffed data byte 0xFF
            segments.append(arr[start:i + 1])
            clean_len += i + 1 - start
            start = i + 2
        elif 0xD0 <= nxt <= 0xD7:            # restart marker
            segments.append(arr[start:i])
            clean_len += i - start
            restarts.append((clean_len, nxt - 0xD0))
            start = i + 2
        elif nxt == 0xD9 or any_marker:      # marker ends the segment
            segments.append(arr[start:i])
            clean_len += i - start
            start = -1
            end = pos + i
            break
        else:
            raise JpegError(f"marker 0xFF{nxt:02X} inside entropy data")
    if start >= 0:
        segments.append(arr[start:])
        clean_len += arr.size - start
    clean = (np.concatenate(segments) if segments
             else np.empty(0, np.uint8))
    padded = np.concatenate([clean, np.zeros(260, np.uint8)])
    p32 = padded.astype(np.uint32)
    look = ((p32[:-3] << 24) | (p32[1:-2] << 16)
            | (p32[2:-1] << 8) | p32[3:]).tolist()
    return look, clean_len * 8, restarts, end


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _Frame:
    """One frame (T.81 A.1-A.2) parsed from its SOF body: the geometry,
    the luma coefficient grid every scan writes into, and ``blocks``, the
    blocks of one MCU in coding order as ``(component index, grid
    offset)`` — offset -1 for chroma, whose coefficients are not kept.

    ``coef`` holds the MCU-padded luma grid row-major by block, in zigzag
    order; ``finish`` runs the one batched dequant + IDCT over it."""

    def __init__(self, sof: bytes) -> None:
        if sof and sof[0] != 8:
            raise JpegUnsupported(f"{sof[0]}-bit samples")
        if len(sof) < 6:
            raise JpegError("short SOF")
        h, w = struct.unpack(">HH", sof[1:5])
        ncomp = sof[5]
        if not (1 <= ncomp <= 4):
            raise JpegError(f"bad component count {ncomp}")
        if len(sof) < 6 + 3 * ncomp:
            raise JpegError("short SOF")
        comps = [(sof[6 + 3 * i], sof[7 + 3 * i] >> 4, sof[7 + 3 * i] & 15,
                  sof[8 + 3 * i]) for i in range(ncomp)]
        if h == 0 or w == 0:
            raise JpegError(f"bad dimensions {w}x{h}")
        if not all(1 <= c[1] <= 4 and 1 <= c[2] <= 4 for c in comps):
            raise JpegError("bad sampling factors")
        if len({c[0] for c in comps}) != ncomp:
            raise JpegError("duplicate component id")
        self.h, self.w, self.comps = h, w, comps
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        self.mcux = (w + 8 * hmax - 1) // (8 * hmax)
        self.mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        # the first frame component is Y by convention
        _cid, self.lh, self.lv, self.ltq = comps[0]
        self.gw = self.mcux * self.lh          # padded luma grid
        self.gh = self.mcuy * self.lv
        self.comp_w = (w * self.lh + hmax - 1) // hmax
        self.comp_h = (h * self.lv + vmax - 1) // vmax
        self.cbw = (self.comp_w + 7) // 8      # true luma block grid
        self.cbh = (self.comp_h + 7) // 8
        self.coef = np.zeros((self.gh * self.gw, 64), dtype=np.int64)
        self.blocks = [(ci, by * self.gw + bx if ci == 0 else -1)
                       for ci, (_c, hs, vs, _t) in enumerate(comps)
                       for by in range(vs) for bx in range(hs)]
        self.any_scan = False

    def finish(self, qt: dict) -> np.ndarray:
        """Batched dequant (zigzag order) + zigzag→natural + IDCT
        (``C.T @ S @ C``), level shift, clip; one reshape places every
        block, then crop/upsample the luma plane to the frame."""
        lum_qt = qt.get(self.ltq)
        if lum_qt is None:
            raise JpegError(f"missing quant table {self.ltq}")
        nat = np.zeros((self.gh * self.gw, 64), dtype=np.float64)
        nat[:, ZIGZAG] = self.coef * lum_qt
        spatial = np.einsum("ux,nuv,vy->nxy", _C, nat.reshape(-1, 8, 8), _C,
                            optimize=True) + 128.0
        blocks = np.clip(np.rint(spatial), 0, 255).astype(np.uint8)
        plane = blocks.reshape(self.gh, self.gw, 8, 8).transpose(0, 2, 1, 3) \
            .reshape(self.gh * 8, self.gw * 8)
        # luma plane resolution vs frame: ceil(w*lh/hmax) — crop, then
        # upsample if luma itself is subsampled (unusual but legal)
        plane = plane[:self.comp_h, :self.comp_w]
        if self.comp_w != self.w or self.comp_h != self.h:
            ys = (np.arange(self.h, dtype=np.int64) * self.comp_h) // self.h
            xs = (np.arange(self.w, dtype=np.int64) * self.comp_w) // self.w
            plane = plane[ys][:, xs]
        return plane


def _scan_header(sos: bytes) -> tuple[list[tuple[int, int, int]], bytes]:
    """SOS body → ``([(cid, td, ta), ...], rest)``; ``rest`` starts at
    Ss, Se, AhAl (which only progressive scans read)."""
    ns = sos[0] if sos else 0
    if len(sos) < 1 + 2 * ns:
        raise JpegError("short SOS")
    scomps = [(sos[1 + 2 * i], sos[2 + 2 * i] >> 4, sos[2 + 2 * i] & 15)
              for i in range(ns)]
    return scomps, sos[1 + 2 * ns:]


def _restart(restarts: list[tuple[int, int]], i: int, bitpos: int) -> int:
    """Byte-align onto the ``i``-th RSTn that ``_entropy_stream`` removed
    → the bit position after it."""
    if i >= len(restarts):
        raise JpegError("expected restart marker")
    off, rid = restarts[i]
    if rid != i & 7:
        raise JpegError(f"restart marker out of order: 0xFFD{rid}, "
                        f"expected 0xFFD{i & 7}")
    if bitpos > off * 8:
        raise JpegError("entropy data overran restart marker")
    return off * 8


def _decode_prog_scan(data: bytes, pos: int, fr: _Frame, sos_body: bytes,
                      huff_dc, huff_ac, dri: int) -> int:
    """One progressive scan (T.81 G.2) → returns the offset of the marker
    that ends it.  Refines ``fr.coef`` for luma: a single-component scan
    walks the true luma block grid, an interleaved DC scan walks the MCUs
    through ``fr.blocks``; single-component chroma scans are skipped
    without decoding (their entropy data is delimited by the next marker,
    so bit-level sync is not needed)."""
    scomps, rest = _scan_header(sos_body)
    if len(rest) < 3:
        raise JpegError("short SOS")
    ss, se, ah, al = rest[0], rest[1], rest[2] >> 4, rest[2] & 15
    ns = len(scomps)
    fr.any_scan = True

    look, nbits, restarts, end = _entropy_stream(data, pos,
                                                 any_marker=True)
    if ss == 0:
        if se != 0:
            raise JpegError("DC scan with Se != 0")
    else:
        if ns != 1:
            raise JpegError("AC scan with more than one component")
        if not (1 <= ss <= se <= 63):
            raise JpegError(f"bad spectral band {ss}..{se}")
    if ns == 1 and scomps[0][0] != fr.comps[0][0]:
        return end  # chroma-only scan: nothing to keep, nothing to sync

    bitpos = 0

    def huff(lut):
        nonlocal bitpos
        e = lut[(look[bitpos >> 3] >> (16 - (bitpos & 7))) & 0xFFFF]
        if e == 0:
            raise JpegError("invalid Huffman code")
        bitpos += e >> 8
        return e & 0xFF

    def bits(nb):
        nonlocal bitpos
        v = (look[bitpos >> 3]
             >> (32 - (bitpos & 7) - nb)) & ((1 << nb) - 1)
        bitpos += nb
        return v

    coef = fr.coef
    gw = fr.gw
    cbw = fr.cbw
    p1 = 1 << al

    if ss == 0:
        # ---- DC scan (may be interleaved over all frame components) ----
        if ns != 1 and [c[0] for c in scomps] != \
                [c[0] for c in fr.comps]:
            raise JpegUnsupported("partially interleaved DC scan")
        tabs = []
        for _cid, td, _ta in scomps:
            if ah == 0 and td not in huff_dc:
                raise JpegError("missing Huffman table")
            tabs.append(huff_dc.get(td))
        if ns == 1:  # one unit per block of the true luma grid
            units, across, down, step = fr.cbh * cbw, cbw, gw, 1
            plan = [(0, 0)]
        else:        # one unit per MCU
            units, across = fr.mcuy * fr.mcux, fr.mcux
            down, step = fr.lv * gw, fr.lh
            plan = fr.blocks
        preds = [0] * ns
        for m in range(units):
            if dri and m and m % dri == 0:
                bitpos = _restart(restarts, m // dri - 1, bitpos)
                preds = [0] * ns
            r, c = divmod(m, across)
            base = r * down + c * step
            for ci, off in plan:
                if ah == 0:  # first DC scan: point-transformed diffs
                    t = huff(tabs[ci])
                    if t > 15:
                        raise JpegError("bad DC magnitude")
                    if t:
                        v = bits(t)
                        preds[ci] += v if v >= (1 << (t - 1)) \
                            else v - (1 << t) + 1
                    if off >= 0:
                        coef[base + off, 0] = preds[ci] << al
                else:        # refinement: one bit per block
                    if bits(1) and off >= 0:
                        coef[base + off, 0] |= p1
            if bitpos > nbits:
                raise JpegError("entropy data exhausted")
        return end

    # ---- AC scan (single component == luma here) ----
    _cid, _td, ta = scomps[0]
    if ta not in huff_ac:
        raise JpegError("missing Huffman table")
    ac_lut = huff_ac[ta]
    eobrun = 0
    for m in range(fr.cbh * cbw):
        if dri and m and m % dri == 0:
            bitpos = _restart(restarts, m // dri - 1, bitpos)
            eobrun = 0
        row = coef[(m // cbw) * gw + (m % cbw)]
        k = ss
        if ah == 0:
            # -------- first AC scan for this band --------
            if eobrun:
                eobrun -= 1
            else:
                while k <= se:
                    rs = huff(ac_lut)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:  # EOBn
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += bits(r)
                            break
                        k += 16     # ZRL
                        continue
                    k += r
                    if k > se:
                        raise JpegError("AC run past band end")
                    v = bits(s)
                    if v < (1 << (s - 1)):
                        v -= (1 << s) - 1
                    row[k] = v << al
                    k += 1
        else:
            # -------- refinement AC scan (T.81 G.2; libjpeg-shape) ----
            if eobrun == 0:
                while k <= se:
                    rs = huff(ac_lut)
                    r, s = rs >> 4, rs & 15
                    val = 0
                    if s == 0:
                        if r < 15:  # EOBn: includes the current block
                            eobrun = 1 << r
                            if r:
                                eobrun += bits(r)
                            break
                        # r == 15: ZRL — skip 16 zero-history positions
                    else:
                        if s != 1:
                            raise JpegError("AC refinement size != 1")
                        val = p1 if bits(1) else -p1
                    while k <= se:
                        c = int(row[k])
                        if c != 0:
                            if bits(1) and (c & p1) == 0:
                                row[k] = c + (p1 if c >= 0 else -p1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        row[k] = val
                    k += 1
            if eobrun > 0:
                # current block's tail (and, on later iterations, whole
                # blocks inside the run) still carries correction bits
                for k2 in range(k, se + 1):
                    c = int(row[k2])
                    if c != 0:
                        if bits(1) and (c & p1) == 0:
                            row[k2] = c + (p1 if c >= 0 else -p1)
                eobrun -= 1
        if bitpos > nbits:
            raise JpegError("entropy data exhausted")
    return end


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Baseline or progressive JPEG → luma plane as ``uint8 ndarray (h, w)``.

    Decodes every component's entropy data (an interleaved scan must be
    walked to stay in sync) but keeps and transforms only the luma
    component.  Raises :class:`JpegUnsupported` for other coding
    processes and :class:`JpegError` for malformed data.
    """
    if len(data) < 4 or data[:2] != b"\xFF\xD8":
        raise JpegError("not a JPEG (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, list[int]] = {}
    huff_ac: dict[int, list[int]] = {}
    fr = None          # _Frame of the last SOF
    progressive = False
    dri = 0
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if marker == 0xD9:  # EOI (standalone): ends a progressive frame
            if fr is not None and fr.any_scan:
                return fr.finish(qt)
            raise JpegError("EOI before scan data")
        if pos + 2 > n:
            raise JpegError("truncated marker segment")
        (seg_len,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seg_len]
        if len(body) != seg_len - 2:
            raise JpegError("truncated marker segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq_id = body[p] >> 4, body[p] & 15
                size = 64 if pq == 0 else 128
                raw = body[p + 1:p + 1 + size]
                p += 1 + size
                if len(raw) != size:
                    raise JpegError("short DQT")
                qt[tq_id] = np.frombuffer(
                    raw, dtype=np.uint8 if pq == 0 else ">u2"
                ).astype(np.int64)
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 15
                counts = list(body[p + 1:p + 17])
                total = sum(counts)
                syms = body[p + 17:p + 17 + total]
                p += 17 + total
                table = _huff_lut(counts, syms)
                (huff_dc if tc == 0 else huff_ac)[th] = table
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 baseline, SOF2 prog
            frame = _Frame(body)
            # a baseline SOF after SOF2 is checked but does not replace
            # the progressive frame the scans refine
            if marker == 0xC2 or not progressive:
                fr, progressive = frame, marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegUnsupported(
                f"coding process SOF{marker - 0xC0} is not baseline "
                f"or progressive")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise JpegError("short DRI")
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if fr is None:
                raise JpegError("SOS before SOF")
            if not progressive:
                _decode_scan(data, pos + seg_len, fr, body,
                             qt, huff_dc, huff_ac, dri)
                return fr.finish(qt)
            pos = _decode_prog_scan(data, pos + seg_len, fr, body,
                                    huff_dc, huff_ac, dri)
            continue
        # APPn / COM / others: skipped
        pos += seg_len
    if fr is not None and fr.any_scan:
        return fr.finish(qt)  # tolerate a missing EOI like some writers
    raise JpegError("no SOS marker")


def _decode_scan(data: bytes, pos: int, fr: _Frame, sos_body: bytes,
                 qt, huff_dc, huff_ac, dri: int) -> None:
    """The one scan of a sequential frame (T.81 F.2) → ``fr.coef``.

    One loop over the MCUs decodes each MCU's ``fr.blocks`` with its
    component's (DC, AC) tables; luma blocks land in the coefficient
    grid, chroma blocks in one scratch row that is never read."""
    if (sos_body[0] if sos_body else 0) != len(fr.comps):
        raise JpegUnsupported("non-interleaved scan")
    scomps, _rest = _scan_header(sos_body)
    scan_tables = {cid: (td, ta) for cid, td, ta in scomps}
    if fr.ltq not in qt:
        raise JpegError(f"missing quant table {fr.ltq}")
    luts = []
    for cid, _hs, _vs, tq in fr.comps:
        if cid not in scan_tables:
            raise JpegError(f"component {cid} missing from scan")
        td, ta = scan_tables[cid]
        if td not in huff_dc or ta not in huff_ac:
            raise JpegError("missing Huffman table")
        if tq not in qt:
            raise JpegError(f"missing quant table {tq}")
        luts.append((huff_dc[td], huff_ac[ta]))
    plan = [(ci, off) + luts[ci] for ci, off in fr.blocks]

    look, nbits, restarts, _end = _entropy_stream(data, pos)
    bitpos = 0
    coef = fr.coef
    scratch = [0] * 64
    mcux = fr.mcux
    down, step = fr.lv * fr.gw, fr.lh
    preds = [0] * len(luts)
    for m in range(mcux * fr.mcuy):
        if dri and m and m % dri == 0:
            bitpos = _restart(restarts, m // dri - 1, bitpos)
            preds = [0] * len(luts)
        my, mx = divmod(m, mcux)
        base = my * down + mx * step
        for ci, off, dc_lut, ac_lut in plan:
            row = coef[base + off] if off >= 0 else scratch
            e = dc_lut[(look[bitpos >> 3] >> (16 - (bitpos & 7))) & 0xFFFF]
            if e == 0:
                raise JpegError("invalid Huffman code")
            bitpos += e >> 8
            t = e & 0xFF
            if t > 15:
                raise JpegError("bad DC magnitude")
            if t:
                v = (look[bitpos >> 3]
                     >> (32 - (bitpos & 7) - t)) & ((1 << t) - 1)
                bitpos += t
                if v < (1 << (t - 1)):
                    v -= (1 << t) - 1
                preds[ci] += v
            row[0] = preds[ci]
            k = 1
            while k < 64:
                e = ac_lut[(look[bitpos >> 3]
                            >> (16 - (bitpos & 7))) & 0xFFFF]
                if e == 0:
                    raise JpegError("invalid Huffman code")
                bitpos += e >> 8
                rs = e & 0xFF
                s = rs & 15
                if s == 0:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    raise JpegError("AC run past block end")
                v = (look[bitpos >> 3]
                     >> (32 - (bitpos & 7) - s)) & ((1 << s) - 1)
                bitpos += s
                if v < (1 << (s - 1)):
                    v -= (1 << s) - 1
                row[k] = v
                k += 1
            if bitpos > nbits:
                raise JpegError("entropy data exhausted")
