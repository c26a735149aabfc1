"""Pure-stdlib baseline JPEG codec (ITU-T T.81) — luma decode + encoder.

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

The encoder (:func:`encode_jpeg_gray` / :func:`encode_jpeg_rgb`) is the
fixture-authoring side: standard Annex K tables, quality scaling per the
common IJG formula, optional 4:2:0 subsampling and restart intervals.
At ``quality=100`` every quantizer entry is 1, so a decoded binary page
raster stays within ±2 of the source — far inside the OCR tier's
128-threshold margin, keeping recognition deterministic and exact.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "JpegError",
    "JpegUnsupported",
    "decode_jpeg_gray",
    "encode_jpeg_gray",
    "encode_jpeg_gray_progressive",
    "encode_jpeg_rgb",
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


# --------------------------------------------------------------------------
# Encoder (fixture authoring; standard Annex K tables)
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
    j = np.arange(16, dtype=np.int64)
    shifts = np.maximum(lens[:, None] - 1 - j[None, :], 0)
    bitmat = ((vals[:, None] >> shifts) & 1).astype(np.uint8)
    bits = bitmat[j[None, :] < lens[:, None]]
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.uint8)])  # 1-pad (spec)
    packed = np.packbits(bits)
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


def encode_jpeg_gray(px: np.ndarray, quality: int = 90,
                     restart_interval: int = 0) -> bytes:
    """uint8 (h, w) → single-component baseline JPEG."""
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_gray wants (h, w)")
    h, w = arr.shape
    qt_zig = _scaled_qt(_STD_LUM_QT, quality)
    coefs = _fdct_quant(_pad_to_blocks(arr, 8, 8), qt_zig)
    by, bx = coefs.shape[:2]
    zz = coefs.reshape(by * bx, 64)
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
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_gray_progressive wants (h, w)")
    h, w = arr.shape
    qt_zig = _scaled_qt(_STD_LUM_QT, quality)
    coefs = _fdct_quant(_pad_to_blocks(arr, 8, 8), qt_zig)
    by, bx = coefs.shape[:2]
    zz = coefs.reshape(by * bx, 64)
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

    for ss, se in ((1, 5), (6, 63)):
        # ---- AC first for the band, Al=1 ----
        bw = _BitWriter()

        def _flush_first(bwr, state):
            n = state[0]
            if not n:
                return
            r = n.bit_length() - 1
            c, ln = ac_tab[r << 4]
            bwr.write(c, ln)
            if r:
                bwr.write(n - (1 << r), r)
            state[0] = 0

        st = [0]  # eobrun box
        for i in range(len(zz)):
            r = 0
            for k in range(ss, se + 1):
                t = pt(int(zz[i, k]), 1)
                if t == 0:
                    r += 1
                    continue
                _flush_first(bw, st)
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
                    _flush_first(bw, st)
        _flush_first(bw, st)
        bw.pad()
        out += sos(ss, se, 0, 1) + bw.out

        # ---- AC refinement for the band, Ah=1 Al=0 ----
        bw = _BitWriter()
        st = [0]           # eobrun
        be: list[int] = []  # correction bits buffered behind the EOB run

        def _flush_refine(bwr, state, buffered):
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
                    _flush_refine(bw, st, be)
                    c, ln = ac_tab[0xF0]
                    bw.write(c, ln)
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                    r -= 16
                if t > 1:
                    br.append(t & 1)
                    continue
                _flush_refine(bw, st, be)
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
                    _flush_refine(bw, st, be)
        _flush_refine(bw, st, be)
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
