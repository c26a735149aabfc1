"""Pure-stdlib CCITT Group 4 (ITU-T T.6) decoder — 2-D MMR and G3.

Black-and-white scanned documents in the wild overwhelmingly embed
**CCITTFaxDecode** image XObjects (the TIFF G4 / fax family); the
reference delegates their decode to pdf.js (``/root/reference/src/lib/
ocr/extractor.ts:12-37``), this repo decodes them itself.  T.6 is fully
specified in the public ITU-T T.4/T.6 recommendations: every coding line
is coded 2-D against the line above (vertical / horizontal / pass modes),
horizontal runs use the T.4 modified-Huffman white/black run-length
tables, and the stream ends with EOFB (two EOLs).

Scope — what PDF producers actually emit for ``/CCITTFaxDecode``:

* ``K < 0`` (pure G4/MMR, the overwhelmingly common case) — decoded
  here.
* ``K = 0`` (G3 1-D, T.4 §4.1 modified Huffman) and ``K > 0`` (G3
  mixed, T.4 §4.2: EOL + 1-bit tag selects 1-D or 2-D per line) —
  decoded by :func:`decode_g3`: old fax-origin PDFs and TIFF-G3
  conversions.  EOLs (11+ zeros then 1, with optional fill) are
  accepted anywhere a line may start and are OPTIONAL for ``K = 0``
  (the PDF ``/EndOfLine false`` default); for ``K > 0`` each line's
  tag bit follows its EOL when present, else leads the line.
* ``/Columns`` / ``/Rows`` from DecodeParms (defaulting to the image
  XObject's declared width/height), ``/EncodedByteAlign``.
* ``/BlackIs1`` changes only how decoded *bits* would be materialized;
  this decoder emits semantic pixels directly (0 = black ink,
  255 = white), the exact input contract of the OCR tier
  (``core/rasterfont.recognize_gray``), so the flag is a no-op here.

The decoder mirrors the LUT design of ``core/jpegcodec``: the bit stream
becomes a list of 32-bit lookahead words, and every mode / run-length
codeword resolves through one flat table index instead of a per-bit
tree walk.  The fixture encoder (``encoders.bilevel.encode_g4`` /
``encode_g3``) imports the code tables from here.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "CcittError",
    "CcittUnsupported",
    "decode_g3",
    "decode_g4",
]


class CcittError(ValueError):
    """Malformed CCITT data — a data problem, never a task crash."""


class CcittUnsupported(CcittError):
    """Valid CCITT variant outside pure G4 (K >= 0, 1-D G3)."""


# --------------------------------------------------------------------------
# Public T.4 modified-Huffman run-length tables (code string, run length)
# --------------------------------------------------------------------------

_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100",
    "110101", "101010", "101011", "0100111", "0001100", "0001000",
    "0010111", "0000011", "0000100", "0101000", "0101011", "0010011",
    "0100100", "0011000", "00000010", "00000011", "00011010", "00011011",
    "00010010", "00010011", "00010100", "00010101", "00010110", "00010111",
    "00101000", "00101001", "00101010", "00101011", "00101100", "00101101",
    "00000100", "00000101", "00001010", "00001011", "01010010", "01010011",
    "01010100", "01010101", "00100100", "00100101", "01011000", "01011001",
    "01011010", "01011011", "01001010", "01001011", "00110010", "00110011",
    "00110100",
]
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}
_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
#: extended makeup codes (T.4 table 3), shared by both colors
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

#: T.6 2-D mode codes → mode ids (vertical offsets -3..3, pass, horizontal)
_MODE_CODES = {
    "1": ("v", 0), "011": ("v", 1), "010": ("v", -1), "001": ("h", 0),
    "0001": ("p", 0), "000011": ("v", 2), "000010": ("v", -2),
    "0000011": ("v", 3), "0000010": ("v", -3),
}

# mode ids packed into the mode LUT
_M_V0, _M_VR1, _M_VR2, _M_VR3 = 1, 2, 3, 4
_M_VL1, _M_VL2, _M_VL3 = 5, 6, 7
_M_PASS, _M_HORIZ, _M_EXT = 8, 9, 10
_VERT_DELTA = {_M_V0: 0, _M_VR1: 1, _M_VR2: 2, _M_VR3: 3,
               _M_VL1: -1, _M_VL2: -2, _M_VL3: -3}
_MODE_ID = {("v", 0): _M_V0, ("v", 1): _M_VR1, ("v", 2): _M_VR2,
            ("v", 3): _M_VR3, ("v", -1): _M_VL1, ("v", -2): _M_VL2,
            ("v", -3): _M_VL3, ("p", 0): _M_PASS, ("h", 0): _M_HORIZ}


def _build_mode_lut() -> list[int]:
    """7-bit lookahead → ``(code_length << 4) | mode_id``; the prefixes no
    mode code covers — all-zero (EOL territory) and ``0000001`` (the T.6
    extension code) — map to ``_M_EXT`` for explicit handling."""
    lut = [0] * 128
    for code, key in _MODE_CODES.items():
        ln = len(code)
        lo = int(code, 2) << (7 - ln)
        for v in range(lo, lo + (1 << (7 - ln))):
            if lut[v]:
                raise AssertionError("mode code collision")
            lut[v] = (ln << 4) | _MODE_ID[key]
    # 0000000: EOL / EOFB / corrupt; 0000001: extension / corrupt
    return [e or _M_EXT for e in lut]


def _build_run_lut(term: list[str], makeup: dict[int, str]) -> list[int]:
    """13-bit lookahead → ``(length << 16) | (is_makeup << 12) | run``.
    The fill pass doubles as a prefix-property proof: any overlap between
    two codes raises at import."""
    lut = [0] * (1 << 13)
    entries = [(code, run, 0) for run, code in enumerate(term)]
    entries += [(code, run, 1) for run, code in makeup.items()]
    entries += [(code, run, 1) for run, code in _EXT_MAKEUP.items()]
    for code, run, mk in entries:
        ln = len(code)
        lo = int(code, 2) << (13 - ln)
        for v in range(lo, lo + (1 << (13 - ln))):
            if lut[v]:
                raise AssertionError(f"run code collision at {code}")
            lut[v] = (ln << 16) | (mk << 12) | run
    return lut


_MODE_LUT = _build_mode_lut()
_WHITE_LUT = _build_run_lut(_WHITE_TERM, _WHITE_MAKEUP)
_BLACK_LUT = _build_run_lut(_BLACK_TERM, _BLACK_MAKEUP)


def _look_words(data: bytes) -> tuple[list[int], int]:
    """bytes → (32-bit big-endian lookahead words, total bit count);
    zero-padded past the end — callers bound reads with the bit count."""
    arr = np.frombuffer(data, np.uint8)
    padded = np.concatenate([arr, np.zeros(4, np.uint8)])
    p32 = padded.astype(np.uint32)
    look = ((p32[:-3] << 24) | (p32[1:-2] << 16)
            | (p32[2:-1] << 8) | p32[3:]).tolist()
    return look, arr.size * 8


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def decode_g4(data: bytes, columns: int, rows: int | None = None,
              encoded_byte_align: bool = False) -> np.ndarray:
    """G4/MMR bytes → ``uint8 ndarray (rows, columns)``, 0 = black ink,
    255 = white — the OCR tier's pixel contract.

    ``rows`` bounds the output (PDF's ``/Rows`` or the XObject height);
    ``None`` decodes until EOFB or clean end of data.  Raises
    :class:`CcittError` on malformed streams (run past line end,
    invalid codeword, truncation mid-line).
    """
    if columns <= 0:
        raise CcittError(f"bad column count {columns}")
    look, nbits = _look_words(data)
    out, _pos = _g4_lines(look, nbits, 0, columns, rows,
                          encoded_byte_align)
    if rows is not None and len(out) < rows:
        raise CcittError(
            f"G4 stream ended after {len(out)} of {rows} rows")
    if not out:
        return np.zeros((0, columns), dtype=np.uint8)
    return np.stack(out)


def decode_g4_planes(data: bytes, columns: int, rows: int,
                     nplanes: int) -> list[np.ndarray]:
    """``nplanes`` consecutive EOFB-terminated G4 bitplanes from ONE
    continuous bit stream (no byte alignment between planes — T.88
    Annex C.5's HMMR halftone gray coding) → list of ``(rows, columns)``
    arrays in stream order, 0 = black."""
    if columns <= 0 or rows <= 0 or nplanes <= 0:
        raise CcittError("bad plane geometry")
    look, nbits = _look_words(data)
    pos = 0
    planes: list[np.ndarray] = []
    for j in range(nplanes):
        # rows caps the decode (a malformed stream cannot amplify N
        # input bits into unbounded lines); the plane's EOFB is then
        # consumed explicitly so the cursor lands on the next plane
        lines, pos = _g4_lines(look, nbits, pos, columns, rows, False)
        if len(lines) != rows:
            raise CcittError(
                f"G4 bitplane {j} has {len(lines)} of {rows} rows")
        for _ in range(2):               # EOFB = two EOLs
            if pos + 12 <= nbits and \
                    (look[pos >> 3] >> (20 - (pos & 7))) & 0xFFF == 1:
                pos += 12
        planes.append(np.stack(lines))
    return planes


def _g4_lines(look: list[int], nbits: int, bitpos: int, columns: int,
              rows: int | None, encoded_byte_align: bool,
              ) -> tuple[list[np.ndarray], int]:
    """The T.6 line loop from ``bitpos`` → (decoded lines, cursor after
    the final line / consumed EOFB).  Only the line-start checks live
    here (byte align, trailing pad, EOL → EOFB); every line body is
    :func:`_decode_2d_line`, the same decoder G3's 2-D lines run."""
    w = columns
    out: list[np.ndarray] = []
    # reference line = imaginary all-white line above the first:
    # no transitions; sentinels give b1/b2 = columns at any parity
    ref: list[int] = [w, w, w, w]
    while rows is None or len(out) < rows:
        if encoded_byte_align:
            bitpos = (bitpos + 7) & ~7
        if bitpos >= nbits:
            break
        if rows is None and nbits - bitpos < 8 \
                and (look[bitpos >> 3] >> (32 - (bitpos & 7)
                                           - (nbits - bitpos))) \
                & ((1 << (nbits - bitpos)) - 1) == 0:
            break  # trailing byte-pad zeros
        if (look[bitpos >> 3] >> (20 - (bitpos & 7))) & 0xFFF == 1:
            bitpos += 12  # EOL at line start → EOFB
            if (look[bitpos >> 3] >> (20 - (bitpos & 7))) & 0xFFF == 1:
                bitpos += 12
            break
        line, cur, bitpos = _decode_2d_line(look, nbits, bitpos, ref, w,
                                            "G4")
        out.append(line)
        ref = cur + [w, w, w, w]
    return out, bitpos


def _read_run(look: list[int], nbits: int, bitpos: int,
              color: int, codec: str) -> tuple[int, int]:
    """One MH run length (makeup chain + terminating code) starting at
    ``bitpos`` → ``(run, new_bitpos)``; ``codec`` names the stream in
    truncation errors."""
    lut = _BLACK_LUT if color else _WHITE_LUT
    total = 0
    while True:
        v13 = (look[bitpos >> 3] >> (19 - (bitpos & 7))) & 0x1FFF
        e = lut[v13]
        if e == 0:
            raise CcittError(
                "invalid run-length code" if bitpos + 13 <= nbits
                else f"truncated {codec} data")
        bitpos += e >> 16
        total += e & 0xFFF
        if not e & 0x1000:  # terminating code ends the run
            return total, bitpos
        if total > 2560 * 16:
            raise CcittError("runaway makeup chain")


# --------------------------------------------------------------------------
# G3 (T.4) decoder — K = 0 pure 1-D, K > 0 mixed 1-D/2-D
# --------------------------------------------------------------------------


def _bit(look: list[int], p: int) -> int:
    return (look[p >> 3] >> (31 - (p & 7))) & 1


def _line_transitions(line: np.ndarray) -> list[int]:
    """Changing-element columns of a decoded line (0=black 255=white) —
    the reference-line shape the 2-D modes consume."""
    black = line == 0
    trans = np.concatenate([black[:1], black[1:] != black[:-1]])
    return np.flatnonzero(trans).tolist()


def _decode_1d_line(look: list[int], nbits: int, bitpos: int,
                    w: int) -> tuple[np.ndarray, int]:
    """One T.4 1-D (modified Huffman) coding line → (pixels, bitpos).
    Runs alternate starting white (a zero-length first white run codes a
    line that starts black); the run total must land exactly on the line
    width."""
    line = np.full(w, 255, np.uint8)
    pos = 0
    color = 0
    n_runs = 0
    while pos < w:
        run, bitpos = _read_run(look, nbits, bitpos, color, "G3")
        if bitpos > nbits:
            # zero-padded lookahead can alias a cut codeword to a valid
            # run — reads past the real data are truncation, not pixels
            raise CcittError("truncated G3 data")
        if pos + run > w:
            raise CcittError("1-D run past line end")
        if color:
            line[pos:pos + run] = 0
        pos += run
        color ^= 1
        n_runs += 1
        if n_runs > 2 * w + 4:
            raise CcittError("runaway zero-length 1-D runs")
    return line, bitpos


def _decode_2d_line(look: list[int], nbits: int, bitpos: int,
                    ref: list[int], w: int, codec: str,
                    ) -> tuple[np.ndarray, list[int], int]:
    """One 2-D coding line against ``ref`` → (pixels, transitions,
    bitpos): the mode loop of every G4 line and every G3 2-D line.  An
    EOL prefix is malformed here (callers consume EOL / EOFB at the
    line start); ``codec`` names the stream in truncation errors."""
    line = np.full(w, 255, np.uint8)
    cur: list[int] = []
    a0 = -1
    color = 0  # 0 = white
    ptr = 0    # monotone cursor into ref
    while a0 < w:
        v7 = (look[bitpos >> 3] >> (25 - (bitpos & 7))) & 0x7F
        e = _MODE_LUT[v7]
        mode = e & 15
        if mode == _M_EXT:
            raise CcittError(
                "invalid 2-D mode code" if bitpos + 7 <= nbits
                else f"truncated {codec} data")
        bitpos += e >> 4
        # b1: first ref transition > a0 whose parity matches the
        # color being coded (even index = white→black transition)
        while ptr < len(ref) and ref[ptr] <= a0:
            ptr += 1
        bi = ptr if (ptr & 1) == color else ptr + 1
        b1 = ref[bi] if bi < len(ref) else w
        if mode == _M_PASS:
            b2 = ref[bi + 1] if bi + 1 < len(ref) else w
            start = a0 if a0 > 0 else 0
            if color:
                line[start:b2] = 0
            a0 = b2
        elif mode == _M_HORIZ:
            start = a0 if a0 > 0 else 0
            r1 = _read_run(look, nbits, bitpos, color, codec)
            bitpos = r1[1]
            r2 = _read_run(look, nbits, bitpos, color ^ 1, codec)
            bitpos = r2[1]
            a1 = start + r1[0]
            a2 = a1 + r2[0]
            if a2 > w:
                raise CcittError("horizontal run past line end")
            if color:
                line[start:a1] = 0
            else:
                line[a1:a2] = 0
            cur.append(a1)
            cur.append(a2)
            a0 = a2
        else:  # vertical
            a1 = b1 + _VERT_DELTA[mode]
            start = a0 if a0 > 0 else 0
            if a1 < start or a1 > w or (a0 >= 0 and a1 == a0):
                raise CcittError("vertical mode outside line")
            if color:
                line[start:a1] = 0
            cur.append(a1)
            a0 = a1
            color ^= 1
        if bitpos > nbits:
            raise CcittError(f"truncated {codec} data")
    return line, cur, bitpos


#: fill-run sanity bound: T.4 fill pads to a byte/line boundary, so
#: anything past a few kilobits of zeros is a corrupt stream, not fill
_MAX_FILL_BITS = 4096


def _g3_line_prefix(look: list[int], nbits: int, bitpos: int, k: int,
                    ) -> tuple[int, bool | None]:
    """Consume fill + EOL(s) (+ the K>0 tag bit) at a line start →
    ``(bitpos, is_1d)``; ``is_1d`` None = clean end of data (RTC /
    trailing pad / exhausted)."""
    eols = 0
    while bitpos < nbits:
        zp = bitpos
        cap = bitpos + _MAX_FILL_BITS
        while zp < nbits and zp < cap and not _bit(look, zp):
            zp += 1
        if zp >= nbits:
            return nbits, None        # only pad zeros remain
        if zp >= cap:
            raise CcittError("runaway fill before EOL")
        if zp - bitpos >= 11:
            bitpos = zp + 1           # one EOL consumed
            eols += 1
            if eols >= 2:
                return nbits, None    # RTC / end-of-data
            if k > 0:
                if bitpos >= nbits:
                    return nbits, None
                tag = _bit(look, bitpos)
                bitpos += 1
                # EOL right behind the tag = the RTC pattern (EOL+1)*6
                zp2 = bitpos
                while zp2 < nbits and zp2 - bitpos < 12 \
                        and not _bit(look, zp2):
                    zp2 += 1
                if zp2 - bitpos >= 11 or zp2 >= nbits:
                    continue          # count it in the next iteration
                return bitpos, tag == 1
            continue                  # K=0: EOL consumed, rescan
        # no EOL: codeword data starts here
        if k > 0 and eols == 0:
            # /EndOfLine false mixed stream: the tag bit leads the line
            tag = _bit(look, bitpos)
            return bitpos + 1, tag == 1
        return bitpos, True
    return nbits, None


def decode_g3(data: bytes, columns: int, rows: int | None = None,
              k: int = 0, encoded_byte_align: bool = False) -> np.ndarray:
    """G3 (T.4) bytes → ``uint8 ndarray (rows, columns)``, 0 = black,
    255 = white.  ``k = 0`` decodes pure 1-D modified-Huffman lines
    (EOLs optional); ``k > 0`` decodes the mixed arrangement where each
    line's 1-bit tag — after its EOL when present, else leading the
    line — selects 1-D or 2-D coding against the previous line.  Raises
    :class:`CcittError` on malformed streams."""
    if columns <= 0:
        raise CcittError(f"bad column count {columns}")
    if k < 0:
        raise CcittError("decode_g3 is for K >= 0 (use decode_g4)")
    look, nbits = _look_words(data)
    bitpos = 0
    w = columns
    out: list[np.ndarray] = []
    ref: list[int] = [w, w, w, w]
    while rows is None or len(out) < rows:
        if encoded_byte_align:
            bitpos = (bitpos + 7) & ~7
        bitpos, is_1d = _g3_line_prefix(look, nbits, bitpos, k)
        if is_1d is None:
            break
        if is_1d:
            line, bitpos = _decode_1d_line(look, nbits, bitpos, w)
            cur = _line_transitions(line)
        else:
            line, cur, bitpos = _decode_2d_line(look, nbits, bitpos,
                                                ref, w, "G3")
        out.append(line)
        ref = cur + [w, w, w, w]
    if rows is not None and len(out) < rows:
        raise CcittError(
            f"G3 stream ended after {len(out)} of {rows} rows")
    if not out:
        return np.zeros((0, w), dtype=np.uint8)
    return np.stack(out)
