"""Deterministic pixel-level word rendering + recognition (5×7 bitmap font).

The FAKERAST container (``pdfscan.py``) stands in for "pixels" where a
real rasterizer/OCR pair would run (reference ``extractor.ts:12-37`` →
``ocr.ts:50-110``).  This module closes the remaining semantic gap for
*foreign-structure* scanned PDFs: pages whose embedded image XObject is a
genuine raster (``/DeviceGray`` samples), not a repo-authored container.

* ``encoders.raster.render_words_gray`` — "print" words into an 8-bit
  grayscale page with the classic 5×7 dot-matrix font defined here (the
  public HD44780-style glyph shapes): 255 background, 0 ink.  This is the
  fixture-side stand-in for a scanner: the output is real pixels,
  decodable by any image tool.
* :func:`recognize_gray` — a real (if minimal) OCR algorithm over those
  pixels: horizontal-projection line banding, vertical-projection
  character/word segmentation, then exact template classification.  It
  has no access to the renderer's word list — everything is recovered
  from the samples, so corrupted pixels genuinely fail (→
  ``status='decode_error'`` upstream).

Both sides are deterministic, so the extract pipeline's byte-identity
oracle holds end-to-end: text → render → PDF image XObject → decode →
recognize → layout reproduces the exact token stream.  A real OCR model
replaces :func:`recognize_gray` behind the same recognizer plug point
(``operators/ocr.py``).

Geometry contract (aligned with ``sources/fixtures.layout_words``: 6-pt
character pitch, 4-pt word gap): each character occupies a 6-px cell
(≤ 5 ink columns + blank padding); consecutive characters of one word are
≤ 3 blank columns apart, consecutive words ≥ 5 apart, so a 4-column gap
threshold separates them unambiguously.  Every glyph inks all 7 rows and
has a contiguous column profile — line bands are therefore exactly 7 px
tall and every ink-column run is exactly one character.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "FONT_5X7",
    "GLYPH_H",
    "GLYPH_W",
    "recognize_gray",
]

GLYPH_W = 5
GLYPH_H = 7
_CELL_W = GLYPH_W + 1          # one blank column between characters
_WORD_GAP_MIN = 4              # blank columns: >= this starts a new word

#: classic 5×7 dot-matrix glyphs (one int per row, bit 4 = leftmost).
#: Lowercase letters render with the canonical uppercase dot patterns —
#: the corpus alphabet is case-normalized and what recognition needs is
#: per-character DISTINCTNESS, which these public shapes give.  Every
#: glyph inks all 7 rows and a contiguous column range (asserted below) —
#: the two invariants the segmenter's strict geometry checks rest on.
FONT_5X7: dict[str, tuple[int, ...]] = {
    "a": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "b": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "c": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "d": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "e": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "f": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "g": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "h": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "i": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "j": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "k": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "l": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "m": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "n": (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    "o": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "p": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "r": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "s": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "t": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "u": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "v": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "w": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "x": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "y": (0x11, 0x11, 0x11, 0x0A, 0x04, 0x04, 0x04),
    "z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
}


def _glyph_array(ch: str) -> np.ndarray:
    rows = FONT_5X7[ch]
    return np.array(
        [[(r >> (GLYPH_W - 1 - c)) & 1 for c in range(GLYPH_W)]
         for r in rows], dtype=np.uint8)


#: full (7, 5) template per character (renderer side)
_TEMPLATES: dict[str, np.ndarray] = {ch: _glyph_array(ch) for ch in FONT_5X7}


def _trimmed(tpl: np.ndarray) -> np.ndarray:
    cols = np.flatnonzero(tpl.any(axis=0))
    return tpl[:, cols[0]:cols[-1] + 1]


#: column-trimmed ink pattern -> character (what segmentation sees)
_PATTERN_TO_CHAR: dict[bytes, str] = {
    _trimmed(tpl).tobytes(): ch for ch, tpl in _TEMPLATES.items()
}

#: stacked templates for nearest-template classification (chars sorted so
#: argmin tie-breaks are deterministic)
_CHARS: tuple[str, ...] = tuple(sorted(FONT_5X7))
_TPL_STACK: np.ndarray = np.stack([_TEMPLATES[ch] for ch in _CHARS])

#: nearest-template acceptance: a candidate whose best template still
#: mismatches more than this many of the 35 cell pixels is NOT text —
#: raise rather than guess (min pairwise template distance is 3, so the
#: cap trades a small confusion risk for noise tolerance; the oracle
#: validates the trade on the checked corpus)
_MAX_GLYPH_MISMATCH = 6

def _neighbor_count(ink: np.ndarray) -> np.ndarray:
    """8-neighbor ink count per pixel (shared by despeckling, the
    import-time glyph invariant, and the noise fixture's isolation rule —
    one implementation so the matched pair can never drift)."""
    h, w = ink.shape
    p = np.pad(ink.astype(np.uint8), 1)
    return sum(p[dy:dy + h, dx:dx + w].astype(np.int16)
               for dy in (0, 1, 2) for dx in (0, 1, 2)
               if (dy, dx) != (1, 1))


# invariants the recognizer's strict checks depend on — import-time proof
assert len(_PATTERN_TO_CHAR) == len(FONT_5X7), \
    "trimmed glyph patterns must be distinct"
for _ch, _tpl in _TEMPLATES.items():
    assert _tpl.any(axis=1).all(), f"glyph {_ch!r} must ink all 7 rows"
    _cols = np.flatnonzero(_tpl.any(axis=0))
    assert (np.diff(_cols) == 1).all(), \
        f"glyph {_ch!r} column profile must be contiguous"
    # every ink pixel has an inked 8-neighbor, so despeckling (which
    # removes only fully isolated pixels) can never eat glyph ink
    assert not ((_tpl == 1) & (_neighbor_count(_tpl == 1) == 0)).any(), \
        f"glyph {_ch!r} has an isolated ink pixel"


def _adaptive_threshold(page: np.ndarray) -> int:
    """Deterministic global threshold — ink is ``page <= t``.  High
    min-max spread (>= 64, a confidently bimodal scan) uses the midpoint,
    which is robust where Otsu is not on these pages: ink is a tiny
    fraction of the pixels, so a variance-balancing split drifts into
    the background/ringing cluster and floods the projection profiles.
    Low spread falls back to the fixed 127 cut (the historical default):
    an all-bright page stays inkless, an all-dark failed scan stays
    all-ink (→ the caller's geometry checks raise → decode_error), and
    faint-but-straddling ink is still read rather than silently dropped."""
    lo, hi = int(page.min()), int(page.max())
    if hi - lo < 64:
        return 127
    return (lo + hi) // 2


def _despeckle(ink: np.ndarray) -> np.ndarray:
    """Drop fully isolated ink pixels (salt noise) — glyph ink is never
    isolated (import-time invariant above), so clean rasters pass through
    bit-identically."""
    return ink & (_neighbor_count(ink) > 0)


def _classify_cell(cell: np.ndarray, band_start: int, col0: int,
                   ) -> tuple[str, int]:
    """One character cell (band rows x <= GLYPH_W cols of 0/1 ink) → its
    ``(character, mismatch_count)``.  Exact column-trimmed lookup first
    (the clean-raster fast path, O(1)); on miss, nearest-template
    classification: the cell's ink bounding box is slid over every
    in-cell offset and scored against all templates by pixel mismatch
    count.  Raises ``ValueError`` when even the best template mismatches
    more than ``_MAX_GLYPH_MISMATCH`` pixels — unreadable pixels must
    become ``decode_error`` upstream, not silently wrong text."""
    if cell.shape[0] == GLYPH_H:
        ch = _PATTERN_TO_CHAR.get(cell.tobytes())
        if ch is not None:
            return ch, 0
    rows = np.flatnonzero(cell.any(axis=1))
    cols = np.flatnonzero(cell.any(axis=0))
    if rows.size == 0:
        raise ValueError(
            f"empty character cell at row {band_start}, col {col0}")
    sub = cell[rows[0]:rows[-1] + 1, cols[0]:cols[-1] + 1]
    sh, sw = sub.shape
    if sh > GLYPH_H or sw > GLYPH_W:
        raise ValueError(
            f"glyph ink {sw}x{sh} exceeds the {GLYPH_W}x{GLYPH_H} cell "
            f"at row {band_start}, col {col0}")
    best_m = GLYPH_W * GLYPH_H + 1
    best_ch = None
    for dy in range(GLYPH_H - sh + 1):
        for dx in range(GLYPH_W - sw + 1):
            canvas = np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
            canvas[dy:dy + sh, dx:dx + sw] = sub
            mism = (canvas[None, :, :] != _TPL_STACK).sum(axis=(1, 2))
            i = int(mism.argmin())
            if int(mism[i]) < best_m:
                best_m, best_ch = int(mism[i]), _CHARS[i]
    if best_ch is None or best_m > _MAX_GLYPH_MISMATCH:
        raise ValueError(
            f"unrecognized glyph pattern at row {band_start}, col {col0} "
            f"(best template mismatch {best_m})")
    return best_ch, best_m


def _segment_run(band: np.ndarray, run_start: int, run_end: int,
                 band_start: int) -> list[str]:
    """One ink-column run → its characters.  A run no wider than one
    glyph is a single cell; a wider run means characters bridged by
    anti-aliasing / lossy decode (nominal 6-px pitch) or printed at a
    jittered pitch (5 or 7 px).  Each candidate pitch segments the run
    into centered fixed-pitch cells; the segmentation with the lowest
    total template mismatch wins (nominal pitch tried first, strict
    improvement required — deterministic)."""
    rw = run_end - run_start
    if rw <= GLYPH_W:
        ch, _m = _classify_cell(band[:, run_start:run_end].astype(np.uint8),
                                band_start, run_start)
        return [ch]
    best: tuple[int, list[str]] | None = None
    for pitch in (_CELL_W, _CELL_W - 1, _CELL_W + 1):
        n = max(1, int(round((rw + 1) / pitch)))
        span = (n - 1) * pitch + GLYPH_W
        start = run_start + max(0, (rw - span) // 2)
        chars: list[str] = []
        total = 0
        try:
            for k in range(n):
                c0 = max(run_start, start + k * pitch)
                c1 = min(run_end, start + k * pitch + GLYPH_W)
                if c0 >= c1:
                    raise ValueError("empty pitch cell")
                ch, m = _classify_cell(
                    band[:, c0:c1].astype(np.uint8), band_start, c0)
                chars.append(ch)
                total += m
        except ValueError:
            continue
        if best is None or total < best[0]:
            best = (total, chars)
    if best is None:
        raise ValueError(
            f"unreadable ink run cols [{run_start}, {run_end}) at row "
            f"{band_start} under every candidate pitch")
    return best[1]


def recognize_gray(width: int, height: int, samples: bytes,
                   ink_threshold: int | None = None,
                   ) -> list[tuple[str, float, float, float, float]]:
    """OCR over an 8-bit grayscale page: returns ``(text, x0, y0, x1, y1)``
    word boxes (ink extents, top-origin pixel coords) in raster order.

    Algorithm (hot steps numpy-vectorized):

    1. global threshold — min-max midpoint by default (``ink_threshold=
       None``; adapts to anti-aliased / lossy-JPEG grayscale, falls back
       to the fixed 127 cut on low-spread pages), or a fixed cut when
       given — then despeckle (drop fully isolated ink = salt noise);
    2. horizontal ink projection → contiguous row bands = text lines;
       bands tolerate ±2 px around the 7-row glyph height (lossy decode
       and pepper noise can shave or smear an edge row);
    3. per band, vertical ink projection → ink-column runs.  A run no
       wider than one glyph is one character; a wider run (anti-aliasing
       bridging the 1-px inter-character gap) is split into centered
       6-px-pitch cells.  Runs ≤ 3 blank columns apart join into a word,
       ≥ 4 apart start a new one — the renderer's cell/word-gap geometry
       guarantees the two ranges never overlap;
    4. each cell is classified by exact column-trimmed template lookup
       (clean fast path) with a nearest-template fallback that slides the
       cell's ink bounding box over in-cell offsets (±1-px jitter) and
       accepts the best template within ``_MAX_GLYPH_MISMATCH`` pixels.

    Raises ``ValueError`` on malformed geometry or an unreadable glyph —
    the upstream contract maps that to ``status='decode_error'``.
    """
    w, h = int(width), int(height)
    arr = np.frombuffer(samples, dtype=np.uint8)
    if arr.size != w * h:
        raise ValueError(
            f"gray raster: {arr.size} samples for {w}x{h} page")
    page = arr.reshape(h, w)
    if ink_threshold is None:
        ink = page <= _adaptive_threshold(page)
    else:
        ink = page < ink_threshold
    ink = _despeckle(ink)

    words: list[tuple[str, float, float, float, float]] = []
    row_has_ink = ink.any(axis=1)
    row_idx = np.flatnonzero(np.diff(
        np.concatenate(([False], row_has_ink, [False])).astype(np.int8)))
    for band_start, band_end in zip(row_idx[0::2], row_idx[1::2]):
        if not (GLYPH_H - 2 <= band_end - band_start <= GLYPH_H + 2):
            raise ValueError(
                f"line band rows [{band_start}, {band_end}) is not "
                f"{GLYPH_H}±2 px tall — not a 5x7-font raster")
        band = ink[band_start:band_end]
        col_has_ink = band.any(axis=0)
        col_idx = np.flatnonzero(np.diff(
            np.concatenate(([False], col_has_ink, [False])).astype(np.int8)))
        cur_chars: list[str] = []
        cur_x0 = cur_x1 = 0
        prev_end: int | None = None
        for run_start, run_end in zip(col_idx[0::2], col_idx[1::2]):
            chars = _segment_run(band, int(run_start), int(run_end),
                                 int(band_start))
            if prev_end is not None \
                    and run_start - prev_end < _WORD_GAP_MIN:
                cur_chars.extend(chars)
            else:
                if cur_chars:
                    words.append(("".join(cur_chars), float(cur_x0),
                                  float(band_start), float(cur_x1),
                                  float(band_end)))
                cur_chars = chars
                cur_x0 = int(run_start)
            cur_x1 = int(run_end)
            prev_end = int(run_end)
        if cur_chars:
            words.append(("".join(cur_chars), float(cur_x0),
                          float(band_start), float(cur_x1),
                          float(band_end)))
    return words
