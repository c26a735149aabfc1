"""Minimal TrueType/OpenType (sfnt) table access — glyph-id → Unicode
recovery for embedded fonts that carry no /ToUnicode CMap.

Print-driver and subsetted PDFs routinely embed a TrueType program
(``/FontFile2``) whose ``cmap`` (character → glyph id) and ``post``
(glyph id → glyph name) tables are the ONLY record of what the glyphs
mean; the reference gets this recovery for free from pdf.js
(``src/lib/ocr/extractor.ts:62-103`` → pdf.js font code).  This module
is a from-scratch, bounds-checked reader of exactly the subset needed:

* the sfnt table directory (TrueType 1.0 / OpenType with TrueType
  outlines),
* ``cmap`` subtable formats 0, 4, 6 and 12 (ISO/IEC 14496-22 §5.2.1;
  Apple TrueType Reference Manual, "cmap"),
* ``post`` format 2.0 glyph names (ISO/IEC 14496-22 §5.2.4), resolved
  to Unicode through the AGL subset in :mod:`core.glyphs`.

:func:`gid_to_unicode` composes them: the best Unicode ``cmap``
subtable inverted (lowest code wins — deterministic), with ``post``
glyph names filling the gaps.  Everything raises :class:`SfntError` on
malformed data; callers treat that as "no recovery" and keep their
fallback counters honest.

The fixture writer of a minimal valid font
(``encoders.pdf.build_minimal_truetype``) lets tests and the corpus
exercise the recovery path against genuine sfnt bytes rather than mocks.
"""

from __future__ import annotations

import struct

from .glyphs import glyph_to_unicode

__all__ = [
    "SfntError",
    "gid_to_unicode",
    "parse_tables",
]


class SfntError(ValueError):
    """Malformed / unsupported sfnt data (error-as-value at the caller)."""


def _u16(d: bytes, p: int) -> int:
    if p + 2 > len(d):
        raise SfntError("truncated sfnt data (u16)")
    return struct.unpack_from(">H", d, p)[0]


def _u32(d: bytes, p: int) -> int:
    if p + 4 > len(d):
        raise SfntError("truncated sfnt data (u32)")
    return struct.unpack_from(">I", d, p)[0]


def _i16(d: bytes, p: int) -> int:
    if p + 2 > len(d):
        raise SfntError("truncated sfnt data (i16)")
    return struct.unpack_from(">h", d, p)[0]


def parse_tables(data: bytes) -> dict[str, bytes]:
    """sfnt bytes → ``{tag: table bytes}``.  Accepts TrueType 1.0
    (0x00010000) and the legacy Apple ``true`` magic; rejects CFF-flavored
    ``OTTO`` (no glyf/cmap semantics we need differ, but a Type1C program
    belongs to /FontFile3 handling, not here)."""
    magic = data[:4]
    if magic not in (b"\x00\x01\x00\x00", b"true"):
        raise SfntError(f"not a TrueType sfnt (magic {magic!r})")
    num_tables = _u16(data, 4)
    if num_tables > 64:
        raise SfntError(f"implausible table count {num_tables}")
    out: dict[str, bytes] = {}
    for i in range(num_tables):
        rec = 12 + 16 * i
        if rec + 16 > len(data):
            raise SfntError("truncated table directory")
        tag = data[rec:rec + 4]
        off = _u32(data, rec + 8)
        length = _u32(data, rec + 12)
        if off + length > len(data):
            raise SfntError(f"table {tag!r} overruns the font data")
        out[tag.decode("latin-1")] = data[off:off + length]
    return out


# --------------------------------------------------------------------------
# cmap
# --------------------------------------------------------------------------

#: total code points one cmap subtable may expand to — a malicious font
#: with overlapping format-4 segments / format-12 groups otherwise costs
#: minutes of CPU per document inside the extraction hot path
_MAX_CMAP_CODES = 1 << 17


def _cmap_subtable(sub: bytes) -> dict[int, int]:
    """One cmap subtable → ``{code: gid}`` (formats 0, 4, 6, 12)."""
    fmt = _u16(sub, 0)
    out: dict[int, int] = {}
    budget = _MAX_CMAP_CODES
    if fmt == 0:
        if len(sub) < 6 + 256:
            raise SfntError("truncated format-0 cmap")
        for code in range(256):
            gid = sub[6 + code]
            if gid:
                out[code] = gid
    elif fmt == 4:
        seg_x2 = _u16(sub, 6)
        if seg_x2 == 0 or seg_x2 % 2:
            raise SfntError("bad format-4 segCountX2")
        seg = seg_x2 // 2
        ends = [_u16(sub, 14 + 2 * i) for i in range(seg)]
        starts = [_u16(sub, 16 + seg_x2 + 2 * i) for i in range(seg)]
        deltas = [_i16(sub, 16 + 2 * seg_x2 + 2 * i) for i in range(seg)]
        range_off_at = 16 + 3 * seg_x2
        for i in range(seg):
            roff = _u16(sub, range_off_at + 2 * i)
            start, end = starts[i], ends[i]
            if start > end or end - start > 0xFFFF:
                raise SfntError("bad format-4 segment")
            if end == 0xFFFF and start == 0xFFFF:
                continue  # the required terminal segment
            budget -= end - start + 1
            if budget < 0:
                raise SfntError("cmap code budget exhausted")
            for code in range(start, end + 1):
                if roff == 0:
                    gid = (code + deltas[i]) & 0xFFFF
                else:
                    at = (range_off_at + 2 * i + roff
                          + 2 * (code - start))
                    gid = _u16(sub, at)
                    if gid:
                        gid = (gid + deltas[i]) & 0xFFFF
                if gid:
                    out[code] = gid
    elif fmt == 6:
        first = _u16(sub, 6)
        count = _u16(sub, 8)
        for i in range(count):
            gid = _u16(sub, 10 + 2 * i)
            if gid:
                out[first + i] = gid
    elif fmt == 12:
        n_groups = _u32(sub, 12)
        if n_groups > 1 << 16:
            raise SfntError(f"implausible format-12 group count {n_groups}")
        for g in range(n_groups):
            at = 16 + 12 * g
            start, end, start_gid = (_u32(sub, at), _u32(sub, at + 4),
                                     _u32(sub, at + 8))
            if start > end or end > 0x10FFFF:
                raise SfntError("bad format-12 group")
            budget -= end - start + 1
            if budget < 0:
                raise SfntError("cmap code budget exhausted")
            for i in range(end - start + 1):
                out[start + i] = start_gid + i
    else:
        raise SfntError(f"unsupported cmap subtable format {fmt}")
    return out


#: subtable preference: Unicode BMP first, then full Unicode, then the
#: legacy Mac table, then Windows Symbol (whose F0xx codes wrap 1-byte
#: font codes — ISO 32000 9.6.6.4)
_CMAP_PREFERENCE = ((3, 1), (0, 3), (3, 10), (0, 4), (0, 6), (1, 0), (3, 0))


def cmap_maps(cmap: bytes) -> dict[tuple[int, int], dict[int, int]]:
    """cmap table → ``{(platform, encoding): {code: gid}}`` for every
    subtable in a format this module reads (others are skipped, not
    fatal — real subsetters emit extra tables)."""
    n = _u16(cmap, 2)
    if n > 32:
        raise SfntError(f"implausible cmap subtable count {n}")
    out: dict[tuple[int, int], dict[int, int]] = {}
    for i in range(n):
        rec = 4 + 8 * i
        plat, enc = _u16(cmap, rec), _u16(cmap, rec + 2)
        off = _u32(cmap, rec + 4)
        if off >= len(cmap):
            raise SfntError("cmap subtable offset overruns the table")
        try:
            out[(plat, enc)] = _cmap_subtable(cmap[off:])
        except (SfntError, struct.error):
            continue
    return out


def best_unicode_cmap(cmap: bytes) -> dict[int, int] | None:
    """``{unicode code point: gid}`` from the best available subtable.
    A Windows Symbol (3,0) table maps its 0xF000-0xF0FF private-use codes
    down to the wrapped byte value — the byte is the FONT code, not a
    code point, so callers must only use a (3,0) result code-wise."""
    maps = cmap_maps(cmap)
    for key in _CMAP_PREFERENCE:
        m = maps.get(key)
        if not m:
            continue
        if key == (3, 0):
            return {(c & 0xFF) if 0xF000 <= c <= 0xF0FF else c: g
                    for c, g in m.items()}
        return m
    return None


# --------------------------------------------------------------------------
# post
# --------------------------------------------------------------------------

#: the standard Macintosh glyph order's leading entries (index 0-257);
#: only the ones our AGL subset can resolve matter for recovery
_MAC_GLYPH_NAMES = (
    ".notdef", ".null", "nonmarkingreturn", "space", "exclam", "quotedbl",
    "numbersign", "dollar", "percent", "ampersand", "quotesingle",
    "parenleft", "parenright", "asterisk", "plus", "comma", "hyphen",
    "period", "slash", "zero", "one", "two", "three", "four", "five",
    "six", "seven", "eight", "nine", "colon", "semicolon", "less",
    "equal", "greater", "question", "at", "A", "B", "C", "D", "E", "F",
    "G", "H", "I", "J", "K", "L", "M", "N", "O", "P", "Q", "R", "S",
    "T", "U", "V", "W", "X", "Y", "Z", "bracketleft", "backslash",
    "bracketright", "asciicircum", "underscore", "grave", "a", "b", "c",
    "d", "e", "f", "g", "h", "i", "j", "k", "l", "m", "n", "o", "p",
    "q", "r", "s", "t", "u", "v", "w", "x", "y", "z", "braceleft",
    "bar", "braceright", "asciitilde",
)


def post_glyph_names(post: bytes) -> dict[int, str]:
    """post table → ``{gid: glyph name}``.  Format 2.0 carries the
    names; format 3.0 carries none (legal — returns empty); 1.0 is the
    standard Mac order."""
    version = _u32(post, 0)
    if version == 0x00030000:
        return {}
    if version == 0x00010000:
        return dict(enumerate(_MAC_GLYPH_NAMES))
    if version != 0x00020000:
        raise SfntError(f"unsupported post version 0x{version:08x}")
    n = _u16(post, 32)
    if n > 1 << 16:
        raise SfntError("implausible post glyph count")
    idx = [_u16(post, 34 + 2 * i) for i in range(n)]
    names: list[str] = []
    p = 34 + 2 * n
    while p < len(post):
        ln = post[p]
        if p + 1 + ln > len(post):
            raise SfntError("truncated post name data")
        names.append(post[p + 1:p + 1 + ln].decode("latin-1"))
        p += 1 + ln
    out: dict[int, str] = {}
    for gid, i in enumerate(idx):
        if i < 258:
            if i < len(_MAC_GLYPH_NAMES):
                out[gid] = _MAC_GLYPH_NAMES[i]
        elif i - 258 < len(names):
            out[gid] = names[i - 258]
    return out


# --------------------------------------------------------------------------
# composed recovery
# --------------------------------------------------------------------------

def gid_to_unicode(font: bytes) -> dict[int, str]:
    """Embedded TrueType program → ``{gid: unicode string}``.

    The best Unicode ``cmap`` subtable is inverted (when several codes
    map to one glyph the LOWEST code wins — deterministic), then
    ``post`` glyph names fill remaining gids through the AGL subset.
    Raises :class:`SfntError` if the font is unreadable; returns a
    possibly-empty dict if readable but uninformative."""
    tables = parse_tables(font)
    out: dict[int, str] = {}
    cmap = tables.get("cmap")
    if cmap is not None:
        # genuinely-Unicode subtables only: a (3,0) Symbol table's codes
        # are private-use font codes, NOT code points — inverting it here
        # would fabricate wrong text that outranks the post names
        maps = cmap_maps(cmap)
        key = next((k for k in _CMAP_PREFERENCE
                    if k != (3, 0) and maps.get(k)), None)
        uni = maps.get(key) if key is not None else None
        if key == (1, 0) and uni:
            # Mac Roman: only the ASCII range coincides with Unicode;
            # 0x80+ are Mac Roman codes — inverting them would fabricate
            # C1 controls.  Leave those gids to the post names.
            uni = {c: g for c, g in uni.items() if c < 0x80}
        if uni:
            for code in sorted(uni, reverse=True):
                if code < 0x110000:
                    out[uni[code]] = chr(code)
    post = tables.get("post")
    if post is not None:
        try:
            for gid, name in post_glyph_names(post).items():
                if gid not in out:
                    u = glyph_to_unicode(name)
                    if u is not None:
                        out[gid] = u
        except SfntError:
            pass  # cmap result (if any) still stands
    out.pop(0, None)  # .notdef never carries text
    return out
