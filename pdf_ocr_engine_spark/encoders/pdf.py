"""PDF fixture builders: WBOX2, FAKERAST and pixel-raster scans, embedded
TrueType with no /ToUnicode, and Standard-handler encryption.

Each builder is the write side of one decoder tier and takes that tier's
constants from it; object-numbered PDFs go through ``core/pdfwrite``'s
serializer, so writer and reader oracle each other the way ``pdfwrite``
and ``pdfreal`` do.  Output is deterministic: fixed object order, fixed
float formatting, AES IVs derived from object numbers.
"""

from __future__ import annotations

import hashlib
import math
import re
import struct
import zlib
from typing import Any

import numpy as np

from ..core.pdfbin import _FOOTER, _HEADER
from ..core.pdfcrypt import (
    _PAD,
    _compute_key,
    _compute_u,
    aes_cbc_encrypt,
    rc4,
)
from ..core.pdfscan import RASTER_MAGIC
from ..core.pdfwrite import _assemble_objects, _escape_bytes, _fmt, _text_pdf
from ..core.rasterfont import GLYPH_H, _neighbor_count
from ..core.sfnt import _MAC_GLYPH_NAMES
from ..functions.afm import FALLBACK_UNITS, HELVETICA_WIDTHS


# --------------------------------------------------------------------------
# WBOX2 word-box container (``core/pdfbin``)
# --------------------------------------------------------------------------

def encode_pdf(
    pages: list[dict[str, Any]],
    page_count: int | None = None,
) -> bytes:
    """Encode page word-box records into the WBOX2 container.

    Each page dict: ``{"page_no", "width", "height", "has_text", "words"}``
    with ``words`` a list of ``(text, x0, y0, x1, y1[, confidence])``.
    """
    parts = [_HEADER,
             struct.pack("<II", len(pages) if page_count is None
                         else int(page_count), len(pages))]
    for p in pages:
        words = p.get("words") or []
        n = len(words)
        parts.append(struct.pack(
            "<iddBI", int(p["page_no"]), float(p.get("width", 612.0)),
            float(p.get("height", 792.0)), 1 if p.get("has_text") else 0, n))
        coords = np.empty((n, 5), dtype="<f8")
        texts = []
        for i, w in enumerate(words):
            coords[i, 0] = float(w[1])
            coords[i, 1] = float(w[2])
            coords[i, 2] = float(w[3])
            coords[i, 3] = float(w[4])
            coords[i, 4] = float(w[5]) if len(w) > 5 else 90.0
            texts.append(str(w[0]).encode("utf-8"))
        blob = b"".join(texts)
        offsets = np.zeros(n + 1, dtype="<u4")
        if n:
            offsets[1:] = np.cumsum(
                np.fromiter((len(t) for t in texts), dtype="<u4", count=n))
        parts.append(struct.pack("<I", len(blob)))
        parts.append(offsets.tobytes())
        parts.append(coords.tobytes())
        parts.append(blob)
    parts.append(_FOOTER)
    return b"".join(parts)


# --------------------------------------------------------------------------
# Scanned PDFs: FAKERAST pages and genuine page rasters
# --------------------------------------------------------------------------

def encode_page_raster(width: float, height: float,
                       words: list[tuple[str, float, float, float, float]],
                       ) -> bytes:
    """Page → raster bytes: the deterministic stand-in for rendering a page
    to pixels.  ``words`` are ``(text, x0, y0, x1, y1)`` in top-origin image
    coords — exactly the shape a real renderer would make visible to OCR."""
    out = bytearray(RASTER_MAGIC)
    out += struct.pack("<ddI", width, height, len(words))
    for text, x0, y0, x1, y1 in words:
        enc = text.encode("utf-8")
        out += struct.pack("<ddddI", x0, y0, x1, y1, len(enc))
        out += enc
    return bytes(out)


def build_scanned_pdf(pages: list[dict]) -> bytes:
    """Genuine image-only PDF: per page one Image XObject (the FlateDecoded
    raster) and a content stream that only paints it — zero text operators,
    so ``has_text=False`` everywhere and the document routes to the OCR
    tier.  Each page dict: ``{"width", "height", "words": [(text, x0, y0,
    x1, y1)]}`` (top-origin image coords)."""
    objects: list[bytes] = []
    n_pages = len(pages)
    # 1=catalog, 2=pages; then per page: page, content, image (3 objects)
    first_page_obj = 3
    kids = " ".join(f"{first_page_obj + 3 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())

    for i, page in enumerate(pages):
        w = float(page.get("width") or 612.0)
        h = float(page.get("height") or 792.0)
        raster = encode_page_raster(w, h, page.get("words") or [])
        img = zlib.compress(raster)
        page_obj = first_page_obj + 3 * i
        content = (f"q {_fmt(w)} 0 0 {_fmt(h)} 0 0 cm /Im0 Do Q"
                   .encode("latin-1"))
        objects.append(
            (f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {_fmt(w)} "
             f"{_fmt(h)}] /Resources << /XObject << /Im0 {page_obj + 2} 0 R "
             f">> >> /Contents {page_obj + 1} 0 R >>").encode())
        objects.append(b"<< /Length " + str(len(content)).encode()
                       + b" >>\nstream\n" + content + b"\nendstream")
        # Width/Height in "pixels": the raster models a 1 px/pt render
        objects.append(
            (f"<< /Type /XObject /Subtype /Image /Width {int(w)} "
             f"/Height {int(h)} /ColorSpace /DeviceGray /BitsPerComponent 8 "
             f"/Filter /FlateDecode /Length {len(img)} >>\nstream\n").encode()
            + img + b"\nendstream")
    return _assemble_objects(objects)


def _jitter_words(words: list[tuple], page_index: int) -> list[tuple]:
    """Deterministic per-line ±1-px position jitter (a skewed scanner
    carriage): every word on one text line shifts by the same (dx, dy) so
    intra-line word gaps — which the segmenter relies on — are preserved.
    Derived from crc32 so the fixture is stable across runs/processes."""
    out = []
    for text, x0, y0, x1, y1 in words:
        key = zlib.crc32(f"{page_index}:{round(y0)}".encode())
        dx = key % 3 - 1
        dy = (key >> 2) % 3 - 1
        out.append((text, x0 + dx, y0 + dy, x1 + dx, y1 + dy))
    return out


def _noisify_gray(samples: bytes, w: int, h: int) -> bytes:
    """Deterministic scanner noise over an 8-bit grayscale page: salt
    (isolated ink specks on a sparse grid, never adjacent to glyph ink —
    exactly what despeckling must remove) and pepper (sparse ink pixels
    flipped to white — what nearest-template correlation must absorb)."""
    page = np.frombuffer(samples, np.uint8).reshape(h, w).copy()
    ink = page < 128
    nb = _neighbor_count(ink)
    # salt: 8-px grid, skip cells whose 3x3 neighborhood touches ink so
    # specks stay isolated (two grid specks are never adjacent either)
    ys = np.arange(3, h - 3, 8)
    xs = np.arange(3, w - 3, 8)
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    keep = (~ink[yy, xx]) & (nb[yy, xx] == 0)
    page[yy[keep], xx[keep]] = 0
    # pepper: deterministic sparse pattern over ink pixels.  The 10x7
    # grid guarantees AT MOST ONE flip per 5x7 glyph: with one flip the
    # true template mismatches by 1 while the nearest other template
    # still mismatches by >= 2 (min pairwise template distance is 3), so
    # correlation can absorb the damage but never silently misread.
    # Flips must also preserve the SEGMENTATION structure the recognizer
    # reads before correlation ever runs: skip a flip that would empty
    # its glyph column (narrowing an ink run widens a word gap) or
    # isolate a neighboring ink pixel (despeckle would then remove that
    # neighbor too — a two-pixel cascade that can split a word).
    py, px = np.where(ink)
    grid = (py % 10 == 1) & (px % 7 == 3)
    for y, x in zip(py[grid], px[grid]):
        lo = max(0, y - GLYPH_H + 1)
        hi = min(h, y + GLYPH_H)
        if int(ink[lo:hi, x].sum()) < 2:
            continue  # only ink in its glyph column — keep the run width
        cascade = any(
            ink[yy2, xx2] and int(nb[yy2, xx2]) - 1 < 1
            for yy2 in range(max(0, y - 1), min(h, y + 2))
            for xx2 in range(max(0, x - 1), min(w, x + 2))
            if (yy2, xx2) != (y, x))
        if not cascade:
            # flips are >= 7 cols / >= 10 rows apart, so checks against
            # the ORIGINAL ink/nb stay valid for every later flip
            page[y, x] = 255
    return page.tobytes()


def _tint_rgb(gray: "object") -> "object":
    """Grayscale page → tinted color page: dark-blue ink on warm-white
    paper (a color scan of a printed page).  Luma contrast stays high, so
    the OCR luma path reads it like the grayscale original."""
    ink = gray < 128
    rgb = np.empty((*gray.shape, 3), np.uint8)
    rgb[..., 0] = np.where(ink, 32, 255)
    rgb[..., 1] = np.where(ink, 32, 247)
    rgb[..., 2] = np.where(ink, 160, 235)
    return rgb


def build_pixel_scanned_pdf(pages: list[dict], codec: str = "flate") -> bytes:
    """Image-only PDF whose page images are *genuine rasters* — 8-bit
    ``/DeviceGray`` samples of the word grid printed with the 5×7 bitmap
    font (``core/rasterfont``), not the FAKERAST container.  Recognition
    must therefore run real pixel OCR (projection segmentation + template
    classification), the closest sandbox analog of the reference's
    pdf.js-render → tesseract pipeline (``extractor.ts:12-37`` →
    ``ocr.ts:50-110``).

    The document structure is deliberately *foreign* to this repo's other
    writers — shapes in-the-wild scanners emit that the fixture writers
    don't, so the parser is exercised off its own round-trip path:

    * one shared ``/MediaBox`` INHERITED from the Pages node (pages carry
      none; every page raster is rendered at that one size),
    * ``/Contents`` is an indirect reference to an ARRAY of two content
      streams (the ``q cm`` prefix and ``/Px Do Q`` are split),
    * per-page image names (``/Px0``, ``/Px1``, …),
    * bodies are emitted in reverse object order (the xref, not layout
      order, maps ids to offsets).

    Page dicts are ``{"width", "height", "words": [(text, x0, y0, x1,
    y1)]}`` like :func:`build_scanned_pdf`; the shared MediaBox is the
    per-axis max so every page's ink fits.  Raises ``ValueError`` (from
    the renderer) on characters outside the 5×7 font.

    ``codec`` picks the raster container: ``"flate"`` embeds raw
    DeviceGray samples behind FlateDecode; ``"jpeg"`` embeds a baseline
    JPEG (``core/jpegcodec``, quality 100 — quantizers all 1, pixel error
    ≤ 2, far inside the recognizer's 128-ink-threshold margin) behind
    **DCTDecode**, the raster format real scanners actually emit;
    ``"jpegprog"`` the progressive (SOF2) variant of the same;
    ``"ccitt"`` embeds a 1-bit Group 4 bitmap (``core/ccittcodec``,
    lossless threshold at 128) behind **CCITTFaxDecode** with real
    ``/DecodeParms`` (``/K -1 /Columns /Rows``), the dominant
    black-and-white fax/TIFF-style scan encoding; ``"jbig2"`` embeds a
    1-bit embedded-format JBIG2 stream (``core/jbig2codec``: page info +
    MQ-coded immediate lossless generic region, also lossless at the
    128 threshold) behind **JBIG2Decode**, the modern scanner/optimizer
    codec; ``"jbig2sym"`` embeds the same page in JBIG2's
    DICTIONARY-CODED arrangement (connected components → symbol
    dictionary → text region — what real scanner JBIG2 output
    predominantly is; ``"jbig2huff"`` the Huffman-coded arrangement
    with standard Annex-B tables and ``"jbig2huffct"`` the same with a
    type-53 CUSTOM DW table); ``"jpx"`` embeds a bilevel lossless JPEG
    2000
    (``core/jpxcodec``: JP2 wrapper, 5/3 reversible wavelet, EBCOT)
    behind **JPXDecode**, the archive/ebook scanner format, and
    ``"jpxcolor"`` the tinted 3-component RCT form of the same (test
    tiers use small pages; full-component color JP2 coding is ~1 s per
    letter-size page); ``"gray1"``
    embeds raw packed 1-bit rows behind
    plain FlateDecode (simple B/W scans with no image codec at all) —
    so the OCR tier exercises every raster decode path end to end.

    Degraded-scan tiers (the reference's tesseract reads these for free,
    ``ocr.ts:50-110``; here the robust recognizer must): ``"jpeglossy"``
    embeds a quality-60 baseline JPEG — decode error is genuinely
    nonzero, so recognition exercises the adaptive threshold and
    nearest-template correlation; ``"noisy"`` embeds raw DeviceGray with
    deterministic salt + pepper noise and per-line ±1-px position
    jitter.  Color tiers: ``"rgb"`` embeds raw tinted ``/DeviceRGB``
    samples behind FlateDecode and ``"jpegcolor"`` the same tint as an
    interleaved 3-component YCbCr JPEG — OCR must go through the
    ITU-R BT.601 luma path.
    """
    if codec not in ("flate", "jpeg", "jpegprog", "jpeglossy", "jpegcolor",
                     "ccitt", "g3", "g3mixed", "jbig2", "jbig2sym",
                     "jbig2huff", "jbig2huffct", "jpx", "jpxprec",
                     "jpxcolor", "gray1", "rgb", "noisy"):
        raise ValueError(f"unknown raster codec {codec!r}")
    # here, not at module top: they load every codec decoder, which no
    # other builder needs
    from .bilevel import (
        encode_g3,
        encode_g4,
        encode_jbig2_embedded,
        encode_jbig2_symbol_embedded,
        encode_jbig2_symbol_huffman_embedded,
    )
    from .raster import (
        encode_jp2_gray,
        encode_jp2_rgb,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb,
        render_words_gray,
    )

    n_pages = len(pages)
    w = max((float(p.get("width") or 612.0) for p in pages), default=612.0)
    h = max((float(p.get("height") or 792.0) for p in pages), default=792.0)
    # 1=catalog, 2=pages; per page i: page, contents-array, stream a,
    # stream b, image (5 objects)
    first = 3
    kids = " ".join(f"{first + 5 * i} 0 R" for i in range(n_pages))
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} "
         f"/MediaBox [0 0 {_fmt(w)} {_fmt(h)}] >>").encode(),
    ]
    for i, page in enumerate(pages):
        words = page.get("words") or []
        if codec == "noisy":
            words = _jitter_words(words, i)
        samples = render_words_gray(int(w), int(h), words)
        if codec == "noisy":
            samples = _noisify_gray(samples, int(w), int(h))
        gray = np.frombuffer(samples, dtype=np.uint8).reshape(int(h), int(w))
        ink = gray < 128
        extra = ""
        bpc = 8
        cs = "DeviceGray"
        if codec in ("jpeg", "jpegprog", "jpeglossy"):
            enc = (encode_jpeg_gray_progressive if codec == "jpegprog"
                   else encode_jpeg_gray)
            img = enc(gray, quality=60 if codec == "jpeglossy" else 100)
            filter_name = "DCTDecode"
        elif codec in ("rgb", "jpegcolor"):
            rgb = _tint_rgb(gray)
            cs = "DeviceRGB"
            if codec == "rgb":
                img = zlib.compress(rgb.tobytes())
                filter_name = "FlateDecode"
            else:
                img = encode_jpeg_rgb(rgb, quality=100, subsample=False)
                filter_name = "DCTDecode"
        elif codec in ("jbig2", "jbig2sym", "jbig2huff", "jbig2huffct"):
            if codec == "jbig2sym":
                img = encode_jbig2_symbol_embedded(ink)
            elif codec == "jbig2huff":
                img = encode_jbig2_symbol_huffman_embedded(ink)
            elif codec == "jbig2huffct":
                # huffman arrangement with a type-53 CUSTOM DW table
                img = encode_jbig2_symbol_huffman_embedded(
                    ink, custom_dw_table=True)
            else:
                img = encode_jbig2_embedded(ink)
            filter_name = "JBIG2Decode"
            bpc = 1
        elif codec in ("ccitt", "g3", "g3mixed"):
            if codec == "ccitt":
                img, kparm = encode_g4(ink), -1
            elif codec == "g3":
                img, kparm = encode_g3(ink, k=0), 0
            else:
                img, kparm = encode_g3(ink, k=4), 4
            filter_name = "CCITTFaxDecode"
            extra = (f" /DecodeParms << /K {kparm} /Columns {int(w)} "
                     f"/Rows {int(h)} >>")
            bpc = 1
        elif codec == "jpxcolor":
            # 3-component color JP2 through the reversible color
            # transform (RCT) — the decoder hands the recognizer BT.601
            # luma, same as the DCT color path
            img = encode_jp2_rgb(_tint_rgb(gray), levels=1)
            filter_name = "JPXDecode"
        elif codec in ("jpx", "jpxprec"):
            # bilevel JP2 (1-bit component, one 5/3 level): the lossless
            # JPEG 2000 form whose T1 pass count stays codec-cheap; the
            # bpc=1 re-quantizer thresholds at 128, and the decoder
            # scales back to 0/255 gray for the recognizer.  "jpxprec"
            # adds custom 32x32 precincts (per-precinct tag trees and
            # packets — the random-access layout archive encoders emit)
            img = encode_jp2_gray(
                gray, bpc=1, levels=1,
                precincts=[(5, 5), (5, 5)] if codec == "jpxprec" else None)
            filter_name = "JPXDecode"
        elif codec == "gray1":  # packed 1-bit rows, 1 = white
            img = zlib.compress(np.packbits(~ink, axis=1).tobytes())
            filter_name = "FlateDecode"
            bpc = 1
        else:
            img = zlib.compress(samples)
            filter_name = "FlateDecode"
        o = first + 5 * i
        part_a = f"q {_fmt(w)} 0 0 {_fmt(h)} 0 0 cm".encode("latin-1")
        part_b = f"/Px{i} Do Q".encode("latin-1")
        objects.append(
            (f"<< /Type /Page /Parent 2 0 R /Resources << /XObject "
             f"<< /Px{i} {o + 4} 0 R >> >> /Contents {o + 1} 0 R >>"
             ).encode())
        objects.append(f"[{o + 2} 0 R {o + 3} 0 R]".encode())
        for part in (part_a, part_b):
            objects.append(b"<< /Length " + str(len(part)).encode()
                           + b" >>\nstream\n" + part + b"\nendstream")
        objects.append(
            (f"<< /Type /XObject /Subtype /Image /Width {int(w)} "
             f"/Height {int(h)} /ColorSpace /{cs} "
             f"/BitsPerComponent {bpc} "
             f"/Filter /{filter_name}{extra} /Length {len(img)} "
             f">>\nstream\n").encode() + img + b"\nendstream")
    return _assemble_objects(objects, reverse=True)


# --------------------------------------------------------------------------
# Embedded TrueType with no /ToUnicode (``core/sfnt`` recovery tier)
# --------------------------------------------------------------------------

def build_truetype_pdf(pages: list[dict], variant: str = "cid") -> bytes:
    """Genuine PDF whose text layer uses a SUBSETTED EMBEDDED TRUETYPE
    font with **no /ToUnicode CMap** — the print-driver shape where the
    only record of glyph meaning is the font program's ``cmap``/``post``
    tables (the reference reads these through pdf.js,
    ``extractor.ts:62-103``; here ``core/sfnt`` + ``pdfreal``'s recovery
    tier must).  Codes are deliberately scrambled relative to Unicode so
    a Latin-1 byte fallback provably CANNOT reproduce the text:

    * ``variant="cid"``: Type0 / Identity-H / CIDFontType2, /CIDToGIDMap
      /Identity, FontFile2 carrying a (3,1) format-4 Unicode cmap; CIDs
      are dense gids (1, 2, 3, …) in alphabet order.
    * ``variant="symbolic"``: simple /TrueType with NO /Encoding, Flags
      bit 3 (symbolic), FontFile2 carrying only a (3,0) Symbol cmap
      (0xF000+code) and post 2.0 glyph names; codes start at 0x21.

    Page dicts are ``{"width", "height", "spans": [(raw,x0,y0,x1,y1)]}``
    like :func:`build_searchable_pdf` (spans already in page points).
    """
    if variant not in ("cid", "cidstream", "symbolic"):
        raise ValueError(f"unknown truetype fixture variant {variant!r}")
    alphabet = sorted({ch for page in pages
                       for raw, *_ in (page.get("spans") or [])
                       for ch in raw})
    char_to_gid = {ch: i + 1 for i, ch in enumerate(alphabet)}

    def _char_w(ch: str) -> int:
        code = ord(ch)
        w = HELVETICA_WIDTHS[code] if code < 256 else 0
        return w or FALLBACK_UNITS

    if variant in ("cid", "cidstream"):
        font = build_minimal_truetype(char_to_gid, unicode_cmap=True)
        # cidstream: CID = gid + 5 through an explicit /CIDToGIDMap
        # stream (2 bytes big-endian per CID) — the non-identity shape
        cid_shift = 5 if variant == "cidstream" else 0

        def encode_word(raw: str) -> str:
            return "<" + "".join(f"{char_to_gid[ch] + cid_shift:04X}"
                                 for ch in raw) + ">"
    else:
        # scrambled 1-byte codes; the font's (3,0) cmap wraps them as
        # 0xF000+code per ISO 32000 9.6.6.4
        char_to_code = {ch: 0x21 + i for i, ch in enumerate(alphabet)}
        if alphabet and 0x21 + len(alphabet) > 0x100:
            raise ValueError("symbolic fixture alphabet too large")
        # symbolic cmap keyed by the SCRAMBLED code bytes; post 2.0
        # names the REAL characters — glyph meaning lives only there
        font = build_minimal_truetype(
            char_to_gid, symbolic=True, unicode_cmap=False,
            post_names=True,
            symbolic_codes={char_to_code[ch]: gid
                            for ch, gid in char_to_gid.items()})

        def encode_word(raw: str) -> str:
            return f"({_escape_bytes(bytes(char_to_code[ch] for ch in raw))})"

    def font_file(descriptor: int) -> list[bytes]:
        return [
            (b"<< /Type /FontDescriptor /FontName /SUBSET+Fix /Flags 4 "
             b"/ItalicAngle 0 /Ascent 800 /Descent -200 /CapHeight 700 "
             b"/StemV 80 /FontBBox [0 -200 1000 800] /FontFile2 %d 0 R >>"
             % (descriptor + 1)),
            (b"<< /Length " + str(len(font)).encode() + b" /Length1 "
             + str(len(font)).encode() + b" >>\nstream\n" + font
             + b"\nendstream"),
        ]

    # 1=catalog 2=pages 3=font [4=descendant 5=fontdescr 6=fontfile
    # (7=cid2gid stream)] then per page: page, content
    if variant in ("cid", "cidstream"):
        c2g_entry = b"/Identity"
        extra_objs: list[bytes] = []
        if variant == "cidstream":
            c2g_entry = b"7 0 R"
            max_cid = max(char_to_gid.values(), default=0) + cid_shift
            raw = bytearray(2 * (max_cid + 1))
            for gid in char_to_gid.values():
                raw[2 * (gid + cid_shift)] = gid >> 8
                raw[2 * (gid + cid_shift) + 1] = gid & 0xFF
            extra_objs.append(
                b"<< /Length " + str(len(raw)).encode()
                + b" >>\nstream\n" + bytes(raw) + b"\nendstream")
        font_objs = [
            (b"<< /Type /Font /Subtype /Type0 /BaseFont /SUBSET+Fix "
             b"/Encoding /Identity-H /DescendantFonts [4 0 R] >>"),
            (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont "
             b"/SUBSET+Fix /CIDSystemInfo << /Registry (Adobe) "
             b"/Ordering (Identity) /Supplement 0 >> /FontDescriptor "
             b"5 0 R /DW 600 /CIDToGIDMap " + c2g_entry + b" /W ["
             + " ".join(f"{gid + cid_shift} [{_char_w(ch)}]"
                        for ch, gid in char_to_gid.items()).encode()
             + b"] >>"),
            *font_file(5),
            *extra_objs,
        ]
    else:
        lo = 0x21
        hi = 0x20 + len(alphabet) if alphabet else 0x21
        code_to_char = {0x21 + i: ch for i, ch in enumerate(alphabet)}
        widths = " ".join(
            str(_char_w(code_to_char[c])) if c in code_to_char else "600"
            for c in range(lo, hi + 1))
        font_objs = [
            (f"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Fix "
             f"/FirstChar {lo} /LastChar {hi} /Widths [{widths}] "
             f"/FontDescriptor 4 0 R >>").encode(),
            *font_file(4),
        ]
    return _text_pdf(pages, font_objs, show=encode_word)


def _checksum(data: bytes) -> int:
    if len(data) % 4:
        data += b"\x00" * (4 - len(data) % 4)
    return sum(struct.unpack(f">{len(data) // 4}I", data)) & 0xFFFFFFFF


def _encode_cmap_format4(code_to_gid: dict[int, int]) -> bytes:
    # one segment per code + the required terminal segment; idDelta
    # arithmetic, no glyphIdArray (idRangeOffset 0 everywhere)
    codes = sorted(code_to_gid)
    segs = [(c, c, (code_to_gid[c] - c) & 0xFFFF) for c in codes]
    segs.append((0xFFFF, 0xFFFF, 1))
    seg = len(segs)
    floor_pow = 1 << int(math.log2(seg))
    body = struct.pack(">HHHHHHH", 4, 16 + 8 * seg, 0, seg * 2,
                       floor_pow * 2, int(math.log2(floor_pow)),
                       seg * 2 - floor_pow * 2)
    body += b"".join(struct.pack(">H", e) for _s, e, _d in segs)
    body += b"\x00\x00"  # reservedPad
    body += b"".join(struct.pack(">H", s) for s, _e, _d in segs)
    body += b"".join(struct.pack(">h", d - 0x10000 if d > 0x7FFF else d)
                     for _s, _e, d in segs)
    body += b"\x00\x00" * seg  # idRangeOffset
    return body


def _encode_post2(gid_names: dict[int, str], num_glyphs: int) -> bytes:
    header = struct.pack(">IiHHIIIII", 0x00020000, 0, 0, 0, 0, 0, 0, 0, 0)
    idx = []
    names: list[bytes] = []
    for gid in range(num_glyphs):
        name = gid_names.get(gid)
        if name is None:
            idx.append(0)  # .notdef
        elif name in _MAC_GLYPH_NAMES:
            idx.append(_MAC_GLYPH_NAMES.index(name))
        else:
            idx.append(258 + len(names))
            names.append(name.encode("latin-1"))
    body = header + struct.pack(">H", num_glyphs)
    body += b"".join(struct.pack(">H", i) for i in idx)
    body += b"".join(bytes([len(n)]) + n for n in names)
    return body


def build_minimal_truetype(char_to_gid: dict[str, int],
                           *, symbolic: bool = False,
                           unicode_cmap: bool = True,
                           post_names: bool = False,
                           symbolic_codes: dict[int, int] | None = None,
                           ) -> bytes:
    """A minimal, structurally valid TrueType program for fixtures.

    ``char_to_gid`` assigns glyph ids (>= 1) to characters.  With
    ``unicode_cmap`` the font carries a (3,1) format-4 Unicode subtable;
    with ``symbolic`` a (3,0) Symbol subtable mapping 0xF000+byte →
    gid (the print-driver pattern); with ``post_names`` a post 2.0
    table naming every glyph (AGL names for ASCII).  Tables: head,
    maxp, cmap, post — enough for any sfnt reader that walks the
    directory."""
    num_glyphs = max(char_to_gid.values(), default=0) + 1
    sub_recs: list[tuple[int, int, bytes]] = []
    if unicode_cmap:
        sub_recs.append((3, 1, _encode_cmap_format4(
            {ord(ch): gid for ch, gid in char_to_gid.items()})))
    if symbolic:
        # ``symbolic_codes`` decouples the FONT code bytes from the
        # characters (a real subsetter's arbitrary assignment); default
        # is the character's own low byte
        sym = symbolic_codes if symbolic_codes is not None else {
            ord(ch) & 0xFF: gid for ch, gid in char_to_gid.items()}
        sub_recs.append((3, 0, _encode_cmap_format4(
            {0xF000 + code: gid for code, gid in sym.items()})))
    header = struct.pack(">HH", 0, len(sub_recs))
    offset = 4 + 8 * len(sub_recs)
    recs, bodies = b"", b""
    for plat, enc, body in sub_recs:
        recs += struct.pack(">HHI", plat, enc, offset)
        bodies += body
        offset += len(body)
    cmap = header + recs + bodies

    if post_names:
        gid_names = {gid: _AGL_NAME.get(ch, f"uni{ord(ch):04X}")
                     for ch, gid in char_to_gid.items()}
        post = _encode_post2(gid_names, num_glyphs)
    else:
        post = struct.pack(">IiHHIIIII", 0x00030000, 0, 0, 0, 0, 0, 0, 0, 0)

    head = struct.pack(">IIIIHHQQhhhhHHhhh", 0x00010000, 0, 0,
                       0x5F0F3CF5, 0, 1000, 0, 0, 0, 0, 1000, 1000,
                       0, 8, 2, 0, 0)
    maxp = struct.pack(">IH", 0x00010000, num_glyphs) + b"\x00" * 26

    tables = [(b"cmap", cmap), (b"head", head), (b"maxp", maxp),
              (b"post", post)]
    tables.sort(key=lambda t: t[0])
    n = len(tables)
    floor_pow = 1 << int(math.log2(n))
    sfnt = struct.pack(">IHHHH", 0x00010000, n, floor_pow * 16,
                       int(math.log2(floor_pow)), n * 16 - floor_pow * 16)
    offset = 12 + 16 * n
    dir_recs = b""
    body = b""
    for tag, data in tables:
        dir_recs += struct.pack(">4sIII", tag, _checksum(data), offset,
                                len(data))
        pad = (4 - len(data) % 4) % 4
        body += data + b"\x00" * pad
        offset += len(data) + pad
    return sfnt + dir_recs + body


#: minimal AGL names for the fixture alphabet (lowercase + digits —
#: matches the corpus; everything else falls back to uniXXXX)
_AGL_NAME = {
    **{ch: ch for ch in "abcdefghijklmnopqrstuvwxyz"},
    "0": "zero", "1": "one", "2": "two", "3": "three", "4": "four",
    "5": "five", "6": "six", "7": "seven", "8": "eight", "9": "nine",
    " ": "space",
}


# --------------------------------------------------------------------------
# Standard security handler, empty passwords (``core/pdfcrypt``)
# --------------------------------------------------------------------------

def _compute_o(r: int, length_bits: int) -> bytes:
    """Algorithm 3 with empty owner AND user passwords (the common crawl
    case: permissions-only encryption)."""
    n = max(length_bits // 8, 5)
    h = hashlib.md5(_PAD).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    o = rc4(key, _PAD)
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


_OBJ_SPAN_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)


_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)


_LEN_RE = re.compile(rb"/Length\s+(\d+)(?![\s\d]*R)")


def encrypt_pdf(data: bytes, scheme: str = "rc4-128",
                id0: bytes = b"\x01" * 16) -> bytes:
    """Encrypt a classic (non-objstm, literal-``/Length``) PDF — the shape
    this repo's writers emit — with empty user/owner passwords.  Schemes:
    ``rc4-40`` (V1/R2), ``rc4-128`` (V2/R3), ``aes-128`` (V4/R4 AESV2).
    Deterministic: AES IVs derive from the object number, not randomness
    (fixtures must be reproducible)."""
    if scheme == "rc4-40":
        v, r, bits = 1, 2, 40
    elif scheme == "rc4-128":
        v, r, bits = 2, 3, 128
    elif scheme == "aes-128":
        v, r, bits = 4, 4, 128
    elif scheme == "rc4-128-cf":
        # V4 crypt-filter RC4 whose key width is stated ONLY in the crypt
        # filter's /Length (bytes) — no top-level /Length.  Seen in the
        # wild; regression fixture for the CF-Length-preference rule in
        # _StandardDecryptor (a reader that ignores /CF .../Length derives
        # a 40-bit key and refuses a decryptable document).
        v, r, bits = 4, 4, 128
    else:
        raise ValueError(f"unknown scheme {scheme}")
    p = -44  # typical permissions: print allowed, modify/copy denied
    o = _compute_o(r, bits)
    key = _compute_key(o, p, id0, r, bits)
    u = _compute_u(key, id0, r)

    def obj_key(num: int, gen: int) -> bytes:
        buf = (key + num.to_bytes(4, "little")[:3]
               + gen.to_bytes(4, "little")[:2])
        if scheme == "aes-128":
            buf += b"sAlT"
        return hashlib.md5(buf).digest()[:min(len(key) + 5, 16)]

    # 1. encrypt every stream payload in place
    bodies: list[bytes] = []
    last_num = 0

    def enc_obj(m: re.Match) -> bytes:
        nonlocal last_num
        num, gen = int(m.group(1)), int(m.group(2))
        last_num = max(last_num, num)
        body = m.group(3)
        sm = _STREAM_RE.search(body)
        if sm is None:
            return m.group(0)
        payload = sm.group(1)
        k = obj_key(num, gen)
        if scheme == "aes-128":
            iv = hashlib.md5(b"iv" + num.to_bytes(4, "big")).digest()
            enc = aes_cbc_encrypt(k, iv, payload)
        else:
            enc = rc4(k, payload)
        body = (body[:sm.start()] + b"stream\n" + enc + b"\nendstream"
                + body[sm.end():])
        body = _LEN_RE.sub(b"/Length " + str(len(enc)).encode(), body, 1)
        return b"%d %d obj" % (num, gen) + body + b"endobj"

    head_end = data.find(b"%PDF-")
    out = _OBJ_SPAN_RE.sub(enc_obj, data[head_end:])

    # 2. append the /Encrypt object and rebuild trailer + xref
    enc_num = last_num + 1
    if scheme == "aes-128":
        cf = (b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
              b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF")
    elif scheme == "rc4-128-cf":
        cf = (b" /CF << /StdCF << /CFM /V2 /AuthEvent /DocOpen "
              b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF")
    else:
        cf = b""
    # rc4-128-cf deliberately omits the top-level /Length: the key width
    # travels only in the crypt filter dict (the case the decryptor's
    # CF-Length-preference rule exists for)
    length_part = (b"" if scheme == "rc4-128-cf"
                   else b" /Length %d" % bits)
    enc_obj_body = (
        b"<< /Filter /Standard /V %d /R %d%s /P %d /O <%s> "
        b"/U <%s>%s >>"
        % (v, r, length_part, p, o.hex().encode(), u[:32].hex().encode(),
           cf))
    # strip the old xref/trailer, keep objects — match the xref SECTION
    # keyword at line start, not the 'xref' inside 'startxref' (which
    # would leave the old cleartext trailer + a dangling 'start' behind)
    m_x = None
    for m_x in re.finditer(rb"(?:^|[\r\n])xref\b", out):
        pass
    objs_part = out[:m_x.start()] if m_x is not None else out
    buf = bytearray(objs_part)
    buf += b"%d 0 obj\n" % enc_num + enc_obj_body + b"\nendobj\n"
    # xref rebuilt from scratch (object scan — robust to input layout)
    offsets: dict[int, int] = {}
    for m in _OBJ_SPAN_RE.finditer(bytes(buf)):
        offsets[int(m.group(1))] = m.start()
    xref_at = len(buf)
    max_num = max(offsets)
    buf += b"xref\n0 %d\n" % (max_num + 1)
    buf += b"0000000000 65535 f \n"
    for i in range(1, max_num + 1):
        if i in offsets:
            buf += b"%010d 00000 n \n" % offsets[i]
        else:
            buf += b"0000000000 65535 f \n"
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
            b"/ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF"
            % (max_num + 1, enc_num, id0.hex().encode(), id0.hex().encode(),
               xref_at))
    return bytes(buf)
