"""Scanned/image-only PDF tier — deterministic raster codec + fixture writer.

Converting scanned documents is the reference's entire purpose
(``/root/reference/README.md:13-29``): rasterize each page
(``src/lib/ocr/extractor.ts:12-37``, pdf.js canvas → PNG) and run a
recognizer over the pixels (``src/lib/ocr/ocr.ts:50-110``, tesseract.js
→ words + bounding boxes).  Neither a rasterizer (pdfium) nor an OCR
model ships in this sandbox, so this module supplies the SURVEY §7.0
deterministic substitute with the *Spark-side plumbing kept fully real*:

* ``FAKERAST`` — a page-raster container standing in for PNG pixels: a
  struct-packed header (page size, word count) plus per-word records
  (box + UTF-8 text).  ``encode_page_raster`` is the stand-in for
  "render page to pixels"; ``decode_page_raster`` is what the
  deterministic recognizer reads — a real OCR model replaces exactly
  that one call (see ``operators/ocr.py`` init point) with no plan,
  schema, or partitioning change.
* ``build_scanned_pdf`` — a *genuine* PDF whose pages contain no text
  operators, only an embedded image XObject (FlateDecode-compressed
  raster painted by ``cm /Im0 Do``).  ``parse_real_pdf`` reports
  ``has_text=False`` for every page (the F6 routing predicate) and
  records the painted image in the page's ``images``, which recovers the
  exact raster bytes (``extract_page_images`` lists them) — so the
  writer and the image-extraction path oracle each other the same way
  ``pdfwrite`` ⊣ ``pdfreal`` do for the text layer.
"""

from __future__ import annotations

import struct
import zlib

__all__ = [
    "RASTER_MAGIC",
    "build_pixel_scanned_pdf",
    "build_scanned_pdf",
    "decode_page_raster",
    "encode_page_raster",
]

#: magic of the deterministic page-raster container (the "pixels").
RASTER_MAGIC = b"FAKERAST"


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


def decode_page_raster(data: bytes,
                       ) -> tuple[float, float,
                                  list[tuple[str, float, float, float, float]]]:
    """Raster bytes → ``(width, height, words)`` — the deterministic
    recognizer's core.  Raises ``ValueError`` on anything that is not a
    well-formed FAKERAST payload (mapped to a status value upstream; a real
    model would instead fail on undecodable pixels)."""
    if data[:8] != RASTER_MAGIC:
        raise ValueError("not a FAKERAST page raster")
    try:
        width, height, n = struct.unpack_from("<ddI", data, 8)
        pos = 8 + struct.calcsize("<ddI")
        words = []
        for _ in range(n):
            x0, y0, x1, y1, ln = struct.unpack_from("<ddddI", data, pos)
            pos += struct.calcsize("<ddddI")
            text = data[pos:pos + ln].decode("utf-8")
            if len(text.encode("utf-8")) != ln:
                raise ValueError("truncated word text")
            pos += ln
            words.append((text, x0, y0, x1, y1))
        return width, height, words
    except (struct.error, UnicodeDecodeError) as exc:
        raise ValueError(f"corrupt page raster: {exc}") from exc


def _fmt(v: float) -> str:
    s = f"{v:.4f}".rstrip("0").rstrip(".")
    return s if s else "0"


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

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objects) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF").encode()
    return bytes(buf)


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
    import numpy as np

    from .rasterfont import GLYPH_H, _neighbor_count

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
    import numpy as np

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
    from .rasterfont import render_words_gray

    if codec not in ("flate", "jpeg", "jpegprog", "jpeglossy", "jpegcolor",
                     "ccitt", "g3", "g3mixed", "jbig2", "jbig2sym",
                     "jbig2huff", "jbig2huffct", "jpx", "jpxprec",
                     "jpxcolor", "gray1", "rgb", "noisy"):
        raise ValueError(f"unknown raster codec {codec!r}")

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
        extra = ""
        bpc = 8
        cs = "DeviceGray"
        if codec in ("jpeg", "jpegprog", "jpeglossy"):
            import numpy as np

            from .jpegcodec import (
                encode_jpeg_gray,
                encode_jpeg_gray_progressive,
            )
            enc = (encode_jpeg_gray_progressive if codec == "jpegprog"
                   else encode_jpeg_gray)
            img = enc(
                np.frombuffer(samples, dtype=np.uint8)
                .reshape(int(h), int(w)),
                quality=60 if codec == "jpeglossy" else 100)
            filter_name = "DCTDecode"
        elif codec in ("rgb", "jpegcolor"):
            import numpy as np

            gray = np.frombuffer(samples, dtype=np.uint8) \
                .reshape(int(h), int(w))
            rgb = _tint_rgb(gray)
            cs = "DeviceRGB"
            if codec == "rgb":
                img = zlib.compress(rgb.tobytes())
                filter_name = "FlateDecode"
            else:
                from .jpegcodec import encode_jpeg_rgb
                img = encode_jpeg_rgb(rgb, quality=100, subsample=False)
                filter_name = "DCTDecode"
        elif codec in ("jbig2", "jbig2sym", "jbig2huff", "jbig2huffct"):
            import numpy as np

            from .jbig2codec import (
                encode_jbig2_embedded,
                encode_jbig2_symbol_embedded,
                encode_jbig2_symbol_huffman_embedded,
            )
            ink = np.frombuffer(samples, dtype=np.uint8) \
                .reshape(int(h), int(w)) < 128
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
            import numpy as np

            from .ccittcodec import encode_g3, encode_g4
            ink = np.frombuffer(samples, dtype=np.uint8) \
                .reshape(int(h), int(w)) < 128
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
            import numpy as np

            from .jpxcodec import encode_jp2_rgb
            # 3-component color JP2 through the reversible color
            # transform (RCT) — the decoder hands the recognizer BT.601
            # luma, same as the DCT color path
            img = encode_jp2_rgb(
                _tint_rgb(np.frombuffer(samples, dtype=np.uint8)
                          .reshape(int(h), int(w))),
                levels=1)
            filter_name = "JPXDecode"
        elif codec in ("jpx", "jpxprec"):
            import numpy as np

            from .jpxcodec import encode_jp2_gray
            # bilevel JP2 (1-bit component, one 5/3 level): the lossless
            # JPEG 2000 form whose T1 pass count stays codec-cheap; the
            # bpc=1 re-quantizer thresholds at 128, and the decoder
            # scales back to 0/255 gray for the recognizer.  "jpxprec"
            # adds custom 32x32 precincts (per-precinct tag trees and
            # packets — the random-access layout archive encoders emit)
            img = encode_jp2_gray(
                np.frombuffer(samples, dtype=np.uint8)
                .reshape(int(h), int(w)),
                bpc=1, levels=1,
                precincts=[(5, 5), (5, 5)] if codec == "jpxprec"
                else None)
            filter_name = "JPXDecode"
        elif codec == "gray1":
            import numpy as np

            bits = (np.frombuffer(samples, dtype=np.uint8)
                    .reshape(int(h), int(w)) >= 128)  # 1 = white
            img = zlib.compress(
                np.packbits(bits, axis=1).tobytes())
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

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0] * (len(objects) + 1)
    for i in range(len(objects), 0, -1):  # reverse layout order
        offsets[i] = len(buf)
        buf += f"{i} 0 obj\n".encode() + objects[i - 1] + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objects) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF").encode()
    return bytes(buf)


def words_to_arrays(words: list[tuple]) -> tuple[list[str], "object"]:
    """Recognizer output → the layout kernel's input shape: ``(texts,
    float64 (n, 5) coords)`` with column 4 = model confidence (95.0 — a
    model-backed value, distinct from the text layer's exact 100.0).
    Shared by the extract OCR path and the preserveImages overlay so the
    two cannot drift."""
    import numpy as np

    coords = np.empty((len(words), 5), dtype="f8")
    texts: list[str] = []
    for j, (txt, x0, y0, x1, y1) in enumerate(words):
        texts.append(txt)
        coords[j, :4] = (x0, y0, x1, y1)
        coords[j, 4] = 95.0
    return texts, coords
