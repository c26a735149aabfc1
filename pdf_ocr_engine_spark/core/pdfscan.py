"""Scanned/image-only PDF tier — the FAKERAST page-raster decoder.

Converting scanned documents is the reference's entire purpose
(``/root/reference/README.md:13-29``): rasterize each page
(``src/lib/ocr/extractor.ts:12-37``, pdf.js canvas → PNG) and run a
recognizer over the pixels (``src/lib/ocr/ocr.ts:50-110``, tesseract.js
→ words + bounding boxes).  Neither a rasterizer (pdfium) nor an OCR
model ships in this sandbox, so this module supplies the SURVEY §7.0
deterministic substitute with the *Spark-side plumbing kept fully real*:

* ``FAKERAST`` — a page-raster container standing in for PNG pixels: a
  struct-packed header (page size, word count) plus per-word records
  (box + UTF-8 text).  ``encoders.pdf.encode_page_raster`` is the
  stand-in for "render page to pixels"; ``decode_page_raster`` is what
  the deterministic recognizer reads — a real OCR model replaces exactly
  that one call (see ``operators/ocr.py`` init point) with no plan,
  schema, or partitioning change.
* ``encoders.pdf.build_scanned_pdf`` — a *genuine* PDF whose pages carry
  no text operators, only an embedded image XObject (Flate raster
  painted by ``cm /Im0 Do``).  ``parse_real_pdf`` reports
  ``has_text=False`` for every page (the F6 routing predicate) and
  records the painted image in the page's ``images``, which recovers the
  exact raster bytes (``extract_page_images`` lists them) — so the
  writer and the image-extraction path oracle each other the same way
  ``pdfwrite`` ⊣ ``pdfreal`` do for the text layer.
"""

from __future__ import annotations

import struct

__all__ = [
    "RASTER_MAGIC",
    "decode_page_raster",
]

#: magic of the deterministic page-raster container (the "pixels").
RASTER_MAGIC = b"FAKERAST"


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
