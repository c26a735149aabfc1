"""Deterministic PDF word-box container codec.

The pipeline input is Common-Crawl-style rows with an opaque ``html: binary``
payload (BASELINE.json ``input_hint``).  Rows whose payload passes the PDF
magic-byte sniff (``%PDF-`` — reference ``src/app/api/convert/route.ts:9-12``)
carry a *deterministic word-box record* per page: the decoded equivalent of
the reference's Tesseract block tree after the 4-level flatten
(``src/lib/ocr/ocr.ts:5-39``).  Real OCR (Tesseract) is a nondeterministic
native dependency that a byte-identity contract cannot tolerate; everything
from the flattened word list onward — the reference's actual algorithmic
contribution — is reproduced exactly (see ``core/layout.py``).

**WBOX2 (binary)** — the scale format.  Little-endian, decoded with
``numpy.frombuffer`` into coordinate arrays with near-zero per-word
allocation (at 32 cores on one socket, allocation-heavy decode stops
scaling long before arithmetic does)::

    %PDF-1.7\\n%WBOX2\\n
    u32 page_count_declared, u32 n_pages
    per page:
      i32 page_no, f64 width, f64 height, u8 has_text, u32 n_words
      u32 text_blob_len, u32[n_words+1] text offsets
      f64[n_words*5] coords row-major (x0,y0,x1,y1,confidence)
      utf-8 text blob
    \\n%%EOF

Any other ``%PDF-`` payload is parsed as a genuine PDF (``core/pdfreal.py``).

``page_count`` is declared independently of ``len(pages)`` so fixtures can
exercise the reference's page-extraction-mismatch invariant
(``src/lib/ocr/index.ts:109-119``).  ``has_text`` drives the OCR-skip
predicate (``index.ts:94-97``).  NaN coordinates are carried natively (f64)
to exercise the validity filter (``builder.ts:25``).
"""

from __future__ import annotations

import struct
from typing import Any

MAGIC = b"%PDF-"
_HEADER = b"%PDF-1.7\n%WBOX2\n"
_FOOTER = b"\n%%EOF"

HTML_MAGICS = (b"<!doctype", b"<html", b"<head", b"<body")


def encode_pdf(
    pages: list[dict[str, Any]],
    page_count: int | None = None,
) -> bytes:
    """Encode page word-box records into the WBOX2 container.

    Each page dict: ``{"page_no", "width", "height", "has_text", "words"}``
    with ``words`` a list of ``(text, x0, y0, x1, y1[, confidence])``.
    """
    import numpy as np

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


#: pdf.js-style header recovery window: crawl PDFs frequently carry leading
#: junk (HTTP garbage, BOM) before %PDF-; tolerate it within the first 1 KiB.
HEADER_SCAN = 1024


def sniff_kind(data: bytes | None) -> str:
    """Batched byte-stream sniff (north_star): classify a payload as
    ``pdf`` / ``html`` / ``other`` from its leading bytes.

    PDF test mirrors ``hasPdfHeader`` (reference ``route.ts:9-12``):
    first five bytes equal ``%PDF-`` — extended with pdf.js's recovery
    tolerance (``%PDF-`` anywhere in the first 1 KiB) for crawl payloads
    with junk prefixes.  HTML magics are tried before the recovery scan so
    an HTML page that merely *mentions* ``%PDF-`` stays HTML.
    """
    if not data:
        return "other"
    if data[:5] == MAGIC:
        return "pdf"
    head = data[:256].lstrip(b" \t\r\n\f").lower()
    if head.startswith(HTML_MAGICS):
        return "html"
    if data.find(MAGIC, 0, HEADER_SCAN) > 0:
        return "pdf"
    return "other"


def decode_pdf_arrays(data: bytes) -> dict[str, Any]:
    """Decode the word-box container into numpy coordinate arrays — the fast
    path the extraction UDF runs.  Returns ``{"page_count": int, "pages":
    [{"page_no", "width", "height", "has_text", "texts": list[str],
    "coords": float64 ndarray (n_words, 5)}]}``.

    ``numpy.frombuffer`` views the payload in place (no per-word object
    allocation), which is what keeps the hot stage arithmetic-bound — and
    therefore core-scalable — instead of allocator-bound.  Raises
    ``ValueError`` on malformed input (mapped to ``status='decode_error'``;
    errors are data, not exceptions — reference ``index.ts:158-164``).
    """
    import numpy as np

    if data[:5] != MAGIC:
        # junk-prefixed genuine PDF (pdf.js recovery semantics): slice the
        # prefix so the header lands at byte 0 before routing below
        off = data.find(MAGIC, 0, HEADER_SCAN)
        if off <= 0:
            raise ValueError("not a PDF payload (missing %PDF- magic)")
        data = data[off:]
    if not data.startswith(_HEADER):
        # Genuine PDF (content streams, not a WBOX container): parse the
        # real text layer (core/pdfreal.py).  Same return shape, plus
        # flavor='real' so extraction reads existing text instead of
        # treating has_text pages as OCR-skips.
        from .pdfreal import is_real_pdf, parse_real_pdf
        if not is_real_pdf(data):
            raise ValueError(
                "unsupported PDF flavor (neither WBOX nor indirect objects)")
        try:
            return parse_real_pdf(data)
        except ValueError:
            raise
        except Exception as exc:  # noqa: BLE001 - becomes decode_error status
            raise ValueError(f"corrupt PDF: {exc}") from exc
    body = memoryview(data)[len(_HEADER):]
    if len(body) >= len(_FOOTER) and bytes(body[-len(_FOOTER):]) == _FOOTER:
        body = body[:-len(_FOOTER)]
    try:
        pos = 0
        page_count, n_pages = struct.unpack_from("<II", body, pos)
        pos += 8
        pages = []
        for _ in range(n_pages):
            page_no, width, height, has_text, n = struct.unpack_from(
                "<iddBI", body, pos)
            pos += struct.calcsize("<iddBI")
            (blob_len,) = struct.unpack_from("<I", body, pos)
            pos += 4
            offsets = np.frombuffer(body, dtype="<u4", count=n + 1, offset=pos)
            pos += 4 * (n + 1)
            coords = np.frombuffer(body, dtype="<f8", count=n * 5,
                                   offset=pos).reshape(n, 5)
            pos += 8 * n * 5
            blob = bytes(body[pos:pos + blob_len])
            pos += blob_len
            if len(blob) != blob_len:
                raise ValueError("truncated text blob")
            off = offsets.tolist()
            # Validate offsets against the blob: Python slice clamping would
            # otherwise turn a corrupt offsets array into silently truncated
            # or empty words with status='ok' — errors must stay values.
            if off[0] != 0 or off[-1] != blob_len \
                    or any(a > b for a, b in zip(off, off[1:])):
                raise ValueError(
                    "corrupt word-box record: text offsets out of range")
            texts = [blob[off[i]:off[i + 1]].decode("utf-8") for i in range(n)]
            pages.append({"page_no": page_no, "width": width, "height": height,
                          "has_text": bool(has_text), "texts": texts,
                          "coords": coords})
        return {"page_count": page_count, "pages": pages}
    except ValueError:
        raise
    except Exception as exc:  # noqa: BLE001 - becomes a status column
        raise ValueError(f"corrupt word-box record: {exc}") from exc


def decode_pdf(data: bytes) -> dict[str, Any]:
    """Decode the word-box container into the list-of-word-lists shape
    (compat surface for tests and the reference-port layout oracle).  The
    pipeline's hot path uses :func:`decode_pdf_arrays` instead."""
    doc = decode_pdf_arrays(data)
    for p in doc["pages"]:
        coords = p.pop("coords")
        texts = p.pop("texts")
        p["words"] = [[t, *coords[i].tolist()] for i, t in enumerate(texts)]
    return doc
