"""Searchable-PDF assembly — a real, minimal PDF 1.4 writer (stdlib only).

Reproduces the reference's final artifact (``src/lib/ocr/builder.ts:124-264``):
a PDF whose pages carry an **invisible text layer** positioned at each word's
box, so the document becomes selectable/searchable.  The reference draws with
pdf-lib at ``opacity: 0``; standard PDF expresses invisibility directly with
text rendering mode 3 (``3 Tr`` — neither fill nor stroke), which is what
``pdftotext``-class extractors read back.

Per-word placement mirrors ``builder.ts:155-193`` exactly:

* C1 scales ``sx = page_w/img_w``, ``sy = page_h/img_h``;
* C2 y-flip + 20% baseline offset ``y = page_h - y1*sy + 0.2*word_h``;
* C3 font fit ``fitted = min(word_w/width_at_12 * 12, 0.9*word_h)``; draw
  only if the *unclamped* ``fitted > 1`` and text non-blank (F9,
  builder.ts:189), and then render at ``max(fitted, 4)`` (builder.ts:193)
  — gate first, clamp after, the reference's order.

Font is base-14 Helvetica (no embedding — same choice as the reference's
``StandardFonts.Helvetica``), with the same consequence: only Latin-1
renderable text participates; other bytes are octal-escaped through.  The
width metric is the real Helvetica AFM advance table
(``functions/afm.py``; ``functions/geometry.helvetica_width_at_12`` is the
column-expr twin), matching ``font.widthOfTextAtSize`` (builder.ts:171).

Output bytes are fully deterministic for identical input (fixed object
order, fixed float formatting, hand-built xref with exact offsets).
"""

from __future__ import annotations

from ..functions.afm import text_width_at

__all__ = ["build_searchable_pdf", "DEFAULT_PAGE"]

DEFAULT_PAGE = (612.0, 792.0)  # builder.ts:214-215 default Letter


def _fmt(v: float) -> str:
    """Deterministic short float formatting for content streams."""
    s = f"{v:.4f}".rstrip("0").rstrip(".")
    return s if s else "0"


def _escape_text(raw: str) -> str:
    """PDF literal-string escaping; non-Latin-1 text falls back to UTF-8
    octal escapes (searchable in a Latin-1 sense only — see module
    docstring).  The fallback must be strict-or-utf8: ``errors='ignore'``
    would silently drop the non-Latin-1 chars from MIXED text."""
    try:
        return _escape_bytes(raw.encode("latin-1"))
    except UnicodeEncodeError:
        return _escape_bytes(raw.encode("utf-8"))


def _escape_bytes(encoded: bytes) -> str:
    """Literal-string body for ``encoded``: ``( ) \\`` escaped, printable
    ASCII as is, every other byte as an octal escape."""
    out = []
    for b in encoded:
        if b in (0x28, 0x29, 0x5C):  # ( ) backslash
            out.append("\\" + chr(b))
        elif 32 <= b < 127:
            out.append(chr(b))
        else:
            out.append(f"\\{b:03o}")
    return "".join(out)


def _page_content(spans, page_w: float, page_h: float,
                  img_w: float | None, img_h: float | None,
                  font_res: str = "F1", show=None) -> bytes:
    """Content stream for one page: invisible text ops per drawable span.

    ``spans``: iterable of ``(raw, x0, y0, x1, y1)`` in image coords
    (top-left origin), exactly what the layout kernel emits.  ``show``
    maps a word to its show-string operand (default: an escaped literal
    string; the TrueType fixtures pass hex CIDs or scrambled codes).
    """
    sx = page_w / img_w if img_w else 1.0          # builder.ts:155
    sy = page_h / img_h if img_h else 1.0          # builder.ts:156
    ops = ["BT", "3 Tr"]
    for raw, x0, y0, x1, y1 in spans:
        word_w = (x1 - x0) * sx
        word_h = (y1 - y0) * sy
        width_at_12 = text_width_at(raw, 12.0)     # builder.ts:171 (AFM)
        # F9 draw-eligibility (builder.ts:173-181)
        if width_at_12 <= 0 or word_w <= 0 or word_h <= 0:
            continue
        x = x0 * sx                                # builder.ts:164
        y = page_h - (y1 * sy) + word_h * 0.2      # builder.ts:165-168 (C2)
        if not (x == x and y == y):                # NaN guard
            continue
        fitted = min((word_w / width_at_12) * 12.0, word_h * 0.9)
        if fitted <= 1 or not raw.strip():         # builder.ts:189 (unclamped)
            continue
        font_size = max(fitted, 4.0)               # builder.ts:193 render floor
        ops.append(f"/{font_res} {_fmt(font_size)} Tf")
        ops.append(f"1 0 0 1 {_fmt(x)} {_fmt(y)} Tm")
        ops.append((show(raw) if show else f"({_escape_text(raw)})")
                   + " Tj")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def build_searchable_pdf(pages: list[dict]) -> bytes:
    """Assemble the searchable PDF.

    Each page dict: ``{"width", "height", "spans": [(raw,x0,y0,x1,y1)],
    "img_width", "img_height"}`` (image dims optional — omit when spans are
    already in page points).  Returns the complete PDF bytes.
    """
    return _text_pdf(
        pages, [b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"])


def _text_pdf(pages: list[dict], font_objs: list[bytes], show=None) -> bytes:
    """Invisible-text PDF: catalog, page tree, ``font_objs`` (object 3 is
    every page's ``/F1``), then per page its page object and content
    stream (:func:`_page_content` with ``show``)."""
    n_pages = len(pages)
    first_page_obj = 3 + len(font_objs)  # then page,content pairs
    kids = " ".join(f"{first_page_obj + 2 * i} 0 R" for i in range(n_pages))
    objects = [  # 1-indexed bodies, object i = objects[i-1]
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        *font_objs,
    ]
    for i, page in enumerate(pages):
        w = float(page.get("width") or DEFAULT_PAGE[0])
        h = float(page.get("height") or DEFAULT_PAGE[1])
        content = _page_content(page.get("spans") or [], w, h,
                                page.get("img_width"), page.get("img_height"),
                                show=show)
        page_obj = first_page_obj + 2 * i
        objects.append(
            (f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {_fmt(w)} "
             f"{_fmt(h)}] /Resources << /Font << /F1 3 0 R >> >> "
             f"/Contents {page_obj + 1} 0 R >>").encode())
        objects.append(b"<< /Length " + str(len(content)).encode()
                       + b" >>\nstream\n" + content + b"\nendstream")

    return _assemble_objects(objects)


def _assemble_objects(objects: list[bytes], reverse: bool = False) -> bytes:
    """1-indexed object bodies → complete PDF bytes (header, bodies in
    object order or with ``reverse`` in reverse order, hand-built xref
    with exact offsets, trailer) — the one serialization tail shared by
    every object-numbered PDF writer, fixture builders included."""
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0] * (len(objects) + 1)
    ids = range(1, len(objects) + 1)
    for i in reversed(ids) if reverse else ids:
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

