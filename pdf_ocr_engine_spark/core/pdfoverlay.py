"""preserveImages assembly — invisible text layer over the ORIGINAL bytes.

The reference's default assembly mode copies the original pages and lays
invisible recognized text on top (``src/lib/ocr/builder.ts:135-147``
``copyPages`` + per-page text ops; ``route.ts:73-77`` ``preserveImages:
true``), so scanned images, vector art, and annotations survive.
``core/pdfwrite.py`` covers the other mode (``createTextOnlyPdf``,
``builder.ts:206-264``); this module completes U3 with the faithful one —
implemented the PDF-native way, as an **incremental update** (ISO 32000-1
§7.5.6): the original bytes are untouched, updated page objects + new
content/font objects append after ``%%EOF``, and a new xref section chains
to the previous one via ``/Prev``.  Byte-level preservation is therefore
*structural*: every original object survives verbatim at its original
offset.

The update is written from the caller's ``parse_real_pdf`` of the
original, so overlay assembly parses each document once.

Limits (honest, checked): encrypted originals are refused (new streams
would need encrypting with the document key — not wired), and pages
reachable only as inline dicts (no object number) cannot be redefined.
Both raise ``ValueError`` → ``status='overlay_unsupported'`` upstream.
"""

from __future__ import annotations

from .pdfreal import _Doc, _Name, _Ref, _Stream
from .pdfwrite import _fmt, _page_content

__all__ = ["overlay_text_layer"]

#: font resource name for the overlay layer — namespaced to avoid
#: colliding with the original page's own /F* resources (a collision
#: would silently re-font the original content).
FONT_RES = "GFT0"


def _ser(v, doc: _Doc) -> str:
    """Serialize a parsed PDF value back to source form (indirect refs kept
    as refs — the point of an incremental update is NOT to inline the
    original object graph)."""
    if isinstance(v, _Ref):
        return f"{v[0]} {v[1] if len(v) > 1 else 0} R"
    if isinstance(v, _Name):
        out = []
        for ch in str(v):
            o = ord(ch)
            out.append(f"#{o:02X}" if (o < 0x21 or o > 0x7E
                                       or ch in "()<>[]{}/%#") else ch)
        return "/" + "".join(out)
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _fmt(v)
    if isinstance(v, bytes):
        return "<" + v.hex() + ">"
    if isinstance(v, list):
        return "[" + " ".join(_ser(x, doc) for x in v) + "]"
    if isinstance(v, dict):
        return ("<< " + " ".join(f"{_ser(_Name(k), doc)} {_ser(x, doc)}"
                                 for k, x in v.items() if k != "__num__")
                + " >>")
    if isinstance(v, _Stream):
        raise ValueError("cannot re-serialize a stream object inline")
    raise ValueError(f"unserializable PDF value: {type(v).__name__}")


def overlay_text_layer(original: bytes, parsed: dict,
                       page_spans: list[list[tuple]]) -> bytes:
    """Append an invisible text layer to ``original`` via incremental
    update, written from ``parsed = parse_real_pdf(original)`` (its
    document, page dicts and displayed boxes; no second parse).
    ``page_spans[i]`` is the span list for page i (reading order, image
    coords — what the layout kernel emits); an empty list leaves that page
    untouched (the reference's "page already searchable" left-join,
    ``builder.ts:146-147``).  Returns the full new document bytes (original
    prefix preserved verbatim).  Raises ``ValueError`` on encrypted
    originals or non-redefinable pages."""
    doc: _Doc = parsed["doc"]
    if doc.decryptor is not None:
        raise ValueError(
            "preserveImages overlay on encrypted originals not supported")
    pages = parsed["pages"]
    if not pages:
        raise ValueError("original has no pages")
    if len(page_spans) != len(pages):
        raise ValueError(
            f"span lists ({len(page_spans)}) != pages ({len(pages)})")

    next_num = (max(doc.all_object_numbers()) if doc.index or doc._cache
                else 0) + 1
    new_objs: list[tuple[int, int, bytes]] = []  # (num, gen, body)

    # one shared font object for the whole overlay
    font_num = next_num
    next_num += 1
    new_objs.append((font_num, 0,
                     b"<< /Type /Font /Subtype /Type1 "
                     b"/BaseFont /Helvetica >>"))

    touched = 0
    for parsed_page, spans in zip(pages, page_spans):
        if not spans:
            continue
        page = parsed_page["dict"]
        if page.get("__num__") is None:
            raise ValueError("page has no object number (inline page dict) "
                             "— cannot redefine via incremental update")
        # spans arrive in the DISPLAYED frame (parse_real_pdf's viewport:
        # CropBox-relative, rotation applied) — the overlay must invert
        # exactly that viewport or the invisible words drift off the
        # original glyphs on cropped/rotated pages.  The box is the one
        # the parser laid the words out in, so the two sides cannot diverge.
        bx0, by0, bw, bh, rot = parsed_page["box"]
        dw, dh = (bh, bw) if rot in (90, 270) else (bw, bh)
        content = _page_content(spans, dw, dh, None, None,
                                font_res=FONT_RES)
        # inverse viewport: display(bottom-origin) → page user space
        if rot == 90:
            inv = (0.0, 1.0, -1.0, 0.0, bx0 + bw, by0)
        elif rot == 180:
            inv = (-1.0, 0.0, 0.0, -1.0, bx0 + bw, by0 + bh)
        elif rot == 270:
            inv = (0.0, -1.0, 1.0, 0.0, bx0, by0 + bh)
        else:
            inv = (1.0, 0.0, 0.0, 1.0, bx0, by0)
        if inv != (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
            content = (b"q " + " ".join(_fmt(v) for v in inv).encode()
                       + b" cm\n" + content + b"\nQ")
        content_num = next_num
        next_num += 1
        new_objs.append((content_num, 0,
                         b"<< /Length " + str(len(content)).encode()
                         + b" >>\nstream\n" + content + b"\nendstream"))

        # updated page dict: original entries kept (as refs), /Contents
        # extended, /Resources/Font gains the namespaced overlay font
        upd = {k: v for k, v in page.items() if k != "__num__"}
        contents = upd.get("Contents")
        # /Contents may be an indirect ref TO AN ARRAY of streams (legal,
        # seen in the wild).  Treating that ref as a single stream would
        # emit [ref-to-array, new-ref] — an invalid Contents array whose
        # first element silently drops the original page content.  Resolve
        # first; if it resolves to a list, splice its ELEMENT refs.
        resolved = doc.resolve(contents) if contents is not None else None
        if isinstance(resolved, list):
            upd["Contents"] = list(resolved) + [_Ref((content_num, 0))]
        elif contents is None:
            upd["Contents"] = [_Ref((content_num, 0))]
        else:
            upd["Contents"] = [contents, _Ref((content_num, 0))]
        res = doc.resolve(upd.get("Resources"))
        res = dict(res) if isinstance(res, dict) else {}
        fonts = doc.resolve(res.get("Font"))
        fonts = dict(fonts) if isinstance(fonts, dict) else {}
        fonts[FONT_RES] = _Ref((font_num, 0))
        res["Font"] = fonts
        upd["Resources"] = res
        # redefine the page at its ORIGINAL (num, gen): a gen>0 page
        # rewritten as gen 0 would never resolve for conforming readers
        # (they'd fall back through /Prev to the un-overlaid original)
        page_gen = doc.gens.get(page["__num__"], 0)
        new_objs.append((page["__num__"], page_gen,
                         _ser(upd, doc).encode("latin-1")))
        touched += 1

    if touched == 0:  # nothing to overlay — original is already complete
        return original

    # previous startxref (the /Prev chain target); tolerate absence
    prev_xref = 0
    tail = original[-256:]
    sx = tail.rfind(b"startxref")
    if sx >= 0:
        try:
            prev_xref = int(tail[sx + 9:].split(b"%%EOF")[0].strip())
        except ValueError:
            prev_xref = 0
    # root ref for the new trailer (looked up by the parse's page walk)
    root_num = doc.catalog_num
    if root_num is None:
        raise ValueError("original has no catalog")

    buf = bytearray(original)
    if not buf.endswith(b"\n"):
        buf += b"\n"
    offsets: dict[int, tuple[int, int]] = {}  # num -> (offset, gen)
    for num, gen, body in new_objs:
        offsets[num] = (len(buf), gen)
        buf += f"{num} {gen} obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n"
    # one subsection per updated object (spec-legal, simplest correct form)
    for num in sorted(offsets):
        off, gen = offsets[num]
        buf += f"{num} 1\n{off:010d} {gen:05d} n \n".encode()
    root_gen = doc.gens.get(root_num, 0)
    buf += (f"trailer\n<< /Size {next_num} /Root {root_num} {root_gen} R "
            f"/Prev {prev_xref} >>\nstartxref\n{xref_at}\n%%EOF").encode()
    return bytes(buf)
