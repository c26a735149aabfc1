"""Per-document extraction orchestration (pure Python, Spark-free).

Mirrors the reference's driver ``convertPdfToSearchable``
(``src/lib/ocr/index.ts:27-173``) as a *pure function* ``bytes -> result
dict`` so it can run identically in unit tests and inside the Arrow-batched
operators (``operators/extract.py``, ``operators/assemble.py`` — the PDF
page core :func:`_pdf_pages` is shared by both).  All failure modes are
**errors-as-values** (status/error fields, never exceptions) — the
reference's envelope semantics (``index.ts:158-164``): one bad document must
never fail a 10^12-document batch.

Status values and their reference counterparts:

=================  =============================================================
``ok``             success envelope (``index.ts:152-157``)
``empty``          success with no extractable text (all pages skipped/textless)
``unsupported``    payload is neither PDF nor HTML (magic sniff fails —
                   ``route.ts:60-65`` maps this to HTTP 400)
``too_large``      size guard (``route.ts:6,40-45``; 50 MB default)
``invalid_lang``   language-code regex guard (``route.ts:14-16,47-52``)
``no_pages``       zero-page guard (``index.ts:46-48``)
``too_many_pages`` max-pages guard (``index.ts:49-53``; route passes 200)
``page_mismatch``  declared-vs-streamed page-count invariant
                   (``index.ts:87-92,109-119``)
``timeout``        per-document wall-clock budget (``maxDuration``,
                   ``route.ts:5``; checked between pages)
``decode_error``   malformed payload (corrupt container / undecodable HTML)
``encrypted``      password-protected or unsupported-scheme PDF (empty-user-
                   password documents decrypt transparently and never reach
                   this status; ``core/pdfcrypt.py``)
=================  =============================================================
"""

from __future__ import annotations

import re
import time
from typing import Any

from .html_extract import extract_main_text
from .hyphen import repair_hyphenation
from .layout_fast import page_layout_fast
from .pdfbin import decode_pdf_arrays, sniff_kind

__all__ = ["ExtractOptions", "LANG_RE", "PAGE_SEP", "extract_document", "sniff_document"]

# reference isValidOcrLanguage (route.ts:14-16): /^[a-z]{3}(\+[a-z]{3})*$/i
LANG_RE = re.compile(r"^[a-z]{3}(\+[a-z]{3})*$", re.IGNORECASE)

# Page texts of one document are joined with form-feed, the same page
# delimiter pdftotext emits (the external oracle the reference validated
# against — BUGFIXES.md:104,189,286).  Skipped (has_text) pages contribute an
# empty segment, mirroring "page copied with no new text layer"
# (builder.ts:146-147 left-join semantics).
PAGE_SEP = "\f"


class ExtractOptions:
    """Knobs mirroring ``OcrOptions`` + route guards.  Plain attributes so the
    object pickles cheaply into UDF closures."""

    __slots__ = ("max_bytes", "max_pages", "fix_hyphenation", "emit_spans",
                 "max_doc_ms", "hyphen_asset")

    def __init__(
        self,
        max_bytes: int = 50 * 1024 * 1024,   # MAX_PDF_BYTES, route.ts:6
        max_pages: int = 200,                # MAX_PDF_PAGES, route.ts:7
        fix_hyphenation: bool = False,       # OFF for byte-identity core
        emit_spans: bool = False,            # positioned spans (C1-C3 path)
        max_doc_ms: int | None = None,       # L3 wall-clock budget per doc
        hyphen_asset: str | None = None,     # S6 executor asset (--files name)
    ) -> None:
        self.max_bytes = max_bytes
        self.max_pages = max_pages
        self.fix_hyphenation = fix_hyphenation
        self.emit_spans = emit_spans
        self.max_doc_ms = max_doc_ms
        self.hyphen_asset = hyphen_asset


DEFAULT_OPTIONS = ExtractOptions()


def sniff_document(html: bytes | None, lang: str | None,
                   options: ExtractOptions = DEFAULT_OPTIONS) -> dict[str, Any]:
    """Stage-1 sniff (cheap, no parsing of page bodies): kind + guard status.

    Mirrors the reference's fail-fast validation ordering
    (``route.ts:26-65`` — cheapest predicates first, before any expensive
    work).  Returns ``{"kind", "status", "error", "n_bytes"}`` where
    ``status='ok'`` means "eligible for extraction".
    """
    if html is not None and not isinstance(html, (bytes, bytearray, memoryview)):
        # a mis-typed upstream column (e.g. StringType html) is DATA —
        # errors-as-values must hold before any byte operation runs
        return {"kind": "other", "status": "unsupported",
                "error": f"payload is not binary ({type(html).__name__})",
                "n_bytes": 0}
    html = bytes(html) if html is not None else None
    n_bytes = len(html) if html else 0
    kind = sniff_kind(html)
    if html is None or n_bytes == 0:
        return {"kind": "other", "status": "unsupported",
                "error": "empty payload", "n_bytes": 0}
    if n_bytes > options.max_bytes:
        return {"kind": kind, "status": "too_large",
                "error": f"payload is {n_bytes} bytes, exceeds the maximum "
                         f"allowed {options.max_bytes} bytes", "n_bytes": n_bytes}
    if lang is not None and not LANG_RE.match(lang):
        return {"kind": kind, "status": "invalid_lang",
                "error": f"invalid language code: {lang}", "n_bytes": n_bytes}
    if kind == "other":
        return {"kind": kind, "status": "unsupported",
                "error": "payload is neither PDF nor HTML", "n_bytes": n_bytes}
    return {"kind": kind, "status": "ok", "error": None, "n_bytes": n_bytes}


class PageCoreFailure(Exception):
    """A document-level failure raised by :func:`_pdf_pages`; ``row`` holds
    the ``status`` / ``error`` / ``n_pages`` fields every caller emits."""

    def __init__(self, status: str, error: str, n_pages: int = 0) -> None:
        super().__init__(error)
        self.row = {"status": status, "error": error, "n_pages": n_pages}


def _pdf_pages(html: bytes, options: ExtractOptions, recognizer=None):
    """The per-document PDF page core shared by extraction and searchable
    assembly: decode → metadata guards → per-page word boxes.

    Returns ``(doc, pages)``: the decoded document and a lazy iterator of
    ``(page, texts, coords)`` in page order.  A real-flavor page without a
    text layer gets the recognizer's words in place of its (empty) text
    layer, read from the images the one document parse recorded for that
    page (``page["images"]``; no second parse).  Every failure —
    undecodable or encrypted payload, a metadata guard, the
    ``max_doc_ms`` deadline, a bad page image — raises
    :class:`PageCoreFailure` (from this call or from the iterator)."""
    from .pdfcrypt import EncryptedPdfError

    try:
        doc = decode_pdf_arrays(html)
    except EncryptedPdfError as exc:
        # distinct from corrupt: a crawl can count/route password-protected
        # documents (empty-user-password docs decrypt and never land here)
        raise PageCoreFailure("encrypted", str(exc)) from exc
    except ValueError as exc:
        raise PageCoreFailure("decode_error", str(exc)) from exc

    page_count = int(doc["page_count"])
    pages = doc["pages"]

    # guards from metadata, before any per-page work (index.ts:44-53)
    if page_count == 0:
        raise PageCoreFailure("no_pages", "PDF has no pages")
    if options.max_pages and page_count > options.max_pages:
        raise PageCoreFailure(
            "too_many_pages",
            f"PDF has {page_count} pages, which exceeds the maximum allowed "
            f"{options.max_pages} pages", page_count)
    if len(pages) != page_count:
        # streamed-pages vs declared-count invariant (index.ts:109-113)
        raise PageCoreFailure(
            "page_mismatch",
            f"Page extraction mismatch: OCR received {len(pages)} of "
            f"{page_count} page(s)", page_count)

    # L3 wall-clock budget (reference maxDuration=300s per request,
    # route.ts:5): checked between pages so a pathological document yields
    # status='timeout' instead of stalling its whole task at 10^12-row scale.
    deadline = (time.perf_counter() + options.max_doc_ms / 1000.0
                if options.max_doc_ms is not None else None)
    # image-only tier (the reference's core use case, README.md:13-29):
    # a real-flavor page WITHOUT a text layer is exactly what the reference
    # rasterizes (extractor.ts:12-37) and recognizes (ocr.ts:50-110).
    ocr = recognizer is not None and doc.get("flavor") == "real"

    def walk():
        for page_idx, page in enumerate(pages):
            if deadline is not None and time.perf_counter() > deadline:
                raise PageCoreFailure(
                    "timeout", f"document exceeded {options.max_doc_ms} ms "
                    f"budget after {page_idx} page(s)", page_count)
            if not ocr or page.get("has_text"):
                yield page, page["texts"], page["coords"]
                continue
            # the images this page paints, recorded by the text-layer
            # parse; their streams are decoded here, on first read
            try:
                imgs = page["images"]()
            except ValueError as exc:
                raise PageCoreFailure(
                    "decode_error", str(exc), page_count) from exc
            words: list[tuple] = []
            for img in imgs:
                try:
                    words.extend(recognizer(img))
                except ValueError as exc:
                    raise PageCoreFailure(
                        "decode_error", f"recognizer: {exc}",
                        page_count) from exc
            from .pdfscan import words_to_arrays
            yield (page, *words_to_arrays(words))

    return doc, walk()


def _extract_pdf(html: bytes, options: ExtractOptions,
                 hyphen_exceptions: frozenset[str] | None = None,
                 recognizer=None) -> dict[str, Any]:
    page_texts: list[str] = []
    n_words = 0
    spans: list[tuple] | None = [] if options.emit_spans else None
    try:
        doc, pages = _pdf_pages(html, options, recognizer)
        # WBOX containers model OCR input: a has_text page means "existing
        # text layer wins, skip OCR" (index.ts:94-97) and contributes an
        # empty segment.  Real PDFs are the text layer itself: has_text
        # pages are exactly the ones we extract (the deterministic
        # getTextContent analog).
        skip_has_text = doc.get("flavor", "wbox") != "real"
        for page, texts, coords in pages:
            if page.get("has_text") and skip_has_text:
                page_texts.append("")
                continue
            # vectorized byte-identical kernel (layout_fast; fuzz-checked
            # against the reference-port in layout.py)
            text, n_page_words, page_spans = page_layout_fast(
                texts, coords, want_spans=options.emit_spans)
            n_words += n_page_words
            if options.fix_hyphenation:
                text = repair_hyphenation(text, hyphen_exceptions)
            page_texts.append(text)
            if options.emit_spans:
                pno = int(page["page_no"])
                spans.extend(
                    (pno, idx, raw, x0, y0, x1, y1)
                    for idx, (raw, x0, y0, x1, y1) in enumerate(page_spans))
    except PageCoreFailure as fail:
        return {**fail.row, "n_words": 0, "text": None}

    text = PAGE_SEP.join(page_texts)
    status = "ok" if any(page_texts) else "empty"
    # corpus-quality lineage (real-PDF parser counts every silent
    # substitution it makes — MediaBox defaults, unresolvable encodings —
    # so drift is observable in the metrics table, not shipped as
    # confident status='ok'; VERDICT round-2 nit)
    out = {"status": status, "error": None, "n_pages": int(doc["page_count"]),
           "n_words": n_words, "text": text,
           "n_fallbacks": sum((doc.get("counters") or {}).values())}
    if options.emit_spans:
        out["spans"] = spans
    return out


#: meta-declared charset, scanned in the first 2 KiB like browsers do:
#: <meta charset="..."> or <meta http-equiv=... content="...; charset=...">
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+?charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""",
    re.IGNORECASE)

#: labels the WHATWG encoding standard maps to other codecs; everything
#: else passes to Python's codec registry verbatim (unknown → utf-8).
#: utf-16/utf-32 labels map to utf-8 per WHATWG: a META-declared utf-16
#: is a lie by construction (we just read the tag as ASCII bytes);
#: real utf-16 documents are caught by the BOM branch before this table.
_CHARSET_ALIASES = {"iso-8859-1": "cp1252", "latin-1": "cp1252",
                    "latin1": "cp1252", "ascii": "cp1252",
                    "us-ascii": "cp1252",
                    "utf-16": "utf-8", "utf-16le": "utf-8",
                    "utf-16be": "utf-8", "utf16": "utf-8",
                    "utf-32": "utf-8", "utf-32le": "utf-8",
                    "utf-32be": "utf-8"}


def detect_html_charset(html: bytes) -> str:
    """BOM, then meta-declared charset (first 2 KiB), then utf-8 — the
    browser resolution order readability-style extractors inherit.  A
    non-utf-8 page decoded as utf-8-with-replace turns every non-ASCII
    character into U+FFFD, which silently destroys quality-scoring and
    dedup signals downstream."""
    if html[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if html[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    m = _META_CHARSET_RE.search(html[:2048])
    if m:
        import codecs

        label = m.group(1).decode("latin-1").lower()
        codec = _CHARSET_ALIASES.get(label, label)
        try:
            codecs.lookup(codec)
        except LookupError:
            return "utf-8"
        return codec
    return "utf-8"


def _extract_html(html: bytes) -> dict[str, Any]:
    try:
        markup = html.decode(detect_html_charset(html), errors="replace")
    except Exception as exc:  # pragma: no cover - replace can't raise
        return {"status": "decode_error", "error": str(exc),
                "n_pages": 0, "n_words": 0, "text": None}
    text = extract_main_text(markup)
    status = "ok" if text else "empty"
    return {"status": status, "error": None, "n_pages": 1,
            "n_words": len(text.split()), "text": text}


def extract_document(html: bytes | None, lang: str | None,
                     options: ExtractOptions = DEFAULT_OPTIONS,
                     hyphen_exceptions: frozenset[str] | None = None,
                     recognizer=None) -> dict[str, Any]:
    """Full per-document pipeline: sniff → guards → route → extract.

    Returns ``{"kind", "status", "error", "n_bytes", "n_pages", "n_words",
    "text"}``.  Never raises: any unexpected exception is folded into
    ``status='decode_error'`` (error-as-value, ``index.ts:158-164``).

    ``hyphen_exceptions`` is the loaded S6 executor asset (hard-hyphenated
    compounds) — callers load it ONCE at the UDF init point
    (``sources/assets.load_asset_words``) and pass the set per document, so
    the file read never sits in the batch loop.

    ``recognizer`` is the OCR plug point for real-flavor pages without a
    text layer (the reference's core use case — rasterize ``extractor.ts:
    12-37`` + recognize ``ocr.ts:50-110``): a callable ``image_bytes →
    [(text, x0, y0, x1, y1)]`` initialized ONCE at the UDF init point
    (model load never sits in the batch loop; ``operators/ocr.py``).
    ``None`` keeps the text-layer-only behavior (textless pages contribute
    empty segments).
    """
    sniff = sniff_document(html, lang, options)
    out = {"kind": sniff["kind"], "status": sniff["status"],
           "error": sniff["error"], "n_bytes": sniff["n_bytes"],
           "n_pages": 0, "n_words": 0, "text": None, "n_fallbacks": 0}
    if sniff["status"] != "ok":
        return out
    # bytearray/memoryview payloads normalize to bytes once, here — the
    # decoders assume bytes methods (startswith, slicing semantics)
    html = bytes(html)
    try:
        body = _extract_pdf(html, options, hyphen_exceptions, recognizer) \
            if sniff["kind"] == "pdf" else _extract_html(html)
    except Exception as exc:  # noqa: BLE001 - error isolation per document
        body = {"status": "decode_error", "error": f"{type(exc).__name__}: {exc}",
                "n_pages": 0, "n_words": 0, "text": None}
    out.update(body)
    return out
