"""Searchable-PDF assembly operator — the reference's U3 stage as a narrow
Arrow-batched transformation.

``assemble_searchable(df)`` maps the pages table ``(url, html, lang)`` to
``(url, status, error, n_pages, n_words, pdf, partition_id, wall_us)``
where ``pdf`` is a real PDF with an invisible positioned text layer
(``core/pdfwrite.py``), the analog of the reference's
``buildSearchablePdf`` (``src/lib/ocr/builder.ts:124-204``) driven per
document instead of per request.  It runs through the
extractor's own document operator (``operators.extract._document_operator``:
one ``mapInArrow``, no shuffle, per-task init point), so its rows carry the
same ``partition_id`` / ``wall_us`` lineage as extraction.  The
per-document work is the extractor's own PDF page core
(``core.extract_doc._pdf_pages``: decode, guards, deadline, recognizer), so
both operators report the same status and error for the same document;
this module adds only spans and the writer.  The preserveImages overlay
writes from that same parse (``core/pdfoverlay``): one parse per PDF.

At 100 TB the output PDFs dominate storage; write them to their own table
partitioned like the input so the text table stays scan-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.extract_doc import (
    DEFAULT_OPTIONS,
    ExtractOptions,
    PageCoreFailure,
    _pdf_pages,
    sniff_document,
)
from ..core.layout_fast import page_layout_fast
from ..core.pdfwrite import build_searchable_pdf
from .extract import _document_operator

ASSEMBLED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("n_pages", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    StructField("pdf", BinaryType(), True),
    # lineage, same meaning as extraction's columns
    StructField("partition_id", IntegerType(), False),
    StructField("wall_us", LongType(), False),
])


def _row(status: str, error: str | None, n_pages: int = 0,
         n_words: int = 0, pdf: bytes | None = None) -> dict:
    return {"status": status, "error": error, "n_pages": n_pages,
            "n_words": n_words, "pdf": pdf}


def _assemble_one(payload: bytes | None, lang: str | None,
                  opts: ExtractOptions, preserve_images: bool = False,
                  recognizer=None) -> dict:
    """``preserve_images`` (reference default, ``route.ts:73-77``) overlays
    the invisible layer onto the ORIGINAL bytes via incremental update
    (``core/pdfoverlay``) — images/vector art survive verbatim; otherwise
    a fresh PDF is written from the word boxes.  Pages with an existing
    text layer get no new layer (``builder.ts:146-147``); in overlay mode
    image-only pages get the recognizer's words (None → no layer)."""
    sniff = sniff_document(payload, lang, opts)
    if sniff["status"] != "ok" or sniff["kind"] != "pdf":
        status = sniff["status"] if sniff["status"] != "ok" else "unsupported"
        err = sniff["error"] or "searchable assembly needs a PDF payload"
        return _row(status, err)
    payload = bytes(payload)
    try:
        # only the overlay OCRs: a fresh PDF is written from the decoded
        # word boxes
        rec = recognizer if preserve_images else None
        doc, pages = _pdf_pages(payload, opts, rec)
        if preserve_images and doc.get("flavor") != "real":
            return _row("unsupported",
                        "preserveImages needs a genuine PDF original "
                        "(word-box containers carry no original pages)")
        out_pages = []
        n_words = 0
        for p, texts, coords in pages:
            spans = []
            if not p.get("has_text") and (rec is not None
                                         or not preserve_images):
                _text, nw, spans = page_layout_fast(texts, coords,
                                                    want_spans=True)
                n_words += nw
            out_pages.append({"width": p["width"], "height": p["height"],
                              "spans": spans})
        if not preserve_images:
            return _row("ok", None, len(out_pages), n_words,
                        build_searchable_pdf(out_pages))
        from ..core.pdfoverlay import overlay_text_layer
        try:
            pdf = overlay_text_layer(payload, doc,
                                     [p["spans"] for p in out_pages])
        except ValueError as exc:
            return _row("overlay_unsupported", str(exc), len(out_pages))
        return _row("ok", None, len(out_pages), n_words, pdf)
    except PageCoreFailure as fail:
        return _row(**fail.row)
    except Exception as exc:  # noqa: BLE001 - per-doc error isolation
        return _row("decode_error", f"{type(exc).__name__}: {exc}")


def assemble_searchable(df: DataFrame,
                        options: ExtractOptions | None = None,
                        preserve_images: bool = False,
                        recognizer_factory=None) -> DataFrame:
    """``preserve_images=True`` switches to the reference's default overlay
    mode (invisible layer appended to the ORIGINAL bytes — incremental
    update); ``recognizer_factory`` supplies the OCR for image-only pages,
    initialized once per task (same contract as ``extract_pages``)."""
    opts = options or DEFAULT_OPTIONS

    def init():
        # per-task init point: the recognizer (model) builds once here
        recognizer = recognizer_factory() if recognizer_factory else None
        return lambda payload, lang: _assemble_one(
            payload, lang, opts, preserve_images, recognizer)

    return _document_operator(df, ASSEMBLED_SCHEMA, init)
