"""Scanned/image-only OCR tier — recognizer plug point + F6 plan router.

The reference exists to convert *scanned* PDFs: detect pages with no real
text (``src/lib/ocr/extractor.ts:78-103`` ``detectPagesWithRealText``),
rasterize exactly those (``extractor.ts:12-37``), and run tesseract over
the pixels (``src/lib/ocr/ocr.ts:50-110``).  This module gives that flow
its Spark shape:

* :func:`deterministic_recognizer` — the sandbox recognizer: reads the
  ``FAKERAST`` page raster (``core/pdfscan.py``) or the page pixels the
  codec table decodes (``core/images.py``).  A real model swaps in
  by providing a different factory (e.g. ``lambda: TesseractWorker(...)``)
  — the factory runs ONCE per task at the UDF init point, so model load
  never sits in the batch loop (the reference's singleton worker,
  ``ocr.ts:20-48``; its README's "64x faster" note is exactly this).
* :func:`with_needs_ocr` — the cheap probe: parses metadata + the
  has-text detector only, appending a boolean ``needs_ocr`` column.
  Narrow (zero shuffle), payload passes through as the same Arrow column.
* :func:`extract_with_ocr` — the F6 plan gate: ``needs_ocr`` splits the
  corpus; the cheap branch runs text-layer extraction, the expensive
  branch runs the SAME operator with the recognizer plugged in, and the
  union is the output.  At 100 TB the two branches would read a
  materialized probe output partitioned by ``needs_ocr`` (partition
  pruning gives each stage only its own documents — the GPU pool never
  sees born-digital docs); in one session, pass ``cache_probe=True``
  to compute the probe once.

Scale note: the probe costs a metadata+content-stream parse (~ms/doc);
the OCR stage costs model inference (~seconds/page on real models).
Splitting at the plan level is what lets the expensive stage run on its
own (accelerated, smaller) executor pool and lets AQE size each branch
independently — per-page routing inside one monolithic stage could not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..core.extract_doc import DEFAULT_OPTIONS, ExtractOptions
from .extract import extract_pages

__all__ = [
    "deterministic_recognizer",
    "extract_with_ocr",
    "with_needs_ocr",
]


def deterministic_recognizer():
    """Factory → the sandbox's deterministic recognizer.  Same signature a
    real model adapter implements: ``image dict → [(text, x0, y0, x1,
    y1)]`` in top-origin image coords, raising ``ValueError`` on
    undecodable pixels (mapped to ``status='decode_error'``).  The image
    dict is one image a textless page paints, read by the page core from
    the parsed page (``page["images"]`` of
    :func:`core.pdfreal.parse_real_pdf`, which
    :func:`core.pdfreal.extract_page_images` lists per page) — ``data``
    (stream bytes, an image codec's input when ``filter`` names one) plus
    ``decode`` / ``decode_parms`` and the XObject's declared ``width`` /
    ``height`` / ``colorspace`` / ``bpc``, everything needed to interpret
    raw samples (a real OCR model needs exactly the same).

    A ``FAKERAST`` header is the word-record container of this repo's
    own scanned fixtures (``core/pdfscan.decode_page_raster``).  Every
    other image goes through the codec table (``core/images``) to a luma
    plane, which real pixel OCR reads (``core/rasterfont.recognize_gray``:
    projection segmentation + 5×7 template classification).  Entry points
    are read off their modules per image, so a wrapper set on a module
    attribute (a span tracer) is the one called.
    """
    from ..core import images, pdfscan, rasterfont

    def recognize(image: dict):
        data = image["data"]
        if data[:8] == pdfscan.RASTER_MAGIC:
            _w, _h, words = pdfscan.decode_page_raster(data)
            return words
        gray = images._page_gray(image)
        gh, gw = gray.shape
        return rasterfont.recognize_gray(gw, gh, gray.tobytes())

    return recognize


def _doc_needs_ocr(payload) -> bool:
    """True iff the payload is a real-flavor PDF some of whose pages lack a
    text layer — the document-level F6 predicate (page-level skipping
    happens again inside the extract stage).  Uses the CHEAP detector
    (``detect_pages_text``: content-stream scan, no font loading, no
    word-box building) — a probe false-positive only routes a document to
    the expensive branch, where the full parser still extracts it
    correctly; it can never lose text."""
    from ..core.pdfbin import sniff_kind
    from ..core.pdfreal import detect_pages_text, is_real_pdf

    if payload is None:
        return False
    data = bytes(payload)
    if sniff_kind(data) != "pdf" or not is_real_pdf(data):
        return False
    try:
        flags = detect_pages_text(data)
    except Exception:  # noqa: BLE001 - undecodable: text branch owns errors
        return False
    return bool(flags) and not all(flags)


def with_needs_ocr(df: DataFrame) -> DataFrame:
    """Append the boolean ``needs_ocr`` routing column — one narrow
    ``mapInArrow`` pass (zero shuffle; binary payload passes through as
    the same Arrow buffer, never copied through pandas)."""
    out_schema = StructType(
        [f for f in df.schema.fields]
        + [StructField("needs_ocr", BooleanType(), False)])

    def run(batches):
        import pyarrow as pa

        for b in batches:
            flags = [_doc_needs_ocr(v)
                     for v in b.column("html").to_pylist()]
            yield pa.record_batch(
                list(b.columns) + [pa.array(flags, pa.bool_())],
                names=list(b.schema.names) + ["needs_ocr"])

    return df.mapInArrow(run, out_schema)


def extract_with_ocr(
    df: DataFrame,
    options: ExtractOptions | None = None,
    recognizer_factory=deterministic_recognizer,
    cache_probe: bool = False,
) -> DataFrame:
    """The routed extraction DAG (F6 at the plan level)::

        pages ─ probe(needs_ocr) ─┬─ filter(¬needs_ocr) → extract (cheap)
                                  └─ filter(needs_ocr)  → extract+OCR
                                  → union (+ ``route`` lineage column)

    Both branches run :func:`operators.extract.extract_pages` — the OCR
    branch just plugs the recognizer into the same operator, so statuses,
    guards, spans, and lineage columns stay identical.  The ``route``
    column records which branch produced each row (plan-gate evidence the
    oracle value-checks).

    ``cache_probe`` persists the probe output so the two branch scans
    don't re-parse every document; the caller owns the lifecycle via the
    returned DataFrame's lineage (unpersist after materializing).  At
    100 TB, write the probe output partitioned by ``needs_ocr`` instead
    and let each branch scan prune to its own partition.
    """
    opts = options or DEFAULT_OPTIONS
    probed = with_needs_ocr(df)
    if cache_probe:
        from ..plans.cache import track
        probed = track(probed.persist())  # released via release_tracked()
    text_in = probed.filter(~F.col("needs_ocr")).drop("needs_ocr")
    ocr_in = probed.filter(F.col("needs_ocr")).drop("needs_ocr")
    text_out = extract_pages(text_in, opts) \
        .withColumn("route", F.lit("text"))
    ocr_out = extract_pages(ocr_in, opts,
                            recognizer_factory=recognizer_factory) \
        .withColumn("route", F.lit("ocr"))
    return text_out.unionByName(ocr_out)
