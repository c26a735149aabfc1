"""Scanned/image-only OCR tier — recognizer plug point + F6 plan router.

The reference exists to convert *scanned* PDFs: detect pages with no real
text (``src/lib/ocr/extractor.ts:78-103`` ``detectPagesWithRealText``),
rasterize exactly those (``extractor.ts:12-37``), and run tesseract over
the pixels (``src/lib/ocr/ocr.ts:50-110``).  This module gives that flow
its Spark shape:

* :func:`deterministic_recognizer` — the sandbox recognizer: reads the
  ``FAKERAST`` page raster (``core/pdfscan.py``).  A real model swaps in
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


def _decode_inverts(dec) -> bool:
    """True iff a /Decode array remaps every component to the inverted
    range: [1 0] for one component, [1 0 1 0 1 0] for RGB (ISO 32000
    8.9.5.2 — one [Dmin Dmax] pair per component)."""
    if not dec:
        return False
    try:
        vals = tuple(float(v) for v in dec)
    except (TypeError, ValueError):
        return False
    return (len(vals) >= 2 and len(vals) % 2 == 0
            and vals == (1.0, 0.0) * (len(vals) // 2))


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

    Dispatches on the pixel container:

    * ``FAKERAST`` header → the struct-packed word-record container
      (``core/pdfscan.decode_page_raster``) — the "pixels" of this repo's
      own scanned fixtures;
    * an image codec from the filter table — **DCTDecode** (or raw JPEG
      magic; ``core/jpegcodec``, the dominant raster format real scanners
      embed), **CCITTFaxDecode** (G3/G4, ``core/ccittcodec``; /K,
      /Columns, /Rows, /EncodedByteAlign, /BlackIs1 honoured from the
      DecodeParms), **JPXDecode** (JPEG 2000, ``core/jpxcodec`` — the
      archive/ebook scanner format) and **JBIG2Decode** (``core/
      jbig2codec``, ``/JBIG2Globals`` resolved from the DecodeParms) —
      each decoding to an 8-bit luma plane;
    * raw samples of declared size — 8-bit ``/DeviceRGB`` (BT.601 luma),
      8-bit ``/DeviceGray`` or packed 1-bit gray;
    * anything else → ``ValueError`` (undecodable pixels).

    Every decoded plane then takes one tail: the /Decode inversion, and
    real pixel OCR (``core/rasterfont.recognize_gray``: projection
    segmentation + 5×7 template classification).
    """
    import numpy as np

    from ..core.ccittcodec import CcittError, decode_g3, decode_g4
    from ..core.jbig2codec import Jbig2Error, decode_jbig2_embedded
    from ..core.jpegcodec import JpegError, decode_jpeg_gray
    from ..core.jpxcodec import JpxError, decode_jpx_gray
    from ..core.pdfscan import RASTER_MAGIC, decode_page_raster
    from ..core.rasterfont import recognize_gray

    def ccitt(data: bytes, image: dict):
        parms = image.get("decode_parms") or {}
        k = parms.get("K", 0)
        if not isinstance(k, (int, float)):
            raise ValueError(f"unsupported CCITT K={k!r}")
        cols = int(parms.get("Columns", 1728))
        rows = parms.get("Rows", image.get("height"))
        rows = int(rows) if rows is not None else None
        align = bool(parms.get("EncodedByteAlign", False))
        if k < 0:  # G4 / pure MMR
            return decode_g4(data, cols, rows, encoded_byte_align=align)
        # G3: K=0 pure 1-D, K>0 mixed (T.4)
        return decode_g3(data, cols, rows, k=int(k),
                         encoded_byte_align=align)

    def jbig2(data: bytes, image: dict):
        glob = (image.get("decode_parms") or {}).get("JBIG2Globals")
        return decode_jbig2_embedded(
            data, globals_data=glob if isinstance(glob, bytes) else None,
            width=image.get("width"), height=image.get("height"))

    # filter → (decode to a luma plane, codec error, label, honours
    # /Decode).  ISO 32000 has JPXDecode images ignore /Decode (pdf.js
    # does too): the codestream carries its own sample interpretation.
    by_filter = {
        "DCTDecode": (lambda data, _image: decode_jpeg_gray(data),
                      JpegError, "JPEG", True),
        "CCITTFaxDecode": (ccitt, CcittError, "CCITT", True),
        "JPXDecode": (lambda data, _image: decode_jpx_gray(data),
                      JpxError, "JPEG 2000", False),
        "JBIG2Decode": (jbig2, Jbig2Error, "JBIG2", True),
    }

    def raw_gray(data: bytes, image: dict):
        w, h = image.get("width"), image.get("height")
        cs, bpc = image.get("colorspace"), image.get("bpc")
        if cs == "DeviceRGB" and bpc == 8 and w and h \
                and len(data) == w * h * 3:
            # color page scan: ITU-R BT.601 integer luma (color carries no
            # extra text information)
            rgb = np.frombuffer(data, np.uint8).reshape(h, w, 3) \
                .astype(np.uint32)
            return ((77 * rgb[..., 0] + 150 * rgb[..., 1]
                     + 29 * rgb[..., 2] + 128) >> 8).astype(np.uint8)
        if cs == "DeviceGray" and bpc == 8 and w and h \
                and len(data) == w * h:
            return np.frombuffer(data, np.uint8).reshape(h, w)
        if bpc == 1 and cs in ("DeviceGray", None) and w and h \
                and len(data) == ((w + 7) // 8) * h:
            # raw packed 1-bit rows (simple B/W scans with no image codec;
            # PDF DeviceGray: sample 0 = black, 1 = white, rows padded to
            # byte boundaries per ISO 32000 8.9.3)
            bits = np.unpackbits(
                np.frombuffer(data, np.uint8).reshape(h, (w + 7) // 8),
                axis=1)[:, :w]
            return np.where(bits, 255, 0).astype(np.uint8)
        raise ValueError(
            f"undecodable page image ({cs}, {bpc} bpc, {len(data)} bytes "
            f"for {w}x{h})")

    def recognize(image: dict):
        data = image["data"]
        if data[:8] == RASTER_MAGIC:
            _w, _h, words = decode_page_raster(data)
            return words
        filt = "DCTDecode" if data[:2] == b"\xFF\xD8" else image.get("filter")
        # /Decode [1 0] (per component) remaps samples to the inverted
        # range (inverted B/W scans carry it); default is identity
        invert = _decode_inverts(image.get("decode"))
        codec = by_filter.get(filt)
        if codec is not None:
            decode, error, label, honours_decode = codec
            try:
                gray = decode(data, image)
            except error as exc:
                raise ValueError(
                    f"undecodable {label} page image: {exc}") from exc
            invert = invert and honours_decode
            if filt == "CCITTFaxDecode":
                # /BlackIs1 and /Decode [1 0] each flip black/white; both
                # together cancel (a renderer composes them) — XOR
                invert ^= bool(
                    (image.get("decode_parms") or {}).get("BlackIs1"))
        else:
            gray = raw_gray(data, image)
        if invert:
            gray = 255 - gray
        gh, gw = gray.shape
        return recognize_gray(gw, gh, gray.tobytes())

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
