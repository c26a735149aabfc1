"""Adapters from the driver testdata tables to the pipeline's input shape.

``pages_from_documents`` wraps ``documents.parquet`` rows into deterministic
word-box PDF payloads laid out on the fixed grid of ``sources.fixtures``.
Because the grid is invertible, the full pipeline output has a closed-form
ANSI-SQL oracle (re-wrap the whitespace-split tokens at WORDS_PER_LINE per
line) — giving the flagship extraction query a real DuckDB correctness check
(``__spark_entry__.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from .fixtures import (
    WORDS_PER_LINE,
    text_to_pdf_payload,
    text_to_real_pdf_payload,
    text_to_scanned_pdf_payload,
)

#: testdata `documents.lang` uses 2-letter codes; the pipeline's language
#: guard (reference route.ts:14-16) wants ISO-639-2-style 3-letter codes.
LANG_MAP = {"en": "eng", "fr": "fra", "es": "spa", "zh": "chi", "de": "deu"}


def lang3_col(lang=None):
    """2-letter → 3-letter language code as a Catalyst CASE chain."""
    lang = lang if lang is not None else F.col("lang")
    expr = F.lit("eng")
    for k, v in LANG_MAP.items():
        expr = F.when(lang == k, F.lit(v)).otherwise(expr)
    return expr


@F.pandas_udf(BinaryType())
def _text_to_payload(text):
    """Vectorized (Arrow-batched) text → word-box-PDF payload encoder."""
    return text.map(lambda t: text_to_pdf_payload(t or "", WORDS_PER_LINE))


#: tokens per page in the real-PDF round-trip corpus — multi-page payloads
#: make the oracle sensitive to page-tree traversal order
REAL_PDF_WORDS_PER_PAGE = 36


@F.pandas_udf(BinaryType())
def _text_to_real_routed_payload(text, doc_id):
    """Real-PDF corpus with EMBEDDED-FONT slices: doc_id % 8 == 3 →
    Type0/Identity-H CIDFontType2 with FontFile2 and no ToUnicode (CIDs
    are dense gids); doc_id % 8 == 7 → symbolic simple TrueType (scrambled
    byte codes, (3,0) cmap + post names); everything else the plain
    Helvetica writer.  All three paginate identically, so the one
    token-stream oracle covers the recovery tier too — and the scrambled
    codes mean a byte fallback provably cannot pass."""
    import pandas as pd

    from .fixtures import text_to_truetype_pdf_payload

    out = []
    for t, d in zip(text, doc_id):
        d = int(d)
        if d % 8 == 3:
            out.append(text_to_truetype_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE, "cid"))
        elif d % 8 == 7:
            out.append(text_to_truetype_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE,
                "symbolic"))
        else:
            out.append(text_to_real_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE))
    return pd.Series(out)


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pages(spark: SparkSession, sf_dir: str, payload: Column) -> DataFrame:
    """documents → input_hint-shaped pages table
    ``(url, warc_ts, html, text, lang, doc_id)`` with ``payload`` (a
    column expression over ``text``/``doc_id``) as ``html``; url embeds
    source + doc_id."""
    return documents(spark, sf_dir).select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        payload.alias("html"),
        F.lit("").alias("text"),
        lang3_col().alias("lang"),
        F.col("doc_id"),
    )


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-box PDF corpus (WBOX2 containers on the fixture grid)."""
    return _pages(spark, sf_dir, _text_to_payload(F.col("text")))


@F.pandas_udf(BinaryType())
def _text_to_scanned_payload(text):
    """Vectorized text → image-only scanned PDF (paginated like the real
    corpus so the same oracle applies)."""
    return text.map(
        lambda t: text_to_scanned_pdf_payload(t or "", WORDS_PER_LINE,
                                              REAL_PDF_WORDS_PER_PAGE))


def scanned_pages_from_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """All-scanned corpus: every document is a genuine image-only PDF —
    the input for the preserveImages overlay round-trip query."""
    return _pages(spark, sf_dir, _text_to_scanned_payload(F.col("text")))


@F.pandas_udf(BinaryType())
def _text_to_mixed_payload(text, doc_id):
    """Even doc_ids → born-digital PDF (text layer); doc_id % 4 == 3 →
    scanned image-only PDF with FAKERAST rasters; doc_id % 4 == 1 →
    scanned image-only PDF with *genuine pixel* rasters in a foreign
    document structure (real OCR segmentation+classification must run),
    split across the raster codecs real scanners emit: baseline JPEG
    behind DCTDecode (doc_id % 32 == 5), LOSSY quality-60 JPEG
    (doc_id % 32 == 13 — nonzero decode error, the robust-recognition
    tier), 3-component color JPEG (doc_id % 32 == 21) and raw tinted
    DeviceRGB behind FlateDecode (doc_id % 32 == 29) — both through the
    luma path — 1-bit Group 4 behind CCITTFaxDecode (doc_id % 32 == 9),
    1-bit Group 3 1-D (doc_id % 64 == 25) and Group 3 mixed 2-D /K 4
    (doc_id % 64 == 57) behind the same filter (old fax-origin PDFs),
    1-bit JBIG2 behind JBIG2Decode — generic-region arrangement at
    doc_id % 64 == 17, arithmetic dictionary-coded symbol/text
    arrangement at doc_id % 128 == 49, HUFFMAN dictionary-coded
    arrangement (SDHUFF/SBHUFF) at doc_id % 128 == 113 — with Annex-B
    STANDARD tables at doc_id % 256 == 113 and a type-53 CUSTOM DW
    table (Annex B.2) at doc_id % 256 == 241 —
    bilevel lossless JPEG 2000 behind JPXDecode (doc_id % 128 == 97,
    the archive/ebook scanner format — with custom 32x32 precincts at
    doc_id % 256 == 225), raw packed 1-bit rows behind plain
    FlateDecode (doc_id % 128 == 33), raw 8-bit DeviceGray behind
    FlateDecode
    (doc_id % 128 == 1), and the same with deterministic salt/pepper
    noise + per-line ±1-px jitter (doc_id % 128 == 65) — so the stdlib
    JPEG, T.6, and T.88 decoders, both raw-sample widths, color luma
    conversion, and the degraded-scan recognition tier are all in the
    checked path.  All paginate at REAL_PDF_WORDS_PER_PAGE so one
    oracle covers the whole corpus."""
    import pandas as pd

    from .fixtures import text_to_pixel_scanned_pdf_payload

    out = []
    for t, d in zip(text, doc_id):
        d = int(d)
        if d % 2 == 0:
            payload = text_to_real_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE)
        elif d % 4 == 1:
            codec = ("jpeg" if d % 32 == 5
                     else "jpeglossy" if d % 32 == 13
                     else "jpegcolor" if d % 32 == 21
                     else "rgb" if d % 32 == 29
                     else "ccitt" if d % 32 == 9
                     else "g3" if d % 64 == 25
                     else "g3mixed" if d % 64 == 57
                     else "jbig2" if d % 64 == 17
                     else "jbig2sym" if d % 128 == 49
                     else "jbig2huffct" if d % 256 == 241
                     else "jbig2huff" if d % 128 == 113
                     else "jpxprec" if d % 256 == 225
                     else "jpx" if d % 128 == 97
                     else "gray1" if d % 64 == 33
                     else "noisy" if d % 128 == 65 else "flate")
            payload = text_to_pixel_scanned_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE,
                codec=codec)
        else:
            payload = text_to_scanned_pdf_payload(
                t or "", WORDS_PER_LINE, REAL_PDF_WORDS_PER_PAGE)
        out.append(payload)
    return pd.Series(out)


@F.pandas_udf(BinaryType())
def _text_to_encrypted_payload(text, doc_id):
    """Scheme rotates by doc_id: RC4-40 (V1/R2), RC4-128 (V2/R3), AES-128
    (V4/R4 AESV2) — all with empty user passwords, the permissions-only
    encryption ubiquitous in crawls."""
    import pandas as pd

    from .fixtures import text_to_encrypted_pdf_payload

    schemes = ("rc4-40", "rc4-128", "aes-128")
    out = []
    for t, d in zip(text, doc_id):
        out.append(text_to_encrypted_pdf_payload(
            t or "", schemes[int(d) % 3], WORDS_PER_LINE,
            REAL_PDF_WORDS_PER_PAGE))
    return pd.Series(out)


def encrypted_pages_from_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Encrypted-PDF corpus: every document is a genuine PDF encrypted with
    an empty user password under a rotating scheme — input for the
    transparent-decryption round-trip query."""
    return _pages(spark, sf_dir, _text_to_encrypted_payload(
        F.col("text"), F.col("doc_id")))


def mixed_scan_pages_from_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Mixed born-digital / scanned corpus — the OCR router's input: half
    the documents (odd doc_id) are genuine image-only PDFs whose text is
    only reachable through the rasterize→recognize tier."""
    return _pages(spark, sf_dir, _text_to_mixed_payload(
        F.col("text"), F.col("doc_id")))


def real_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like :func:`pages_from_documents` but the payloads are *genuine*
    PDF 1.4 bytes (content streams, xref, text layer) instead of WBOX
    containers — the input for the real-parser round-trip query.  One in
    four documents embeds a subsetted TrueType with no ToUnicode (see
    ``_text_to_real_routed_payload``), so glyph-id recovery sits in the
    checked path."""
    return _pages(spark, sf_dir, _text_to_real_routed_payload(
        F.col("text"), F.col("doc_id")))
