"""Scanned/image-only OCR tier (core/pdfscan.py, operators/ocr.py).

Reference parity: the scanned path IS the reference's purpose
(README.md:13-29) — rasterize textless pages (extractor.ts:12-37) and
recognize (ocr.ts:50-110).  The deterministic FAKERAST codec stands in for
pixels+model; everything else (image XObject extraction, F6 routing, the
per-task recognizer init point, layout, statuses) is the real plumbing.
"""

from __future__ import annotations

import pytest

from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.core.pdfreal import (
    extract_page_images,
    parse_real_pdf,
)
from pdf_ocr_engine_spark.core.pdfscan import decode_page_raster
from pdf_ocr_engine_spark.encoders.pdf import (
    build_scanned_pdf,
    encode_page_raster,
)
from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
from pdf_ocr_engine_spark.sources.fixtures import (
    expected_text,
    layout_words,
    text_to_real_pdf_payload,
    text_to_scanned_pdf_payload,
)

TOKENS = ("the quick brown fox jumps over the lazy dog lorem ipsum "
          "dolor sit amet consectetur adipiscing elit sed do").split()


class TestRasterCodec:
    def test_roundtrip(self):
        words = layout_words(TOKENS)
        raster = encode_page_raster(612.0, 792.0, words)
        w, h, out = decode_page_raster(raster)
        assert (w, h) == (612.0, 792.0)
        assert out == words

    def test_unicode_words(self):
        words = [("café", 1.0, 2.0, 30.0, 14.0), ("naïve", 40.0, 2.0, 80.0, 14.0)]
        _, _, out = decode_page_raster(encode_page_raster(100, 100, words))
        assert out == words

    def test_not_raster_raises(self):
        with pytest.raises(ValueError):
            decode_page_raster(b"\x89PNG\r\n\x1a\n garbage")

    def test_truncated_raises(self):
        raster = encode_page_raster(612, 792, layout_words(TOKENS))
        with pytest.raises(ValueError):
            decode_page_raster(raster[: len(raster) // 2])


class TestScannedPdf:
    def test_pages_have_no_text(self):
        pdf = build_scanned_pdf(
            [{"width": 612.0, "height": 792.0, "words": layout_words(TOKENS)}])
        doc = parse_real_pdf(pdf)
        assert doc["page_count"] == 1
        assert doc["pages"][0]["has_text"] is False
        assert doc["pages"][0]["texts"] == []

    def test_image_extraction_roundtrip(self):
        words = layout_words(TOKENS)
        pdf = build_scanned_pdf(
            [{"width": 612.0, "height": 792.0, "words": words}])
        pages = extract_page_images(pdf)
        assert len(pages) == 1
        assert len(pages[0]["images"]) == 1
        img = pages[0]["images"][0]
        assert (img["width"], img["height"]) == (612, 792)
        _, _, out = decode_page_raster(img["data"])
        assert out == words

    def test_multi_page_order(self):
        pdf = build_scanned_pdf([
            {"width": 612.0, "height": 792.0,
             "words": [("page1", 10.0, 10.0, 40.0, 22.0)]},
            {"width": 612.0, "height": 792.0,
             "words": [("page2", 10.0, 10.0, 40.0, 22.0)]},
        ])
        pages = extract_page_images(pdf)
        texts = [decode_page_raster(p["images"][0]["data"])[2][0][0]
                 for p in pages]
        assert texts == ["page1", "page2"]

    def test_text_layer_pdf_has_no_images(self):
        pdf = text_to_real_pdf_payload("hello world")
        pages = extract_page_images(pdf)
        assert all(p["images"] == [] for p in pages)


class TestOcrExtraction:
    def test_recognizer_recovers_grid_text(self):
        text = " ".join(TOKENS)
        pdf = text_to_scanned_pdf_payload(text)
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == expected_text(TOKENS)
        assert r["n_words"] == len(TOKENS)

    def test_without_recognizer_stays_empty(self):
        # text-layer-only behavior unchanged when no model is plugged in
        pdf = text_to_scanned_pdf_payload("some scanned words here")
        r = extract_document(pdf, "eng")
        assert r["status"] == "empty"

    def test_pagination_matches_real_pdf_oracle(self):
        text = " ".join(TOKENS * 5)  # 90 tokens → 3 pages at 36/page
        pdf = text_to_scanned_pdf_payload(text, 12, 36)
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert r["n_pages"] == 3
        assert r["text"].split() == text.split()

    def test_mixed_doc_text_layer_wins_per_page(self):
        # one doc: page 1 has a text layer, page 2 is image-only — the F6
        # page predicate routes per PAGE inside the doc (index.ts:94-97)
        from pdf_ocr_engine_spark.core.pdfwrite import build_searchable_pdf

        text_pdf = build_searchable_pdf(
            [{"width": 612.0, "height": 792.0,
              "spans": layout_words(["digital", "page"])}])
        scan_pdf = build_scanned_pdf(
            [{"width": 612.0, "height": 792.0,
              "words": layout_words(["scanned", "page"])}])
        # splice: rebuild a 2-page doc via the writers' shared grid is
        # complex; instead verify each flavor separately + empty raster page
        r1 = extract_document(text_pdf, "eng",
                              recognizer=deterministic_recognizer())
        assert r1["text"] == "digital page"
        r2 = extract_document(scan_pdf, "eng",
                              recognizer=deterministic_recognizer())
        assert r2["text"] == "scanned page"

    def test_corrupt_raster_is_decode_error(self):
        pdf = build_scanned_pdf(
            [{"width": 612.0, "height": 792.0,
              "words": [("x", 1.0, 1.0, 7.0, 13.0)]}])
        # corrupt the embedded image payload (flip bytes inside the stream)
        import zlib

        good = zlib.compress(encode_page_raster(
            612.0, 792.0, [("x", 1.0, 1.0, 7.0, 13.0)]))
        bad_raster = zlib.compress(b"NOTARAST" + b"\x00" * 20)
        pdf_bad = pdf.replace(good, bad_raster)
        assert pdf_bad != pdf  # the substitution must have happened
        pdf_bad = pdf_bad.replace(
            f"/Length {len(good)} >>".encode(),
            f"/Length {len(bad_raster)} >>".encode())
        r = extract_document(pdf_bad, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"
        assert "recognizer" in (r["error"] or "")

    def test_blank_scanned_page_is_empty(self):
        pdf = text_to_scanned_pdf_payload("")
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "empty"
        assert r["n_pages"] == 1


@pytest.mark.usefixtures("spark")
class TestRouter:
    def test_needs_ocr_routing(self, spark):
        from pdf_ocr_engine_spark.operators.ocr import with_needs_ocr

        rows = [
            ("u1", text_to_real_pdf_payload("born digital text")),
            ("u2", text_to_scanned_pdf_payload("scanned doc text")),
            ("u3", b"<html><body><p>some html page here ok</p></body></html>"),
            ("u4", b"junk not a document"),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        got = {r.url: r.needs_ocr for r in with_needs_ocr(df).collect()}
        assert got == {"u1": False, "u2": True, "u3": False, "u4": False}

    def test_extract_with_ocr_routes_and_extracts(self, spark):
        from pdf_ocr_engine_spark.operators.ocr import extract_with_ocr

        rows = [
            ("https://x.example/doc/0",
             text_to_real_pdf_payload("digital words here")),
            ("https://x.example/doc/1",
             text_to_scanned_pdf_payload("scanned words here")),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = {r.url: r for r in extract_with_ocr(df).collect()}
        d0 = out["https://x.example/doc/0"]
        d1 = out["https://x.example/doc/1"]
        assert (d0.route, d0.status, d0.text) == ("text", "ok",
                                                  "digital words here")
        assert (d1.route, d1.status, d1.text) == ("ocr", "ok",
                                                  "scanned words here")

    def test_expensive_branch_only_sees_needs_ocr_docs(self, spark):
        """The plan gate must keep born-digital docs out of the OCR stage:
        a recognizer that asserts on being called for them proves it."""
        from pdf_ocr_engine_spark.operators.ocr import extract_with_ocr

        def exploding_factory():
            def recognize(image_bytes):
                raise AssertionError("recognizer saw a born-digital doc")
            return recognize

        rows = [("https://x.example/doc/0",
                 text_to_real_pdf_payload("only digital docs present"))]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = extract_with_ocr(df, recognizer_factory=exploding_factory) \
            .collect()
        assert out[0].status == "ok"  # never touched the exploding branch
        assert out[0].route == "text"  # plan gate kept it on the cheap side


def _hybrid_pdf(text_tokens, scan_tokens):
    """One genuine PDF: page 1 carries a text layer, page 2 is image-only
    (raster of scan_tokens) — the per-PAGE F6 predicate inside one doc."""
    import zlib

    from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster
    from pdf_ocr_engine_spark.core.pdfwrite import _page_content

    c1 = _page_content(layout_words(text_tokens), 612.0, 792.0, None, None)
    raster = zlib.compress(encode_page_raster(
        612.0, 792.0, layout_words(scan_tokens)))
    c2 = b"q 612 0 0 792 0 0 cm /Im0 Do Q"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (b"<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 "
         b"/MediaBox [0 0 612 792] "
         b"/Resources << /Font << /F1 3 0 R >> "
         b"/XObject << /Im0 8 0 R >> >> >>"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        b"<< /Length " + str(len(c1)).encode() + b" >>\nstream\n" + c1
        + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",
        b"<< /Length " + str(len(c2)).encode() + b" >>\nstream\n" + c2
        + b"\nendstream",
        (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
         b"/Filter /FlateDecode /Length " + str(len(raster)).encode()
         + b" >>\nstream\n" + raster + b"\nendstream"),
    ]
    buf = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    buf += b"trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF"
    return bytes(buf)


class TestHybridDocument:
    def test_per_page_routing_inside_one_doc(self):
        """Page 1 extracts from its text layer, page 2 through the
        recognizer — in the same document, separated by form-feed."""
        pdf = _hybrid_pdf(["digital", "page"], ["scanned", "page"])
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"].split("\f") == ["digital page", "scanned page"]
        assert r["n_pages"] == 2
        # without a recognizer the scanned page contributes empty
        r2 = extract_document(pdf, "eng")
        assert r2["text"].split("\f") == ["digital page", ""]

    def test_hybrid_doc_routes_to_ocr_branch(self, spark):
        from pdf_ocr_engine_spark.operators.ocr import with_needs_ocr

        df = spark.createDataFrame(
            [("u", _hybrid_pdf(["a", "b"], ["c", "d"]))],
            "url string, html binary")
        assert with_needs_ocr(df).collect()[0].needs_ocr is True


class TestPixelRaster:
    """Genuine-pixel tier (core/rasterfont.py + build_pixel_scanned_pdf):
    real DeviceGray samples, real projection/template OCR — the closest
    sandbox analog of extractor.ts:12-37 -> ocr.ts:50-110."""

    def test_render_recognize_roundtrip(self):
        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        words = layout_words(TOKENS)
        w = max(x1 for *_, x1, _ in words) + 10
        h = max(y1 for *_, y1 in words) + 10
        out = recognize_gray(w, h, render_words_gray(w, h, words))
        assert [t for t, *_ in out] == [t for t, *_ in words]
        for (t, x0, y0, x1, y1), (_, rx0, ry0, rx1, ry1) in zip(words, out):
            # recognized box = ink extent, inside the layout box
            assert x0 <= rx0 < rx1 <= x1 and y0 <= ry0 < ry1 <= y1

    def test_every_glyph_pair_segments(self):
        """Exhaustive: for every ordered glyph pair, a 2-char word stays
        one word and two 1-char words stay separate — the geometry the
        segmenter's 4-column threshold rests on, proven over the whole
        font, not just corpus text."""
        from pdf_ocr_engine_spark.core.rasterfont import (
            FONT_5X7,
            recognize_gray,
        )
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        chars = sorted(FONT_5X7)
        joined, split = [], []
        x = 10.0
        for a in chars:
            for b in chars:
                joined.append((a + b, x, 10.0, x + 12.0, 22.0))
                split.append((a, x, 30.0, x + 6.0, 42.0))
                split.append((b, x + 10.0, 30.0, x + 16.0, 42.0))
                x += 22.0
        w = int(x) + 10
        out = recognize_gray(
            w, 52, render_words_gray(w, 52, joined + split))
        texts = [t for t, *_ in out]
        n = len(chars) ** 2
        assert texts[:n] == [t for t, *_ in joined]
        assert texts[n:] == [t for t, *_ in split]

    def test_unknown_char_raises(self):
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        with pytest.raises(ValueError, match="not in the 5x7"):
            render_words_gray(100, 40, [("café", 10.0, 10.0, 34.0, 22.0)])

    def test_foreign_structure_parses(self):
        """Inherited /MediaBox, /Contents ref->array-of-streams, reversed
        object order, per-page image names — none of which this repo's
        other writers emit."""
        from pdf_ocr_engine_spark.core.pdfreal import detect_pages_text
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        text = " ".join(TOKENS * 5)
        pdf = text_to_pixel_scanned_pdf_payload(text, 12, 36)
        assert pdf.count(b"/MediaBox") == 1          # inherited, once
        assert b"[3 0 R" not in pdf[:20]             # sanity
        assert detect_pages_text(pdf) == [False, False, False]
        doc = parse_real_pdf(pdf)
        assert len(doc["pages"]) == 3
        imgs = extract_page_images(pdf)
        assert [len(p["images"]) for p in imgs] == [1, 1, 1]
        assert all(i["colorspace"] == "DeviceGray" and i["bpc"] == 8
                   for p in imgs for i in p["images"])

    def test_pixel_pdf_extracts_to_grid_text(self):
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        text = " ".join(TOKENS * 5)
        pdf = text_to_pixel_scanned_pdf_payload(text, 12, 36)
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        toks = text.split()
        exp = "\f".join(expected_text(toks[i:i + 36])
                        for i in range(0, len(toks), 36))
        assert r["status"] == "ok"
        assert r["text"] == exp
        assert r["n_words"] == len(toks)

    def test_garbage_pixels_fail_loud(self, monkeypatch):
        """Valid zlib, unrecognizable ink: recognition must FAIL (the
        recognizer has no access to any word list), mapping to
        status='decode_error' upstream."""
        import numpy as np

        from pdf_ocr_engine_spark.encoders import pdf as pdf_encoders
        from pdf_ocr_engine_spark.encoders import raster

        blob = np.full((40, 100), 255, dtype=np.uint8)
        blob[12:19, 10:18] = 0  # 8px-wide ink run: wider than any glyph
        # the pixel-scan builder imports the renderer when it is called
        monkeypatch.setattr(raster, "render_words_gray",
                            lambda w, h, words: blob.tobytes())
        pdf = pdf_encoders.build_pixel_scanned_pdf(
            [{"width": 100, "height": 40, "words": []}])
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"
        assert "recognizer" in r["error"]

    def test_blank_page_is_empty(self):
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        r = extract_document(text_to_pixel_scanned_pdf_payload(""), "eng",
                             recognizer=deterministic_recognizer())
        assert (r["status"], r["n_pages"], r["n_words"]) == ("empty", 1, 0)


class TestGray1Raster:
    def test_packed_1bit_scanned_pdf_ocr_matches_flate(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("packed", 10, 10, 46, 18),
                            ("bits", 60, 10, 84, 18),
                            ("scan", 10, 30, 34, 38)]}]
        rec = deterministic_recognizer()
        flate = extract_document(
            build_pixel_scanned_pdf(pages, codec="flate"), "eng",
            recognizer=rec)
        g1 = extract_document(
            build_pixel_scanned_pdf(pages, codec="gray1"), "eng",
            recognizer=rec)
        assert flate["status"] == g1["status"] == "ok"
        assert g1["text"] == flate["text"] == "packed bits\nscan"

    def test_1bit_rows_are_byte_padded(self):
        # a width that is not a multiple of 8 exercises the row padding
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        w, h = 61, 20  # ceil(61/8)=8 bytes/row
        samples = render_words_gray(w, h, [("ok", 10, 5, 22, 13)])
        bits = (np.frombuffer(samples, np.uint8).reshape(h, w) >= 128)
        packed = np.packbits(bits, axis=1).tobytes()
        words = deterministic_recognizer()(
            {"data": packed, "filter": None, "decode_parms": None,
             "width": w, "height": h, "colorspace": "DeviceGray",
             "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_inverted_decode_array_on_1bit(self):
        # /Decode [1 0]: an inverted B/W scan must recognize identically
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        w, h = 61, 20
        samples = render_words_gray(w, h, [("ok", 10, 5, 22, 13)])
        bits = (np.frombuffer(samples, np.uint8).reshape(h, w) >= 128)
        packed_inv = np.packbits(~bits, axis=1).tobytes()
        words = deterministic_recognizer()(
            {"data": packed_inv, "filter": None, "decode_parms": None,
             "decode": (1.0, 0.0), "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_ccitt_blackis1_inverts(self):
        from pdf_ocr_engine_spark.encoders.bilevel import encode_g4
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        w, h = 64, 20
        samples = render_words_gray(w, h, [("ok", 10, 5, 22, 13)])
        ink = np.frombuffer(samples, np.uint8).reshape(h, w) < 128
        # BlackIs1: 1 bits are BLACK, so the G4 stream codes the
        # complement of the default interpretation
        enc = encode_g4(~ink)
        words = deterministic_recognizer()(
            {"data": enc, "filter": "CCITTFaxDecode",
             "decode_parms": {"K": -1, "Columns": w, "Rows": h,
                              "BlackIs1": True},
             "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]


class TestInvertedDecodeAllCodecs:
    """/Decode [1 0] must be honoured in every codec branch that defines
    it, not only the raw-raster paths, and it must XOR with CCITT
    /BlackIs1 (the two inversions cancel, as a renderer composes them).
    JPXDecode is the exception: ISO 32000 has it ignore /Decode."""

    @staticmethod
    def _render(w=64, h=20):
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        samples = render_words_gray(w, h, [("ok", 10, 5, 22, 13)])
        gray = np.frombuffer(samples, np.uint8).reshape(h, w)
        return w, h, gray

    def test_ccitt_decode_array_alone_inverts(self):
        from pdf_ocr_engine_spark.encoders.bilevel import encode_g4
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        ink = gray < 128
        words = deterministic_recognizer()(
            {"data": encode_g4(~ink), "filter": "CCITTFaxDecode",
             "decode_parms": {"K": -1, "Columns": w, "Rows": h},
             "decode": (1.0, 0.0), "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_ccitt_blackis1_and_decode_array_cancel(self):
        # BlackIs1 + /Decode [1 0] compose to identity: the stream is
        # coded exactly as in the default interpretation
        from pdf_ocr_engine_spark.encoders.bilevel import encode_g4
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        ink = gray < 128
        words = deterministic_recognizer()(
            {"data": encode_g4(ink), "filter": "CCITTFaxDecode",
             "decode_parms": {"K": -1, "Columns": w, "Rows": h,
                              "BlackIs1": True},
             "decode": (1.0, 0.0), "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_jbig2_decode_array_inverts(self):
        from pdf_ocr_engine_spark.encoders.bilevel import encode_jbig2_embedded
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        ink = gray < 128
        words = deterministic_recognizer()(
            {"data": encode_jbig2_embedded(~ink), "filter": "JBIG2Decode",
             "decode_parms": None, "decode": (1.0, 0.0),
             "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_jpx_decode_array_ignored(self):
        # ISO 32000 8.9.5.2 (and pdf.js): JPXDecode images ignore /Decode,
        # so a plain JPX carrying [1 0] recognizes as if it had none
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import encode_jp2_gray
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        words = deterministic_recognizer()(
            {"data": encode_jp2_gray(np.ascontiguousarray(gray), bpc=1),
             "filter": "JPXDecode", "decode_parms": None,
             "decode": (1.0, 0.0), "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 1})
        assert [x[0] for x in words] == ["ok"]

    def test_gray8_decode_array_inverts(self):
        # an inverted raw 8-bit DeviceGray raster with /Decode [1 0]
        # recognizes exactly like its plain twin
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        rec = deterministic_recognizer()
        image = {"filter": None, "decode_parms": None, "width": w,
                 "height": h, "colorspace": "DeviceGray", "bpc": 8}
        plain = rec({**image, "data": gray.tobytes()})
        inverted = rec({**image, "data": (255 - gray).tobytes(),
                        "decode": (1.0, 0.0)})
        assert [x[0] for x in plain] == ["ok"]
        assert inverted == plain

    def test_dct_decode_array_inverts(self):
        from pdf_ocr_engine_spark.encoders.raster import encode_jpeg_gray
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h, gray = self._render()
        words = deterministic_recognizer()(
            {"data": encode_jpeg_gray(255 - gray, quality=95),
             "filter": "DCTDecode", "decode_parms": None,
             "decode": (1.0, 0.0), "width": w, "height": h,
             "colorspace": "DeviceGray", "bpc": 8})
        assert [x[0] for x in words] == ["ok"]


class TestRobustRecognizer:
    """Real-scan tolerance in core/rasterfont.recognize_gray: adaptive
    threshold, despeckle, nearest-template correlation, multi-pitch run
    segmentation — lossy/noisy rasters recognize exactly; unreadable ones
    raise (→ decode_error upstream), never silently wrong text."""

    W, H = 200, 60
    WORDS = [("hello", 10, 5, 44, 13), ("world42", 60, 5, 100, 13),
             ("quick", 10, 25, 44, 33), ("fox", 10, 45, 28, 53)]

    @classmethod
    def _page(cls):
        import numpy as np

        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        return np.frombuffer(
            render_words_gray(cls.W, cls.H, cls.WORDS),
            np.uint8).reshape(cls.H, cls.W)

    def _texts(self, gray):
        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray

        return [t for t, *_ in
                self._rec(gray)]

    def _rec(self, gray):
        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray

        return recognize_gray(self.W, self.H,
                              gray.astype("uint8").tobytes())

    def _want(self):
        return [w[0] for w in self.WORDS]

    def test_lossy_jpeg_roundtrip_recognizes_exactly(self):
        from pdf_ocr_engine_spark.core.jpegcodec import decode_jpeg_gray
        from pdf_ocr_engine_spark.encoders.raster import encode_jpeg_gray

        g = self._page()
        for q in (85, 60, 40):
            dec = decode_jpeg_gray(encode_jpeg_gray(g, quality=q))
            assert (dec != g).any(), "lossy decode error must be nonzero"
            assert self._texts(dec) == self._want(), f"quality {q}"

    def test_salt_noise_despeckled(self):
        import numpy as np

        g = self._page().copy()
        ink = g < 128
        p = np.pad(ink, 1)
        nb = sum(p[dy:dy + self.H, dx:dx + self.W].astype(int)
                 for dy in (0, 1, 2) for dx in (0, 1, 2)
                 if (dy, dx) != (1, 1))
        # isolated specks on a 4-px grid, never adjacent to glyph ink
        n = 0
        for y in range(2, self.H - 2, 4):
            for x in range(2, self.W - 2, 4):
                if not ink[y, x] and nb[y, x] == 0:
                    g[y, x] = 0
                    n += 1
        assert n > 30
        assert self._texts(g) == self._want()

    def test_pepper_noise_absorbed_by_correlation(self):
        import numpy as np

        g = self._page().copy()
        ys, xs = np.where(g == 0)
        flips = [(y, x) for y, x in zip(ys, xs)
                 if y % 10 == 1 and x % 7 == 3]
        assert flips
        for y, x in flips:
            g[y, x] = 255
        assert self._texts(g) == self._want()

    def test_mild_antialiasing_recognizes(self):
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        g = self._page()
        k = np.array([[0, 2, 0], [2, 8, 2], [0, 2, 0]]) / 16.0
        pad = np.pad(g, 1, mode="edge").astype(float)
        aa = (sliding_window_view(pad, (3, 3)) * k).sum(axis=(2, 3))
        assert ((aa > 0) & (aa < 255)).any(), "blur must produce midtones"
        assert self._texts(aa) == self._want()

    def test_pitch_jitter_both_directions(self):
        import numpy as np

        from pdf_ocr_engine_spark.core.rasterfont import (
            GLYPH_H,
            GLYPH_W,
            _TEMPLATES,
        )

        for pitch in (5, 7):
            g = np.full((self.H, self.W), 255, np.uint8)
            for word, x0 in (("hello", 10), ("fox", 80)):
                cx, cy = x0, 7
                for ch in word:
                    tpl = _TEMPLATES[ch]
                    region = g[cy:cy + GLYPH_H, cx:cx + GLYPH_W]
                    region[tpl == 1] = 0
                    cx += pitch
            assert self._texts(g) == ["hello", "fox"], f"pitch {pitch}"

    def test_heavy_blur_raises_not_garbage(self):
        import numpy as np
        import pytest
        from numpy.lib.stride_tricks import sliding_window_view

        g = self._page()
        k = np.ones((3, 3)) / 9.0  # full box blur destroys 1-px strokes
        pad = np.pad(g, 1, mode="edge").astype(float)
        blur = (sliding_window_view(pad, (3, 3)) * k).sum(axis=(2, 3))
        with pytest.raises(ValueError):
            self._rec(blur)

    def test_random_noise_page_raises(self):
        import numpy as np
        import pytest

        rnd = (np.random.default_rng(3).random((self.H, self.W))
               * 255).astype(np.uint8)
        with pytest.raises(ValueError):
            self._rec(rnd)

    def test_clean_output_byte_identical_to_strict_path(self):
        # the robust recognizer must reproduce the strict recognizer's
        # words AND boxes exactly on clean rasters (byte-identity oracle)
        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray

        g = self._page()
        robust = recognize_gray(self.W, self.H, g.tobytes())
        strict = recognize_gray(self.W, self.H, g.tobytes(),
                                ink_threshold=128)
        assert robust == strict
        assert [t for t, *_ in robust] == self._want()

    def test_low_contrast_page_has_no_ink(self):
        import numpy as np

        # uniform page and faint-texture page: no full-contrast ink
        flat = np.full((self.H, self.W), 255, np.uint8)
        assert self._rec(flat) == []
        faint = flat - (np.arange(self.W, dtype=np.uint8) % 32)[None, :]
        assert self._rec(faint) == []


class TestPixelCodecEndToEnd:
    """Every build_pixel_scanned_pdf codec must extract byte-identical
    text through extract_document — including the degraded tiers added
    for robust recognition (review finding: the new codecs had no
    end-to-end pytest coverage)."""

    TEXT = ("the quick brown fox jumps over lazy dog lorem ipsum dolor "
            "sit amet consectetur adipiscing elit sed do eiusmod tempor")

    def test_all_codecs_extract_identical_text(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        rec = deterministic_recognizer()
        baseline = None
        for codec in ("flate", "jpeg", "jpegprog", "jpeglossy",
                      "jpegcolor", "rgb", "noisy", "ccitt", "jbig2",
                      "jbig2sym", "gray1"):
            pdf = text_to_pixel_scanned_pdf_payload(self.TEXT, codec=codec)
            r = extract_document(pdf, "eng", recognizer=rec)
            assert r["status"] == "ok", (codec, r.get("error"))
            assert r["text"].split() == self.TEXT.split(), codec
            if baseline is None:
                baseline = r["text"]
            elif codec != "noisy":
                # jitter may legally move line boundaries by a pixel;
                # every other codec must byte-match the flate extraction
                assert r["text"] == baseline, codec

    def test_abbreviated_image_filters_decode_like_full_names(self):
        # ISO 32000 table 6: /DCT and /CCF name the same codecs as
        # /DCTDecode and /CCITTFaxDecode (CCITT keeps its DecodeParms)
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        rec = deterministic_recognizer()
        for codec, full, short in (("jpeg", b"/DCTDecode", b"/DCT"),
                                   ("ccitt", b"/CCITTFaxDecode", b"/CCF")):
            pdf = text_to_pixel_scanned_pdf_payload(self.TEXT, codec=codec)
            assert pdf.count(full) == 1, codec
            abbreviated = pdf.replace(full, short)
            assert full not in abbreviated
            want = extract_document(pdf, "eng", recognizer=rec)
            got = extract_document(abbreviated, "eng", recognizer=rec)
            assert got["status"] == "ok", (codec, got.get("error"))
            assert got["text"] == want["text"], codec
            assert got["text"].split() == self.TEXT.split(), codec

    def test_noise_pipeline_never_splits_or_misreads(self):
        # gap-sensitive narrow glyphs at EVERY pepper-grid x-phase and at
        # line y-positions that put glyph top rows on the pepper rows —
        # the exact geometry where a flip+despeckle cascade once split a
        # word ("ti" -> "t i")
        import numpy as np

        from pdf_ocr_engine_spark.encoders.pdf import _noisify_gray
        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        w, h = 360, 140
        tokens = ["ti", "t1", "it", "i1", "tt", "11"]
        words, want = [], []
        for row, y0 in enumerate(range(3, 120, 11)):
            phase = row % 7
            x = 8 + phase
            for tok in tokens:
                words.append((tok, x, y0, x + 11, y0 + 8))
                want.append(tok)
                x += 2 * 6 + 10
        g = render_words_gray(w, h, words)
        noisy = _noisify_gray(g, w, h)
        assert noisy != g, "noise must actually flip pixels"
        got = [t for t, *_ in recognize_gray(w, h, noisy)]
        assert got == want

    def test_rgb_decode_array_inverts_end_to_end(self):
        import numpy as np

        from pdf_ocr_engine_spark.encoders.pdf import _tint_rgb
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        w, h = 64, 20
        gray = np.frombuffer(
            render_words_gray(w, h, [("ok", 10, 5, 22, 13)]),
            np.uint8).reshape(h, w)
        rgb = 255 - _tint_rgb(gray)  # inverted color scan
        words = deterministic_recognizer()(
            {"data": rgb.tobytes(), "filter": None, "decode_parms": None,
             "decode": (1.0, 0.0, 1.0, 0.0, 1.0, 0.0),
             "width": w, "height": h,
             "colorspace": "DeviceRGB", "bpc": 8})
        assert [x[0] for x in words] == ["ok"]

    def test_low_contrast_ink_still_read(self):
        # review finding: spread < 64 must fall back to the fixed cut,
        # not declare the page blank
        import numpy as np

        from pdf_ocr_engine_spark.core.rasterfont import recognize_gray
        from pdf_ocr_engine_spark.encoders.raster import render_words_gray

        w, h = 64, 20
        g = np.frombuffer(
            render_words_gray(w, h, [("ok", 10, 5, 22, 13)]),
            np.uint8).reshape(h, w).copy()
        faint = np.where(g < 128, 100, 140).astype(np.uint8)  # spread 40
        got = [t for t, *_ in recognize_gray(w, h, faint.tobytes())]
        assert got == ["ok"]
