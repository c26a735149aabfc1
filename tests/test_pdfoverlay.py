"""preserveImages overlay (core/pdfoverlay.py, operators/assemble.py).

Reference parity: the reference's DEFAULT assembly copies original pages
and overlays invisible text (builder.ts:135-147, route.ts:73-77); here
that is a PDF incremental update — the original bytes survive verbatim
as a prefix, which these tests check literally.
"""

from __future__ import annotations

import numpy as np
import re
import pytest

from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.core.layout_fast import page_layout_fast
from pdf_ocr_engine_spark.core.pdfoverlay import overlay_text_layer
from pdf_ocr_engine_spark.core.pdfreal import (
    extract_page_images,
    parse_real_pdf,
)
from pdf_ocr_engine_spark.core.pdfscan import decode_page_raster
from pdf_ocr_engine_spark.operators.assemble import _assemble_one
from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
from pdf_ocr_engine_spark.core.extract_doc import DEFAULT_OPTIONS
from pdf_ocr_engine_spark.sources.fixtures import (
    layout_words,
    text_to_encrypted_pdf_payload,
    text_to_pdf_payload,
    text_to_real_pdf_payload,
    text_to_scanned_pdf_payload,
)

TEXT = ("recognized words overlaid on the original scanned page images "
        "lorem ipsum dolor sit amet")


def _spans_for(tokens):
    words = layout_words(tokens)
    coords = np.array([[x0, y0, x1, y1, 95.0]
                       for _t, x0, y0, x1, y1 in words])
    _txt, _n, spans = page_layout_fast([w[0] for w in words], coords,
                                       want_spans=True)
    return spans


class TestOverlayCore:
    def test_original_bytes_preserved_verbatim(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        out = overlay_text_layer(orig, parse_real_pdf(orig),
                                 [_spans_for(TEXT.split())])
        assert out[:len(orig)] == orig
        assert len(out) > len(orig)

    def test_text_extractable_and_images_intact(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        out = overlay_text_layer(orig, parse_real_pdf(orig),
                                 [_spans_for(TEXT.split())])
        r = extract_document(out, "eng")
        assert r["status"] == "ok"
        assert r["text"].split() == TEXT.split()
        pages = extract_page_images(out)
        assert len(pages[0]["images"]) == 1
        _w, _h, words = decode_page_raster(pages[0]["images"][0]["data"])
        assert [w[0] for w in words] == TEXT.split()

    def test_multipage_only_touched_pages_change(self):
        toks = TEXT.split()
        orig = text_to_scanned_pdf_payload(" ".join(toks * 4), 12, 36)
        n = parse_real_pdf(orig)["page_count"]
        assert n >= 2
        spans = [[] for _ in range(n)]
        spans[1] = _spans_for(toks[:36])  # only page 2 gets a layer
        out = overlay_text_layer(orig, parse_real_pdf(orig), spans)
        doc = parse_real_pdf(out)
        assert doc["pages"][0]["has_text"] is False
        assert doc["pages"][1]["has_text"] is True

    def test_no_spans_returns_original(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        assert overlay_text_layer(orig, parse_real_pdf(orig), [[]]) == orig

    def test_encrypted_original_refused(self):
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        parsed = parse_real_pdf(enc)  # empty user password: decrypts
        with pytest.raises(ValueError, match="encrypted"):
            overlay_text_layer(enc, parsed, [_spans_for(TEXT.split())])

    def test_page_count_mismatch_raises(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        with pytest.raises(ValueError, match="pages"):
            overlay_text_layer(orig, parse_real_pdf(orig), [[], []])

    def test_contents_indirect_ref_to_array_preserved(self):
        # ADVICE r3: /Contents may be an indirect ref TO AN ARRAY of
        # streams.  The overlay must splice the array's ELEMENT refs plus
        # the new stream — emitting [ref-to-array, new-ref] silently drops
        # the original page content on re-parse.
        def _assemble(objects):
            buf = bytearray(b"%PDF-1.5\n")
            offsets = []
            for i, body in enumerate(objects, start=1):
                offsets.append(len(buf))
                buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
            xref_at = len(buf)
            buf += f"xref\n0 {len(objects) + 1}\n".encode()
            buf += b"0000000000 65535 f \n"
            for off in offsets:
                buf += f"{off:010d} 00000 n \n".encode()
            buf += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>"
                    f"\nstartxref\n{xref_at}\n%%EOF").encode()
            return bytes(buf)

        c1 = b"BT /F1 12 Tf 72 720 Td (legacy) Tj ET"
        c2 = b"BT /F1 12 Tf 72 700 Td (prose) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /Font << /F1 3 0 R >> >> >>"),
            b"[6 0 R 7 0 R]",  # <-- indirect object that IS the array
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2),
        ]
        orig = _assemble(objs)
        before = parse_real_pdf(orig)
        assert before["pages"][0]["texts"] == ["legacy", "prose"]
        out = overlay_text_layer(orig, parse_real_pdf(orig),
                                 [_spans_for(["overlaid"])])
        assert out[:len(orig)] == orig
        after = parse_real_pdf(out)
        # original streams survive in order, overlay appended
        assert after["pages"][0]["texts"][:2] == ["legacy", "prose"]
        assert any("overlaid" in t for t in after["pages"][0]["texts"][2:])

    def test_overlay_parses_with_incremental_trailer(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        out = overlay_text_layer(orig, parse_real_pdf(orig),
                                 [_spans_for(TEXT.split())])
        assert out.count(b"%%EOF") == 2  # original EOF + update EOF
        assert b"/Prev" in out[len(orig):]


class TestAssembleOperator:
    def test_preserve_images_end_to_end(self):
        orig = text_to_scanned_pdf_payload(TEXT)
        r = _assemble_one(orig, "eng", DEFAULT_OPTIONS,
                          preserve_images=True,
                          recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["pdf"][:len(orig)] == orig
        assert r["n_words"] == len(TEXT.split())
        rx = extract_document(r["pdf"], "eng")
        assert rx["text"].split() == TEXT.split()

    def test_has_text_pages_left_alone(self):
        # born-digital original: nothing to overlay → original returned
        orig = text_to_real_pdf_payload(TEXT)
        r = _assemble_one(orig, "eng", DEFAULT_OPTIONS,
                          preserve_images=True,
                          recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["pdf"] == orig
        assert r["n_words"] == 0  # no new layer needed

    def test_wbox_container_unsupported(self):
        wbox = text_to_pdf_payload(TEXT)
        r = _assemble_one(wbox, "eng", DEFAULT_OPTIONS,
                          preserve_images=True,
                          recognizer=deterministic_recognizer())
        assert r["status"] == "unsupported"
        assert "original" in r["error"]

    def test_encrypted_original_is_error_value(self):
        enc = text_to_encrypted_pdf_payload(TEXT, "aes-128")
        r = _assemble_one(enc, "eng", DEFAULT_OPTIONS,
                          preserve_images=True,
                          recognizer=deterministic_recognizer())
        # encrypted docs decrypt transparently for READING, but the overlay
        # writer refuses them (new streams would need encrypting)
        assert r["status"] == "overlay_unsupported"


class TestGenerationNumbers:
    def test_gen_nonzero_page_redefined_at_same_gen(self):
        """A page object at generation 1 must be redefined as 'N 1 obj'
        with a gen-1 xref entry — a gen-0 redefinition never resolves for
        conforming readers (they fall back through /Prev and silently
        render the un-overlaid original)."""
        orig = text_to_scanned_pdf_payload(TEXT)
        # bump the first page object (obj 3 in build_scanned_pdf layout)
        # to generation 1, in both the definition and the reference
        bumped = orig.replace(b"3 0 obj", b"3 1 obj") \
                     .replace(b"/Kids [3 0 R]", b"/Kids [3 1 R]")
        assert bumped != orig
        out = overlay_text_layer(bumped, parse_real_pdf(bumped),
                                 [_spans_for(TEXT.split())])
        tail = out[len(bumped):]
        assert b"3 1 obj" in tail          # same gen, not gen 0
        assert b"\n3 0 obj" not in tail
        # xref entry for object 3 carries generation 00001
        assert re.search(rb"3 1\r?\n\d{10} 00001 n", tail)
        r = extract_document(out, "eng")
        assert r["status"] == "ok"
        assert r["text"].split() == TEXT.split()


class TestAssembleStatusTaxonomy:
    def test_password_protected_is_encrypted_on_assemble_path(self):
        """The 'encrypted' status must hold on EVERY route: assembly of a
        password-protected document is 'encrypted', not 'decode_error'
        (review regression)."""
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        tampered = enc.replace(b"/V 2 /R 3", b"/V 5 /R 6")  # undecryptable
        for preserve in (False, True):
            r = _assemble_one(tampered, "eng", DEFAULT_OPTIONS,
                              preserve_images=preserve,
                              recognizer=deterministic_recognizer())
            assert r["status"] == "encrypted", preserve

    def test_guard_parity_with_extract(self):
        """Assembly and extraction share one PDF page core, so every
        guard and decode failure reports the same status AND error text
        on both routes, in both assembly modes."""
        from pdf_ocr_engine_spark.sources.fixtures import make_pages_rows

        # url = https://<host>/<path>
        docs = {r["url"].split("/", 3)[-1]: r["html"]
                for r in make_pages_rows(n_docs=12)}
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        docs["encrypted"] = enc.replace(b"/V 2 /R 3", b"/V 5 /R 6")
        want_status = {"edge/zero_pages.pdf": "no_pages",
                       "edge/too_many.pdf": "too_many_pages",
                       "edge/mismatch.pdf": "page_mismatch",
                       "edge/corrupt.pdf": "decode_error",
                       "encrypted": "encrypted"}
        for name, status in want_status.items():
            payload = docs[name]
            x = extract_document(payload, "eng")
            assert x["status"] == status, name
            for preserve in (False, True):
                r = _assemble_one(payload, "eng", DEFAULT_OPTIONS,
                                  preserve_images=preserve,
                                  recognizer=deterministic_recognizer())
                assert (r["status"], r["error"]) == \
                    (x["status"], x["error"]), (name, preserve)
                assert r["n_pages"] == x["n_pages"], (name, preserve)
                assert r["pdf"] is None


class TestViewportRoundTrip:
    """Overlay writes display-frame spans through the INVERSE viewport;
    re-parsing applies the forward viewport — the round trip must be the
    identity on cropped and rotated originals (third-review finding: the
    overlay previously assumed an untranslated MediaBox frame)."""

    def _roundtrip(self, orig: bytes, tol: float = 0.5) -> None:
        toks = ["alpha", "beta", "gamma"]
        spans = _spans_for(toks)
        out = overlay_text_layer(orig, parse_real_pdf(orig), [spans])
        doc = parse_real_pdf(out)
        got = {t: c for t, c in zip(doc["pages"][0]["texts"],
                                    doc["pages"][0]["coords"])}
        assert set(got) == set(toks)
        for raw, x0, y0, x1, y1 in spans:
            gx0, gy0, gx1, gy1 = got[raw][:4]
            assert abs(gx0 - x0) < tol, (raw, gx0, x0)
            # y: writer puts the baseline at y1 − 0.2·h and the parser
            # recovers a box around that baseline — compare baselines
            assert abs((gy1 - 0.2 * (gy1 - gy0)) - (y1 - 0.2 * (y1 - y0))) \
                < 2.0, (raw, got[raw], (x0, y0, x1, y1))

    def test_plain_page(self):
        self._roundtrip(text_to_scanned_pdf_payload(""))

    def test_cropped_page(self):
        orig = text_to_scanned_pdf_payload("")
        cropped = orig.replace(
            b"/MediaBox [0 0 612 792]",
            b"/MediaBox [0 0 612 792] /CropBox [50 40 562 752]")
        assert cropped != orig
        assert parse_real_pdf(cropped)["pages"][0]["width"] == 512.0
        self._roundtrip(cropped)

    def test_rotated_page(self):
        orig = text_to_scanned_pdf_payload("")
        rotated = orig.replace(
            b"/MediaBox [0 0 612 792]",
            b"/MediaBox [0 0 612 792] /Rotate 90")
        assert rotated != orig
        assert parse_real_pdf(rotated)["pages"][0]["width"] == 792.0
        self._roundtrip(rotated)

    def test_cropped_and_rotated(self):
        orig = text_to_scanned_pdf_payload("")
        both = orig.replace(
            b"/MediaBox [0 0 612 792]",
            b"/MediaBox [0 0 612 792] /CropBox [50 40 562 752] /Rotate 270")
        self._roundtrip(both)
