"""Real-PDF text-layer parser (core/pdfreal.py).

Two oracle directions:

* **Round-trip**: the repo's own deterministic writer (core/pdfwrite.py)
  produces genuine PDF 1.4 → the parser must read back the exact token
  stream (writer and parser oracle each other; VERDICT round-1 item 1).
* **Foreign structure**: a second, deliberately different mini-writer here
  (Flate-compressed streams, TJ kerning arrays, Td/TD/T* positioning, hex
  strings, ToUnicode CMap, object streams) exercises paths the repo writer
  never emits — proving the parser reads real-world PDFs, not just its own
  dialect.
"""

from __future__ import annotations

import zlib

import pytest

from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.core.layout_fast import page_layout_fast
from pdf_ocr_engine_spark.core.pdfbin import decode_pdf_arrays
from pdf_ocr_engine_spark.core.pdfreal import is_real_pdf, parse_real_pdf
from pdf_ocr_engine_spark.core.pdfwrite import build_searchable_pdf
from pdf_ocr_engine_spark.encoders.raster import lzw_encode
from pdf_ocr_engine_spark.sources.fixtures import expected_text, layout_words


# --------------------------------------------------------------------------
# foreign mini-writer: classic xref, Flate streams, indirect Length
# --------------------------------------------------------------------------

def _assemble(objects: list[bytes]) -> bytes:
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
    buf += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF").encode()
    return bytes(buf)


def _foreign_pdf(content_per_page: list[bytes], compress: bool = True,
                 font_extra: bytes = b"") -> bytes:
    """Multi-page PDF with structure unlike pdfwrite.py: compressed streams,
    indirect /Length objects, per-page content, inheritable resources."""
    n = len(content_per_page)
    objs: list[bytes] = []
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")                    # 1
    objs.append((f"<< /Type /Pages /Kids [{kids}] /Count {n} "
                 f"/MediaBox [0 0 612 792] /Resources << /Font "
                 f"<< /F1 3 0 R >> >> >>").encode())                     # 2
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                + font_extra + b" >>")                                   # 3
    length_obj_base = 4 + 2 * n
    for i, content in enumerate(content_per_page):
        data = zlib.compress(content) if compress else content
        filt = b"/Filter /FlateDecode " if compress else b""
        objs.append((f"<< /Type /Page /Parent 2 0 R /Contents "
                     f"{5 + 2 * i} 0 R >>").encode())                    # page
        objs.append(b"<< " + filt
                    + f"/Length {length_obj_base + i} 0 R >>\nstream\n".encode()
                    + data + b"\nendstream")                             # content
    for i, content in enumerate(content_per_page):
        data = zlib.compress(content) if compress else content
        objs.append(str(len(data)).encode())                             # Length
    return _assemble(objs)


def _tokens(pdf: bytes) -> list[str]:
    doc = parse_real_pdf(pdf)
    out = []
    for p in doc["pages"]:
        t, _, _ = page_layout_fast(p["texts"], p["coords"])
        out.extend(t.split())
    return out


# --------------------------------------------------------------------------
# round-trip vs the repo writer
# --------------------------------------------------------------------------

class TestRoundTrip:
    def test_grid_tokens_identical(self):
        text = ("the quick brown fox jumps over the lazy dog lorem ipsum "
                "dolor sit amet consectetur adipiscing elit sed do eiusmod")
        tokens = text.split()
        pdf = build_searchable_pdf(
            [{"width": 612.0, "height": 792.0,
              "spans": layout_words(tokens)}])
        doc = parse_real_pdf(pdf)
        assert doc["flavor"] == "real"
        assert doc["page_count"] == 1
        page = doc["pages"][0]
        assert page["has_text"] is True
        assert (page["width"], page["height"]) == (612.0, 792.0)
        t, nw, _ = page_layout_fast(page["texts"], page["coords"])
        assert t.split() == tokens
        assert nw == len(tokens)

    def test_multi_page(self):
        toks1 = "alpha beta gamma delta".split()
        toks2 = "epsilon zeta eta".split()
        pdf = build_searchable_pdf([
            {"width": 612.0, "height": 792.0, "spans": layout_words(toks1)},
            {"width": 500.0, "height": 700.0, "spans": layout_words(toks2)},
        ])
        doc = parse_real_pdf(pdf)
        assert doc["page_count"] == 2
        assert doc["pages"][1]["width"] == 500.0
        assert doc["pages"][0]["texts"] == toks1
        assert doc["pages"][1]["texts"] == toks2

    def test_end_to_end_extract_document(self):
        tokens = "one two three four five six seven eight nine ten".split()
        pdf = build_searchable_pdf(
            [{"width": 612.0, "height": 792.0, "spans": layout_words(tokens)}])
        r = extract_document(pdf, "eng")
        assert r["status"] == "ok"
        assert r["kind"] == "pdf"
        assert r["n_pages"] == 1
        assert r["text"].split() == tokens
        assert r["n_words"] == len(tokens)

    def test_empty_text_layer_is_empty_status(self):
        pdf = build_searchable_pdf([{"width": 612.0, "height": 792.0,
                                     "spans": []}])
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["has_text"] is False
        r = extract_document(pdf, "eng")
        assert r["status"] == "empty"
        assert r["text"] == ""

    def test_exact_grid_text(self):
        # narrow glyphs distort recovered widths but not the token stream;
        # this average-width vocabulary survives byte-identically.
        tokens = ("spark table merge filter group window stream batch "
                  "column parquet schema shuffle").split() * 3
        pdf = build_searchable_pdf(
            [{"width": 612.0, "height": 792.0, "spans": layout_words(tokens)}])
        doc = parse_real_pdf(pdf)
        t, _, _ = page_layout_fast(doc["pages"][0]["texts"],
                                   doc["pages"][0]["coords"])
        assert t == expected_text(tokens)


# --------------------------------------------------------------------------
# foreign structures
# --------------------------------------------------------------------------

class TestForeignPdf:
    def test_flate_indirect_length_td(self):
        content = (b"BT /F1 12 Tf 72 720 Td (Hello) Tj 40 0 Td (world) Tj "
                   b"ET")
        pdf = _foreign_pdf([content])
        assert is_real_pdf(pdf)
        assert _tokens(pdf) == ["Hello", "world"]

    def test_tj_kerning_array_joins_word(self):
        # kerned chunks without spaces stay ONE word; spaces split
        content = (b"BT /F1 10 Tf 72 700 Td "
                   b"[(Ker) -20 (ned) -250 ( ) (next)] TJ ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["Kerned", "next"]

    def test_td_tstar_tl_lines(self):
        content = (b"BT /F1 12 Tf 14 TL 72 720 Td (line) Tj ( one) Tj "
                   b"T* (line) Tj ( two) Tj "
                   b"0 -14 TD (line) Tj ( three) Tj ET")
        pdf = _foreign_pdf([content])
        doc = parse_real_pdf(pdf)
        t, _, _ = page_layout_fast(doc["pages"][0]["texts"],
                                   doc["pages"][0]["coords"])
        assert t.split("\n") == ["line one", "line two", "line three"]

    def test_hex_strings_and_escapes(self):
        content = (b"BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj "
                   b"60 0 Td (par\\(en\\)s) Tj 80 0 Td (oct\\141l) Tj ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["Hello", "par(en)s", "octal"]

    def test_uncompressed_and_comments(self):
        content = (b"% a comment\nBT\n/F1 9 Tf\n100 500 Td\n(plain) Tj\nET\n")
        pdf = _foreign_pdf([content], compress=False)
        assert _tokens(pdf) == ["plain"]

    def test_multi_page_foreign(self):
        pdf = _foreign_pdf([
            b"BT /F1 12 Tf 72 720 Td (page) Tj 30 0 Td (one) Tj ET",
            b"BT /F1 12 Tf 72 720 Td (page) Tj 30 0 Td (two) Tj ET",
        ])
        doc = parse_real_pdf(pdf)
        assert doc["page_count"] == 2
        assert doc["pages"][0]["texts"] == ["page", "one"]
        assert doc["pages"][1]["texts"] == ["page", "two"]

    def test_graphics_ops_ignored_ctm_applied(self):
        # text under a translated CTM still lands at device coords
        content = (b"0.5 w 1 0 0 RG 10 10 m 100 100 l S "
                   b"q 1 0 0 1 50 -20 cm "
                   b"BT /F1 12 Tf 72 720 Td (moved) Tj ET Q")
        pdf = _foreign_pdf([content])
        doc = parse_real_pdf(pdf)
        (txt, x0, y0, x1, y1) = doc["pages"][0]["texts"][0], \
            *doc["pages"][0]["coords"][0][:4]
        assert txt == "moved"
        assert x0 == pytest.approx(122.0)          # 72 + 50
        assert y1 == pytest.approx(792 - 700 + 0.2 * 12)  # baseline 720-20

    def test_word_spacing_splits(self):
        # Tw applies to byte-32 in simple fonts; split happens on the space
        content = (b"BT /F1 12 Tf 5 Tw 72 720 Td (two words) Tj ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["two", "words"]

    def test_quote_operators(self):
        content = (b"BT /F1 12 Tf 14 TL 72 720 Td (first) Tj "
                   b"(second) ' 1 0 (third) \" ET")
        pdf = _foreign_pdf([content])
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["first", "second", "third"]
        ys = doc["pages"][0]["coords"][:, 1]
        assert ys[0] < ys[1] < ys[2]  # each quote op starts a new line

    def test_inline_image_skipped(self):
        content = (b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\x01\x02\x03 EI\n"
                   b"BT /F1 12 Tf 72 720 Td (after) Tj ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["after"]


class TestToUnicode:
    def test_bfchar_mapping(self):
        # map byte 0x41 ('A') to U+03B1 (alpha) via ToUnicode
        cmap = (b"/CIDInit /ProcSet findresource begin\n"
                b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
                b"endcodespacerange\n2 beginbfchar\n"
                b"<41> <03B1>\n<42> <03B2>\nendbfchar\nendcmap\nend")
        n_extra = len(cmap)
        # object 4 onwards shift: build manually — catalog/pages/font(+TU)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode 6 0 R >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 40 >>\nstream\n"
            b"BT /F1 12 Tf 72 720 Td (AB) Tj ET\n\n\n\n\nendstream",
            f"<< /Length {n_extra} >>\nstream\n".encode() + cmap
            + b"\nendstream",
        ]
        pdf = _assemble(objs)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["αβ"]


class TestObjectStreams:
    def test_pages_inside_objstm(self):
        """Catalog/page dicts living inside a compressed /ObjStm."""
        inner_objs = [
            (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 5 0 R >> >> >>"),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
            (5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        ]
        header = []
        body = b""
        for num, data in inner_objs:
            header.append(f"{num} {len(body)}".encode())
            body += data + b" "
        head = b" ".join(header) + b" "
        stm = zlib.compress(head + body)
        content = b"BT /F1 12 Tf 72 720 Td (packed) Tj ET"
        objs6 = (f"<< /Type /ObjStm /N {len(inner_objs)} /First {len(head)} "
                 f"/Filter /FlateDecode /Length {len(stm)} >>\nstream\n"
                 ).encode() + stm + b"\nendstream"
        objs4 = (f"<< /Length {len(content)} >>\nstream\n".encode()
                 + content + b"\nendstream")
        # only objects 4 (content) and 6 (objstm) exist as top-level objs
        buf = bytearray(b"%PDF-1.5\n")
        for num, bodyb in ((4, objs4), (6, objs6)):
            buf += f"{num} 0 obj\n".encode() + bodyb + b"\nendobj\n"
        buf += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF"
        doc = parse_real_pdf(bytes(buf))
        assert doc["page_count"] == 1
        assert doc["pages"][0]["texts"] == ["packed"]


class TestRobustness:
    def test_truncated_is_decode_error(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (x) Tj ET"])
        r = extract_document(pdf[:len(pdf) // 3], "eng")
        assert r["status"] in ("decode_error", "no_pages", "empty")

    def test_junk_after_magic_unsupported(self):
        r = extract_document(b"%PDF-1.4\nnothing here\n%%EOF", "eng")
        # no indirect objects → not parseable as real PDF
        assert r["status"] in ("decode_error", "unsupported")

    def test_textless_page_has_text_false(self):
        pdf = _foreign_pdf([b"0.5 w 10 10 m 100 100 l S"])
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["has_text"] is False
        r = extract_document(pdf, "eng")
        assert r["status"] == "empty"

    def test_space_only_text_is_not_has_text(self):
        # reference detector: str.trim().length > 0 (extractor.ts:80-91)
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (   ) Tj ET"])
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["has_text"] is False

    def test_broken_xref_still_parses(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (robust) Tj ET"])
        # corrupt the xref offsets wholesale; object scan must recover
        bad = pdf.replace(b"xref\n", b"xref\n% garbage\n", 1)
        idx = bad.rfind(b"startxref")
        bad = bad[:idx] + b"startxref\n999999\n%%EOF"
        assert _tokens(bad) == ["robust"]

    def test_bad_stream_length_recovers(self):
        content = b"BT /F1 12 Tf 72 720 Td (len) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 99999 >>\nstream\n" + content + b"\nendstream",
        ]
        pdf = _assemble(objs)
        assert _tokens(pdf) == ["len"]

    def test_stray_paren_terminates_not_hangs(self):
        """A stray ')' in a content stream must never hang the tokenizer
        (an empty operator that makes no progress would loop forever —
        and max_doc_ms can't interrupt inside the decode)."""
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (ok) Tj ) ] } > ET"])
        assert _tokens(pdf) == ["ok"]

    def test_nonoctal_escapes(self):
        r"""'\9' is an escaped literal 9 per spec; '\778' is octal 77 then
        a literal '8' — neither may raise or desync the scanner."""
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (he\\9llo) Tj "
                            b"80 0 Td (x\\778y) Tj ET"])
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["he9llo", "x\x3f8y"]

    def test_truncated_trailing_object_recovered(self):
        """One cut-off trailing object (truncated download / incremental
        update) must not turn a readable document into decode_error."""
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (alive) Tj ET"])
        cut = pdf + b"\n99 0 obj\n<< /Type /Foo"
        assert _tokens(cut) == ["alive"]
        r = extract_document(cut, "eng")
        assert r["status"] == "ok"

    def test_decode_pdf_arrays_routes_real(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (routed) Tj ET"])
        doc = decode_pdf_arrays(pdf)
        assert doc.get("flavor") == "real"
        assert doc["pages"][0]["texts"] == ["routed"]

    def test_truncated_bfrange_array_terminates(self):
        """bfrange array form with a missing ']' (truncated CMap) must
        terminate, not loop forever re-matching the same range (the round-2
        review's high finding: pos wrapped to 0 on find() == -1)."""
        from pdf_ocr_engine_spark.core.pdfreal import _parse_tounicode

        malformed = (b"beginbfrange\n<41> <43> [<03B1> <03B2>"  # no ']'
                     b"\nendbfrange")
        out = _parse_tounicode(malformed)
        assert isinstance(out, dict)  # reaching here proves termination

    def test_q_restores_text_state(self):
        """ISO 32000 §8.4.2: q/Q saves the TEXT state too — a font/size
        change inside q..Q must not leak past Q (wrong advances otherwise
        ship with status='ok')."""
        content = (b"BT /F1 12 Tf 72 720 Td (base) Tj "
                   b"q /F1 24 Tf 100 0 Td (big) Tj Q "
                   b"100 0 Td (after) Tj ET")
        pdf = _foreign_pdf([content])
        doc = parse_real_pdf(pdf)
        texts = doc["pages"][0]["texts"]
        coords = doc["pages"][0]["coords"]
        heights = {t: coords[i][3] - coords[i][1]
                   for i, t in enumerate(texts)}
        assert texts == ["base", "big", "after"]
        assert heights["big"] == pytest.approx(24.0)
        # size must be restored to 12 after Q, not stay 24
        assert heights["after"] == pytest.approx(heights["base"])
        assert heights["after"] == pytest.approx(12.0)

    def test_leading_junk_before_header(self):
        """Crawl PDFs often carry HTTP junk/BOM before %PDF-; pdf.js scans
        the first 1 KiB — so do we (ADVICE round 2)."""
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (found) Tj ET"])
        junky = b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n" \
            + b"\xef\xbb\xbf" + pdf
        assert is_real_pdf(junky)
        assert _tokens(junky) == ["found"]
        r = extract_document(junky, "eng")
        assert r["status"] == "ok"
        assert r["kind"] == "pdf"

    def test_junk_beyond_1kb_not_pdf(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (far) Tj ET"])
        buried = b"x" * 2048 + pdf
        assert not is_real_pdf(buried)
        r = extract_document(buried, "eng")
        assert r["status"] == "unsupported"

    def test_html_mentioning_pdf_magic_stays_html(self):
        from pdf_ocr_engine_spark.core.pdfbin import sniff_kind

        page = (b"<!doctype html><html><body>"
                b"PDF files start with %PDF- bytes</body></html>")
        assert sniff_kind(page) == "html"


class TestFuzzRobustness:
    """Mutated real-PDF bytes must always come back as a status value —
    never an exception, never a hang (the review found a tokenizer hang on
    a stray ')'; this locks the whole class of no-progress bugs out)."""

    def test_random_mutations_never_raise(self):
        import random

        base = build_searchable_pdf(
            [{"width": 612.0, "height": 792.0,
              "spans": layout_words("alpha beta gamma delta eps".split())}])
        rng = random.Random(1234)
        statuses = set()
        for _ in range(300):
            data = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                op = rng.random()
                pos = rng.randrange(len(data))
                if op < 0.4:      # flip a byte
                    data[pos] = rng.randrange(256)
                elif op < 0.7:    # splice junk
                    data[pos:pos] = bytes(rng.randrange(256)
                                          for _ in range(rng.randint(1, 24)))
                else:             # truncate a slice
                    end = min(len(data), pos + rng.randint(1, 64))
                    del data[pos:end]
            r = extract_document(bytes(data), "eng")
            assert isinstance(r, dict) and "status" in r
            statuses.add(r["status"])
        # the fuzz must actually exercise multiple outcomes
        assert len(statuses) >= 2, statuses

    def test_hostile_content_stream_bytes(self):
        # delimiters, unterminated strings, binary junk inside the stream
        hostile = [
            b"BT )))))) ET",
            b"BT (unterminated",
            b"BT /F1 12 Tf [ ( ] ) > } { TJ ET",
            b"\x00\xff" * 64,
            b"BT /F1 1e309 Tf 0 0 Td (inf) Tj ET",   # float overflow
            b"BT /F1 12 Tf " + b"1 " * 2000 + b"Tm ET",  # operand flood
        ]
        pdf = _foreign_pdf(hostile, compress=False)
        r = extract_document(pdf, "eng")
        assert isinstance(r, dict) and "status" in r


def _lzw_pdf(data: bytes) -> bytes:
    """One-page PDF whose content stream is the LZWDecode ``data``."""
    return _assemble([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
         b"/MediaBox [0 0 612 792] "
         b"/Resources << /Font << /F1 3 0 R >> >> >>"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        (f"<< /Filter /LZWDecode /Length {len(data)} >>\nstream\n"
         ).encode() + data + b"\nendstream",
    ])


class TestLzw:
    def test_lzw_roundtrip(self):
        from pdf_ocr_engine_spark.core.pdfreal import _lzw_decode

        for payload in (b"", b"a", b"TOBEORNOTTOBEORTOBEORNOT" * 40,
                        bytes(range(256)) * 8):
            assert _lzw_decode(lzw_encode(payload, 8, True, 1)) == payload

    def test_lzw_content_stream(self):
        content = b"BT /F1 12 Tf 72 720 Td (lzw) Tj 60 0 Td (works) Tj ET"
        pdf = _lzw_pdf(lzw_encode(content, 8, True, 1))
        assert _tokens(pdf) == ["lzw", "works"]

    def test_lzw_table_reset_round_trip(self):
        # an 850 KB content stream needs far more than 4,096 LZW codes:
        # the encoder must emit CLEAR before the table passes 12 bits, and
        # both the filter and the page parse must see every byte
        from pdf_ocr_engine_spark.core.pdfreal import _apply_filter

        words = [f"w{i}x{i * 7919 % 1000}" for i in range(24_000)]
        content = b"".join(
            b"BT /F1 12 Tf %d %d Td (%s) Tj ET\n"
            % (72 + i % 400, 700 - i // 400 % 600, w.encode())
            for i, w in enumerate(words))
        assert len(content) >= 850_000
        data = lzw_encode(content, 8, True, 1)
        assert _apply_filter("LZWDecode", data, {}) == content
        assert parse_real_pdf(_lzw_pdf(data))["pages"][0]["texts"] == words

    def test_lzw_tiff_predictor_rejected(self):
        from pdf_ocr_engine_spark.core.pdfreal import _apply_filter

        data = lzw_encode(b"abcdef", 8, True, 1)
        with pytest.raises(ValueError, match="predictor"):
            _apply_filter("LZWDecode", data, {"Predictor": 2, "Columns": 3})

    def test_lzw_expansion_bomb_capped(self):
        from pdf_ocr_engine_spark.core.pdfreal import _lzw_decode

        payload = lzw_encode(b"ab" * 200_000, 8, True, 1)
        with pytest.raises(ValueError, match="cap"):
            _lzw_decode(payload, max_out=10_000)


def _png_predict(rows, colors: int, bpc: int, tags) -> bytes:
    """PNG-predicted rows (one tag byte + the filtered row each), made by
    the PNG encoder's forward filter."""
    import numpy as np

    from pdf_ocr_engine_spark.encoders.raster import _filter_row

    unit = max(1, colors * bpc // 8)
    out = bytearray()
    prev = np.zeros(len(rows[0]), np.uint8)
    for row, tag in zip(rows, tags):
        cur = np.frombuffer(row, np.uint8)
        out.append(tag)
        out += _filter_row(cur, prev, unit, tag).tobytes()
        prev = cur
    return bytes(out)


class TestPngPredictors:
    """PDF ``/Predictor`` 10-15 (ISO 32000 §7.4.4.4) over Flate and LZW:
    each row carries its own PNG tag."""

    @staticmethod
    def _parms(colors: int, bpc: int, columns: int) -> dict:
        return {"Predictor": 15, "Colors": colors, "BitsPerComponent": bpc,
                "Columns": columns}

    def test_predicted_content_stream_extracts(self):
        content = (b"BT /F1 12 Tf 72 720 Td (predicted) Tj 90 0 Td "
                   b"(flate) Tj 60 0 Td (text) Tj ET")
        cols = 9
        content += b" " * (-len(content) % cols)
        rows = [content[i:i + cols] for i in range(0, len(content), cols)]
        data = zlib.compress(_png_predict(
            rows, 1, 8, [i % 5 for i in range(len(rows))]))
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            (f"<< /Filter /FlateDecode /DecodeParms << /Predictor 15 "
             f"/Columns {cols} >> /Length {len(data)} >>\nstream\n"
             ).encode() + data + b"\nendstream",
        ]
        r = extract_document(_assemble(objs), "eng")
        assert r["status"] == "ok"
        assert r["text"].split() == ["predicted", "flate", "text"]

    @pytest.mark.parametrize("colors,bpc", [(1, 8), (3, 8), (1, 1)])
    @pytest.mark.parametrize("tag", [0, 1, 2, 3, 4])
    def test_each_tag_roundtrips(self, colors, bpc, tag):
        import random

        from pdf_ocr_engine_spark.core.pdfreal import _apply_filter

        rng = random.Random(tag * 10 + colors + bpc)
        columns = 23
        stride = (columns * colors * bpc + 7) // 8
        rows = [bytes(rng.randrange(256) for _ in range(stride))
                for _ in range(12)]
        body = _png_predict(rows, colors, bpc, [tag] * len(rows))
        parms = self._parms(colors, bpc, columns)
        assert _apply_filter("FlateDecode", zlib.compress(body),
                             parms) == b"".join(rows)
        assert _apply_filter("LZWDecode", lzw_encode(body, 8, True, 1),
                             parms) == b"".join(rows)

    def test_short_final_row_decodes_bytes_present(self):
        from pdf_ocr_engine_spark.core.pdfreal import _apply_filter

        rows = [bytes(range(10, 46, 3)), bytes(range(60, 96, 3))]
        for tag in range(5):
            body = _png_predict(rows, 3, 8, [tag, tag])
            # the last row loses its final 4 bytes: the predictors read
            # only left and up, so the 8 bytes present still decode
            got = _apply_filter("FlateDecode", zlib.compress(body[:-4]),
                                self._parms(3, 8, 4))
            assert got == rows[0] + rows[1][:8], tag

    def test_tag_above_four_raises(self):
        from pdf_ocr_engine_spark.core.pdfreal import _apply_filter

        body = b"\x00abc" + b"\x05def"
        with pytest.raises(ValueError, match="filter byte 5"):
            _apply_filter("FlateDecode", zlib.compress(body),
                          self._parms(1, 8, 3))


class TestCorruptFontStream:
    """A font stream whose filter fails falls back like any other bad
    font data: the document still extracts, whatever the filter."""

    @pytest.mark.parametrize("filt", ["FlateDecode", "ASCIIHexDecode",
                                      "LZWDecode"])
    def test_bad_tounicode_stream_falls_back(self, filt):
        junk = b"\xff\xfe junk \x00\x01 not a stream \x9c\x9c" * 4
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode 6 0 R >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 36 >>\nstream\n"
            b"BT /F1 12 Tf 72 720 Td (hello) Tj ET\nendstream",
            (f"<< /Filter /{filt} /Length {len(junk)} >>\nstream\n"
             ).encode() + junk + b"\nendstream",
        ]
        r = extract_document(_assemble(objs), "eng")
        assert (r["status"], r["text"]) == ("ok", "hello")


class TestStructureFuzz:
    """Property-based sweep over the foreign-dialect space: random page
    counts, filters, positioning operators, and token texts — the parser
    must recover the exact token stream from structures the repo writer
    never emits."""

    def test_random_foreign_structures_roundtrip(self):
        import random

        rng = random.Random(20260817)
        vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india "
                 "juliet kilo lima mike november oscar papa").split()
        for trial in range(40):
            n_pages = rng.randint(1, 4)
            compress = rng.random() < 0.5
            expected: list[list[str]] = []
            contents: list[bytes] = []
            for _ in range(n_pages):
                toks = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
                expected.append(toks)
                ops = [b"BT /F1 %d Tf" % rng.randint(8, 14)]
                y = 720
                style = rng.randrange(3)
                if style == 0:    # absolute Tm per word
                    x = 72
                    for t in toks:
                        ops.append(b"1 0 0 1 %d %d Tm (%s) Tj"
                                   % (x, y, t.encode()))
                        x += 90
                        if x > 500:
                            x, y = 72, y - 20
                elif style == 1:  # relative Td rows
                    ops.append(b"72 %d Td" % y)
                    for i, t in enumerate(toks):
                        if i:
                            ops.append(b"90 0 Td" if i % 5 else b"-360 -20 Td")
                        ops.append(b"(%s) Tj" % t.encode())
                else:             # TJ arrays with kerning, one line per word
                    ops.append(b"20 TL 72 %d Td" % y)
                    for t in toks:
                        half = max(1, len(t) // 2)
                        ops.append(b"[(%s) %d (%s)] TJ T*"
                                   % (t[:half].encode(), -rng.randint(0, 40),
                                      t[half:].encode()))
                ops.append(b"ET")
                contents.append(b" ".join(ops))
            pdf = _foreign_pdf(contents, compress=compress)
            doc = parse_real_pdf(pdf)
            assert doc["page_count"] == n_pages, trial
            for page, toks in zip(doc["pages"], expected):
                t, _, _ = page_layout_fast(page["texts"], page["coords"])
                assert t.split() == toks, (trial, t, toks)


# --------------------------------------------------------------------------
# simple-font /Encoding resolution (round-3: WinAnsi/MacRoman/Standard +
# /Differences + AGL glyph names — the no-ToUnicode path real crawls hit)
# --------------------------------------------------------------------------

class TestEncodings:
    def test_winansi_no_tounicode(self):
        # cp1252 high bytes: 0x93/0x94 curly quotes, 0xE9 e-acute, 0x85 …
        content = (b"BT /F1 12 Tf 72 720 Td (\x93caf\xe9\x94) Tj "
                   b"60 0 Td (etc\x85) Tj ET")
        pdf = _foreign_pdf([content],
                           font_extra=b" /Encoding /WinAnsiEncoding")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["“café”",
                                            "etc…"]
        assert doc["counters"]["encoding_fallback"] == 0

    def test_macroman_no_tounicode(self):
        # mac_roman: 0x8E is e-acute; 0xDB is Adobe's currency (NOT Apple's
        # later Euro) per ISO 32000 Annex D
        content = b"BT /F1 12 Tf 72 720 Td (caf\x8e\xdb) Tj ET"
        pdf = _foreign_pdf([content],
                           font_extra=b" /Encoding /MacRomanEncoding")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["café¤"]

    def test_standard_encoding_quirks(self):
        # StandardEncoding: 0x27 quoteright, 0x60 quoteleft, 0xAE fi lig
        content = b"BT /F1 12 Tf 72 720 Td (\x60tis\x27\xae) Tj ET"
        pdf = _foreign_pdf([content],
                           font_extra=b" /Encoding /StandardEncoding")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["‘tis’ﬁ"]

    def test_differences_with_base(self):
        # remap 'A'(65)->eacute, 'B'(66)->quotedblleft, 'C'(67)->Euro on a
        # WinAnsi base; 'D' stays WinAnsi
        enc = (b" /Encoding << /BaseEncoding /WinAnsiEncoding "
               b"/Differences [65 /eacute /quotedblleft 67 /Euro] >>")
        content = b"BT /F1 12 Tf 72 720 Td (ABCD) Tj ET"
        pdf = _foreign_pdf([content], font_extra=enc)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["é“€D"]
        assert doc["counters"]["encoding_fallback"] == 0

    def test_differences_without_base_uses_standard(self):
        # /Encoding dict with only Differences: base is the font's builtin,
        # approximated by Standard (pdf.js default) — 0x27 maps quoteright
        enc = b" /Encoding << /Differences [88 /Zcaron] >>"
        content = b"BT /F1 12 Tf 72 720 Td (X\x27) Tj ET"
        pdf = _foreign_pdf([content], font_extra=enc)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["Ž’"]

    def test_differences_uni_and_u_forms(self):
        enc = (b" /Encoding << /BaseEncoding /WinAnsiEncoding "
               b"/Differences [65 /uni0416 /u1F600] >>")
        content = b"BT /F1 12 Tf 72 720 Td (AB) Tj ET"
        pdf = _foreign_pdf([content], font_extra=enc)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["Ж\U0001F600"]

    def test_unresolvable_glyph_counted_not_silent(self):
        # subset glyph names like /g123 carry no Unicode meaning: U+FFFD,
        # and the lineage counter must tick (silent-wrong-text is the bug)
        enc = (b" /Encoding << /BaseEncoding /WinAnsiEncoding "
               b"/Differences [65 /g123] >>")
        content = b"BT /F1 12 Tf 72 720 Td (A) Tj ET"
        pdf = _foreign_pdf([content], font_extra=enc)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["�"]
        assert doc["counters"]["encoding_fallback"] == 1
        r = extract_document(pdf, "eng")
        assert r["n_fallbacks"] == 1

    def test_tounicode_wins_over_encoding(self):
        # explicit ToUnicode is authoritative (pdf.js resolution order):
        # 0x41 maps via CMap to alpha even though WinAnsi says 'A'
        cmap = (b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
                b"endcodespacerange\n1 beginbfchar\n<41> <03B1>\n"
                b"endbfchar\nendcmap")
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding /ToUnicode 6 0 R >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 34 >>\nstream\n"
            b"BT /F1 12 Tf 72 720 Td (AB) Tj ET\nendstream",
            f"<< /Length {len(cmap)} >>\nstream\n".encode() + cmap
            + b"\nendstream",
        ]
        pdf = _assemble(objs)
        doc = parse_real_pdf(pdf)
        # A -> CMap alpha; B -> not in CMap, falls to WinAnsi 'B'
        assert doc["pages"][0]["texts"] == ["αB"]

    def test_unknown_base_encoding_counted(self):
        enc = b" /Encoding /BogusEncoding"
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (x) Tj ET"],
                           font_extra=enc)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["x"]  # chr() fallback survives
        assert doc["counters"]["encoding_fallback"] == 1

    def test_mediabox_fallback_counted(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (geom) Tj ET"])
        bad = pdf.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [0 0]  ")
        doc = parse_real_pdf(bad)
        assert doc["pages"][0]["width"] == 612.0
        assert doc["counters"]["mediabox_fallback"] == 1
        r = extract_document(bad, "eng")
        assert r["status"] == "ok"
        assert r["n_fallbacks"] == 1

    def test_wellformed_has_zero_fallbacks(self):
        pdf = _foreign_pdf([b"BT /F1 12 Tf 72 720 Td (clean) Tj ET"])
        r = extract_document(pdf, "eng")
        assert r["n_fallbacks"] == 0


class TestRunLength:
    @staticmethod
    def _rle_encode(data: bytes) -> bytes:
        """Minimal RLE encoder for fixtures: runs of ≥3 → repeat form,
        else literal form."""
        out = bytearray()
        i, n = 0, len(data)
        while i < n:
            run = 1
            while i + run < n and run < 127 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                out += bytes([257 - run, data[i]])
                i += run
            else:
                lit_start = i
                while (i < n and i - lit_start < 128
                       and not (i + 2 < n and data[i] == data[i + 1]
                                == data[i + 2])):
                    i += 1
                lit = data[lit_start:i]
                out += bytes([len(lit) - 1]) + lit
        out.append(128)  # EOD
        return bytes(out)

    def test_rle_content_stream(self):
        from pdf_ocr_engine_spark.core.pdfreal import _rle_decode

        content = (b"BT /F1 12 Tf 72 720 Td (run) Tj "
                   b"40 0 Td (length) Tj ET   ")
        enc = self._rle_encode(content)
        assert _rle_decode(enc) == content
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            (f"<< /Filter /RunLengthDecode /Length {len(enc)} >>\nstream\n"
             ).encode() + enc + b"\nendstream",
        ]
        pdf = _assemble(objs)
        assert _tokens(pdf) == ["run", "length"]

    def test_truncated_rle_is_error(self):
        from pdf_ocr_engine_spark.core.pdfreal import _rle_decode

        with pytest.raises(ValueError):
            _rle_decode(b"\x05ab")  # literal run promises 6 bytes, has 2

    def test_repeat_form(self):
        from pdf_ocr_engine_spark.core.pdfreal import _rle_decode

        assert _rle_decode(bytes([257 - 5, ord("x"), 128])) == b"xxxxx"


class TestFormXObjects:
    """Text inside /Subtype /Form XObjects is real page text (pdf.js
    getTextContent descends into them); round 3 makes the interpreter,
    the cheap has-text probe, and the image walker all descend too."""

    @staticmethod
    def _form_pdf(form_content: bytes, matrix: bytes = b"",
                  page_extra: bytes = b"",
                  form_font: bytes = b"/F1 3 0 R") -> bytes:
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /XObject << /Fx 6 0 R >> /Font << /F1 3 0 R >> >> >>"),
            b"<< /Length 26 >>\nstream\nq 1 0 0 1 0 0 cm /Fx Do Q"
            + page_extra + b"\nendstream",
            (b"<< /Type /XObject /Subtype /Form " + matrix
             + b" /Resources << /Font << " + form_font + b" >> >> /Length "
             + str(len(form_content)).encode() + b" >>\nstream\n"
             + form_content + b"\nendstream"),
        ]
        return _assemble(objs)

    def test_text_in_form_extracted(self):
        pdf = self._form_pdf(b"BT /F1 12 Tf 72 720 Td (inside) Tj "
                             b"50 0 Td (form) Tj ET")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["has_text"] is True
        assert doc["pages"][0]["texts"] == ["inside", "form"]

    def test_form_matrix_transforms_positions(self):
        pdf = self._form_pdf(b"BT /F1 12 Tf 72 700 Td (moved) Tj ET",
                             matrix=b"/Matrix [1 0 0 1 100 -50]")
        doc = parse_real_pdf(pdf)
        x0 = doc["pages"][0]["coords"][0][0]
        assert x0 == pytest.approx(172.0)  # 72 + 100

    def test_form_own_font_resources_win(self):
        # the form's /F1 names a DIFFERENT font object whose ToUnicode
        # remaps 'c'→'K' — if the PAGE's /F1 (no CMap) were wrongly used
        # inside the form, the text would come back unmapped
        cmap = (b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
                b"endcodespacerange\n1 beginbfchar\n<63> <004B>\n"
                b"endbfchar\nendcmap")
        pdf = self._form_pdf(b"BT /F1 10 Tf 72 600 Td (courier) Tj ET",
                             form_font=b"/F1 7 0 R")
        pdf = pdf.replace(
            b"trailer",
            b"7 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode 8 0 R >>\nendobj\n"
            + f"8 0 obj\n<< /Length {len(cmap)} >>\nstream\n".encode()
            + cmap + b"\nendstream\nendobj\ntrailer")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["Kourier"]

    def test_cheap_probe_sees_form_text(self):
        from pdf_ocr_engine_spark.core.pdfreal import detect_pages_text

        pdf = self._form_pdf(b"BT /F1 12 Tf 72 720 Td (hidden) Tj ET")
        assert detect_pages_text(pdf) == [True]

    def test_self_referential_form_terminates(self):
        # a form whose content invokes ITSELF must not recurse forever
        content = b"q /Fx Do Q BT /F1 9 Tf 10 10 Td (safe) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /XObject << /Fx 6 0 R >> /Font << /F1 3 0 R >> >> >>"),
            b"<< /Length 20 >>\nstream\n/Fx Do\nendstream",
            (b"<< /Type /XObject /Subtype /Form /Resources "
             b"<< /XObject << /Fx 6 0 R >> /Font << /F1 3 0 R >> >> "
             b"/Length " + str(len(content)).encode() + b" >>\nstream\n"
             + content + b"\nendstream"),
        ]
        doc = parse_real_pdf(_assemble(objs))
        assert doc["pages"][0]["texts"] == ["safe"]

    def test_image_inside_form_found(self):
        import zlib as _z

        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.core.pdfscan import decode_page_raster
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        raster = encode_page_raster(612.0, 792.0,
                                    [("wrapped", 1.0, 1.0, 40.0, 13.0)])
        img = _z.compress(raster)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(img)).encode()
             + b" >>\nstream\n" + img + b"\nendstream"),
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /XObject << /Fx 6 0 R >> >> >>"),
            b"<< /Length 9 >>\nstream\n/Fx Do\nendstream",
            (b"<< /Type /XObject /Subtype /Form /Resources "
             b"<< /XObject << /Im0 3 0 R >> >> /Length 30 >>\nstream\n"
             b"q 612 0 0 792 0 0 cm /Im0 Do Q\nendstream"),
        ]
        pages = extract_page_images(_assemble(objs))
        assert len(pages[0]["images"]) == 1
        _w, _h, words = decode_page_raster(pages[0]["images"][0]["data"])
        assert words[0][0] == "wrapped"

    def test_shared_resources_images_not_duplicated(self):
        # ADVICE r3: pages inheriting ONE /Resources dict from the Pages
        # node must each receive only the image(s) their own content
        # stream draws via Do — not every sibling's raster (which would
        # duplicate the whole document's text on every page in the OCR
        # tier).
        import zlib as _z

        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.core.pdfscan import decode_page_raster
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        imgs = []
        for word in ("alpha", "bravo"):
            raster = _z.compress(encode_page_raster(
                612.0, 792.0, [(word, 1.0, 1.0, 40.0, 13.0)]))
            imgs.append(raster)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            # shared Resources at the Pages node exposes BOTH images to
            # BOTH pages; content streams each draw exactly one
            (b"<< /Type /Pages /Kids [5 0 R 6 0 R] /Count 2 "
             b"/MediaBox [0 0 612 792] /Resources "
             b"<< /XObject << /ImA 3 0 R /ImB 4 0 R >> >> >>"),
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(imgs[0])).encode()
             + b" >>\nstream\n" + imgs[0] + b"\nendstream"),
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(imgs[1])).encode()
             + b" >>\nstream\n" + imgs[1] + b"\nendstream"),
            b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",
            b"<< /Length 31 >>\nstream\nq 612 0 0 792 0 0 cm /ImA Do Q"
            b"\nendstream",
            b"<< /Length 31 >>\nstream\nq 612 0 0 792 0 0 cm /ImB Do Q"
            b"\nendstream",
        ]
        pages = extract_page_images(_assemble(objs))
        assert [len(p["images"]) for p in pages] == [1, 1]
        got = []
        for p in pages:
            _w, _h, words = decode_page_raster(p["images"][0]["data"])
            got.append(words[0][0])
        assert got == ["alpha", "bravo"]

    def test_undrawn_image_yields_no_images(self):
        import zlib as _z

        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        img = _z.compress(encode_page_raster(
            612.0, 792.0, [("ghost", 1.0, 1.0, 40.0, 13.0)]))
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(img)).encode()
             + b" >>\nstream\n" + img + b"\nendstream"),
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /XObject << /Im0 3 0 R >> >> >>"),
            b"<< /Length 8 >>\nstream\nq 1 0 0 1 0 0 cm Q\nendstream",
        ]
        pages = extract_page_images(_assemble(objs))
        assert pages[0]["images"] == []


class TestSingleParse:
    """A real PDF is parsed once on the extraction path: the text-layer
    interpreter records the images each page paints, and image streams are
    decoded only for pages that reach the recognizer."""

    @staticmethod
    def _count_docs(monkeypatch) -> list[int]:
        from pdf_ocr_engine_spark.core import pdfreal

        built = [0]
        init = pdfreal._Doc.__init__

        def counting_init(self, data):
            built[0] += 1
            init(self, data)

        monkeypatch.setattr(pdfreal._Doc, "__init__", counting_init)
        return built

    def test_scanned_extract_builds_one_doc(self, monkeypatch):
        from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_scanned_pdf_payload,
        )

        pdf = text_to_scanned_pdf_payload("scanned words here")
        built = self._count_docs(monkeypatch)
        r = extract_document(pdf, "eng",
                             recognizer=deterministic_recognizer())
        assert (r["status"], r["text"]) == ("ok", "scanned words here")
        assert built[0] == 1

    def test_overlay_assemble_builds_one_doc(self, monkeypatch):
        # the overlay writes from the page core's parse
        from pdf_ocr_engine_spark.core.extract_doc import DEFAULT_OPTIONS
        from pdf_ocr_engine_spark.operators.assemble import _assemble_one
        from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_scanned_pdf_payload,
        )

        pdf = text_to_scanned_pdf_payload("scanned words here")
        built = self._count_docs(monkeypatch)
        r = _assemble_one(pdf, "eng", DEFAULT_OPTIONS, preserve_images=True,
                          recognizer=deterministic_recognizer())
        assert r["status"] == "ok" and r["n_words"] == 3
        assert built[0] == 1

    def test_text_page_decodes_no_image(self, monkeypatch):
        # a born-digital page that also paints an image never reaches the
        # recognizer, so its image stream must stay undecoded
        from pdf_ocr_engine_spark.core import pdfreal
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        img = zlib.compress(encode_page_raster(
            612.0, 792.0, [("logo", 1.0, 1.0, 40.0, 13.0)]))
        content = (b"q 100 0 0 50 0 700 cm /Im0 Do Q "
                   b"BT /F1 12 Tf 72 600 Td (born digital) Tj ET")
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] >>"),
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(img)).encode()
             + b" >>\nstream\n" + img + b"\nendstream"),
            (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources "
             b"<< /XObject << /Im0 3 0 R >> /Font << /F1 6 0 R >> >> >>"),
            (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
             + content + b"\nendstream"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ]
        pdf = _assemble(objs)
        decoded = []
        monkeypatch.setattr(pdfreal._Stream, "decoded_image",
                            lambda s, doc: decoded.append(s) or (b"", None,
                                                                 None))
        calls = []
        r = extract_document(pdf, "eng",
                             recognizer=lambda img: calls.append(img) or [])
        assert (r["status"], r["text"]) == ("ok", "born digital")
        assert calls == [] and decoded == []
        # the image was recorded all the same, and decodes when read
        assert len(parse_real_pdf(pdf)["pages"][0]["images"]()) == 1
        assert len(decoded) == 1


class TestPageRotation:
    """/Rotate is routine on scans; word boxes must land in the DISPLAYED
    page's top-origin coords (pdf.js folds rotation into the viewport)."""

    @staticmethod
    def _rot_pdf(content: bytes, rot: int) -> bytes:
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] /Rotate " + str(rot).encode()
             + b" /Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ]
        return _assemble(objs)

    def test_rotate_90_swaps_dims_and_uprights_text(self):
        # text written rotated 90° CCW in user space (Tm [0 1 -1 0 ..])
        # displays upright once /Rotate 90 is applied
        pdf = self._rot_pdf(
            b"BT /F1 12 Tf 0 1 -1 0 300 100 Tm (up) Tj ET", 90)
        doc = parse_real_pdf(pdf)
        page = doc["pages"][0]
        assert (page["width"], page["height"]) == (792.0, 612.0)
        assert page["texts"] == ["up"]
        x0, y0, x1, y1 = page["coords"][0][:4]
        assert x0 == pytest.approx(100.0)          # dx = user y
        assert x1 > x0                             # upright advance
        # baseline at dy = user x = 300 → box spans around it
        assert y0 < 300.0 < y1 + 1e-9

    def test_rotate_180_keeps_dims(self):
        # text written upside-down (Tm [-1 0 0 -1 ..]) reads upright after
        # /Rotate 180; dims unchanged
        pdf = self._rot_pdf(
            b"BT /F1 12 Tf -1 0 0 -1 400 700 Tm (flip) Tj ET", 180)
        doc = parse_real_pdf(pdf)
        page = doc["pages"][0]
        assert (page["width"], page["height"]) == (612.0, 792.0)
        assert page["texts"] == ["flip"]
        x0 = page["coords"][0][0]
        assert x0 == pytest.approx(612.0 - 400.0)  # dx = w − user x

    def test_rotate_270_roundtrip_order(self):
        pdf = self._rot_pdf(
            b"BT /F1 12 Tf 0 -1 1 0 200 600 Tm (two ) Tj (words) Tj ET",
            270)
        doc = parse_real_pdf(pdf)
        page = doc["pages"][0]
        assert (page["width"], page["height"]) == (792.0, 612.0)
        assert page["texts"] == ["two", "words"]
        # both words on ONE display line, left to right
        assert page["coords"][1][0] > page["coords"][0][0]

    def test_rotate_0_and_360_identity(self):
        pdf = self._rot_pdf(b"BT /F1 12 Tf 72 720 Td (plain) Tj ET", 360)
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["texts"] == ["plain"]
        assert doc["pages"][0]["width"] == 612.0


class TestFormReviewRegressions:
    def test_probe_ignores_undrawn_shared_form(self):
        """A text-bearing form in SHARED (inherited) resources that page 1
        never draws must not flip page 1's probe to has-text — that would
        skip OCR and LOSE the scanned content (review finding)."""
        import zlib as _z

        from pdf_ocr_engine_spark.core.pdfreal import detect_pages_text
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        form = b"BT /F1 12 Tf 10 10 Td (shared text) Tj ET"
        raster = _z.compress(encode_page_raster(612.0, 792.0, []))
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            # shared resources at the Pages node: form + font + image
            (b"<< /Type /Pages /Kids [5 0 R 6 0 R] /Count 2 "
             b"/MediaBox [0 0 612 792] /Resources << /Font "
             b"<< /F1 3 0 R >> /XObject << /Fx 4 0 R /Im0 9 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            (b"<< /Type /XObject /Subtype /Form /Resources << /Font "
             b"<< /F1 3 0 R >> >> /Length " + str(len(form)).encode()
             + b" >>\nstream\n" + form + b"\nendstream"),
            b"<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>",  # scanned
            b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",  # uses form
            b"<< /Length 30 >>\nstream\nq 612 0 0 792 0 0 cm /Im0 Do Q"
            b"\nendstream",
            b"<< /Length 9 >>\nstream\n/Fx Do\nendstream",
            (b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
             b"/Filter /FlateDecode /Length " + str(len(raster)).encode()
             + b" >>\nstream\n" + raster + b"\nendstream"),
        ]
        flags = detect_pages_text(_assemble(objs))
        assert flags == [False, True]  # page 1 scans, page 2 draws the form

    def test_unbalanced_q_in_form_does_not_leak(self):
        """A form leaving an extra saved state (or popping one too many)
        must not corrupt the caller's q/Q pairing (review finding)."""
        leaky = b"10 0 0 10 0 0 cm q"     # saves a scaled state, never pops
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] /Resources << /Font "
             b"<< /F1 3 0 R >> /XObject << /Fm 6 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 47 >>\nstream\n"
            b"q /Fm Do Q BT /F1 12 Tf 100 700 Td (AFTER) Tj ET\nendstream",
            b"<< /Type /XObject /Subtype /Form /Length "
            + str(len(leaky)).encode() + b" >>\nstream\n" + leaky
            + b"\nendstream",
        ]
        doc = parse_real_pdf(_assemble(objs))
        assert doc["pages"][0]["texts"] == ["AFTER"]
        x0, y0 = doc["pages"][0]["coords"][0][:2]
        assert x0 == pytest.approx(100.0)          # not 1000 (scaled leak)
        assert 0 <= y0 <= 792                      # on-page

    def test_bare_q_in_form_does_not_pop_caller(self):
        popper = b"Q Q Q"  # tries to pop the caller's saved states
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] /Resources << /Font "
             b"<< /F1 3 0 R >> /XObject << /Fm 6 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 64 >>\nstream\n"
            b"q 1 0 0 1 200 0 cm /Fm Do "
            b"BT /F1 12 Tf 0 700 Td (IN) Tj ET Q\nendstream",
            b"<< /Type /XObject /Subtype /Form /Length "
            + str(len(popper)).encode() + b" >>\nstream\n" + popper
            + b"\nendstream",
        ]
        doc = parse_real_pdf(_assemble(objs))
        # the q 200-translate must still be active for (IN): x = 200
        assert doc["pages"][0]["texts"] == ["IN"]
        assert doc["pages"][0]["coords"][0][0] == pytest.approx(200.0)

    def test_form_font_loaded_once_per_page(self):
        """Tiling one form N times must count its unresolvable-encoding
        fallback ONCE, not N times (lineage comparability; review
        finding)."""
        form = b"BT /F2 10 Tf 5 5 Td (x) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] /Resources << /Font "
             b"<< /F1 3 0 R >> /XObject << /Fm 6 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 37 >>\nstream\n"
            b"/Fm Do /Fm Do /Fm Do /Fm Do /Fm Do\nendstream",
            (b"<< /Type /XObject /Subtype /Form /Resources << /Font "
             b"<< /F2 7 0 R >> >> /Length " + str(len(form)).encode()
             + b" >>\nstream\n" + form + b"\nendstream"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Weird "
            b"/Encoding /NoSuchEncoding >>",
        ]
        doc = parse_real_pdf(_assemble(objs))
        assert doc["counters"]["encoding_fallback"] == 1  # once, not 5


class TestFlavorFuzz:
    """Property sweep over the round-3 flavors: encryption must be a
    byte-transparent wrapper (extract(encrypt(pdf)) ≡ extract(pdf) for
    every scheme), and the scanned tier must round-trip arbitrary token
    streams through raster → recognize → layout."""

    def test_encryption_transparency_fuzz(self):
        import random

        from pdf_ocr_engine_spark.encoders.pdf import encrypt_pdf
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_real_pdf_payload,
        )

        rng = random.Random(99)
        vocab = ("loren ipsum data spark shuffle join scan filter table "
                 "window agg sort").split()
        for trial in range(15):
            text = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(0, 120)))
            pdf = text_to_real_pdf_payload(text, 12, 36)
            plain = extract_document(pdf, "eng")
            scheme = ("rc4-40", "rc4-128", "aes-128")[trial % 3]
            enc = extract_document(encrypt_pdf(pdf, scheme), "eng")
            assert (enc["status"], enc["n_pages"], enc["n_words"],
                    enc["text"]) == (plain["status"], plain["n_pages"],
                                     plain["n_words"], plain["text"]), \
                (trial, scheme)

    def test_scanned_roundtrip_fuzz(self):
        import random

        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_real_pdf_payload,
            text_to_scanned_pdf_payload,
        )

        rng = random.Random(7)
        vocab = ("zero one two three four five six seven eight nine "
                 "ten eleven twelve").split()
        rec = deterministic_recognizer()
        for trial in range(15):
            text = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(0, 150)))
            scanned = extract_document(
                text_to_scanned_pdf_payload(text, 12, 36), "eng",
                recognizer=rec)
            born = extract_document(
                text_to_real_pdf_payload(text, 12, 36), "eng")
            assert (scanned["status"], scanned["n_pages"],
                    scanned["n_words"], scanned["text"]) == \
                   (born["status"], born["n_pages"],
                    born["n_words"], born["text"]), trial


class TestCropBox:
    """pdf.js viewports are CropBox-relative: an offset crop shifts every
    displayed coordinate and defines the page size."""

    @staticmethod
    def _box_pdf(content: bytes, media: bytes, crop: bytes = b"") -> bytes:
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 /MediaBox " + media
             + crop + b" /Resources << /Font << /F1 3 0 R >> >> >>"),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ]
        return _assemble(objs)

    def test_offset_cropbox_shifts_coords_and_dims(self):
        pdf = self._box_pdf(
            b"BT /F1 12 Tf 172 650 Td (crop) Tj ET",
            b"[0 0 612 792]", b" /CropBox [100 100 500 700]")
        doc = parse_real_pdf(pdf)
        page = doc["pages"][0]
        assert (page["width"], page["height"]) == (400.0, 600.0)
        x0, _y0, _x1, y1 = page["coords"][0][:4]
        assert x0 == pytest.approx(72.0)     # 172 − crop x0
        # baseline at user 650 → display 600 − (650−100) = 50
        assert y1 == pytest.approx(50.0 + 0.2 * 12)

    def test_nonzero_mediabox_origin_translates(self):
        pdf = self._box_pdf(b"BT /F1 12 Tf 120 260 Td (orig) Tj ET",
                            b"[100 200 712 992]")
        doc = parse_real_pdf(pdf)
        page = doc["pages"][0]
        assert (page["width"], page["height"]) == (612.0, 792.0)
        assert page["coords"][0][0] == pytest.approx(20.0)  # 120 − 100

    def test_malformed_cropbox_falls_back_to_media(self):
        pdf = self._box_pdf(b"BT /F1 12 Tf 72 720 Td (ok) Tj ET",
                            b"[0 0 612 792]", b" /CropBox [0 0 0 0]")
        doc = parse_real_pdf(pdf)
        assert doc["pages"][0]["width"] == 612.0
        assert doc["pages"][0]["texts"] == ["ok"]


class TestInlineImageBoundary:
    def test_ei_bytes_inside_image_data_do_not_cut(self):
        """'EI' occurring inside binary inline-image data must not end the
        image early and desync the stream (whitespace-boundary rule)."""
        img_data = b"\x01EIx\xffEI\x02"  # embedded 'EI' without boundaries
        content = (b"BI /W 2 /H 2 /CS /G /BPC 8 ID " + img_data
                   + b" EI\nBT /F1 12 Tf 72 720 Td (after) Tj ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["after"]

    def test_ei_at_end_of_stream(self):
        content = b"BT /F1 12 Tf 72 720 Td (pre) Tj ET\nBI /W 1 ID \x00 EI"
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["pre"]


class TestType3Fonts:
    @staticmethod
    def _t3_pdf(font_matrix: bytes, widths: bytes) -> bytes:
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 3 0 R >> >> >>"),
            (b"<< /Type /Font /Subtype /Type3 /FontMatrix " + font_matrix
             + b" /FirstChar 97 /LastChar 98 /Widths " + widths
             + b" /Encoding << /Differences [97 /a /b] >> "
             b"/CharProcs << >> >>"),
            b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            b"<< /Length 34 >>\nstream\n"
            b"BT /F1 12 Tf 72 720 Td (ab) Tj ET\nendstream",
        ]
        return _assemble(objs)

    def test_standard_matrix(self):
        doc = parse_real_pdf(self._t3_pdf(b"[0.001 0 0 0.001 0 0]",
                                          b"[500 600]"))
        p = doc["pages"][0]
        assert p["texts"] == ["ab"]
        # (500+600)/1000 * 12pt = 13.2
        assert p["coords"][0][2] - p["coords"][0][0] == pytest.approx(13.2)

    def test_nonstandard_matrix_scales_widths(self):
        # glyph space at 0.01: widths [50 60] mean the same advances
        doc = parse_real_pdf(self._t3_pdf(b"[0.01 0 0 0.01 0 0]",
                                          b"[50 60]"))
        p = doc["pages"][0]
        assert p["texts"] == ["ab"]
        assert p["coords"][0][2] - p["coords"][0][0] == pytest.approx(13.2)

    def test_data_abutting_ei_not_lost(self):
        """The spec doesn't mandate whitespace BEFORE EI — data abutting
        the terminator must not swallow the rest of the page (fourth-
        review regression)."""
        content = (b"BI /W 1 /H 1 /BPC 8 /CS /G ID \xffEI\n"
                   b"BT /F1 12 Tf 72 720 Td (kept) Tj ET")
        pdf = _foreign_pdf([content])
        assert _tokens(pdf) == ["kept"]


class TestProbeParserAgreement:
    """Router safety invariant: the cheap probe and the full parser must
    agree on has-text per page — a probe false-POSITIVE on an image-only
    page would route the doc to the cheap branch and lose its content
    (the one direction the router cannot tolerate); sweep random
    structures including forms, rotations, and image-only pages."""

    def test_fuzz_agreement(self):
        import random
        import zlib as _z

        from pdf_ocr_engine_spark.core.pdfreal import detect_pages_text
        from pdf_ocr_engine_spark.encoders.pdf import encode_page_raster

        rng = random.Random(424242)
        vocab = "red green blue cyan teal plum gold gray".split()
        for trial in range(30):
            n_pages = rng.randint(1, 4)
            page_objs = []
            extra_objs = []
            # object layout: 1 catalog, 2 pages, 3 font; pages from 4
            next_num = 4 + 2 * n_pages
            kinds = []
            contents = []
            for _p in range(n_pages):
                kind = rng.choice(["text", "blank", "image", "form_text"])
                kinds.append(kind)
                if kind == "text":
                    toks = " ".join(rng.choice(vocab)
                                    for _ in range(rng.randint(1, 6)))
                    contents.append(
                        b"BT /F1 11 Tf 72 700 Td (%s) Tj ET"
                        % toks.encode())
                elif kind == "blank":
                    contents.append(b"0.5 w 10 10 m 90 90 l S")
                elif kind == "image":
                    raster = _z.compress(encode_page_raster(
                        612.0, 792.0, [("img", 1.0, 1.0, 20.0, 13.0)]))
                    img_num = next_num
                    next_num += 1
                    extra_objs.append(
                        (img_num,
                         b"<< /Type /XObject /Subtype /Image /Width 612 "
                         b"/Height 792 /Filter /FlateDecode /Length "
                         + str(len(raster)).encode() + b" >>\nstream\n"
                         + raster + b"\nendstream"))
                    contents.append(
                        b"q 612 0 0 792 0 0 cm /X%d Do Q" % img_num)
                else:  # form_text
                    body = b"BT /F1 9 Tf 30 30 Td (formtok) Tj ET"
                    form_num = next_num
                    next_num += 1
                    extra_objs.append(
                        (form_num,
                         b"<< /Type /XObject /Subtype /Form /Resources "
                         b"<< /Font << /F1 3 0 R >> >> /Length "
                         + str(len(body)).encode() + b" >>\nstream\n"
                         + body + b"\nendstream"))
                    contents.append(b"/X%d Do" % form_num)
            # assemble with per-page XObject resources naming every extra
            xres = b" ".join(b"/X%d %d 0 R" % (n, n) for n, _ in extra_objs)
            rot = rng.choice([b"", b" /Rotate 90", b" /Rotate 180"])
            objs = {}
            objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
            kids = b" ".join(b"%d 0 R" % (4 + 2 * i)
                             for i in range(n_pages))
            objs[2] = (b"<< /Type /Pages /Kids [" + kids + b"] /Count "
                       + str(n_pages).encode()
                       + b" /MediaBox [0 0 612 792]" + rot
                       + b" /Resources << /Font << /F1 3 0 R >> /XObject "
                       b"<< " + xres + b" >> >> >>")
            objs[3] = (b"<< /Type /Font /Subtype /Type1 "
                       b"/BaseFont /Helvetica >>")
            for i, c in enumerate(contents):
                objs[4 + 2 * i] = (b"<< /Type /Page /Parent 2 0 R "
                                   b"/Contents %d 0 R >>" % (5 + 2 * i))
                objs[5 + 2 * i] = (b"<< /Length " + str(len(c)).encode()
                                   + b" >>\nstream\n" + c + b"\nendstream")
            for n, body in extra_objs:
                objs[n] = body
            buf = bytearray(b"%PDF-1.4\n")
            for num in sorted(objs):
                buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
            buf += b"trailer\n<< /Size %d /Root 1 0 R >>\n%%%%EOF" \
                % (max(objs) + 1)
            pdf = bytes(buf)

            parsed = [p["has_text"] for p in parse_real_pdf(pdf)["pages"]]
            probed = detect_pages_text(pdf)
            expected = [k in ("text", "form_text") for k in kinds]
            assert parsed == expected, (trial, kinds, parsed)
            assert probed == expected, (trial, kinds, probed)
