"""Orchestration-scenario tests mirroring the reference's
``src/lib/ocr/__tests__/index.test.ts:30-252`` — guard ordering, has_text
skipping, page-count invariants, error-as-value envelopes — plus the codec
round-trip and the HTML path."""

import math

from pdf_ocr_engine_spark.core.extract_doc import (
    ExtractOptions,
    extract_document,
    sniff_document,
)
from pdf_ocr_engine_spark.core.hyphen import repair_hyphenation
from pdf_ocr_engine_spark.core.html_extract import extract_main_text
from pdf_ocr_engine_spark.core.pdfbin import decode_pdf, sniff_kind
from pdf_ocr_engine_spark.encoders.pdf import encode_pdf


def page(page_no, words, has_text=False, width=612.0, height=792.0):
    return {"page_no": page_no, "width": width, "height": height,
            "has_text": has_text, "words": words}


HELLO = [("Hello", 10, 10, 56, 20), ("world", 62, 10, 104, 20)]


class TestCodec:
    def test_roundtrip(self):
        data = encode_pdf([page(1, HELLO)])
        assert data[:5] == b"%PDF-"
        doc = decode_pdf(data)
        assert doc["page_count"] == 1
        assert doc["pages"][0]["words"][0][0] == "Hello"

    def test_nan_roundtrip(self):
        data = encode_pdf([page(1, [("nan", math.nan, 0, 10, 10)])])
        doc = decode_pdf(data)
        assert math.isnan(doc["pages"][0]["words"][0][1])

    def test_sniff(self):
        assert sniff_kind(b"%PDF-1.7\nrest") == "pdf"
        assert sniff_kind(b"<!DOCTYPE html><html>") == "html"
        assert sniff_kind(b"  \n<html lang=en>") == "html"
        assert sniff_kind(b"\x89PNG\r\n") == "other"
        assert sniff_kind(b"") == "other"
        assert sniff_kind(None) == "other"


class TestGuards:
    def test_happy_path_two_pages(self):
        # index.test.ts:39-101
        data = encode_pdf([page(1, HELLO), page(2, [("p2", 10, 10, 30, 20)])])
        r = extract_document(data, "eng")
        assert r["status"] == "ok"
        assert r["n_pages"] == 2
        assert r["text"] == "Hello world\fp2"
        assert r["n_words"] == 3

    def test_zero_pages(self):
        # index.test.ts:177-191
        r = extract_document(encode_pdf([]), "eng")
        assert r["status"] == "no_pages"
        assert r["error"] == "PDF has no pages"

    def test_max_pages(self):
        # index.test.ts:154-175 (250-page doc vs maxPages=200): the guard
        # fires from cheap metadata BEFORE any page work
        data = encode_pdf([page(i + 1, []) for i in range(5)])
        r = extract_document(data, "eng", ExtractOptions(max_pages=3))
        assert r["status"] == "too_many_pages"
        assert "exceeds the maximum allowed 3 pages" in r["error"]

    def test_page_mismatch(self):
        # index.test.ts:103-132 — declared 3 pages, streamed 2
        data = encode_pdf([page(1, HELLO), page(2, HELLO)], page_count=3)
        r = extract_document(data, "eng")
        assert r["status"] == "page_mismatch"
        assert "2 of 3 page(s)" in r["error"]

    def test_has_text_pages_skipped(self):
        # index.test.ts:193-227 — only the imageless page is extracted;
        # has_text pages contribute empty segments
        data = encode_pdf([
            page(1, HELLO, has_text=True),
            page(2, [("ocr", 10, 10, 40, 20)]),
            page(3, HELLO, has_text=True),
        ])
        r = extract_document(data, "eng")
        assert r["status"] == "ok"
        assert r["text"] == "\focr\f"
        assert r["n_words"] == 1

    def test_all_text_doc_empty(self):
        # index.test.ts:229-251 — all pages have text: nothing extracted
        data = encode_pdf([page(1, HELLO, has_text=True)])
        r = extract_document(data, "eng")
        assert r["status"] == "empty"
        assert r["text"] == ""

    def test_size_guard(self):
        data = encode_pdf([page(1, HELLO)])
        r = extract_document(data, "eng", ExtractOptions(max_bytes=10))
        assert r["status"] == "too_large"

    def test_invalid_lang(self):
        # route.ts:14-16,47-52 — "english" fails ^[a-z]{3}(\+[a-z]{3})*$
        data = encode_pdf([page(1, HELLO)])
        assert extract_document(data, "english")["status"] == "invalid_lang"
        assert extract_document(data, "eng+fra")["status"] == "ok"
        assert extract_document(data, "ENG")["status"] == "ok"  # /i flag

    def test_unsupported_payload(self):
        r = extract_document(b"\x89PNG junk bytes", "eng")
        assert r["status"] == "unsupported"
        assert extract_document(b"", "eng")["status"] == "unsupported"
        assert extract_document(None, "eng")["status"] == "unsupported"

    def test_corrupt_pdf_is_value_not_exception(self):
        r = extract_document(b"%PDF-1.7\n%WBOX1\nnot-json\n%%EOF", "eng")
        assert r["status"] == "decode_error"

    def test_guard_order_size_before_decode(self):
        # fail-fast ordering (route.ts:26-65): size guard fires before the
        # payload is ever decoded, even for corrupt payloads
        r = extract_document(b"%PDF-" + b"x" * 100, "eng",
                             ExtractOptions(max_bytes=50))
        assert r["status"] == "too_large"


class TestHtmlPath:
    HTML = b"""<!DOCTYPE html>
    <html><head><title>T</title><style>.x{}</style></head><body>
    <nav><a href="/">Home</a> <a href="/a">About</a></nav>
    <header><h1>Site Title Banner</h1></header>
    <article>
      <h2>Real Headline</h2>
      <p>This is the first paragraph of the main content body text.</p>
      <p>And a second paragraph with enough words to be kept as well.</p>
    </article>
    <aside><p>Sidebar junk with plenty of words but inside an aside.</p></aside>
    <footer>Copyright 2026 Example Corp All Rights Reserved Worldwide</footer>
    </body></html>"""

    def test_boilerplate_stripped(self):
        r = extract_document(self.HTML, "eng")
        assert r["status"] == "ok"
        assert r["kind"] == "html"
        assert r["text"] == (
            "Real Headline\n\n"
            "This is the first paragraph of the main content body text.\n\n"
            "And a second paragraph with enough words to be kept as well."
        )

    def test_link_density_kills_block(self):
        html = ('<html><body><div><a href="x">one two three four five six '
                'seven</a> eight</div>'
                "<p>normal paragraph with many plain words kept here</p>"
                "</body></html>")
        out = extract_main_text(html)
        assert out == "normal paragraph with many plain words kept here"

    def test_trailing_heading_dropped(self):
        html = ("<html><body><p>body paragraph with sufficient word count "
                "here</p><h2>Dangling Footer Heading</h2></body></html>")
        out = extract_main_text(html)
        assert "Dangling" not in out


class TestHyphenRepair:
    def test_soft_hyphen_fused(self):
        assert repair_hyphenation("exam-\nple text") == "example text"

    def test_hard_hyphen_kept(self):
        assert repair_hyphenation("Jean-\nPaul") == "Jean-\nPaul"
        assert repair_hyphenation("page 1-\n2") == "page 1-\n2"

    def test_option_plumbs_through(self):
        words1 = [("exam-", 10, 10, 50, 20)]
        words2 = [("ple", 10, 30, 30, 40)]
        data = encode_pdf([page(1, words1 + words2)])
        plain = extract_document(data, "eng")
        fixed = extract_document(data, "eng", ExtractOptions(fix_hyphenation=True))
        assert plain["text"] == "exam-\nple"
        assert fixed["text"] == "example"


class TestSniffStage:
    def test_sniff_ok(self):
        s = sniff_document(encode_pdf([page(1, HELLO)]), "eng")
        assert s == {"kind": "pdf", "status": "ok", "error": None,
                     "n_bytes": s["n_bytes"]}


class TestSpans:
    def test_spans_follow_reading_order(self):
        from pdf_ocr_engine_spark.core.extract_doc import (
            ExtractOptions,
            extract_document,
        )
        from pdf_ocr_engine_spark.encoders.pdf import encode_pdf

        # reference table-gap golden, input deliberately unsorted
        words = [("Qty", 180, 10, 220, 22), ("Item", 10, 10, 60, 22),
                 ("2", 190, 34, 205, 46), ("Apple", 10, 34, 70, 46)]
        pdf = encode_pdf([{"page_no": 1, "words": words}])
        r = extract_document(pdf, "eng", ExtractOptions(emit_spans=True))
        assert r["text"] == "Item\tQty\nApple\t2"
        assert [s[2] for s in r["spans"]] == ["Item", "Qty", "Apple", "2"]
        # (page, idx, raw, x0, y0, x1, y1) — coords are the input boxes
        assert r["spans"][0] == (1, 0, "Item", 10.0, 10.0, 60.0, 22.0)
        assert r["spans"][3] == (1, 3, "2", 190.0, 34.0, 205.0, 46.0)

    def test_spans_off_by_default(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import encode_pdf

        pdf = encode_pdf([{"page_no": 1, "words": [("x", 0, 0, 5, 9)]}])
        assert "spans" not in extract_document(pdf, "eng")


class TestTimeBudget:
    def test_timeout_is_status_value(self):
        from pdf_ocr_engine_spark.core.extract_doc import (
            ExtractOptions,
            extract_document,
        )
        from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
        from pdf_ocr_engine_spark.sources.fixtures import layout_words

        pages = [{"page_no": p + 1,
                  "words": layout_words([f"w{p}t{i}" for i in range(200)])}
                 for p in range(50)]
        pdf = encode_pdf(pages)
        r = extract_document(pdf, "eng", ExtractOptions(max_doc_ms=0))
        assert r["status"] == "timeout"
        assert "budget" in r["error"]
        # without a budget, the same document extracts fine
        r2 = extract_document(pdf, "eng")
        assert r2["status"] == "ok" and r2["n_pages"] == 50


class TestFastSegmenterEquivalence:
    """segment_blocks_fast must be event-equivalent to the html.parser
    reference segmenter."""

    def _both(self, html):
        from pdf_ocr_engine_spark.core.html_extract import (
            segment_blocks,
            segment_blocks_fast,
        )

        ref = segment_blocks(html)
        fast = segment_blocks_fast(html)
        assert [(b.tag, b.text, b.link_chars, b.tags_inside) for b in ref] == \
               [(b.tag, b.text, b.link_chars, b.tags_inside) for b in fast]
        return ref

    def test_fixture_docs_match(self):
        import random

        from pdf_ocr_engine_spark.sources.fixtures import _html_doc

        rng = random.Random(7)
        for _ in range(30):
            html, _ = _html_doc(rng)
            self._both(html.decode())

    def test_edge_markup(self):
        cases = [
            "",
            "bare text only",
            "<p>a &amp; b &lt;c&gt;</p>",
            "<div><a href='/x'>link</a> trailing</div>",
            "<script>var x = '<div>not a block</div>';</script><p>one two three four five six</p>",
            "<style>p > a { color: red }</style><p>alpha beta gamma delta epsilon five</p>",
            "<!-- <p>commented out</p> --><p>real words here now five six</p>",
            "<nav><ul><li><a>x</a></li></ul></nav><p>kept words one two three four</p>",
            "<p>unclosed paragraph text runs to end",
            "<br><p>after<br>break</p>",
            "<div a='q>z' b=\"w>v\">attr with gt</div>",
            "<p/><span/><a/>self closed</p>",
            "<P>UPPER CASE TAGS</P>",
            "<a",  # incomplete tag at EOF -> text
            "<img src=x><p>void tags ignored one two three four five</p>",
        ]
        for c in cases:
            self._both(c)

    def test_fuzz_equivalence(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        tag = st.sampled_from(
            ["p", "div", "span", "a", "nav", "li", "h2", "em", "footer",
             "article", "img", "br"])
        # no stray '<' in text: recovery from pathological markup is an
        # accepted divergence from html.parser (documented at _MARKUP)
        piece = st.one_of(
            st.text(alphabet="ab &;#xlt>", max_size=8),
            tag.map(lambda t: f"<{t}>"),
            tag.map(lambda t: f"</{t}>"),
            tag.map(lambda t: f"<{t} class='c'>"),
            st.just("<!-- c -->"),
        )
        doc = st.lists(piece, max_size=30).map("".join)

        @settings(max_examples=300, deadline=None)
        @given(doc)
        def check(html):
            self._both(html)

        check()


class TestCodecFuzz:
    def test_wbox2_roundtrip_fuzz(self):
        """encode_pdf -> decode_pdf is lossless for arbitrary word content:
        unicode text, NaN/inf coords, empty pages, has_text flags."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        coord = st.one_of(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.sampled_from([math.nan, math.inf, -math.inf]))
        word = st.tuples(st.text(max_size=12), coord, coord, coord, coord)
        pg = st.builds(
            lambda no, ht, ws: {"page_no": no, "has_text": ht, "words": ws},
            st.integers(1, 99), st.booleans(), st.lists(word, max_size=8))

        @settings(max_examples=150, deadline=None)
        @given(st.lists(pg, max_size=4))
        def check(pages):
            doc = decode_pdf(encode_pdf(pages))
            assert doc["page_count"] == len(pages)
            for orig, got in zip(pages, doc["pages"]):
                assert got["page_no"] == orig["page_no"]
                assert got["has_text"] == orig["has_text"]
                assert len(got["words"]) == len(orig["words"])
                for ow, gw in zip(orig["words"], got["words"]):
                    assert gw[0] == ow[0]
                    for a, b in zip(ow[1:5], gw[1:5]):
                        assert (a == b) or (math.isnan(a) and math.isnan(b))

        check()


class TestPayloadTypeGuard:
    def test_non_binary_payload_is_value(self):
        r = extract_document("a string, not bytes", "eng")
        assert r["status"] == "unsupported"
        assert "not binary" in r["error"]
        r = extract_document(12345, "eng")
        assert r["status"] == "unsupported"

    def test_bytearray_and_memoryview_accepted(self):
        data = encode_pdf([page(1, HELLO)])
        assert extract_document(bytearray(data), "eng")["status"] == "ok"
        assert extract_document(memoryview(data), "eng")["status"] == "ok"


class TestHtmlCharset:
    """Browser-order charset resolution (BOM → meta → utf-8): a non-utf-8
    page decoded as utf-8-replace turns every non-ASCII char into U+FFFD,
    silently destroying downstream quality/dedup signals."""

    def _page(self, body: str) -> str:
        return ("<html><head><meta charset=\"iso-8859-1\"></head><body>"
                f"<p>{body}</p></body></html>")

    def test_latin1_meta_charset_decodes(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document

        body = "café résumé naïve jalapeño words enough to keep the block"
        html = self._page(body).encode("iso-8859-1")
        r = extract_document(html, "eng")
        assert r["status"] == "ok"
        assert "café" in r["text"]
        assert "�" not in r["text"]

    def test_utf8_unaffected(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document

        html = ("<html><head><meta charset='utf-8'></head><body><p>"
                "unicode snowman ☃ plus enough words to keep the paragraph "
                "block alive here</p></body></html>").encode("utf-8")
        r = extract_document(html, "eng")
        assert "☃" in r["text"]

    def test_bom_utf16(self):
        from pdf_ocr_engine_spark.core.extract_doc import (
            detect_html_charset,
        )

        assert detect_html_charset(
            "<html>x</html>".encode("utf-16")) == "utf-16"
        assert detect_html_charset(b"\xef\xbb\xbfhello") == "utf-8-sig"

    def test_unknown_label_falls_back_utf8(self):
        from pdf_ocr_engine_spark.core.extract_doc import (
            detect_html_charset,
        )

        html = b"<meta charset='x-bogus-enc'><p>hi</p>"
        assert detect_html_charset(html) == "utf-8"

    def test_whatwg_latin1_is_cp1252(self):
        # the WHATWG standard maps iso-8859-1 to windows-1252 (0x93 etc.)
        from pdf_ocr_engine_spark.core.extract_doc import (
            detect_html_charset,
        )

        assert detect_html_charset(
            b"<meta charset='iso-8859-1'>") == "cp1252"

    def test_meta_utf16_label_is_whatwg_utf8(self):
        # a META-declared utf-16 is a lie by construction; decoding the
        # (ASCII-compatible) bytes as utf-16 previously crashed into
        # decode_error (review regression)
        from pdf_ocr_engine_spark.core.extract_doc import (
            detect_html_charset,
            extract_document,
        )

        html = ("<html><head><meta charset='utf-16'></head><body><p>"
                "mislabeled page with enough words to keep this block "
                "alive</p></body></html>").encode("utf-8")
        assert detect_html_charset(html) == "utf-8"
        r = extract_document(html, "eng")
        assert r["status"] == "ok"
        assert "mislabeled" in r["text"]
