"""Searchable-PDF assembly (U3): structural validity, deterministic bytes,
invisible-text round-trip, and the Spark operator end-to-end."""

import pytest

from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
from pdf_ocr_engine_spark.core.pdfreal import parse_real_pdf
from pdf_ocr_engine_spark.core.pdfwrite import build_searchable_pdf


def extract_pdf_text(data: bytes) -> list[list[str]]:
    """The words of each page, read back by the real-PDF parser, after
    checking that every xref offset points exactly at its object and that
    each ``Tj`` operator shows exactly one word (the parser drops blank
    strings and splits on spaces, so it alone would not see either)."""
    xref_at = int(data[data.rfind(b"startxref"):].split()[1])
    assert data[xref_at:xref_at + 4] == b"xref", "xref offset wrong"
    lines = data[xref_at:].split(b"\n")
    for i in range(1, int(lines[1].split()[1])):
        off = int(lines[2 + i].split()[0])
        expect = f"{i} 0 obj".encode()
        assert data[off:off + len(expect)] == expect, f"object {i} offset wrong"
    pages = [page["texts"] for page in parse_real_pdf(data)["pages"]]
    assert data.count(b" Tj") == sum(len(words) for words in pages), \
        "a Tj operand is not exactly one word"
    return pages


TABLE_SPANS = [("Item", 10, 10, 60, 22), ("Qty", 180, 10, 220, 22),
               ("Apple", 10, 34, 70, 46), ("2", 190, 34, 205, 46)]


class TestWriter:
    def test_structure_and_roundtrip(self):
        pdf = build_searchable_pdf(
            [{"width": 612, "height": 792, "spans": TABLE_SPANS}])
        assert pdf.startswith(b"%PDF-1.4")
        assert pdf.endswith(b"%%EOF")
        assert b"3 Tr" in pdf          # invisible text rendering mode
        assert b"/Helvetica" in pdf
        # extract_pdf_text also asserts every xref offset is exact
        assert extract_pdf_text(pdf) == [["Item", "Qty", "Apple", "2"]]

    def test_deterministic_bytes(self):
        pages = [{"width": 612, "height": 792, "spans": TABLE_SPANS}]
        assert build_searchable_pdf(pages) == build_searchable_pdf(pages)

    def test_multi_page_and_empty_page(self):
        pdf = build_searchable_pdf([
            {"width": 612, "height": 792, "spans": TABLE_SPANS[:2]},
            {"width": 612, "height": 792, "spans": []},   # has_text page
            {"width": 400, "height": 400, "spans": [("end", 0, 0, 30, 12)]},
        ])
        assert extract_pdf_text(pdf) == [["Item", "Qty"], [], ["end"]]
        assert pdf.count(b"/Type /Page ") == 3

    def test_f9_skips_undrawable(self):
        pdf = build_searchable_pdf([{"width": 612, "height": 792, "spans": [
            ("ok", 10, 10, 50, 22),
            ("zero-width", 10, 30, 10, 42),      # word_w <= 0
            ("", 10, 50, 60, 62),                # width_at_12 <= 0
            ("   ", 10, 70, 60, 82),             # blank raw
            ("nan", float("nan"), 90, 60, 102),  # NaN position
        ]}])
        assert extract_pdf_text(pdf) == [["ok"]]

    def test_escaping(self):
        pdf = build_searchable_pdf([{"width": 612, "height": 792, "spans": [
            ("a(b)c\\d", 10, 10, 80, 22)]}])
        assert extract_pdf_text(pdf) == [["a(b)c\\d"]]

    def test_mixed_nonlatin_text_not_dropped(self):
        # mixed ASCII+CJK must fall back to UTF-8 escapes, never truncate
        pdf = build_searchable_pdf([{"width": 612, "height": 792, "spans": [
            ("abc\u65e5\u672c", 10, 10, 80, 22)]}])
        (words,) = extract_pdf_text(pdf)
        assert words[0].encode("latin-1").decode("utf-8") == "abc\u65e5\u672c"

    def test_image_scale_transform(self):
        # image at 2x page resolution: span at image (100,40)-(200,64)
        # -> pdf x=50, word_h=12, y = 792 - 32 + 2.4
        pdf = build_searchable_pdf([{
            "width": 612, "height": 792, "img_width": 1224, "img_height": 1584,
            "spans": [("word", 100, 40, 200, 64)]}])
        assert b"1 0 0 1 50 762.4 Tm" in pdf


@pytest.mark.spark
class TestAssembleOperator:
    def test_end_to_end(self, spark, fixture_pages_path):
        from pyspark.sql import functions as F

        from pdf_ocr_engine_spark.operators.assemble import assemble_searchable

        pages = spark.read.parquet(fixture_pages_path)
        out = assemble_searchable(pages).cache()
        by_status = {r["status"]: r["n"] for r in
                     out.groupBy("status").agg(F.count("*").alias("n"))
                        .collect()}
        assert by_status["ok"] > 30
        assert "unsupported" in by_status  # html + junk rows routed, not lost
        assert sum(by_status.values()) == pages.count()

        # every ok PDF round-trips its invisible text layer to the same
        # word sequence the extraction pipeline emits
        row = out.where("url = 'https://host001.example/pinned/table.pdf'") \
                 .first() or out.where(
                     (F.col("status") == "ok") & (F.col("n_words") > 0)).first()
        texts = extract_pdf_text(bytes(row.pdf))
        assert sum(len(p) for p in texts) == row.n_words
        out.unpersist()

    def test_pinned_table_golden(self, spark, fixture_pages_path):
        from pdf_ocr_engine_spark.operators.assemble import assemble_searchable

        pages = spark.read.parquet(fixture_pages_path) \
            .where("url like '%pinned/table.pdf'")
        row = assemble_searchable(pages).first()
        assert row.status == "ok"
        # reading order from the reference's own table-gap golden
        assert extract_pdf_text(bytes(row.pdf)) == [
            ["Item", "Qty", "Price", "Apple", "2", "$3.00"]]
