"""S6 executor-asset distribution (sources/assets.py): --files shipping,
init-point loading discipline, and the hyphen-exception semantics it powers.

Reference counterpart: the read-only traineddata cache opened at worker init
(/root/reference/src/lib/ocr/ocr.ts:52-55).
"""

from __future__ import annotations

import importlib
import os

import pytest
from pyspark.sql import functions as F

from pdf_ocr_engine_spark.core.hyphen import repair_hyphenation

pytestmark = pytest.mark.spark


class TestRepairExceptions:
    def test_default_fuses(self):
        assert repair_hyphenation("text exam-\nple more") == "text example more"

    def test_exception_keeps_hyphen(self):
        ex = frozenset({"self-contained"})
        assert repair_hyphenation("a self-\ncontained unit", ex) \
            == "a self-contained unit"
        # non-exception still fuses with the same set loaded
        assert repair_hyphenation("text exam-\nple more", ex) \
            == "text example more"

    def test_chain_across_three_lines_fully_fused(self):
        # a consuming break-at-a-time regex only fixes every other break
        assert repair_hyphenation("super-\ncali-\nfragilistic") \
            == "supercalifragilistic"
        assert repair_hyphenation("a-\nb-\nc-\nd end") == "abcd end"

    def test_multipart_exception_kept_whole(self):
        ex = frozenset({"mother-in-law"})
        assert repair_hyphenation("my mother-\nin-\nlaw visits", ex) \
            == "my mother-in-law visits"
        # unknown chain with the same set still fuses
        assert repair_hyphenation("super-\ncali-\nfragilistic", ex) \
            == "supercalifragilistic"

    def test_hard_hyphen_untouched_either_way(self):
        for ex in (None, frozenset({"self-contained"})):
            assert repair_hyphenation("Jean-\nPaul", ex) == "Jean-\nPaul"

    def test_packaged_asset_loads_and_applies(self):
        from pdf_ocr_engine_spark.sources.assets import load_asset_words

        words = load_asset_words()
        assert "self-contained" in words
        assert repair_hyphenation("a self-\ncontained unit", words) \
            == "a self-contained unit"


class TestExecutorAsset:
    def test_ship_and_extract_end_to_end(self, spark, tmp_path):
        """Asset distributed with addFile (the --files twin) reaches the
        extraction UDF: the exception word keeps its hyphen, the plain word
        fuses — per document, inside Spark."""
        from pdf_ocr_engine_spark.core.extract_doc import ExtractOptions
        from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
        from pdf_ocr_engine_spark.operators.extract import extract_pages
        from pdf_ocr_engine_spark.sources import assets

        asset = tmp_path / "test_hyphen_asset.txt"
        asset.write_text("# test asset\nself-contained\n")
        assets.ship_asset(spark, str(asset))

        words_exc = [("a", 10, 10, 16, 22), ("self-", 22, 10, 52, 22),
                     ("unit", 10, 30, 34, 42)]
        # grid places "self-" at end of line 1, "contained" starts line 2
        pdf_exc = encode_pdf([{
            "page_no": 1, "width": 612.0, "height": 792.0, "has_text": False,
            "words": [("self-", 10, 10, 40, 22),
                      ("contained", 10, 30, 64, 42)]}])
        pdf_fuse = encode_pdf([{
            "page_no": 1, "width": 612.0, "height": 792.0, "has_text": False,
            "words": [("exam-", 10, 10, 40, 22),
                      ("ple", 10, 30, 28, 42)]}])
        del words_exc
        df = spark.createDataFrame(
            [("u1", pdf_exc, "eng"), ("u2", pdf_fuse, "eng")],
            ["url", "html", "lang"])
        opts = ExtractOptions(fix_hyphenation=True,
                              hyphen_asset="test_hyphen_asset.txt")
        out = {r.url: r.text for r in extract_pages(df, opts).collect()}
        assert out["u1"] == "self-contained"
        assert out["u2"] == "example"

    def test_asset_reads_disk_once_per_worker_not_per_batch(
            self, spark, tmp_path, monkeypatch):
        """The audit hook counts DISK reads.  One task, many Arrow batches:
        the asset file must be opened at most once per Python worker — a
        per-batch load would show one audit line per batch."""
        from pdf_ocr_engine_spark.core.extract_doc import ExtractOptions
        from pdf_ocr_engine_spark.operators.extract import extract_pages
        from pdf_ocr_engine_spark.sources import assets
        from pdf_ocr_engine_spark.sources.fixtures import text_to_pdf_payload

        audit = tmp_path / "audit.log"
        asset = tmp_path / "count_asset.txt"
        asset.write_text("self-contained\n")
        assets.ship_asset(spark, str(asset))
        monkeypatch.setenv("SPARK_GRAFT_ASSET_AUDIT", str(audit))

        n_docs = 24
        rows = [(f"u{i}", text_to_pdf_payload("plain words here"), "eng")
                for i in range(n_docs)]
        df = spark.createDataFrame(rows, ["url", "html", "lang"]) \
                  .repartition(1)  # exactly ONE task
        opts = ExtractOptions(fix_hyphenation=True,
                              hyphen_asset="count_asset.txt")
        # small Arrow batches force many batches within the single task
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        try:
            assert extract_pages(df, opts).count() == n_docs
            # run AGAIN: later tasks on the same worker hit the cache
            assert extract_pages(df, opts).count() == n_docs
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

        lines = audit.read_text().strip().splitlines() if audit.exists() \
            else []
        # one python worker ran the single task per job; even across two
        # jobs the process cache allows at most one read per distinct
        # worker process — and NEVER one per batch (12 batches/job)
        assert 0 < len(lines) <= 2, lines
        pids = {ln.split("\t")[0] for ln in lines}
        assert len(pids) == len(lines)  # distinct workers, not re-reads


class TestChainPairSemantics:
    def test_pair_checked_against_original_fragment(self):
        # the pair behind each continuation is the ORIGINAL previous part,
        # even after earlier fragments fused
        ex = frozenset({"in-law"})
        assert repair_hyphenation("mother-\nin-\nlaw", ex) == "motherin-law"
        ex2 = frozenset({"self-contained"})
        assert repair_hyphenation("un-\nself-\ncontained", ex2) \
            == "unself-contained"
