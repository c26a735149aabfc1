"""TrueType (sfnt) glyph-id → Unicode recovery: core/sfnt.py parsing,
the pdfreal._truetype_recovery tier, and the no-ToUnicode fixture PDFs.

Reference parity: pdf.js gives the reference this recovery for free
(src/lib/ocr/extractor.ts:62-103); here it is a from-scratch cmap/post
reader (ISO/IEC 14496-22)."""

from __future__ import annotations

import struct

import pytest

from pdf_ocr_engine_spark.core import sfnt
from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.core.pdfwrite import build_truetype_pdf
from pdf_ocr_engine_spark.sources.fixtures import (
    expected_text,
    layout_words,
    text_to_truetype_pdf_payload,
)

ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"
C2G = {ch: i + 1 for i, ch in enumerate(ALPHA)}
TOKENS = ("the quick brown fox jumps over lazy dog 42 plus more words "
          "here to fill two lines").split()


class TestSfntTables:
    def test_unicode_cmap_roundtrip(self):
        font = sfnt.build_minimal_truetype(C2G)
        got = sfnt.gid_to_unicode(font)
        assert all(got.get(g) == ch for ch, g in C2G.items())

    def test_post_names_roundtrip(self):
        font = sfnt.build_minimal_truetype(C2G, unicode_cmap=False,
                                           post_names=True)
        got = sfnt.gid_to_unicode(font)
        assert all(got.get(g) == ch for ch, g in C2G.items())

    def test_symbolic_cmap_gives_code_to_gid_not_unicode(self):
        # a (3,0)-only font: best_unicode_cmap folds F0xx codes for the
        # code→gid lookup, but gid_to_unicode must NOT invert it into
        # fabricated code points
        scrambled = {0x21 + i: gid for i, gid in enumerate(C2G.values())}
        font = sfnt.build_minimal_truetype(
            C2G, symbolic=True, unicode_cmap=False, post_names=True,
            symbolic_codes=scrambled)
        tables = sfnt.parse_tables(font)
        c2g = sfnt.best_unicode_cmap(tables["cmap"])
        assert c2g == scrambled
        got = sfnt.gid_to_unicode(font)  # post names win
        assert all(got.get(g) == ch for ch, g in C2G.items())

    def test_lowest_code_wins_on_many_to_one(self):
        # 'a' and 'b' both map to gid 1: the inversion must pick 'a'
        font = sfnt.build_minimal_truetype({"a": 1, "b": 1})
        assert sfnt.gid_to_unicode(font)[1] == "a"

    def test_cmap_format0_and_6(self):
        # hand-build format 0 and format 6 subtables
        f0 = bytearray(struct.pack(">HHH", 0, 262, 0)) + bytes(256)
        f0[6 + ord("a")] = 3
        assert sfnt._cmap_subtable(bytes(f0)) == {ord("a"): 3}
        f6 = struct.pack(">HHHHHHH", 6, 14, 0, ord("x"), 2, 7, 8)
        assert sfnt._cmap_subtable(f6) == {ord("x"): 7, ord("x") + 1: 8}

    def test_cmap_format12(self):
        sub = struct.pack(">HHIII", 12, 0, 16 + 12, 0, 1) \
            + struct.pack(">III", 0x61, 0x63, 9)
        assert sfnt._cmap_subtable(sub) == {0x61: 9, 0x62: 10, 0x63: 11}

    def test_cmap_format12_group_wider_than_16_bits(self):
        # one contiguous group of 70,000 codes (a full-repertoire font) is
        # within the per-subtable code budget and must map whole
        sub = struct.pack(">HHIII", 12, 0, 16 + 12, 0, 1) \
            + struct.pack(">III", 0x4E00, 0x4E00 + 69_999, 5)
        out = sfnt._cmap_subtable(sub)
        assert len(out) == 70_000
        assert out[0x4E00] == 5 and out[0x4E00 + 69_999] == 70_004

    def test_cmap_format12_group_over_budget_raises(self):
        n = sfnt._MAX_CMAP_CODES + 1
        sub = struct.pack(">HHIII", 12, 0, 16 + 12, 0, 1) \
            + struct.pack(">III", 0x10000, 0x10000 + n - 1, 1)
        with pytest.raises(sfnt.SfntError, match="budget"):
            sfnt._cmap_subtable(sub)

    def test_garbage_raises_cleanly(self):
        for bad in (b"", b"OTTO" + b"\x00" * 64, b"\x00\x01\x00\x00",
                    b"\x00\x01\x00\x00" + b"\xff" * 200):
            with pytest.raises(sfnt.SfntError):
                sfnt.parse_tables(bad)

    def test_truncated_valid_font_raises_or_degrades(self):
        font = sfnt.build_minimal_truetype(C2G, post_names=True)
        for cut in range(0, len(font), 7):
            try:
                sfnt.gid_to_unicode(font[:cut])
            except sfnt.SfntError:
                pass  # clean rejection is fine; wrong text is not


class TestNoToUnicodeExtraction:
    PAGES = [{"width": 612.0, "height": 792.0,
              "spans": layout_words(TOKENS)}]

    @pytest.mark.parametrize("variant", ["cid", "cidstream", "symbolic"])
    def test_recovers_byte_identical_text(self, variant):
        pdf = build_truetype_pdf(self.PAGES, variant=variant)
        assert b"ToUnicode" not in pdf
        r = extract_document(pdf, "eng")
        assert r["status"] == "ok"
        assert r["text"] == expected_text(TOKENS)
        assert r["n_fallbacks"] == 0

    def test_without_fontfile_text_is_wrong_and_counted(self):
        # negative control: recovery is load-bearing — dropping the
        # FontFile2 reference must change the text AND bump the lineage
        # counter (raw CIDs)
        pdf = build_truetype_pdf(self.PAGES, variant="cid")
        pdf_nofont = pdf.replace(b"/FontFile2 6 0 R ", b"")
        assert pdf_nofont != pdf
        r = extract_document(pdf_nofont, "eng")
        assert r["text"] != expected_text(TOKENS)
        assert r["n_fallbacks"] > 0

    def test_scrambled_codes_defeat_byte_fallback(self):
        # the symbolic fixture's codes are 0x21+index — chr(code) gives
        # punctuation, so a pass proves the cmap/post path ran
        pdf = build_truetype_pdf(self.PAGES, variant="symbolic")
        r = extract_document(pdf, "eng")
        assert r["text"] == expected_text(TOKENS)
        assert "!" not in r["text"]

    def test_corrupt_fontfile_counts_fallback_not_crash(self):
        pdf = build_truetype_pdf(self.PAGES, variant="cid")
        from pdf_ocr_engine_spark.core.sfnt import build_minimal_truetype

        font = build_minimal_truetype(
            {ch: i + 1 for i, ch in enumerate(sorted(
                {c for t in TOKENS for c in t}))})
        bad = b"\xde\xad" + font[2:]
        assert font in pdf
        r = extract_document(pdf.replace(font, bad), "eng")
        assert r["status"] == "ok"  # text degrades to raw CIDs, no crash
        assert r["n_fallbacks"] > 0

    def test_paginated_fixture_matches_real_pdf_oracle(self):
        text = " ".join(TOKENS * 5)
        for variant in ("cid", "symbolic"):
            pdf = text_to_truetype_pdf_payload(text, 12, 36,
                                               variant=variant)
            r = extract_document(pdf, "eng")
            assert r["n_pages"] == 3
            assert r["text"].split() == text.split()

    def test_explicit_differences_beat_recovery(self):
        # an /Encoding with /Differences stays authoritative over the
        # font-program recovery (spec order) — craft a symbolic PDF and
        # add an Encoding that remaps one code
        pdf = build_truetype_pdf(
            [{"width": 612.0, "height": 792.0,
              "spans": layout_words(["ab"])}], variant="symbolic")
        # codes: 'a'->0x21, 'b'->0x22; remap 0x21 to 'z' via Differences
        old = b"/FontDescriptor 4 0 R >>"
        new = (b"/FontDescriptor 4 0 R /Encoding << /Differences "
               b"[33 /z] >> >>")
        patched = pdf.replace(old, new)
        assert patched != pdf
        r = extract_document(patched, "eng")
        assert r["text"] == "zb"


class TestHardeningReviewFixes:
    """Regression tests for the r5 review findings."""

    def test_truncated_iddelta_never_leaks_struct_error(self):
        # format-4 header in bounds, idDelta array truncated: must be a
        # skipped subtable, not a struct.error crashing extraction
        cm = (struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12)
              + struct.pack(">HHHHHHH", 4, 36, 0, 4, 4, 1, 0)
              + struct.pack(">HH", 0x41, 0xFFFF) + b"\x00\x00"
              + struct.pack(">HH", 0x41, 0xFFFF) + b"\x00")
        assert sfnt.cmap_maps(cm) == {}

    def test_overlapping_groups_hit_code_budget(self):
        import time

        groups = b"".join(struct.pack(">III", 0, 0xFFFE, 1)
                          for _ in range(500))
        sub = struct.pack(">HHIII", 12, 0, 16 + len(groups), 0,
                          500) + groups
        t0 = time.monotonic()
        with pytest.raises(sfnt.SfntError, match="budget"):
            sfnt._cmap_subtable(sub)
        assert time.monotonic() - t0 < 2.0

    def test_mac_roman_high_codes_not_fabricated(self):
        # (1,0) cmap: 0x8E is Mac Roman 'é', NOT U+008E — the inversion
        # must skip high codes and let post names cover those gids
        tbl = bytearray(struct.pack(">HHH", 0, 262, 0)) + bytes(256)
        tbl[6 + 0x61] = 1   # 'a' -> gid 1 (ASCII: legitimate)
        tbl[6 + 0x8E] = 2   # Mac Roman high code -> gid 2
        cm = (struct.pack(">HH", 0, 1)
              + struct.pack(">HHI", 1, 0, 12) + bytes(tbl))
        base = sfnt.build_minimal_truetype({"a": 1, "b": 2},
                                           unicode_cmap=False,
                                           post_names=True)
        tables = sfnt.parse_tables(base)
        # splice: rebuild a font whose cmap is the (1,0) table and whose
        # post names gid 2 as 'b'
        rebuilt = _rebuild_font({**tables, "cmap": cm})
        got = sfnt.gid_to_unicode(rebuilt)
        assert got[1] == "a"      # ASCII from the Mac table
        assert got[2] == "b"      # post name, NOT chr(0x8E)


def _rebuild_font(tables: dict[str, bytes]) -> bytes:
    import math

    items = sorted((tag.encode("latin-1"), data)
                   for tag, data in tables.items())
    n = len(items)
    floor_pow = 1 << int(math.log2(n))
    out = struct.pack(">IHHHH", 0x00010000, n, floor_pow * 16,
                      int(math.log2(floor_pow)), n * 16 - floor_pow * 16)
    offset = 12 + 16 * n
    recs, body = b"", b""
    for tag, data in items:
        recs += struct.pack(">4sIII", tag, 0, offset, len(data))
        pad = (4 - len(data) % 4) % 4
        body += data + b"\x00" * pad
        offset += len(data) + pad
    return out + recs + body
