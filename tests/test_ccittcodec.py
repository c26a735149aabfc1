"""CCITT Group 4 (T.6) codec: hand-derived wire vectors, round-trips,
error paths, and the CCITTFaxDecode OCR path through real PDF structures."""

import numpy as np
import pytest

from pdf_ocr_engine_spark.core.ccittcodec import (
    CcittError,
    decode_g3,
    decode_g4,
    encode_g3,
    encode_g4,
)
from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer


class TestWireFormat:
    def test_blank_page_bits(self):
        # all-white rows against an all-white reference each code as one
        # V0 bit ('1'); stream ends with EOFB (two EOLs), zero-padded:
        #   111 | 000000000001 | 000000000001 | 00000
        # = 0xE0 0x02 0x00 0x20
        assert encode_g4(np.zeros((3, 5), bool)) == b"\xE0\x02\x00\x20"

    def test_known_codewords_on_one_row(self):
        # row [B B W W W], width 5: horizontal mode '001' + white run 0
        # '00110101' + black run 2 '11', then V0 '1' closes the line —
        # all four codewords straight from the published T.4/T.6 tables:
        #   001 00110101 11 1 | EOL | EOL | 00
        # = 0x26 0xBC 0x00 0x40 0x04
        row = np.array([[1, 1, 0, 0, 0]], dtype=np.uint8)
        assert encode_g4(row) == b"\x26\xBC\x00\x40\x04"

    def test_decode_of_handmade_stream(self):
        dec = decode_g4(b"\x26\xBC\x00\x40\x04", 5, 1)
        assert dec.tolist() == [[0, 0, 255, 255, 255]]

    def test_byte_aligned_lines(self):
        # EncodedByteAlign: each line starts on a byte boundary.  Two
        # blank 5-px lines: V0 + pad-to-byte, twice, then EOFB.
        data = b"\x80\x80\x00\x10\x01"
        dec = decode_g4(data, 5, 2, encoded_byte_align=True)
        assert (dec == 255).all()


class TestRoundTrip:
    def test_all_black(self):
        bm = np.ones((7, 31), bool)
        assert (decode_g4(encode_g4(bm), 31, 7) == 0).all()

    def test_random_bitmaps(self):
        rng = np.random.default_rng(7)
        for _ in range(40):
            h = int(rng.integers(1, 32))
            w = int(rng.integers(1, 80))
            bm = rng.random((h, w)) < rng.random()
            dec = decode_g4(encode_g4(bm), w, h)
            assert (dec == np.where(bm, 0, 255)).all()

    def test_vertical_stripes_exercise_pass_mode(self):
        # narrow stripes that shift per row force pass + all vertical
        # offsets through the 2-D coder
        x = np.arange(64)[None, :]
        y = np.arange(48)[:, None]
        bm = ((x + 3 * y) // 5) % 2 == 0
        dec = decode_g4(encode_g4(bm), 64, 48)
        assert (dec == np.where(bm, 0, 255)).all()

    def test_long_runs_use_makeup_chain(self):
        # one black row of 3000 px needs extended makeup (2560) + makeup
        # + terminating codes
        bm = np.ones((2, 3000), bool)
        bm[1, 1500:] = False
        dec = decode_g4(encode_g4(bm), 3000, 2)
        assert (dec == np.where(bm, 0, 255)).all()

    def test_rows_none_stops_at_eofb(self):
        bm = np.eye(9, 40, dtype=bool)
        dec = decode_g4(encode_g4(bm), 40)
        assert dec.shape == (9, 40)
        assert (dec == np.where(bm, 0, 255)).all()


class TestErrors:
    def test_truncation(self):
        enc = encode_g4(np.random.default_rng(1).random((20, 64)) < 0.4)
        with pytest.raises(CcittError):
            decode_g4(enc[: len(enc) // 3], 64, 20)

    def test_garbage(self):
        with pytest.raises(CcittError):
            decode_g4(b"\x5A" * 40, 64, 4)

    def test_bad_columns(self):
        with pytest.raises(CcittError):
            decode_g4(b"\x80", 0, 1)

    def test_short_stream_missing_rows(self):
        enc = encode_g4(np.zeros((2, 10), bool))
        with pytest.raises(CcittError):
            decode_g4(enc, 10, 50)

    def test_extension_mode_prefix_is_ccitt_error(self):
        # 0000001 is the T.6 extension code, not a vertical mode
        with pytest.raises(CcittError, match="invalid 2-D mode code"):
            decode_g4(b"\x02\xff\xff\xff", 16, 1)


class TestPilInterop:
    """Cross-implementation proof against libtiff's G4 codec when PIL is
    installed (it is not in this sandbox — these skip cleanly)."""

    @staticmethod
    def _tiff_g4(data: bytes, w: int, h: int) -> bytes:
        import struct

        # minimal little-endian TIFF: one strip, Compression=4,
        # Photometric=0 (MinIsWhite)
        tags = [
            (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 1),
            (259, 3, 1, 4), (262, 3, 1, 0), (273, 4, 1, 8 + 2 + 12 * 9 + 4),
            (277, 3, 1, 1), (278, 3, 1, h), (279, 4, 1, len(data)),
        ]
        out = struct.pack("<2sHI", b"II", 42, 8)
        out += struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            out += struct.pack("<HHII", tag, typ, cnt, val)
        out += struct.pack("<I", 0)
        return out + data

    def test_pil_decodes_our_g4(self):
        Image = pytest.importorskip("PIL.Image")
        import io

        bm = np.random.default_rng(3).random((33, 70)) < 0.35
        tiff = self._tiff_g4(encode_g4(bm), 70, 33)
        img = Image.open(io.BytesIO(tiff))
        got = np.asarray(img.convert("L"))
        # MinIsWhite: PIL maps white→255, black→0 after convert("L")
        assert (got == np.where(bm, 0, 255)).all()

    def test_we_decode_pil_g4(self):
        Image = pytest.importorskip("PIL.Image")
        import io

        bm = np.random.default_rng(4).random((25, 61)) < 0.5
        img = Image.fromarray(np.where(bm, 0, 255).astype(np.uint8), "L")
        buf = io.BytesIO()
        img.convert("1").save(buf, format="TIFF", compression="group4")
        buf.seek(0)
        tif = Image.open(buf)
        (offset,) = tif.tag_v2[273]
        (count,) = tif.tag_v2[279]
        data = buf.getvalue()[offset:offset + count]
        dec = decode_g4(data, 61, 25)
        assert (dec == np.where(bm, 0, 255)).all()


class TestPdfIntegration:
    def test_ccitt_scanned_pdf_ocr(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("scanned", 10, 10, 52, 18),
                            ("via", 60, 10, 78, 18),
                            ("fax", 10, 30, 28, 38)]}]
        rec = deterministic_recognizer()
        flate = extract_document(
            build_pixel_scanned_pdf(pages, codec="flate"), "eng",
            recognizer=rec)
        ccitt = extract_document(
            build_pixel_scanned_pdf(pages, codec="ccitt"), "eng",
            recognizer=rec)
        assert flate["status"] == ccitt["status"] == "ok"
        assert ccitt["text"] == flate["text"] == "scanned via\nfax"

    def test_decoded_image_reports_ccitt_filter_and_parms(self):
        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf

        pages = [{"width": 100, "height": 40,
                  "words": [("x", 10, 10, 16, 18)]}]
        out = extract_page_images(build_pixel_scanned_pdf(pages,
                                                          codec="ccitt"))
        img = out[0]["images"][0]
        assert img["filter"] == "CCITTFaxDecode"
        assert img["bpc"] == 1
        assert img["decode_parms"]["K"] == -1
        assert img["decode_parms"]["Columns"] == 100
        assert img["decode_parms"]["Rows"] == 40

    def test_corrupt_ccitt_raster_is_decode_error(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pdf = bytearray(build_pixel_scanned_pdf(
            [{"width": 100, "height": 40,
              "words": [("ok", 10, 10, 22, 18)]}], codec="ccitt"))
        at = bytes(pdf).find(b"CCITTFaxDecode")
        st = bytes(pdf).find(b"stream\n", at)
        pdf[st + 8:st + 12] = b"\x5A\x5A\x5A\x5A"
        r = extract_document(bytes(pdf), "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"

    def test_malformed_g3_stream_is_undecodable(self):
        # K=0 decodes since r5 — garbage bytes must still surface as a
        # clean ValueError (decode_error upstream), never wrong pixels
        rec = deterministic_recognizer()
        with pytest.raises(ValueError, match="undecodable CCITT"):
            rec({"data": b"\x00\x01", "filter": "CCITTFaxDecode",
                 "decode_parms": {"K": 0, "Columns": 8, "Rows": 1},
                 "width": 8, "height": 1,
                 "colorspace": "DeviceGray", "bpc": 1})


class TestG3:
    """G3 (T.4): K=0 pure 1-D modified Huffman, K>0 mixed 1-D/2-D with
    EOL + tag prefixes — the old fax-origin PDF arrangement."""

    def test_random_roundtrips_all_k(self):
        rng = np.random.default_rng(5)
        for _ in range(25):
            h = int(rng.integers(1, 30))
            w = int(rng.integers(1, 200))
            bm = (rng.random((h, w)) < rng.random() * 0.9).astype(np.uint8)
            want = np.where(bm, 0, 255)
            for k in (0, 1, 2, 4):
                got = decode_g3(encode_g3(bm, k=k), w, h, k=k)
                assert (got == want).all(), (k, h, w)

    def test_k0_without_eols(self):
        # PDF /EndOfLine false: bare concatenated 1-D lines
        rng = np.random.default_rng(9)
        bm = (rng.random((10, 80)) < 0.4).astype(np.uint8)
        enc = encode_g3(bm, k=0, with_eol=False)
        assert b"\x00\x10" not in enc[:4]  # spot check: no leading EOL
        got = decode_g3(enc, 80, 10, k=0)
        assert (got == np.where(bm, 0, 255)).all()

    def test_self_delimiting_via_rtc(self):
        rng = np.random.default_rng(11)
        bm = (rng.random((7, 64)) < 0.3).astype(np.uint8)
        for k in (0, 2):
            got = decode_g3(encode_g3(bm, k=k), 64, None, k=k)
            assert got.shape == (7, 64)
            assert (got == np.where(bm, 0, 255)).all()

    def test_line_starting_black_needs_zero_white_run(self):
        bm = np.ones((3, 40), dtype=np.uint8)  # all black
        got = decode_g3(encode_g3(bm, k=0), 40, 3, k=0)
        assert (got == 0).all()

    def test_truncations_error_cleanly(self):
        rng = np.random.default_rng(13)
        bm = (rng.random((12, 64)) < 0.3).astype(np.uint8)
        for k in (0, 2):
            enc = encode_g3(bm, k=k)
            for cut in range(0, len(enc), 2):
                with np.errstate():
                    try:
                        decode_g3(enc[:cut], 64, 12, k=k)
                    except CcittError:
                        pass

    def test_truncation_errors_name_g3(self):
        rng = np.random.default_rng(21)
        bm = (rng.random((12, 64)) < 0.3).astype(np.uint8)
        messages = set()
        for k, eol in ((0, False), (0, True), (2, True)):
            enc = encode_g3(bm, k=k, with_eol=eol)
            for cut in range(1, len(enc)):
                try:
                    decode_g3(enc[:cut], 64, 12, k=k)
                except CcittError as e:
                    messages.add(str(e))
        assert "truncated G3 data" in messages
        assert not any("G4" in m for m in messages), messages

    def test_garbage_and_runaway_fill_rejected(self):
        with pytest.raises(CcittError):
            decode_g3(b"\x00" * 2048, 64, 4, k=0)  # zeros, never an EOL end
        with pytest.raises(CcittError):
            decode_g3(b"\xff" * 64, 64, 4, k=0)

    def test_ocr_extraction_through_g3_pdf(self):
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        text = "group three fax words decode via the t4 tables"
        for codec in ("g3", "g3mixed"):
            pdf = text_to_pixel_scanned_pdf_payload(text, codec=codec)
            r = extract_document(pdf, "eng",
                                 recognizer=deterministic_recognizer())
            assert r["status"] == "ok", codec
            assert r["text"].split() == text.split(), codec


class TestG3TruncationGuard:
    def test_truncated_stream_never_returns_full_raster(self):
        # review repro: zero-padded lookahead aliased a cut codeword to a
        # valid run landing exactly on the line width — must now raise
        rng = np.random.default_rng(77)
        silent_wrong = 0
        for _ in range(100):
            h = int(rng.integers(2, 8))
            w = int(rng.integers(16, 96))
            bm = (rng.random((h, w)) < 0.4).astype(np.uint8)
            enc = encode_g3(bm, k=0, with_eol=False)
            want = np.where(bm, 0, 255)
            for cut in range(1, len(enc) - 1):
                try:
                    got = decode_g3(enc[:cut], w, h, k=0)
                except CcittError:
                    continue
                if not (got == want).all():
                    silent_wrong += 1
        assert silent_wrong == 0
