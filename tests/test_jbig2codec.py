"""JBIG2 (T.88) codec: MQ coder round-trips, generic-region templates,
the embedded segment layer (globals, MMR, combination ops), and the
JBIG2Decode OCR path through real PDF structures."""

import struct

import numpy as np
import pytest

from pdf_ocr_engine_spark.core import jbig2codec as jb
from pdf_ocr_engine_spark.core.jbig2codec import (
    Jbig2Error,
    Jbig2Unsupported,
    decode_jbig2_embedded,
    encode_jbig2_embedded,
)


class TestMQCoder:
    def test_random_bit_streams_round_trip(self):
        rng = np.random.default_rng(11)
        for _ in range(20):
            n_ctx = int(rng.integers(1, 8))
            bits = (rng.random(int(rng.integers(1, 600)))
                    < rng.random()).astype(int).tolist()
            cxs = rng.integers(0, n_ctx, len(bits)).tolist()
            idx, mps = [0] * n_ctx, [0] * n_ctx
            enc = jb._MQEncoder()
            for b, cx in zip(bits, cxs):
                enc.encode(idx, mps, cx, b)
            data = enc.flush()
            idx, mps = [0] * n_ctx, [0] * n_ctx
            dec = jb._MQDecoder(data)
            got = [dec.decode(idx, mps, cx) for cx in cxs]
            assert got == bits

    def test_stuffed_ff_bytes_survive(self):
        # long runs of the improbable symbol force carries / 0xFF
        # byte-stuffing through BYTEOUT; the decoder must unstuff them
        bits = [1] * 400 + [0, 1] * 100
        idx, mps = [0], [0]
        enc = jb._MQEncoder()
        for b in bits:
            enc.encode(idx, mps, 0, b)
        data = enc.flush()
        idx, mps = [0], [0]
        dec = jb._MQDecoder(data)
        assert [dec.decode(idx, mps, 0) for _ in bits] == bits


class TestGenericRegion:
    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    @pytest.mark.parametrize("tpgdon", [False, True])
    def test_round_trip_all_templates(self, template, tpgdon):
        rng = np.random.default_rng(template * 2 + tpgdon)
        for _ in range(6):
            h = int(rng.integers(1, 40))
            w = int(rng.integers(1, 70))
            bm = (rng.random((h, w)) < rng.random()).astype(np.uint8)
            data = jb._encode_generic(bm, template=template, tpgdon=tpgdon)
            mq = jb._MQDecoder(data)
            got = jb._decode_generic(mq, w, h, template,
                                     jb._NOMINAL_AT[template], tpgdon)
            assert (got == bm).all()

    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    def test_gather_path_agrees_with_sliding_path(self, template,
                                                  monkeypatch):
        # same nominal AT positions, decoded once through the fast
        # sliding-context loop and once through the general per-pixel
        # gather — any divergence means a keep-mask / layout bug
        rng = np.random.default_rng(40 + template)
        bm = (rng.random((23, 41)) < 0.4).astype(np.uint8)
        data = jb._encode_generic(bm, template=template, tpgdon=False)
        fast = jb._decode_generic(jb._MQDecoder(data), 41, 23, template,
                                  jb._NOMINAL_AT[template], False)
        monkeypatch.setattr(jb, "_at_is_nominal", lambda *_: False)
        slow = jb._decode_generic(jb._MQDecoder(data), 41, 23, template,
                                  jb._NOMINAL_AT[template], False)
        assert (fast == slow).all()
        assert (fast == bm).all()

    def test_tpgdon_blank_page_is_tiny(self):
        # every row identical -> one typical-prediction decision per row
        bm = np.zeros((400, 800), dtype=np.uint8)
        data = jb._encode_generic(bm, template=0, tpgdon=True)
        assert len(data) < 32
        got = jb._decode_generic(jb._MQDecoder(data), 800, 400, 0,
                                 jb._NOMINAL_AT[0], True)
        assert not got.any()


class TestEmbeddedStream:
    def test_round_trip(self):
        rng = np.random.default_rng(5)
        bm = rng.random((37, 93)) < 0.3
        gray = decode_jbig2_embedded(encode_jbig2_embedded(bm))
        assert gray.shape == (37, 93)
        assert (gray == np.where(bm, 0, 255)).all()

    def test_globals_stream_prefix(self):
        # split the embedded stream: page info travels as /JBIG2Globals,
        # the region + trailer as the image data — the PDF arrangement
        bm = np.eye(16, 40, dtype=bool)
        blob = encode_jbig2_embedded(bm)
        # first segment is the 19-byte page info (11-byte header)
        cut = 11 + 19
        gray = decode_jbig2_embedded(blob[cut:], globals_data=blob[:cut])
        assert (gray == np.where(bm, 0, 255)).all()

    def test_declared_size_fallback_without_page_info(self):
        bm = np.tri(12, 30, dtype=bool)
        blob = encode_jbig2_embedded(bm)
        gray = decode_jbig2_embedded(blob[11 + 19:], width=30, height=12)
        assert (gray == np.where(bm, 0, 255)).all()

    def test_mmr_generic_region(self):
        # MMR=1 generic region carries T.6 data decoded by ccittcodec
        from pdf_ocr_engine_spark.core.ccittcodec import encode_g4

        bm = (np.arange(20)[:, None] + np.arange(50)[None, :]) % 7 < 3
        region = (struct.pack(">IIIIB", 50, 20, 0, 0, 0)
                  + bytes([1])  # MMR=1
                  + encode_g4(bm))
        blob = jb._segment(1, 39, 1, region)
        gray = decode_jbig2_embedded(blob, width=50, height=20)
        assert (gray == np.where(bm, 0, 255)).all()

    def test_replace_and_xor_composition(self):
        # region 2 XORs onto region 1's page area (T.88 8.2 external ops)
        a = np.zeros((8, 8), dtype=bool)
        a[:, :4] = True
        b = np.zeros((8, 8), dtype=bool)
        b[:4, :] = True
        page_info = (struct.pack(">IIII", 8, 8, 0, 0) + b"\x01"
                     + b"\x00\x00")

        def region(bm, comb):
            info = struct.pack(">IIIIB", 8, 8, 0, 0, comb)
            gflags = (0 << 1) | (1 << 3)
            at = b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._NOMINAL_AT[0])
            return (info + bytes([gflags]) + at
                    + jb._encode_generic(bm.astype(np.uint8), 0, True))

        blob = (jb._segment(1, 48, 1, page_info)
                + jb._segment(2, 39, 1, region(a, 0))    # OR
                + jb._segment(3, 39, 1, region(b, 2))    # XOR
                + jb._segment(4, 49, 1, b""))
        gray = decode_jbig2_embedded(blob)
        assert (gray == np.where(a ^ b, 0, 255)).all()

    def test_truncated_symbol_dictionary_is_error(self):
        # bare flags with no AT pixels / counts behind them
        blob = jb._segment(1, 0, 1, b"\x00\x00")
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_unknown_length_segment_is_unsupported(self):
        head = (struct.pack(">IB", 1, 39) + b"\x00" + b"\x01"
                + struct.pack(">I", 0xFFFFFFFF))
        with pytest.raises(Jbig2Unsupported):
            decode_jbig2_embedded(head)

    def test_truncated_stream_is_error(self):
        blob = encode_jbig2_embedded(np.ones((10, 10), bool))
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob[: len(blob) // 2])

    def test_no_dimensions_is_error(self):
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(b"")


class TestPdfIntegration:
    def test_jbig2_scanned_pdf_ocr_matches_flate(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("scanned", 10, 10, 52, 18),
                            ("via", 60, 10, 78, 18),
                            ("jbig", 10, 30, 34, 38)]}]
        rec = deterministic_recognizer()
        flate = extract_document(
            build_pixel_scanned_pdf(pages, codec="flate"), "eng",
            recognizer=rec)
        jbig2 = extract_document(
            build_pixel_scanned_pdf(pages, codec="jbig2"), "eng",
            recognizer=rec)
        assert flate["status"] == jbig2["status"] == "ok"
        assert jbig2["text"] == flate["text"] == "scanned via\njbig"

    def test_decoded_image_reports_jbig2_filter(self):
        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf

        pages = [{"width": 100, "height": 40,
                  "words": [("x", 10, 10, 16, 18)]}]
        out = extract_page_images(build_pixel_scanned_pdf(pages,
                                                          codec="jbig2"))
        img = out[0]["images"][0]
        assert img["filter"] == "JBIG2Decode"
        assert img["bpc"] == 1

    def test_jbig2_globals_stream_resolved_from_decode_parms(self):
        # hand-built one-page PDF whose image carries /DecodeParms
        # << /JBIG2Globals N 0 R >> with N a separate stream object —
        # extract_page_images must surface the decoded globals bytes and
        # the recognizer must compose them with the image data
        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        from pdf_ocr_engine_spark.core.rasterfont import render_words_gray

        samples = render_words_gray(60, 20, [("hi", 10, 5, 22, 13)])
        bm = np.frombuffer(samples, dtype=np.uint8).reshape(20, 60) < 128
        blob = encode_jbig2_embedded(bm)
        cut = 11 + 19
        glob, img = blob[:cut], blob[cut:]

        objects = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
             b"/MediaBox [0 0 60 20] >>"),
            (b"<< /Type /Page /Parent 2 0 R /Resources << /XObject "
             b"<< /Im0 5 0 R >> >> /Contents 4 0 R >>"),
            (b"<< /Length 24 >>\nstream\n"
             b"q 60 0 0 20 0 0 cm /Im0 Do\nendstream"),
            (b"<< /Type /XObject /Subtype /Image /Width 60 /Height 20 "
             b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
             b"/Filter /JBIG2Decode "
             b"/DecodeParms << /JBIG2Globals 6 0 R >> "
             b"/Length " + str(len(img)).encode() + b" >>\nstream\n"
             + img + b"\nendstream"),
            (b"<< /Length " + str(len(glob)).encode() + b" >>\nstream\n"
             + glob + b"\nendstream"),
        ]
        buf = bytearray(b"%PDF-1.4\n")
        offsets = [0] * (len(objects) + 1)
        for i, obj in enumerate(objects, 1):
            offsets[i] = len(buf)
            buf += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
        xref_at = len(buf)
        buf += f"xref\n0 {len(objects) + 1}\n".encode()
        buf += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            buf += f"{off:010d} 00000 n \n".encode()
        buf += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
                f"startxref\n{xref_at}\n%%EOF").encode()

        out = extract_page_images(bytes(buf))
        image = out[0]["images"][0]
        assert image["filter"] == "JBIG2Decode"
        assert image["decode_parms"]["JBIG2Globals"] == glob

        # the OCR recognizer decodes pixels through the split stream (no
        # words to classify — assert via the decoder on the same dict)
        gray = decode_jbig2_embedded(
            image["data"],
            globals_data=image["decode_parms"]["JBIG2Globals"],
            width=image["width"], height=image["height"])
        assert (gray == np.where(bm, 0, 255)).all()
        words = deterministic_recognizer()(image)
        assert [w[0] for w in words] == ["hi"]

    def test_corrupt_jbig2_raster_is_decode_error(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pdf = bytearray(build_pixel_scanned_pdf(
            [{"width": 100, "height": 40,
              "words": [("ok", 10, 10, 22, 18)]}], codec="jbig2"))
        at = bytes(pdf).find(b"JBIG2Decode")
        st = bytes(pdf).find(b"stream\n", at)
        # flip the region segment's type byte (header byte 4 of the
        # second segment, after the 11+19-byte page-info segment) to 0 —
        # a symbol dictionary, which the decoder rejects as unsupported
        pdf[st + 7 + 30 + 4] = 0
        r = extract_document(bytes(pdf), "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"


class TestArithInteger:
    def test_class_boundary_values_round_trip(self):
        values = [0, 1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
                  100000, 2**31 - 1, -1, -3, -4, -20, -84, -340, -4436,
                  -99999, None, 7, None, 0]
        enc = jb._MQEncoder()
        ctx = jb._int_ctx()
        for v in values:
            jb._int_encode(enc, *ctx, v)
        data = enc.flush()
        mq = jb._MQDecoder(data)
        ctx = jb._int_ctx()
        assert [jb._int_decode(mq, *ctx) for _ in values] == values

    def test_random_values_round_trip(self):
        rng = np.random.default_rng(21)
        values = [int(v) for v in rng.integers(-10000, 10000, 500)]
        enc = jb._MQEncoder()
        ctx = jb._int_ctx()
        for v in values:
            jb._int_encode(enc, *ctx, v)
        mq = jb._MQDecoder(enc.flush())
        ctx = jb._int_ctx()
        assert [jb._int_decode(mq, *ctx) for _ in values] == values

    @pytest.mark.parametrize("scl", [1, 3, 6])
    def test_iaid_round_trip(self, scl):
        rng = np.random.default_rng(scl)
        ids = [int(v) for v in rng.integers(0, 1 << scl, 200)]
        enc = jb._MQEncoder()
        ctx = jb._iaid_ctx(scl)
        for v in ids:
            jb._iaid_encode(enc, *ctx, v, scl)
        mq = jb._MQDecoder(enc.flush())
        ctx = jb._iaid_ctx(scl)
        assert [jb._iaid_decode(mq, *ctx, scl) for _ in ids] == ids


def _glyph_page(words, w=200, h=40):
    from pdf_ocr_engine_spark.core.rasterfont import render_words_gray

    samples = render_words_gray(w, h, words)
    return np.frombuffer(samples, dtype=np.uint8).reshape(h, w) < 128


class TestSymbolText:
    WORDS = [("hello", 10, 5, 40, 13), ("hello", 60, 5, 90, 13),
             ("world", 10, 25, 40, 33)]

    @pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
    def test_round_trip_all_refcorners(self, refcorner):
        bm = _glyph_page(self.WORDS)
        blob = jb.encode_jbig2_symbol_embedded(bm, refcorner=refcorner)
        assert (decode_jbig2_embedded(blob) == np.where(bm, 0, 255)).all()

    @pytest.mark.parametrize("sbstrips", [2, 4, 8])
    def test_round_trip_strips_exercise_iait(self, sbstrips):
        bm = _glyph_page(self.WORDS)
        blob = jb.encode_jbig2_symbol_embedded(bm, sbstrips=sbstrips)
        assert (decode_jbig2_embedded(blob) == np.where(bm, 0, 255)).all()

    def test_arbitrary_bitmap_is_lossless(self):
        rng = np.random.default_rng(3)
        bm = rng.random((30, 50)) < 0.25
        blob = jb.encode_jbig2_symbol_embedded(bm)
        assert (decode_jbig2_embedded(blob) == np.where(bm, 0, 255)).all()

    def test_empty_page(self):
        gray = decode_jbig2_embedded(
            jb.encode_jbig2_symbol_embedded(np.zeros((8, 9), bool)))
        assert gray.shape == (8, 9) and (gray == 255).all()

    def test_dictionary_dedup_pays(self):
        # 12 instances of one glyph must code far smaller than 12
        # distinct glyphs — the whole point of the symbol tier
        rng = np.random.default_rng(9)
        g = rng.random((14, 10)) < 0.5
        g[0, 0] = True  # keep the bbox anchored
        same = np.zeros((30, 12 * 14), dtype=bool)
        distinct = np.zeros((30, 12 * 14), dtype=bool)
        for i in range(12):
            same[4:18, i * 14:i * 14 + 10] = g
            gi = rng.random((14, 10)) < 0.5
            gi[0, 0] = True
            distinct[4:18, i * 14:i * 14 + 10] = gi
        n_same = len(jb.encode_jbig2_symbol_embedded(same))
        n_distinct = len(jb.encode_jbig2_symbol_embedded(distinct))
        assert n_same < n_distinct * 0.6
        for bm in (same, distinct):
            blob = jb.encode_jbig2_symbol_embedded(bm)
            assert (decode_jbig2_embedded(blob)
                    == np.where(bm, 0, 255)).all()

    def test_transposed_text_region_decodes(self):
        # hand-author a TRANSPOSED=1 TOPLEFT region: S runs down rows,
        # T across columns; two instances of one 3x2 symbol
        sym = np.array([[1, 1], [1, 0], [1, 1]], dtype=np.uint8)
        enc = jb._MQEncoder()
        iadt, iafs, iads = (jb._int_ctx() for _ in range(3))
        jb._int_encode(enc, *iadt, 0)        # STRIPT = 0
        # strip at T=4 (x): first S (y) = 2, second S, then OOB
        jb._int_encode(enc, *iadt, 4)
        jb._int_encode(enc, *iafs, 2)        # FIRSTS=2, draw at y=2
        # after draw curs = 2 + 3 - 1 = 4; next at y=10: IDS = 6
        jb._int_encode(enc, *iads, 6)
        jb._int_encode(enc, *iads, None)
        region = (struct.pack(">IIIIB", 8, 16, 0, 0, 0)
                  + struct.pack(">H", (1 << 4) | (1 << 6))  # TL, TRANSPOSED
                  + struct.pack(">I", 2) + enc.flush())
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 8, 16, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 0, 1, jb._encode_symbol_dict([sym]))
                + jb._segment(3, 7, 1, region, refs=(2,))
                + jb._segment(4, 49, 1, b""))
        gray = decode_jbig2_embedded(blob)
        expect = np.zeros((16, 8), dtype=bool)
        expect[2:5, 4:6] = sym.astype(bool)
        expect[10:13, 4:6] = sym.astype(bool)
        assert (gray == np.where(expect, 0, 255)).all()

    def test_huffman_dict_custom_selector_needs_referred_table(self):
        # CUSTOM-table selectors (value 3) decode since r5 — but only
        # with a referred type-53 table segment; without one the stream
        # is malformed and must reject loudly
        seg = struct.pack(">H", 1 | (3 << 2)) + b"\x00" * 16
        blob = jb._segment(1, 0, 1, seg)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_truncated_refagg_dict_is_error(self):
        # SDREFAGG=1 needs AT + refinement-AT + counts behind the flags
        seg = struct.pack(">H", 2) + b"\x00" * 16
        blob = jb._segment(1, 0, 1, seg)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_truncated_refine_text_region_is_error(self):
        # SBREFINE=1 without the refinement-AT pixels behind the flags
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + struct.pack(">H", 2) + struct.pack(">I", 0))
        blob = jb._segment(1, 7, 1, region)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_text_region_without_symbols_is_error(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + struct.pack(">H", 1 << 4) + struct.pack(">I", 1)
                  + b"\x00" * 8)
        blob = jb._segment(1, 7, 1, region)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_jbig2sym_scanned_pdf_ocr_matches_flate(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("symbol", 10, 10, 46, 18),
                            ("coded", 60, 10, 90, 18),
                            ("scan", 10, 30, 34, 38)]}]
        rec = deterministic_recognizer()
        flate = extract_document(
            build_pixel_scanned_pdf(pages, codec="flate"), "eng",
            recognizer=rec)
        sym = extract_document(
            build_pixel_scanned_pdf(pages, codec="jbig2sym"), "eng",
            recognizer=rec)
        assert flate["status"] == sym["status"] == "ok"
        assert sym["text"] == flate["text"] == "symbol coded\nscan"


class TestRefinement:
    @pytest.mark.parametrize("template", [0, 1])
    @pytest.mark.parametrize("tpgron", [False, True])
    def test_primitive_round_trip(self, template, tpgron):
        rng = np.random.default_rng(60 + template * 2 + tpgron)
        for _ in range(6):
            h, w = int(rng.integers(3, 25)), int(rng.integers(3, 30))
            ref = (rng.random((h, w)) < 0.4).astype(np.uint8)
            tgt = ref ^ ((rng.random((h, w)) < 0.1).astype(np.uint8))
            enc = jb._MQEncoder()
            jb._encode_refinement(enc, tgt, template, ref, 1, -1,
                                  tpgron=tpgron)
            mq = jb._MQDecoder(enc.flush())
            got = jb._decode_refinement(mq, w, h, template, ref, 1, -1,
                                        tpgron=tpgron)
            assert (got == tgt).all()

    def test_refinement_beats_fresh_coding_on_near_identical(self):
        # the tier's reason to exist: refining a near-identical
        # reference must cost less than generic-coding from scratch
        rng = np.random.default_rng(8)
        ref = (rng.random((40, 80)) < 0.35).astype(np.uint8)
        tgt = ref.copy()
        tgt[17, 23] ^= 1  # one flipped pixel
        enc = jb._MQEncoder()
        jb._encode_refinement(enc, tgt, 0, ref, 0, 0)
        refined = len(enc.flush())
        fresh = len(jb._encode_generic(tgt, template=0, tpgdon=False))
        assert refined < fresh * 0.5

    def test_sdrefagg_dictionary_refines_referred_symbols(self):
        rng = np.random.default_rng(11)
        symA = [(rng.random((6, 5)) < 0.5).astype(np.uint8)
                for _ in range(3)]
        for s in symA:
            s[0, 0] = 1
        symB = [s ^ (rng.random(s.shape) < 0.15).astype(np.uint8)
                for s in symA]
        segA = jb._encode_symbol_dict(symA)
        segB = jb._encode_symbol_dict(symB, refine_from=[0, 1, 2],
                                      input_syms=symA)
        # dict B re-exports A's symbols then its own refinements
        insts = [(2 + 8 * i, 2, len(symA) + i) for i in range(3)]
        segT = jb._encode_text_region(insts, symA + symB, 30, 10)
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 30, 10, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 0, 1, segA)
                + jb._segment(3, 0, 1, segB, refs=(2,))
                + jb._segment(4, 7, 1, segT, refs=(3,))
                + jb._segment(5, 49, 1, b""))
        gray = decode_jbig2_embedded(blob)
        expect = np.zeros((10, 30), dtype=np.uint8)
        for i in range(3):
            expect[2:8, 2 + 8 * i:7 + 8 * i] |= symB[i]
        assert (gray == np.where(expect, 0, 255)).all()

    def test_sbrefine_text_region_places_refined_instance(self):
        rng = np.random.default_rng(12)
        sym = (rng.random((6, 5)) < 0.5).astype(np.uint8)
        sym[0, 0] = 1
        tgt = np.pad(sym, ((0, 1), (1, 0)))  # refined dims differ too
        tgt ^= (rng.random(tgt.shape) < 0.2).astype(np.uint8)
        segT = jb._encode_text_region([(3, 2, 0, tgt), (15, 2, 0)],
                                      [sym], 30, 12)
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 30, 12, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 0, 1, jb._encode_symbol_dict([sym]))
                + jb._segment(3, 7, 1, segT, refs=(2,))
                + jb._segment(4, 49, 1, b""))
        gray = decode_jbig2_embedded(blob)
        expect = np.zeros((12, 30), dtype=np.uint8)
        expect[2:2 + tgt.shape[0], 3:3 + tgt.shape[1]] |= tgt
        expect[2:8, 15:20] |= sym
        assert (gray == np.where(expect, 0, 255)).all()

    def _aggregate_dict_seg(self, base, truncate=False):
        """Hand-encode a REFAGG dictionary whose one NEW symbol is a
        two-instance aggregate of ``base`` on a 3x8 canvas (§6.5.8.2.2:
        text-region walk, SBSTRIPS=1, TL corner, shared IAID)."""
        enc = jb._MQEncoder()
        iadh, iadw, iaai, iaex = (jb._int_ctx() for _ in range(4))
        iadt, iafs, iads, iari = (jb._int_ctx() for _ in range(4))
        scl = jb._symcodelen(2)          # one input + one new symbol
        iaid = jb._iaid_ctx(scl)
        jb._int_encode(enc, *iadh, 3)    # height class 3
        jb._int_encode(enc, *iadw, 8)    # aggregate canvas width 8
        jb._int_encode(enc, *iaai, 2)    # TWO instances
        if truncate:
            return (struct.pack(">H", 2)
                    + b"".join(struct.pack("bb", dx, dy)
                               for dx, dy in jb._NOMINAL_AT[0])
                    + b"".join(struct.pack("bb", dx, dy)
                               for dx, dy in jb._REF_NOMINAL_AT)
                    + struct.pack(">II", 1, 1) + enc.flush())
        jb._int_encode(enc, *iadt, 0)    # STRIPT init
        jb._int_encode(enc, *iadt, 0)    # strip at T=0
        jb._int_encode(enc, *iafs, 0)    # FIRSTS = 0
        jb._iaid_encode(enc, *iaid, 0, scl)   # instance 1: base at x=0
        jb._int_encode(enc, *iari, 0)    # no per-instance refinement
        # CURS after TL draw = 0 + 3 - 1 = 2; next instance at x=5
        jb._int_encode(enc, *iads, 3)
        jb._iaid_encode(enc, *iaid, 0, scl)   # instance 2: base at x=5
        jb._int_encode(enc, *iari, 0)
        jb._int_encode(enc, *iadw, None)      # OOB: end of height class
        jb._int_encode(enc, *iaex, 1)    # skip the input symbol,
        jb._int_encode(enc, *iaex, 1)    # export the aggregate
        return (struct.pack(">H", 2)     # SDHUFF=0 REFAGG=1 template 0
                + b"".join(struct.pack("bb", dx, dy)
                           for dx, dy in jb._NOMINAL_AT[0])
                + b"".join(struct.pack("bb", dx, dy)
                           for dx, dy in jb._REF_NOMINAL_AT)
                + struct.pack(">II", 1, 1) + enc.flush())

    def test_multi_instance_aggregate_decodes(self):
        base = np.array([[1, 0, 1], [0, 1, 0], [1, 0, 1]], np.uint8)
        got = jb._decode_symbol_dict(self._aggregate_dict_seg(base),
                                     [base])
        assert len(got) == 1
        want = np.zeros((3, 8), np.uint8)
        want[:, 0:3] |= base
        want[:, 5:8] |= base
        assert (got[0] == want).all()

    def test_multi_instance_aggregate_e2e(self):
        base = np.array([[1, 1, 1], [1, 0, 1], [1, 1, 1]], np.uint8)
        dict_seg = self._aggregate_dict_seg(base)
        segT = jb._encode_text_region([(2, 1, 0)], [np.zeros((3, 8),
                                                             np.uint8)],
                                      14, 6)
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 14, 6, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 0, 1, jb._encode_symbol_dict([base]))
                + jb._segment(3, 0, 1, dict_seg, refs=(2,))
                + jb._segment(4, 7, 1, segT, refs=(3,))
                + jb._segment(5, 49, 1, b""))
        gray = decode_jbig2_embedded(blob)
        want = np.zeros((6, 14), np.uint8)
        want[1:4, 2:5] |= base
        want[1:4, 7:10] |= base
        assert (gray == np.where(want, 0, 255)).all()

    def test_aggregate_refined_instance_and_persistence(self):
        """Two aggregates in ONE dictionary (persistent walk contexts,
        §6.5.8.2.3) where the second aggregate refines an instance
        (IARI=1 through the dictionary's shared GR/IARDX/IARDY)."""
        base = np.array([[1, 0, 1], [0, 1, 0], [1, 0, 1]], np.uint8)
        target = np.array([[1, 1, 0, 1], [0, 1, 1, 0], [1, 0, 1, 1]],
                          np.uint8)
        enc = jb._MQEncoder()
        iadh, iadw, iaai, iaex = (jb._int_ctx() for _ in range(4))
        iadt, iafs, iads, iari = (jb._int_ctx() for _ in range(4))
        iardw, iardh, iardx, iardy = (jb._int_ctx() for _ in range(4))
        gr = jb._ref_ctx()
        scl = jb._symcodelen(3)          # one input + two new
        iaid = jb._iaid_ctx(scl)
        jb._int_encode(enc, *iadh, 3)    # height class 3
        # aggregate 1: width 8, two unrefined placements of base
        jb._int_encode(enc, *iadw, 8)
        jb._int_encode(enc, *iaai, 2)
        jb._int_encode(enc, *iadt, 0)
        jb._int_encode(enc, *iadt, 0)
        jb._int_encode(enc, *iafs, 0)
        jb._iaid_encode(enc, *iaid, 0, scl)
        jb._int_encode(enc, *iari, 0)
        jb._int_encode(enc, *iads, 3)    # CURS 2 -> 5
        jb._iaid_encode(enc, *iaid, 0, scl)
        jb._int_encode(enc, *iari, 0)
        # aggregate 2 (same class, width 9): persistent contexts; the
        # second instance is REFINED (target = 3x4 variant of base)
        jb._int_encode(enc, *iadw, 1)    # width 8 -> 9
        jb._int_encode(enc, *iaai, 2)
        jb._int_encode(enc, *iadt, 0)
        jb._int_encode(enc, *iadt, 0)
        jb._int_encode(enc, *iafs, 0)
        jb._iaid_encode(enc, *iaid, 0, scl)
        jb._int_encode(enc, *iari, 0)
        jb._int_encode(enc, *iads, 3)    # CURS 2 -> 5
        jb._iaid_encode(enc, *iaid, 0, scl)
        jb._int_encode(enc, *iari, 1)
        jb._int_encode(enc, *iardw, 1)   # 3 -> 4 wide
        jb._int_encode(enc, *iardh, 0)
        jb._int_encode(enc, *iardx, 0)
        jb._int_encode(enc, *iardy, 0)
        jb._encode_refinement(enc, target, 0, base, 0, 0, contexts=gr)
        jb._int_encode(enc, *iadw, None)      # end of height class
        jb._int_encode(enc, *iaex, 1)    # skip the input symbol,
        jb._int_encode(enc, *iaex, 2)    # export both aggregates
        seg = (struct.pack(">H", 2)
               + b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._NOMINAL_AT[0])
               + b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._REF_NOMINAL_AT)
               + struct.pack(">II", 2, 2) + enc.flush())
        got = jb._decode_symbol_dict(seg, [base])
        assert len(got) == 2
        want1 = np.zeros((3, 8), np.uint8)
        want1[:, 0:3] |= base
        want1[:, 5:8] |= base
        assert (got[0] == want1).all()
        want2 = np.zeros((3, 9), np.uint8)
        want2[:, 0:3] |= base
        want2[:, 5:9] |= target
        assert (got[1] == want2).all()

    def test_truncated_aggregate_is_error(self):
        # instance count present but no walk behind it: the 1s-fed MQ
        # tail must surface as a data error, never hang or mis-decode
        base = np.ones((3, 3), np.uint8)
        seg = self._aggregate_dict_seg(base, truncate=True)
        blob = (jb._segment(1, 0, 1, seg)
                + jb._segment(2, 48, 1,
                              struct.pack(">IIII", 8, 8, 0, 0)
                              + b"\x01\x00\x00"))
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob)


class TestHardening:
    """Regression tests for the review findings: malformed streams must
    raise Jbig2Error in bounded time, never hang, crash, or allocate."""

    def test_huge_page_info_rejected_before_allocation(self):
        page_info = (struct.pack(">IIII", 0x40000000, 0x40000000, 0, 0)
                     + b"\x01\x00\x00")
        blob = jb._segment(1, 48, 1, page_info)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob)

    def test_huge_region_offset_rejected(self):
        bm = np.ones((4, 4), dtype=np.uint8)
        region = (struct.pack(">IIIIB", 4, 4, 0xFFFFFF00, 0, 0)
                  + bytes([(0 << 1) | (1 << 3)])
                  + b"".join(struct.pack("bb", dx, dy)
                             for dx, dy in jb._NOMINAL_AT[0])
                  + jb._encode_generic(bm, 0, True))
        blob = jb._segment(1, 39, 1, region)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob)

    def test_positive_dy_at_pixel_is_safe(self):
        # a stream-supplied AT pixel pointing BELOW the current row must
        # read as 0 (causal bound), not crash on the last row
        bm = (np.arange(64).reshape(8, 8) % 3 == 0).astype(np.uint8)
        data = jb._encode_generic(bm, template=0, tpgdon=False)
        got = jb._decode_generic(jb._MQDecoder(data), 8, 8, 0,
                                 ((-1, 1), (-3, -1), (2, -2), (-2, -2)),
                                 False)
        assert got.shape == (8, 8)  # wrong bits are fine; crashing is not

    def test_positive_dy_refinement_at_is_safe(self):
        ref = np.ones((6, 6), dtype=np.uint8)
        enc = jb._MQEncoder()
        jb._encode_refinement(enc, ref, 0, ref, 0, 0)
        mq = jb._MQDecoder(enc.flush())
        got = jb._decode_refinement(mq, 6, 6, 0, ref, 0, 0,
                                    at=((1, 1), (-1, -1)))
        assert got.shape == (6, 6)

    def test_exhausted_symbol_dict_stream_terminates(self):
        # header promises 100 symbols, stream holds none: the MQ coder
        # feeds 1s forever, so termination relies on the progress guards
        seg = (struct.pack(">H", 0)
               + b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._NOMINAL_AT[0])
               + struct.pack(">II", 100, 100) + b"\x00\x00")
        with pytest.raises(Jbig2Error):
            jb._decode_symbol_dict(seg, [])

    def test_zero_export_runs_terminate(self):
        # a valid dictionary body whose export runs are stuck at 0
        sym = np.ones((2, 2), dtype=np.uint8)
        enc = jb._MQEncoder()
        iadh, iadw, iaex = (jb._int_ctx() for _ in range(3))
        gb = jb._fresh_contexts(0)
        jb._int_encode(enc, *iadh, 2)
        jb._int_encode(enc, *iadw, 2)
        jb._encode_generic(sym, 0, False, enc=enc, contexts=gb)
        jb._int_encode(enc, *iadw, None)
        for _ in range(8):
            jb._int_encode(enc, *iaex, 0)  # never advances
        seg = (struct.pack(">H", 0)
               + b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._NOMINAL_AT[0])
               + struct.pack(">II", 1, 1) + enc.flush())
        with pytest.raises(Jbig2Error):
            jb._decode_symbol_dict(seg, [])

    def test_oversized_symbol_rejected_by_pixel_budget(self):
        enc = jb._MQEncoder()
        iadh, iadw = jb._int_ctx(), jb._int_ctx()
        jb._int_encode(enc, *iadh, 16000)
        jb._int_encode(enc, *iadw, 16000)   # 256M px symbol
        seg = (struct.pack(">H", 0)
               + b"".join(struct.pack("bb", dx, dy)
                          for dx, dy in jb._NOMINAL_AT[0])
               + struct.pack(">II", 1, 1) + enc.flush())
        with pytest.raises(Jbig2Error):
            jb._decode_symbol_dict(seg, [])

    def test_exttemplate_is_unsupported(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + bytes([0x10]) + b"\x00" * 24)
        blob = jb._segment(1, 39, 1, region)
        with pytest.raises(Jbig2Unsupported):
            decode_jbig2_embedded(blob)

    def test_imported_contexts_are_unsupported(self):
        seg = struct.pack(">H", 1 << 8) + b"\x00" * 20
        blob = jb._segment(1, 0, 1, seg)
        with pytest.raises(Jbig2Unsupported):
            decode_jbig2_embedded(blob, width=8, height=8)


class TestHalftone:
    PATTERNS = [np.zeros((4, 4), np.uint8),
                np.eye(4, dtype=np.uint8),
                (np.indices((4, 4)).sum(0) % 2).astype(np.uint8),
                np.ones((4, 4), np.uint8)]

    def test_round_trip(self):
        rng = np.random.default_rng(4)
        gray = rng.integers(0, 4, (9, 13))
        blob = jb.encode_jbig2_halftone_embedded(gray, self.PATTERNS)
        out = decode_jbig2_embedded(blob)
        expect = np.zeros((36, 52), np.uint8)
        for m in range(9):
            for n in range(13):
                expect[m * 4:(m + 1) * 4, n * 4:(n + 1) * 4] = \
                    self.PATTERNS[gray[m, n]]
        assert (out == np.where(expect, 0, 255)).all()

    def test_single_pattern_needs_zero_planes(self):
        blob = jb.encode_jbig2_halftone_embedded(
            np.zeros((3, 3), np.int64), [np.ones((4, 4), np.uint8)])
        out = decode_jbig2_embedded(blob)
        assert out.shape == (12, 12) and (out == 0).all()

    def test_mmr_pattern_dictionary(self):
        from pdf_ocr_engine_spark.core.ccittcodec import encode_g4

        collective = np.concatenate(self.PATTERNS, axis=1)
        seg = (bytes([1, 4, 4]) + struct.pack(">I", 3)
               + encode_g4(collective.astype(bool)))
        pats = jb._decode_pattern_dict(seg)
        assert len(pats) == 4
        for got, want in zip(pats, self.PATTERNS):
            assert (got == want).all()

    def test_gray_value_beyond_patterns_is_error(self):
        # 3 patterns need 2 bitplanes; a grid value of 3 has no pattern
        blob = jb.encode_jbig2_halftone_embedded(
            np.full((2, 2), 3, np.int64), self.PATTERNS[:3])
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob)

    def test_mmr_gray_planes_round_trip(self):
        # HMMR=1: the gray bitplanes are EOFB-terminated G4 codings in
        # ONE bit-continuous stream (Annex C.5) — the arrangement
        # pdf.js also decodes
        rng = np.random.default_rng(14)
        gray = rng.integers(0, 4, (7, 11))
        blob = jb.encode_jbig2_halftone_embedded(gray, self.PATTERNS,
                                                 mmr=True)
        out = decode_jbig2_embedded(blob)
        expect = np.zeros((28, 44), np.uint8)
        for m in range(7):
            for n in range(11):
                expect[m * 4:(m + 1) * 4, n * 4:(n + 1) * 4] = \
                    self.PATTERNS[gray[m, n]]
        assert (out == np.where(expect, 0, 255)).all()

    def test_mmr_gray_planes_match_arithmetic(self):
        rng = np.random.default_rng(15)
        gray = rng.integers(0, 4, (5, 9))
        a = decode_jbig2_embedded(
            jb.encode_jbig2_halftone_embedded(gray, self.PATTERNS))
        b = decode_jbig2_embedded(
            jb.encode_jbig2_halftone_embedded(gray, self.PATTERNS,
                                              mmr=True))
        assert np.array_equal(a, b)

    def test_truncated_mmr_gray_planes_is_error(self):
        # truncate INSIDE the halftone payload so the failure comes
        # from the MMR plane decoder, not the segment-header parser
        rng = np.random.default_rng(16)
        gray = rng.integers(0, 4, (6, 8))
        region = jb._encode_halftone_region(gray, self.PATTERNS,
                                            32, 24, mmr=True)
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 32, 24, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 16, 1,
                              jb._encode_pattern_dict(self.PATTERNS))
                + jb._segment(3, 23, 1, region[:-8], refs=(2,))
                + jb._segment(4, 49, 1, b""))
        with pytest.raises(Jbig2Error, match="MMR halftone"):
            decode_jbig2_embedded(blob)

    def test_skip_flag_is_unsupported(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + bytes([1 << 3]) + b"\x00" * 20)
        blob = (jb._segment(1, 16, 1,
                            jb._encode_pattern_dict(self.PATTERNS))
                + jb._segment(2, 23, 1, region, refs=(1,)))
        with pytest.raises(Jbig2Unsupported):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_halftone_without_patterns_is_error(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + bytes([0]) + b"\x00" * 20)
        blob = jb._segment(1, 23, 1, region)
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_huge_pattern_dict_rejected(self):
        seg = bytes([0, 255, 255]) + struct.pack(">I", 1 << 11)
        with pytest.raises(Jbig2Error):
            jb._decode_pattern_dict(seg + b"\x00" * 8)


class TestStandaloneRefinementRegion:
    def test_refines_page_content_in_place(self):
        rng = np.random.default_rng(6)
        base = (rng.random((20, 30)) < 0.3).astype(np.uint8)
        target = base ^ ((rng.random((20, 30)) < 0.08).astype(np.uint8))
        gflags = (0 << 1) | (1 << 3)
        at = b"".join(struct.pack("bb", dx, dy)
                      for dx, dy in jb._NOMINAL_AT[0])
        gen = (struct.pack(">IIIIB", 30, 20, 0, 0, 0) + bytes([gflags])
               + at + jb._encode_generic(base, 0, True))
        enc = jb._MQEncoder()
        jb._encode_refinement(enc, target, 0, base, 0, 0, tpgron=True)
        ref_seg = (struct.pack(">IIIIB", 30, 20, 0, 0, 4)  # REPLACE
                   + bytes([0 | 2])  # template 0, TPGRON
                   + b"".join(struct.pack("bb", dx, dy)
                              for dx, dy in jb._REF_NOMINAL_AT)
                   + enc.flush())
        blob = (jb._segment(1, 48, 1,
                            struct.pack(">IIII", 30, 20, 0, 0)
                            + b"\x01\x00\x00")
                + jb._segment(2, 39, 1, gen)
                + jb._segment(3, 43, 1, ref_seg)
                + jb._segment(4, 49, 1, b""))
        out = decode_jbig2_embedded(blob)
        assert (out == np.where(target, 0, 255)).all()

    def test_refinement_of_intermediate_is_unsupported(self):
        ref_seg = (struct.pack(">IIIIB", 8, 8, 0, 0, 4)
                   + bytes([1]) + b"\x00" * 4)
        blob = jb._segment(2, 43, 1, ref_seg, refs=(1,))
        with pytest.raises(Jbig2Unsupported):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_intermediate_generic_region_composes_leniently(self):
        # real-world buggy encoders emit type 36 for page content; with
        # refinement-with-refs rejected, composing it as immediate can
        # never double-draw, so the lenient treatment stays
        bm = np.eye(8, dtype=np.uint8)
        gflags = (0 << 1) | (1 << 3)
        at = b"".join(struct.pack("bb", dx, dy)
                      for dx, dy in jb._NOMINAL_AT[0])
        gen = (struct.pack(">IIIIB", 8, 8, 0, 0, 0) + bytes([gflags])
               + at + jb._encode_generic(bm, 0, True))
        blob = jb._segment(1, 36, 1, gen)
        out = decode_jbig2_embedded(blob, width=8, height=8)
        assert (out == np.where(bm, 0, 255)).all()

    def test_truncated_halftone_header_is_error(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + bytes([0]) + b"\x00" * 16)  # 4 bytes short
        blob = (jb._segment(1, 16, 1, jb._encode_pattern_dict(
                    [np.ones((4, 4), np.uint8)]))
                + jb._segment(2, 23, 1, region, refs=(1,)))
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_mixed_pattern_sizes_are_error(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0)
                  + bytes([0]) + b"\x00" * 20)
        blob = (jb._segment(1, 16, 1, jb._encode_pattern_dict(
                    [np.ones((4, 4), np.uint8)]))
                + jb._segment(2, 16, 1, jb._encode_pattern_dict(
                    [np.ones((2, 2), np.uint8)]))
                + jb._segment(3, 23, 1, region, refs=(1, 2)))
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)

    def test_halftone_gray_budget_rejected(self):
        region = (struct.pack(">IIIIB", 8, 8, 0, 0, 0) + bytes([0])
                  + struct.pack(">II", 1 << 16, 1 << 16)
                  + struct.pack(">ii", 0, 0)
                  + struct.pack(">HH", 1 << 10, 0))
        pats = [np.ones((4, 4), np.uint8), np.zeros((4, 4), np.uint8)]
        blob = (jb._segment(1, 16, 1, jb._encode_pattern_dict(pats))
                + jb._segment(2, 23, 1, region, refs=(1,)))
        with pytest.raises(Jbig2Error):
            decode_jbig2_embedded(blob, width=8, height=8)


class TestFuzz:
    def test_fuzz_generic_round_trip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=120, deadline=None)
        @given(st.integers(0, 2**31 - 1), st.integers(0, 3),
               st.booleans(), st.floats(0.02, 0.98))
        def check(seed, template, tpgdon, density):
            rng = np.random.default_rng(seed)
            h = int(rng.integers(1, 24))
            w = int(rng.integers(1, 48))
            bm = (rng.random((h, w)) < density).astype(np.uint8)
            data = jb._encode_generic(bm, template=template,
                                      tpgdon=tpgdon)
            got = jb._decode_generic(jb._MQDecoder(data), w, h, template,
                                     jb._NOMINAL_AT[template], tpgdon)
            assert (got == bm).all()

        check()

    def test_fuzz_symbol_embedded_round_trip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(st.integers(0, 2**31 - 1), st.integers(0, 3),
               st.sampled_from([1, 2, 4, 8]))
        def check(seed, refcorner, sbstrips):
            rng = np.random.default_rng(seed)
            h = int(rng.integers(4, 28))
            w = int(rng.integers(4, 56))
            bm = (rng.random((h, w)) < float(rng.random() * 0.5)
                  ).astype(np.uint8)
            blob = jb.encode_jbig2_symbol_embedded(
                bm, refcorner=refcorner, sbstrips=sbstrips)
            got = decode_jbig2_embedded(blob)
            assert (got == np.where(bm, 0, 255)).all()

        check()

    def test_fuzz_garbage_never_hangs_or_crashes_oddly(self):
        # arbitrary bytes must yield Jbig2Error/Unsupported (or decode),
        # never IndexError/struct.error/MemoryError/hang — the
        # error-as-value contract of the OCR tier
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.binary(min_size=0, max_size=160))
        def check(data):
            try:
                decode_jbig2_embedded(data, width=16, height=16)
            except Jbig2Error:
                pass

        check()

    def test_fuzz_truncations_of_valid_streams(self):
        # every prefix of a real stream must error cleanly or decode
        bm = np.eye(12, 20, dtype=bool)
        for blob in (encode_jbig2_embedded(bm),
                     jb.encode_jbig2_symbol_embedded(bm)):
            for cut in range(0, len(blob), 3):
                try:
                    decode_jbig2_embedded(blob[:cut], width=20,
                                          height=12)
                except Jbig2Error:
                    pass


class TestRefinementBudget:
    """Text-region SBREFINE allocation caps: area per refined instance
    and a cumulative per-region pixel budget (mirrors the symbol
    dictionary's px_budget)."""

    def test_huge_refined_instance_area_rejected(self):
        # per-dimension caps pass (nw = nh = 1<<14) but the 2^28-pixel
        # area must be rejected BEFORE any refinement decode/allocation
        sym = np.ones((1, 1), dtype=np.uint8)
        enc = jb._MQEncoder()
        iadt, iafs, iari = (jb._int_ctx() for _ in range(3))
        iardw, iardh, iardx, iardy = (jb._int_ctx() for _ in range(4))
        jb._int_encode(enc, *iadt, 0)            # STRIPT
        jb._int_encode(enc, *iadt, 0)            # strip delta
        jb._int_encode(enc, *iafs, 0)            # FIRSTS
        jb._int_encode(enc, *iari, 1)            # refined instance
        jb._int_encode(enc, *iardw, (1 << 14) - 1)
        jb._int_encode(enc, *iardh, (1 << 14) - 1)
        jb._int_encode(enc, *iardx, 0)
        jb._int_encode(enc, *iardy, 0)
        region_info = struct.pack(">IIIIB", 64, 64, 0, 0, 0)
        flags = (1 << 1) | (1 << 4)              # SBREFINE=1, REFCORNER=TL
        rat = b"".join(struct.pack("bb", dx, dy)
                       for dx, dy in jb._REF_NOMINAL_AT)
        seg = (region_info + struct.pack(">H", flags) + rat
               + struct.pack(">I", 1) + enc.flush())
        with pytest.raises(Jbig2Error, match="refined symbol size"):
            jb._decode_text_region(seg, [sym])

    def test_refinement_pixel_budget_is_cumulative(self, monkeypatch):
        # two legitimate 8x8 refined instances decode under the real
        # budget; a shrunken budget must trip on the SECOND instance
        sym = np.ones((1, 1), dtype=np.uint8)
        tgt = np.ones((8, 8), dtype=np.uint8)
        seg = jb._encode_text_region(
            [(2, 2, 0, tgt), (14, 2, 0, tgt)], [sym], 30, 12)
        _info, page = jb._decode_text_region(seg, [sym])
        assert page[2:10, 2:10].all() and page[2:10, 14:22].all()
        monkeypatch.setattr(jb, "_REF_PX_BUDGET", 100)  # 2 x 64 px > 100
        with pytest.raises(Jbig2Error, match="budget"):
            jb._decode_text_region(seg, [sym])


class TestHuffman:
    """SDHUFF/SBHUFF huffman-coded arrangement (T.88 Annex B standard
    tables) — the non-arithmetic variant some encoders emit."""

    def test_standard_table_values_roundtrip(self):
        # every standard table: encode/decode identity over its normal
        # lines' ranges plus lower/upper extremes
        for n, lines in jb._STD_TABLE_LINES.items():
            t = jb._HuffTable(lines)
            values = []
            for ln in lines:
                if ln[0] == "n":
                    lo = ln[3]
                    hi = ln[3] + (1 << ln[2]) - 1
                    values += [lo, hi, (lo + hi) // 2]
                elif ln[0] == "l":
                    values += [ln[2], ln[2] - 1000]
                elif ln[0] == "u":
                    values += [ln[2], ln[2] + 100000]
            w = jb._BitWriter()
            for v in values:
                t.encode(w, v)
            r = jb._BitReader(w.flush())
            got = [t.decode(r) for _ in values]
            assert got == values, f"table B.{n}"

    def test_oob_roundtrip(self):
        for n in (2, 3, 8, 9, 10):
            t = jb._std_table(n)
            w = jb._BitWriter()
            t.encode(w, 0 if n < 8 else 4)
            t.encode_oob(w)
            r = jb._BitReader(w.flush())
            assert t.decode(r) is not jb._HUFF_OOB
            assert t.decode(r) is jb._HUFF_OOB

    def test_random_bitmaps_roundtrip(self):
        rng = np.random.default_rng(21)
        for _ in range(15):
            h = int(rng.integers(4, 40))
            w = int(rng.integers(8, 120))
            bm = (rng.random((h, w)) < rng.random() * 0.6).astype(np.uint8)
            blob = jb.encode_jbig2_symbol_huffman_embedded(bm)
            gray = decode_jbig2_embedded(blob)
            assert (gray == np.where(bm, 0, 255)).all(), (h, w)

    def test_matches_arithmetic_arrangement_pixelwise(self):
        rng = np.random.default_rng(22)
        bm = (rng.random((30, 90)) < 0.35).astype(np.uint8)
        a = decode_jbig2_embedded(jb.encode_jbig2_symbol_embedded(bm))
        hf = decode_jbig2_embedded(
            jb.encode_jbig2_symbol_huffman_embedded(bm))
        assert (a == hf).all()

    def test_empty_page(self):
        bm = np.zeros((10, 20), np.uint8)
        gray = decode_jbig2_embedded(
            jb.encode_jbig2_symbol_huffman_embedded(bm), width=20,
            height=10)
        assert (gray == 255).all()

    def test_truncations_error_cleanly(self):
        bm = np.eye(14, 40, dtype=bool)
        blob = jb.encode_jbig2_symbol_huffman_embedded(bm)
        for cut in range(0, len(blob), 3):
            try:
                decode_jbig2_embedded(blob[:cut], width=40, height=14)
            except Jbig2Error:
                pass

    def test_custom_text_region_selector_needs_referred_table(self):
        # a custom (3) FS selector without a referred type-53 table
        # segment is malformed and must reject loudly
        region_info = struct.pack(">IIIIB", 8, 8, 0, 0, 0)
        seg = (region_info + struct.pack(">H", 1)   # SBHUFF=1
               + struct.pack(">H", 3)               # FS selector = custom
               + struct.pack(">I", 1))
        sym = [np.ones((2, 2), np.uint8)]
        with pytest.raises(Jbig2Error):
            jb._decode_text_region(seg, sym)

    def test_striped_transposed_text_region_decodes(self):
        # hand-author an SBHUFF=1 TRANSPOSED=1 TOPLEFT region with
        # SBSTRIPS=4: S runs down rows, T across columns, and each
        # instance's CURT is a raw 2-bit residual added to STRIPT
        s0 = np.array([[1, 1], [1, 0], [1, 1]], dtype=np.uint8)
        s1 = np.array([[1, 0, 1], [0, 1, 0]], dtype=np.uint8)
        t_fs, t_ds, t_dt = jb._std_table(6), jb._std_table(8), \
            jb._std_table(11)
        bw = jb._BitWriter()
        for i in range(35):             # runcode 1 is the 1-bit code 0
            bw.write(1 if i == 1 else 0, 4)
        bw.write(0, 2)                  # both symbol ID codes 1 bit long
        bw.byte_align()
        t_dt.encode(bw, 1)              # STRIPT = -1 * 4
        t_dt.encode(bw, 2)              # strip at T = -4 + 2 * 4 = 4
        t_fs.encode(bw, 2)              # FIRSTS = 2: s0 at y=2, x=4+1
        bw.write(1, 2)
        bw.write(0, 1)
        t_ds.encode(bw, 6)              # curs 2+3-1=4 → 10: s1 at x=4+3
        bw.write(3, 2)
        bw.write(1, 1)
        t_ds.encode_oob(bw)
        t_dt.encode(bw, 1)              # strip at T = 8
        t_fs.encode(bw, -1)             # FIRSTS = 1: s0 at y=1, x=8+2
        bw.write(2, 2)
        bw.write(0, 1)
        region_info = struct.pack(">IIIIB", 16, 16, 0, 0, 0)
        flags = 1 | (2 << 2) | (1 << 4) | (1 << 6)  # LOGSBSTRIPS=2, TL
        seg = (region_info + struct.pack(">H", flags)
               + struct.pack(">H", 0)   # B.6 / B.8 / B.11
               + struct.pack(">I", 3) + bw.flush())
        _info, bm = jb._decode_text_region(seg, [s0, s1])
        want = np.zeros((16, 16), np.uint8)
        want[2:5, 5:7] |= s0
        want[10:12, 7:10] |= s1
        want[1:4, 10:12] |= s0
        assert np.array_equal(bm, want)

    def test_ocr_extraction_through_huffman_pdf(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 200, "height": 60,
                  "words": [("huffman", 10, 10, 52, 18),
                            ("words", 60, 10, 90, 18),
                            ("here", 10, 30, 34, 38)]}]
        r = extract_document(
            build_pixel_scanned_pdf(pages, codec="jbig2huff"), "eng",
            recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "huffman words\nhere"

    def test_mmr_collective_bitmap_class(self):
        # hand-encode one height class whose collective bitmap is
        # MMR-coded (BMSIZE > 0) — the other branch of §6.5.9
        from pdf_ocr_engine_spark.core.ccittcodec import encode_g4

        syms = [np.array([[1, 0], [1, 1]], np.uint8),
                np.array([[1, 1, 1], [1, 0, 1]], np.uint8)]
        coll = np.hstack(syms)
        mmr = encode_g4(coll)
        t_dh, t_dw = jb._std_table(4), jb._std_table(2)
        t_bm, t_ex = jb._std_table(1), jb._std_table(1)
        w = jb._BitWriter()
        t_dh.encode(w, 2)           # height class 2
        t_dw.encode(w, 2)           # width 2
        t_dw.encode(w, 1)           # width 3
        t_dw.encode_oob(w)
        t_bm.encode(w, len(mmr))    # MMR-coded collective bitmap
        w.write_bytes(mmr)
        t_ex.encode(w, 0)
        t_ex.encode(w, 2)
        seg = (struct.pack(">H", 1) + struct.pack(">II", 2, 2)
               + w.flush())
        got = jb._decode_symbol_dict(seg, [])
        assert len(got) == 2
        assert (got[0] == syms[0]).all()
        assert (got[1] == syms[1]).all()


class TestCustomTables:
    """Custom Huffman table segments (type 53, Annex B.2) feeding the
    SDHUFF/SBHUFF selectors with the custom value."""

    # covers [0, 16) with one 4-extra-bit line; lower/upper/OOB present
    _DW_LINES = [(1, 4, 0)]

    def _table_seg(self, oob=3):
        return jb._encode_table_segment(self._DW_LINES, low_pl=2,
                                        high_pl=3, oob_pl=oob)

    def test_table_segment_roundtrip(self):
        t = jb._parse_table_segment(self._table_seg())
        w = jb._BitWriter()
        for v in (0, 7, 15, -4, 40):
            t.encode(w, v)
        t.encode_oob(w)
        r = jb._BitReader(w.flush())
        assert [t.decode(r) for _ in range(5)] == [0, 7, 15, -4, 40]
        assert t.decode(r) is jb._HUFF_OOB

    def test_short_or_reserved_table_rejects(self):
        with pytest.raises(Jbig2Error):
            jb._parse_table_segment(b"\x00\x00\x00")
        bad = bytearray(self._table_seg())
        bad[0] |= 0x80
        with pytest.raises(Jbig2Error):
            jb._parse_table_segment(bytes(bad))
        # empty range (high <= low)
        with pytest.raises(Jbig2Error):
            jb._parse_table_segment(
                b"\x01" + struct.pack(">ii", 5, 5) + b"\x00" * 4)

    def test_degenerate_code_lengths_are_jbig2error(self):
        # three length-1 prefixes cannot be canonically assigned —
        # data-driven table construction must raise Jbig2Error, not an
        # assertion (the runcode table is built from stream nibbles)
        with pytest.raises(Jbig2Error):
            jb._HuffTable([("n", 1, 0, 0), ("n", 1, 0, 1), ("n", 1, 0, 2)])

    def _dict_with_custom_dw(self, symbols):
        """Hand-encode an SDHUFF dictionary using the custom DW table
        (sel_dw=3), mirroring _encode_huffman_symbol_dict otherwise."""
        t = jb._parse_table_segment(self._table_seg())
        flags = 1 | (3 << 4)   # SDHUFF=1, DW selector = custom
        header = struct.pack(">H", flags) + struct.pack(
            ">II", len(symbols), len(symbols))
        t_dh, t_bm, t_ex = (jb._std_table(4), jb._std_table(1),
                            jb._std_table(1))
        w = jb._BitWriter()
        classes = {}
        for sym in symbols:
            classes.setdefault(sym.shape[0], []).append(sym)
        prev_h = 0
        for hh in sorted(classes):
            t_dh.encode(w, hh - prev_h)
            prev_h = hh
            prev_w = 0
            for sym in classes[hh]:
                t.encode(w, sym.shape[1] - prev_w)
                prev_w = sym.shape[1]
            t.encode_oob(w)
            t_bm.encode(w, 0)
            w.write_bytes(np.packbits(np.hstack(classes[hh]),
                                      axis=1).tobytes())
        t_ex.encode(w, 0)
        t_ex.encode(w, len(symbols))
        return header + w.flush()

    def test_symbol_dict_with_custom_dw_table(self):
        rng = np.random.default_rng(5)
        syms = [(rng.random((4, 5)) < 0.5).astype(np.uint8),
                (rng.random((4, 7)) < 0.5).astype(np.uint8)]
        seg = self._dict_with_custom_dw(syms)
        t = jb._parse_table_segment(self._table_seg())
        got = jb._decode_symbol_dict(seg, [], [t])
        assert len(got) == 2
        assert (got[0] == syms[0]).all()
        assert (got[1] == syms[1]).all()

    def test_missing_custom_table_rejects(self):
        syms = [np.ones((3, 3), np.uint8)]
        seg = self._dict_with_custom_dw(syms)
        with pytest.raises(Jbig2Error):
            jb._decode_symbol_dict(seg, [], [])

    def test_reserved_selector_rejects(self):
        flags = 1 | (2 << 4)   # DW selector 2 is reserved
        seg = struct.pack(">H", flags) + struct.pack(">II", 1, 1)
        with pytest.raises(Jbig2Error):
            jb._decode_symbol_dict(seg, [], [])

    def test_embedded_stream_with_custom_table(self):
        """Full embedded decode: page info + type-53 table + SDHUFF dict
        (custom DW) + SBHUFF text region + EOP equals the standard-table
        arrangement's page."""
        rng = np.random.default_rng(11)
        syms = [(rng.random((6, 5)) < 0.4).astype(np.uint8),
                (rng.random((6, 9)) < 0.4).astype(np.uint8)]
        dict_seg = self._dict_with_custom_dw(syms)
        instances = [(2, 1, 0), (12, 1, 1), (24, 1, 0)]
        w, h = 40, 10
        region = jb._encode_huffman_text_region(instances, syms, w, h)
        page_info = (struct.pack(">IIII", w, h, 0, 0)
                     + b"\x01" + b"\x00\x00")
        stream = (jb._segment(1, 48, 1, page_info)
                  + jb._segment(2, 53, 1, self._table_seg())
                  + jb._segment(3, 0, 1, dict_seg, refs=(2,))
                  + jb._segment(4, 6, 1, region, refs=(3,))
                  + jb._segment(5, 49, 1, b""))
        got = decode_jbig2_embedded(stream)
        want = np.full((h, w), 255, np.uint8)
        for x0, y0, sid in instances:
            sh, sw = syms[sid].shape
            want[y0:y0 + sh, x0:x0 + sw] = np.where(syms[sid], 0, 255)
        assert np.array_equal(got, want)

    def test_text_region_with_custom_fs_table(self):
        # FS values are first-instance x offsets (0 and 2 here): a tiny
        # custom table over [0, 8) with OOB absent
        tseg = jb._encode_table_segment([(1, 3, 0)], low_pl=2, high_pl=2)
        t_fs = jb._parse_table_segment(tseg)
        syms = [np.ones((3, 3), np.uint8)]
        region_info = struct.pack(">IIIIB", 12, 5, 0, 0, 0)
        flags = 1 | (1 << 4)            # SBHUFF=1, TL refcorner
        hflags = 3                      # FS selector = custom
        t_ds, t_dt = jb._std_table(8), jb._std_table(11)
        bw = jb._BitWriter()
        for i in range(35):
            bw.write(1 if i == 1 else 0, 4)
        bw.write(0, 1)                  # the single symbol's code length
        bw.byte_align()
        t_dt.encode(bw, 1)              # STRIPT = -1
        t_dt.encode(bw, 2)              # strip at T=1
        t_fs.encode(bw, 2)              # FIRSTS = 2
        t_ds.encode_oob(bw)
        seg = (region_info + struct.pack(">H", flags)
               + struct.pack(">H", hflags) + struct.pack(">I", 1)
               + bw.flush())
        info, bm = jb._decode_text_region(seg, syms, [t_fs])
        want = np.zeros((5, 12), np.uint8)
        want[1:4, 2:5] = 1
        assert np.array_equal(bm, want)

    def test_encoder_custom_table_arrangement_roundtrip(self):
        rng = np.random.default_rng(13)
        bm = (rng.random((40, 120)) < 0.25).astype(np.uint8)
        data = jb.encode_jbig2_symbol_huffman_embedded(
            bm, custom_dw_table=True)
        got = decode_jbig2_embedded(data)
        assert np.array_equal(got, np.where(bm, 0, 255))

    def test_custom_arrangement_ocr_extraction(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.core.pdfscan import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 200, "height": 60,
                  "words": [("custom", 10, 10, 46, 18),
                            ("tables", 54, 10, 90, 18)]}]
        r = extract_document(
            build_pixel_scanned_pdf(pages, codec="jbig2huffct"), "eng",
            recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "custom tables"

    def test_unreferenced_malformed_table_does_not_abort_page(self):
        # type-53 payloads parse LAZILY: a broken table segment nothing
        # references must not flip a decodable page into an error
        bm = np.eye(10, 24, dtype=bool)
        blob = encode_jbig2_embedded(bm)
        bad_table = jb._segment(9, 53, 1,
                                b"\x01" + struct.pack(">ii", 5, 5))
        gray = decode_jbig2_embedded(blob + bad_table)
        assert np.array_equal(gray, np.where(bm, 0, 255))
