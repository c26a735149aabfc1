"""JPEG 2000 (T.800) codec: wavelet/T1/tag-tree unit round-trips, wire
format, error paths, and the JPXDecode OCR path through real PDF
structures."""

import struct

import numpy as np
import pytest

from pdf_ocr_engine_spark.core import jpxcodec as jx
from pdf_ocr_engine_spark.core.jpxcodec import (
    JpxError,
    JpxUnsupported,
    decode_jpx_gray,
)
from pdf_ocr_engine_spark.encoders import raster
from pdf_ocr_engine_spark.encoders.raster import (
    encode_jp2_gray,
    encode_jp2_rgb,
)


def _rng(seed=7):
    return np.random.default_rng(seed)


class TestWavelet:
    @pytest.mark.parametrize("shape", [(1, 1), (1, 7), (8, 1), (5, 5),
                                       (16, 16), (17, 13), (2, 3)])
    def test_2d_roundtrip(self, shape):
        a = _rng().integers(-512, 512, shape).astype(np.int64)
        ll, hl, lh, hh = raster._fwd_2d(a, raster._fwd53_axis)
        back = jx._inv53_2d(ll, hl, lh, hh)
        assert np.array_equal(back, a)

    def test_band_dims_tile_exactly(self):
        for w, h, lv in [(17, 13, 3), (64, 64, 2), (1, 9, 2), (5, 1, 1)]:
            layout = jx._band_dims(w, h, lv)
            # reassembling every level reproduces the full area
            cw, ch = layout[0]["bands"][0][1], layout[0]["bands"][0][2]
            for r in range(1, lv + 1):
                (_, hw, hh2, _), (_, lw, lh2, _), (_, xw, xh, _) = \
                    layout[r]["bands"]
                assert (cw + hw, ch + lh2) == (cw + xw, ch + xh)
                cw, ch = cw + hw, ch + lh2
            assert (cw, ch) == (w, h)


class TestT1:
    @pytest.mark.parametrize("cls", ["ll_lh", "hl", "hh"])
    @pytest.mark.parametrize("shape", [(4, 4), (7, 5), (13, 11), (64, 3)])
    def test_block_roundtrip(self, cls, shape):
        co = _rng(shape[0] * 100 + shape[1]).integers(
            -300, 300, shape).astype(np.int64)
        data, npasses, nbps = raster._t1_encode(co, cls)
        got = jx._t1_decode(data, shape[1], shape[0], npasses, nbps, cls)
        assert np.array_equal(got, co)

    def test_sparse_block_roundtrip(self):
        # mostly-zero block exercises the run-length and stripe-skip paths
        co = np.zeros((32, 32), np.int64)
        co[3, 7] = -5
        co[30, 30] = 200
        data, npasses, nbps = raster._t1_encode(co, "hh")
        got = jx._t1_decode(data, 32, 32, npasses, nbps, "hh")
        assert np.array_equal(got, co)

    def test_zero_block_not_included(self):
        data, npasses, nbps = raster._t1_encode(np.zeros((8, 8), np.int64),
                                                "ll_lh")
        assert (data, npasses, nbps) == (b"", 0, 0)

    def test_pass_overrun_rejected(self):
        with pytest.raises(JpxError):
            jx._t1_decode(b"\x00\x00", 4, 4, 10, 2, "ll_lh")


class TestTagTree:
    def test_roundtrip_grid(self):
        vals = [[0, 1, 3], [2, 0, 1]]
        enc = raster._TagTreeWriter(3, 2)
        for y, row in enumerate(vals):
            for x, v in enumerate(row):
                enc.set(x, y, v)
        enc.finalize()
        bw = raster._HdrWriter()
        for y in range(2):
            for x in range(3):
                enc.encode(x, y, vals[y][x] + 1, bw)
        data = bw.flush()
        dec = jx._TagTree(3, 2)
        br = jx._HdrReader(data, 0)
        for y in range(2):
            for x in range(3):
                k = 1
                while not dec.decode(x, y, k, br):
                    k += 1
                assert k - 1 == vals[y][x]

    def test_header_stuffing(self):
        # 16 one-bits force an 0xFF byte; the writer then emits a 7-bit
        # byte and the reader mirrors it
        bw = raster._HdrWriter()
        for _ in range(16):
            bw.bit(1)
        bw.bit(0)
        bw.bit(1)
        data = bw.flush()
        assert data[0] == 0xFF
        assert data[1] & 0x80 == 0  # stuffed: MSB forced clear
        br = jx._HdrReader(data, 0)
        got = [br.bit() for _ in range(18)]
        assert got == [1] * 16 + [0, 1]


class TestRoundTrip:
    @pytest.mark.parametrize("shape,bpc,levels,cblk", [
        ((8, 8), 8, 1, 64),
        ((13, 17), 8, 2, 16),
        ((1, 1), 8, 0, 64),
        ((1, 5), 8, 1, 64),
        ((9, 1), 8, 2, 64),
        ((64, 64), 8, 3, 32),
        ((47, 33), 1, 1, 64),
        ((40, 100), 4, 2, 64),
        ((31, 31), 8, 0, 16),
    ])
    def test_lossless(self, shape, bpc, levels, cblk):
        img = _rng(sum(shape) * bpc + levels).integers(
            0, 256, shape, dtype=np.uint8)
        if bpc < 8:
            top = (1 << bpc) - 1
            img = (((img.astype(np.int64) * top + 127) // 255)
                   * 255 // top).astype(np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, bpc=bpc, levels=levels,
                                              cblk=cblk))
        assert out.dtype == np.uint8
        assert np.array_equal(out, img)

    def test_flat_and_gradient(self):
        flat = np.full((20, 30), 255, np.uint8)
        assert np.array_equal(decode_jpx_gray(encode_jp2_gray(flat)), flat)
        grad = np.tile(np.arange(64, dtype=np.uint8) * 4, (16, 1))
        assert np.array_equal(decode_jpx_gray(encode_jp2_gray(grad, levels=2)),
                              grad)

    def test_raw_codestream(self):
        img = _rng(3).integers(0, 256, (12, 18), dtype=np.uint8)
        raw = encode_jp2_gray(img, wrap_jp2=False)
        assert raw[:4] == b"\xffO\xffQ"
        assert np.array_equal(decode_jpx_gray(raw), img)

    def test_bilevel_scales_to_0_255(self):
        img = np.where(_rng(5).random((9, 9)) < 0.5, 0, 255).astype(np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, bpc=1, levels=1))
        assert set(np.unique(out)) <= {0, 255}
        assert np.array_equal(out, img)

    @pytest.mark.parametrize("sop,eph", [(True, False), (False, True),
                                         (True, True)])
    def test_sop_eph_markers(self, sop, eph):
        img = _rng(21).integers(0, 256, (10, 14), dtype=np.uint8)
        data = encode_jp2_gray(img, levels=2, wrap_jp2=False,
                               sop=sop, eph=eph)
        assert (b"\xff\x91" in data) == sop
        assert (b"\xff\x92" in data) == eph
        assert np.array_equal(decode_jpx_gray(data), img)

    def test_rct_color_to_luma(self):
        rgb = _rng(23).integers(0, 256, (11, 19, 3), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_rgb(rgb, levels=2))
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        assert np.array_equal(out, luma)

    def test_rct_color_with_markers(self):
        rgb = _rng(29).integers(0, 256, (8, 8, 3), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_rgb(rgb, levels=1,
                                             wrap_jp2=False,
                                             sop=True, eph=True))
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        assert np.array_equal(out, luma)

    @pytest.mark.parametrize("shape,tile,levels", [
        ((13, 21), 8, 1),      # partial edge tiles both axes
        ((32, 32), 16, 2),     # exact grid
        ((9, 40), 8, 3),       # 1-row-tall bottom tiles
        ((24, 24), 8, 0),      # no wavelet, tiles only
    ])
    def test_tiled_lossless(self, shape, tile, levels):
        img = _rng(sum(shape) + tile).integers(0, 256, shape,
                                               dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=levels,
                                              tile=tile))
        assert np.array_equal(out, img)

    def test_tiled_color_with_markers(self):
        rgb = _rng(37).integers(0, 256, (20, 28, 3), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_rgb(rgb, levels=1, tile=16,
                                             sop=True, eph=True))
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        assert np.array_equal(out, luma)

    def test_odd_parity_tile_grid_rejected(self):
        img = _rng(41).integers(0, 256, (16, 24), dtype=np.uint8)
        raw = bytearray(encode_jp2_gray(img, levels=1, tile=8,
                                        wrap_jp2=False))
        siz = raw.index(b"\xffQ")
        # XTsiz lives 18 bytes into the SIZ payload; 7 is odd at level 1
        struct.pack_into(">I", raw, siz + 4 + 18, 7)
        with pytest.raises(JpxUnsupported):
            decode_jpx_gray(bytes(raw))

    def test_encoder_rejects_misaligned_tile(self):
        img = np.zeros((16, 16), np.uint8)
        with pytest.raises(ValueError):
            encode_jp2_gray(img, levels=2, tile=6)

    def test_rlcp_progression_decodes(self):
        # with one layer, RLCP packet order equals LRCP — patching the
        # progression byte must not change the decode
        img = _rng(11).integers(0, 256, (10, 14), dtype=np.uint8)
        raw = bytearray(encode_jp2_gray(img, levels=2, wrap_jp2=False))
        cod = raw.index(b"\xff\x52")
        assert raw[cod + 5] == 0      # LRCP as written
        raw[cod + 5] = 1              # RLCP
        assert np.array_equal(decode_jpx_gray(bytes(raw)), img)


class TestWireFormat:
    def test_jp2_boxes(self):
        data = encode_jp2_gray(np.zeros((4, 4), np.uint8))
        assert data[:12] == struct.pack(">I", 12) + b"jP  \x0d\x0a\x87\x0a"
        assert b"ftyp" in data[:40] and b"jp2h" in data and b"jp2c" in data

    def test_marker_sequence(self):
        raw = encode_jp2_gray(np.zeros((4, 4), np.uint8), wrap_jp2=False)
        assert raw[:2] == b"\xffO"            # SOC
        assert raw[2:4] == b"\xffQ"           # SIZ
        assert b"\xff\x52" in raw and b"\xff\x5c" in raw   # COD, QCD
        assert b"\xff\x90" in raw and b"\xff\x93" in raw   # SOT, SOD
        assert raw[-2:] == b"\xff\xd9"        # EOC


class TestErrors:
    def _raw(self, **kw):
        img = _rng(9).integers(0, 256, (8, 12), dtype=np.uint8)
        return bytearray(encode_jp2_gray(img, wrap_jp2=False, **kw))

    def test_truncated(self):
        raw = self._raw()
        for cut in (1, 8, len(raw) // 2, len(raw) - 3):
            with pytest.raises(JpxError):
                decode_jpx_gray(bytes(raw[:cut]))

    def test_garbage(self):
        with pytest.raises(JpxError):
            decode_jpx_gray(b"not a jp2 stream at all, padded long enough")

    def test_no_jp2c_box(self):
        data = struct.pack(">I", 12) + b"jP  \x0d\x0a\x87\x0a" \
            + struct.pack(">I", 8) + b"free"
        with pytest.raises(JpxError):
            decode_jpx_gray(data)

    def test_97_claim_with_reversible_qcd_rejected(self):
        # 9/7 decodes since round 5 — but only with a quantized QCD;
        # claiming it against a no-quantization QCD is malformed
        raw = self._raw()
        cod = raw.index(b"\xff\x52")
        raw[cod + 13] = 0             # transform: 9/7 irreversible
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))

    def test_multicomponent_unsupported(self):
        raw = self._raw()
        siz = raw.index(b"\xffQ")
        # Csiz lives 34 bytes into the SIZ payload; 2 components is the
        # unsupported count (1 and 3 are handled)
        struct.pack_into(">H", raw, siz + 4 + 34, 2)
        with pytest.raises(JpxUnsupported):
            decode_jpx_gray(bytes(raw))

    def test_missing_eph_rejected(self):
        img = _rng(31).integers(0, 256, (8, 8), dtype=np.uint8)
        raw = bytearray(encode_jp2_gray(img, wrap_jp2=False, eph=True))
        i = raw.index(b"\xff\x92")
        raw[i:i + 2] = b"\x00\x00"
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))

    def test_quantized_qcd_with_53_rejected(self):
        raw = self._raw()
        qcd = raw.index(b"\xff\x5c")
        raw[qcd + 4] |= 0x02          # scalar expounded on a 5/3 stream
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))

    def test_precinct_flag_without_sizes_rejected(self):
        # Scod bit 0 set but no per-resolution size bytes follow
        raw = self._raw()
        cod = raw.index(b"\xff\x52")
        raw[cod + 4] |= 0x01
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))

    @pytest.mark.parametrize("marker", [b"\xffQ", b"\xff\x52",
                                        b"\xff\x5c", b"\xff\x5d"],
                             ids=["SIZ", "COD", "QCD", "QCC"])
    def test_main_header_marker_after_sot_rejected(self, marker):
        # SIZ/COD/QCD/QCC between tile-parts (illegal per T.800 A.3) must
        # not silently replace the parameters every tile decodes with
        img = _rng(43).integers(0, 256, (16, 16), dtype=np.uint8)
        raw = bytearray(encode_jp2_gray(img, levels=1, tile=8,
                                        wrap_jp2=False))
        if marker == b"\xff\x5d":   # QCC: component 0 + the QCD payload
            at = raw.index(b"\xff\x5c")
            (ln,) = struct.unpack_from(">H", raw, at + 2)
            seg = (marker + struct.pack(">H", ln + 1) + b"\x00"
                   + raw[at + 4:at + 2 + ln])
        else:
            at = raw.index(marker)
            (ln,) = struct.unpack_from(">H", raw, at + 2)
            seg = raw[at:at + 2 + ln]
        second_sot = raw.index(b"\xff\x90", raw.index(b"\xff\x90") + 2)
        raw[second_sot:second_sot] = seg
        with pytest.raises(JpxError, match="after SOT"):
            decode_jpx_gray(bytes(raw))

    def test_signed_component_unsupported(self):
        raw = self._raw()
        siz = raw.index(b"\xffQ")
        raw[siz + 4 + 36] |= 0x80     # Ssiz sign bit
        with pytest.raises(JpxUnsupported):
            decode_jpx_gray(bytes(raw))

    def test_mutation_fuzz_never_crashes(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        base = bytes(self._raw(levels=1))

        @settings(max_examples=120, deadline=None)
        @given(st.integers(0, len(base) - 1), st.integers(1, 255))
        def run(pos, flip):
            mut = bytearray(base)
            mut[pos] ^= flip
            try:
                out = decode_jpx_gray(bytes(mut))
            except JpxError:
                return
            assert isinstance(out, np.ndarray)

        run()

    def test_random_bytes_fuzz(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=80, deadline=None)
        @given(st.binary(min_size=12, max_size=96))
        def run(blob):
            with pytest.raises(JpxError):
                decode_jpx_gray(b"\xffO\xffQ" + blob)

        run()


class TestOcrIntegration:
    def test_ocr_extraction_through_jpx_pdf(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 200, "height": 60,
                  "words": [("wavelet", 10, 10, 52, 18),
                            ("words", 60, 10, 90, 18),
                            ("here", 10, 30, 34, 38)]}]
        r = extract_document(
            build_pixel_scanned_pdf(pages, codec="jpx"), "eng",
            recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "wavelet words\nhere"

    def test_ocr_extraction_through_color_jpx_pdf(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 160, "height": 50,
                  "words": [("color", 10, 10, 40, 18),
                            ("jp2", 48, 10, 66, 18)]}]
        r = extract_document(
            build_pixel_scanned_pdf(pages, codec="jpxcolor"), "eng",
            recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "color jp2"

    def test_jpx_matches_flate_ocr(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_pixel_scanned_pdf_payload,
        )

        text = "the quick brown fox jumps over the lazy dog " * 3
        rec = deterministic_recognizer()
        got = [extract_document(
            text_to_pixel_scanned_pdf_payload(text, codec=c),
            "eng", recognizer=rec)["text"] for c in ("flate", "jpx")]
        assert got[0] == got[1]
        assert got[0].split() == text.split()

    def test_corrupt_jpx_is_decode_error(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pdf = build_pixel_scanned_pdf(
            [{"width": 100, "height": 40,
              "words": [("hi", 10, 10, 20, 18)]}], codec="jpx")
        # zero out the tail of the embedded codestream (EOC + T1 data)
        eoc = pdf.rindex(b"\xff\xd9")
        broken = pdf[:eoc - 20] + b"\x00" * 22 + pdf[eoc + 2:]
        r = extract_document(broken, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"

    def test_jpx_error_from_any_recognizer_is_decode_error(self):
        # JpxError is a ValueError like every codec's typed error, so the
        # page core maps it even from a recognizer that calls the codec
        # directly, with the codec's own message
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf

        pdf = build_pixel_scanned_pdf(
            [{"width": 100, "height": 40,
              "words": [("hi", 10, 10, 20, 18)]}], codec="jpx")
        r = extract_document(pdf, "eng",
                             recognizer=lambda img: decode_jpx_gray(b"x"))
        assert issubclass(JpxError, ValueError)
        assert r["status"] == "decode_error"
        assert r["error"] == ("recognizer: not a JPEG 2000 stream "
                              "(too short)")


class TestTileGuards:
    def test_strip_tiling_with_odd_width_decodes(self):
        # tiles only along y: the x axis has one tile column (origin 0),
        # so odd XTsiz == w is parity-irrelevant and must decode — the
        # strip-tiling layout some encoders emit for odd-width scans
        img = _rng(43).integers(0, 256, (32, 7), dtype=np.uint8)
        a = img.astype(np.int64) - 128
        stream = bytearray(raster._emit_codestream(
            [a], 7, 32, 8, 1, 64, mct=0, sop=False, eph=False, tile=8))
        siz = stream.index(b"\xffQ")
        struct.pack_into(">I", stream, siz + 4 + 18, 7)   # XTsiz = 7
        assert np.array_equal(decode_jpx_gray(bytes(stream)), img)

    def test_single_tile_grid_ignores_parity(self):
        # tile >= both dims -> one tile, parity irrelevant (mirrors
        # tile=None, whose xts=max(w,h) is not parity-checked either)
        img = _rng(47).integers(0, 256, (16, 16), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=2, tile=18))
        assert np.array_equal(out, img)

    def test_encoder_rejects_oversized_tile_count(self):
        with pytest.raises(ValueError):
            encode_jp2_gray(np.zeros((512, 512), np.uint8), levels=0,
                            tile=1)

    def test_block_budget_is_image_wide(self):
        # per-tile resets must not multiply the cap away: a stream whose
        # summed tile block counts exceed _MAX_BLOCKS rejects even when
        # each tile alone is under it
        import pdf_ocr_engine_spark.core.jpxcodec as jx2
        old = jx2._MAX_BLOCKS
        jx2._MAX_BLOCKS = 8
        try:
            img = np.zeros((32, 32), np.uint8)
            data = encode_jp2_gray(img, levels=0, cblk=8, tile=16)
            # 4 tiles x 4 blocks = 16 > 8 but each tile's 4 <= 8
            with pytest.raises(JpxError):
                decode_jpx_gray(data)
        finally:
            jx2._MAX_BLOCKS = old


class TestPropertyFuzz:
    def test_parameter_space_roundtrip(self):
        # every parameter interaction (shape x bpc x levels x cblk x
        # tile x markers) must stay lossless — tiling/color corners are
        # where integration bugs hide
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(st.integers(1, 40), st.integers(1, 40),
               st.sampled_from([1, 2, 4, 8]), st.integers(0, 3),
               st.sampled_from([4, 16, 64]),
               st.sampled_from([None, 8, 16]),
               st.sampled_from([None, 3, 5]),
               st.booleans(), st.booleans(), st.integers(0, 2 ** 31 - 1))
        def run(w, h, bpc, levels, cblk, tile, pp, sop, eph, seed):
            if tile is not None and tile % (1 << levels):
                tile = tile * (1 << levels)
            precincts = [(pp, pp)] * (levels + 1) if pp else None
            if precincts is not None and tile is not None:
                tile = None            # combination is out of scope
            img = np.random.default_rng(seed).integers(
                0, 256, (h, w), dtype=np.uint8)
            top = (1 << bpc) - 1
            img = (((img.astype(np.int64) * top + 127) // 255)
                   * 255 // top).astype(np.uint8)
            out = decode_jpx_gray(encode_jp2_gray(
                img, bpc=bpc, levels=levels, cblk=cblk, tile=tile,
                sop=sop, eph=eph, precincts=precincts))
            assert np.array_equal(out, img)

        run()

    def test_color_parameter_space_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(st.integers(1, 24), st.integers(1, 24),
               st.integers(0, 2), st.sampled_from([None, 8]),
               st.booleans(), st.integers(0, 2 ** 31 - 1))
        def run(w, h, levels, tile, sop, seed):
            if tile is not None and tile % (1 << levels):
                tile = tile * (1 << levels)
            rgb = np.random.default_rng(seed).integers(
                0, 256, (h, w, 3), dtype=np.uint8)
            out = decode_jpx_gray(encode_jp2_rgb(
                rgb, levels=levels, tile=tile, sop=sop, eph=not sop))
            r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
            luma = ((77 * r + 150 * g + 29 * b + 128) >> 8) \
                .astype(np.uint8)
            assert np.array_equal(out, luma)

        run()


class TestIrreversible:
    """9/7 float wavelet + scalar-expounded quantization — the lossy
    real-world JP2 form (decode path general; encoder for fixtures)."""

    def test_97_wavelet_roundtrip(self):
        rng = _rng(53)
        for shape in ((1, 1), (3, 7), (16, 16), (13, 21), (1, 9)):
            a = rng.random(shape) * 255 - 128
            back = jx._inv97_2d(*raster._fwd_2d(a, raster._fwd97_axis))
            assert np.abs(back - a).max() < 1e-9

    def test_fine_step_is_visually_exact(self):
        img = _rng(59).integers(0, 256, (16, 16), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=1,
                                              irreversible=True))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    @pytest.mark.parametrize("step,bound", [(1.0, 4), (1.5, 6),
                                            (2.0, 8), (4.0, 16)])
    def test_coarser_steps_stay_bounded(self, step, bound):
        # error scales with the quantization step (midpoint dequant
        # keeps per-coefficient error <= step/2; synthesis gain < 4)
        img = _rng(61).integers(0, 256, (24, 32), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=2,
                                              irreversible=True,
                                              step=step))
        err = np.abs(out.astype(int) - img.astype(int)).max()
        assert 0 < err <= bound

    def test_tiled_irreversible(self):
        img = _rng(67).integers(0, 256, (24, 40), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=2, tile=8,
                                              irreversible=True))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    def test_qcd_mantissa_in_wire(self):
        raw = encode_jp2_gray(np.zeros((8, 8), np.uint8), levels=1,
                              irreversible=True, step=1.5,
                              wrap_jp2=False)
        q = raw.index(b"\xff\x5c")
        sqcd = raw[q + 4]
        assert sqcd & 0x1F == 2          # scalar expounded
        v = struct.unpack_from(">H", raw, q + 5)[0]
        assert v & 0x7FF == 1024         # 1.5 = 2^0 * (1 + 1024/2048)
        cod = raw.index(b"\xff\x52")
        assert raw[cod + 13] == 0        # 9/7 transform

    @pytest.mark.parametrize("step,bound", [(0.25, 2), (2.0, 6)])
    def test_ict_color_to_luma(self, step, bound):
        rgb = _rng(71).integers(0, 256, (16, 20, 3), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_rgb(rgb, levels=2,
                                             irreversible=True,
                                             step=step))
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        assert np.abs(out.astype(int) - luma.astype(int)).max() <= bound

    def test_scalar_derived_roundtrip(self):
        # style 1: one (eps, mu) pair, finer resolutions derive coarser
        # steps — error bound scales with the finest band's step
        img = _rng(73).integers(0, 256, (24, 32), dtype=np.uint8)
        data = encode_jp2_gray(img, levels=2, irreversible=True,
                               step=0.25, derived=True)
        q = data.index(b"\xff\x5c")
        assert data[q + 4] & 0x1F == 1          # derived style on wire
        assert struct.unpack_from(">H", data, q + 2)[0] == 5  # Lqcd
        out = decode_jpx_gray(data)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    def test_transform_qcd_mismatch_rejected(self):
        raw = bytearray(encode_jp2_gray(np.zeros((8, 8), np.uint8),
                                        levels=1, irreversible=True,
                                        wrap_jp2=False))
        cod = raw.index(b"\xff\x52")
        raw[cod + 13] = 1                # claim 5/3 with quantized QCD
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))


class TestPrecincts:
    """Custom precincts: per-resolution sizes, per-precinct tag trees
    and packets, precinct-clamped code-blocks (B.6/B.7)."""

    @pytest.mark.parametrize("shape,levels,pps,cblk", [
        ((40, 56), 2, [(5, 5), (5, 5), (5, 5)], 64),  # clamps blocks
        ((33, 21), 1, [(3, 4), (4, 3)], 16),          # asymmetric
        ((24, 24), 0, [(3, 3)], 8),                   # no wavelet
        ((17, 9), 2, [(2, 2), (3, 3), (4, 4)], 64),   # tiny precincts
    ])
    def test_lossless_roundtrip(self, shape, levels, pps, cblk):
        img = _rng(sum(shape) + levels).integers(0, 256, shape,
                                                 dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(img, levels=levels,
                                              cblk=cblk,
                                              precincts=pps))
        assert np.array_equal(out, img)

    def test_precincts_with_markers_and_rlcp(self):
        img = _rng(79).integers(0, 256, (24, 40), dtype=np.uint8)
        raw = bytearray(encode_jp2_gray(
            img, levels=1, precincts=[(3, 3), (4, 4)],
            sop=True, eph=True, wrap_jp2=False))
        assert np.array_equal(decode_jpx_gray(bytes(raw)), img)
        cod = raw.index(b"\xff\x52")
        raw[cod + 5] = 1              # RLCP: same packets, same decode
        assert np.array_equal(decode_jpx_gray(bytes(raw)), img)

    def test_precincts_with_tiles_out_of_scope(self):
        # precinct grids anchor at the reference-grid origin (B.6);
        # tile origins mid-precinct need absolute anchoring — rejected
        # on both sides rather than decoded wrongly
        img = np.zeros((24, 40), np.uint8)
        with pytest.raises(ValueError):
            encode_jp2_gray(img, levels=1, tile=16,
                            precincts=[(3, 3), (4, 4)])
        raw = bytearray(encode_jp2_gray(img, levels=1, tile=16,
                                        wrap_jp2=False))
        cod = raw.index(b"\xff\x52")
        # splice a precinct-flagged COD with size bytes into the header
        lcod = struct.unpack_from(">H", raw, cod + 2)[0]
        patched = (raw[:cod + 2] + struct.pack(">H", lcod + 2)
                   + bytes([raw[cod + 4] | 1]) + raw[cod + 5:cod + 2 + lcod]
                   + b"\x33\x44" + raw[cod + 2 + lcod:])
        with pytest.raises(JpxUnsupported):
            decode_jpx_gray(bytes(patched))

    def test_crafted_layer_precinct_blowup_bounded(self):
        # 4096 layers x thousands of precincts with a tiny body must
        # fail fast on the truncation guard, not materialize the
        # packet-order product
        raw = bytearray(encode_jp2_gray(np.zeros((64, 64), np.uint8),
                                        levels=1,
                                        precincts=[(2, 2), (2, 2)],
                                        wrap_jp2=False))
        cod = raw.index(b"\xff\x52")
        struct.pack_into(">H", raw, cod + 6, 4096)   # layer count
        import time
        t = time.time()
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))
        assert time.time() - t < 5.0

    def test_precincts_with_lossy_and_color(self):
        img = _rng(83).integers(0, 256, (16, 24), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_gray(
            img, levels=2, irreversible=True, precincts=[(3, 3)] * 3))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
        rgb = _rng(89).integers(0, 256, (16, 16, 3), dtype=np.uint8)
        out = decode_jpx_gray(encode_jp2_rgb(rgb, levels=1,
                                             precincts=[(4, 4), (4, 4)]))
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        assert np.array_equal(out, luma)

    def test_wire_format(self):
        raw = encode_jp2_gray(np.zeros((16, 16), np.uint8), levels=1,
                              precincts=[(3, 4), (5, 5)],
                              wrap_jp2=False)
        cod = raw.index(b"\xff\x52")
        assert raw[cod + 4] & 0x01            # Scod precinct flag
        assert raw[cod + 14] == (4 << 4) | 3  # PPy<<4 | PPx per res
        assert raw[cod + 15] == (5 << 4) | 5

    def test_invalid_precinct_exponents_rejected(self):
        img = np.zeros((8, 8), np.uint8)
        with pytest.raises(ValueError):
            encode_jp2_gray(img, levels=1, precincts=[(3, 3)])  # count
        with pytest.raises(ValueError):
            encode_jp2_gray(img, levels=1,
                            precincts=[(3, 3), (0, 3)])  # 0 at r>0
        raw = bytearray(encode_jp2_gray(img, levels=1,
                                        precincts=[(3, 3), (3, 3)],
                                        wrap_jp2=False))
        cod = raw.index(b"\xff\x52")
        raw[cod + 15] = 0                     # r=1 exponent 0 on wire
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))


class TestTilePartMarkers:
    def test_plt_and_com_skip_poc_rejects(self):
        img = _rng(97).integers(0, 256, (10, 12), dtype=np.uint8)
        raw = encode_jp2_gray(img, levels=1, wrap_jp2=False)
        sot = raw.index(b"\xff\x90")
        sod = raw.index(b"\xff\x93", sot)
        psot = struct.unpack_from(">I", raw, sot + 6)[0]

        def with_marker(seg):
            # splice a marker into the tile-part header, fixing Psot
            # (SOT layout: marker+Lsot+Isot = 6 bytes, then Psot)
            out = bytearray(raw[:sot + 6])
            out += struct.pack(">I", psot + len(seg))
            out += raw[sot + 10:sod] + seg + raw[sod:]
            return bytes(out)

        plt = struct.pack(">HHB", 0xFF58, 3, 0)       # PLT: skip
        assert np.array_equal(decode_jpx_gray(with_marker(plt)), img)
        com = struct.pack(">HHH", 0xFF64, 4, 1)       # COM: skip
        assert np.array_equal(decode_jpx_gray(with_marker(com)), img)
        poc = struct.pack(">HH", 0xFF5F, 9) + b"\x00" * 7   # POC
        with pytest.raises(JpxUnsupported):
            decode_jpx_gray(with_marker(poc))

    def test_ocr_extraction_through_precinct_jpx_pdf(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 200, "height": 60,
                  "words": [("precinct", 10, 10, 58, 18),
                            ("words", 66, 10, 96, 18)]}]
        r = extract_document(
            build_pixel_scanned_pdf(pages, codec="jpxprec"), "eng",
            recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "precinct words"


class TestQcc:
    """QCC per-component quantization overrides (A.6.5) — the
    chroma-coarser form real lossy color encoders emit."""

    def test_chroma_coarse_roundtrip(self):
        rgb = _rng(101).integers(0, 256, (16, 20, 3), dtype=np.uint8)
        data = encode_jp2_rgb(rgb, levels=2, irreversible=True,
                              chroma_step=2.0)
        assert b"\xff\x5d" in data           # QCC markers on the wire
        uniform = encode_jp2_rgb(rgb, levels=2, irreversible=True)
        assert len(data) < len(uniform)      # coarser chroma shrinks
        out = decode_jpx_gray(data)
        r, g, b = (rgb[..., i].astype(np.int64) for i in range(3))
        luma = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
        # luma dominated by comp 0 (fine step); chroma error leaks a
        # little through the inverse ICT
        assert np.abs(out.astype(int) - luma.astype(int)).max() <= 4

    def test_qcc_component_out_of_range_rejected(self):
        rgb = np.zeros((8, 8, 3), np.uint8)
        raw = bytearray(encode_jp2_rgb(rgb, levels=1, irreversible=True,
                                       chroma_step=2.0, wrap_jp2=False))
        q = raw.index(b"\xff\x5d")
        raw[q + 4] = 7                       # Cqcc beyond Csiz
        with pytest.raises(JpxError):
            decode_jpx_gray(bytes(raw))

    def test_chroma_step_needs_irreversible(self):
        with pytest.raises(ValueError):
            encode_jp2_rgb(np.zeros((8, 8, 3), np.uint8),
                           chroma_step=2.0)
