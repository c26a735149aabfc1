"""Baseline JPEG codec (T.81): decode correctness, encoder round-trips,
and the DCTDecode OCR path through real PDF structures."""

import numpy as np
import pytest

from pdf_ocr_engine_spark.core.jpegcodec import (
    JpegError,
    JpegUnsupported,
    decode_jpeg_gray,
)
from pdf_ocr_engine_spark.encoders.raster import (
    encode_jpeg_gray,
    encode_jpeg_rgb,
)


def _err(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.abs(a.astype(np.int64) - b.astype(np.int64)).max())


class TestGrayRoundTrip:
    def test_constant_block_exact(self):
        src = np.full((8, 8), 77, dtype=np.uint8)
        assert _err(decode_jpeg_gray(encode_jpeg_gray(src, 100)), src) == 0

    def test_q100_near_lossless(self):
        rng = np.random.default_rng(5)
        src = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(src, quality=100))
        assert out.shape == src.shape
        assert _err(out, src) <= 2  # FDCT/IDCT float rounding only

    def test_binary_page_stays_inside_ocr_margin(self):
        # the OCR tier thresholds at 128; a 0/255 page at q100 must keep
        # every pixel on its own side by a wide margin
        page = np.full((61, 83), 255, dtype=np.uint8)
        page[10:17, 10:15] = 0
        page[30:37, 20:50] = 0
        out = decode_jpeg_gray(encode_jpeg_gray(page, quality=100))
        assert _err(out, page) <= 2

    def test_odd_dimensions_crop(self):
        src = (np.arange(13 * 17, dtype=np.int64).reshape(13, 17)
               % 256).astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(src, quality=100))
        assert out.shape == (13, 17)
        assert _err(out, src) <= 2

    def test_lower_quality_still_close_on_smooth_content(self):
        src = np.add.outer(np.arange(32) * 3,
                           np.arange(48)).astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(src, quality=75))
        assert _err(out, src) <= 12

    def test_restart_interval_roundtrip(self):
        rng = np.random.default_rng(9)
        src = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
        out = decode_jpeg_gray(
            encode_jpeg_gray(src, quality=100, restart_interval=2))
        assert _err(out, src) <= 2

    def test_byte_stuffing_survives(self):
        # all-255 content maximizes 0xFF-heavy entropy bytes
        src = np.full((16, 16), 255, dtype=np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(src, quality=100))
        assert _err(out, src) <= 1


class TestColorScan:
    def _luma(self, rgb: np.ndarray) -> np.ndarray:
        r, g, b = (rgb[:, :, i].astype(np.float64) for i in range(3))
        return np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b),
                       0, 255)

    @pytest.mark.parametrize("subsample", [True, False])
    def test_rgb_interleaved_mcu_decode(self, subsample):
        rng = np.random.default_rng(13)
        # smooth-ish content so chroma loss does not touch luma checks
        base = np.add.outer(np.arange(24) * 5, np.arange(40) * 3) % 256
        rgb = np.stack([base, (base + 60) % 256, (base + 120) % 256],
                       axis=2).astype(np.uint8)
        out = decode_jpeg_gray(
            encode_jpeg_rgb(rgb, quality=97, subsample=subsample))
        assert out.shape == (24, 40)
        # the %256 wrap makes sawtooth edges; q97 ringing costs a few
        # levels there — bounded, not structural
        assert _err(out, self._luma(rgb).astype(np.uint8)) <= 6

    def test_420_odd_dims(self):
        rgb = np.full((11, 13, 3), 200, dtype=np.uint8)
        out = decode_jpeg_gray(encode_jpeg_rgb(rgb, quality=95))
        assert out.shape == (11, 13)
        assert _err(out, np.full((11, 13), 200, dtype=np.uint8)) <= 2


class TestRejections:
    def test_not_jpeg(self):
        with pytest.raises(JpegError):
            decode_jpeg_gray(b"\x89PNG\r\n\x1a\n")

    def test_lossless_unsupported(self):
        # SOF3 header: the unsupported-process signal PIL would take over
        # (SOF2 progressive decodes for real now)
        data = (b"\xFF\xD8\xFF\xC3\x00\x0B\x08\x00\x08\x00\x08\x01"
                b"\x01\x11\x00")
        with pytest.raises(JpegUnsupported):
            decode_jpeg_gray(data)

    def test_progressive_with_no_scan_is_error(self):
        data = (b"\xFF\xD8\xFF\xC2\x00\x0B\x08\x00\x08\x00\x08\x01"
                b"\x01\x11\x00\xFF\xD9")
        with pytest.raises(JpegError):
            decode_jpeg_gray(data)

    def test_truncated_entropy_data(self):
        src = np.arange(64, dtype=np.uint8).reshape(8, 8)
        full = encode_jpeg_gray(src, quality=100)
        with pytest.raises(JpegError):
            decode_jpeg_gray(full[:len(full) // 2])

    def test_eoi_mid_scan_is_error_not_zeros(self):
        src = np.arange(64, dtype=np.uint8).reshape(8, 8) * 4
        full = bytearray(encode_jpeg_gray(src, quality=100))
        # truncate entropy data but keep a valid EOI — must still raise
        cut = bytes(full[:len(full) - 20]) + b"\xFF\xD9"
        with pytest.raises(JpegError):
            decode_jpeg_gray(cut)

    def test_missing_huffman_table(self):
        src = np.zeros((8, 8), dtype=np.uint8)
        data = bytearray(encode_jpeg_gray(src, quality=100))
        # excise the DHT segments (marker 0xFFC4)
        out = bytearray()
        i = 0
        while i < len(data):
            if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] == 0xC4:
                seg_len = int.from_bytes(data[i + 2:i + 4], "big")
                i += 2 + seg_len
                continue
            out.append(data[i])
            i += 1
        with pytest.raises(JpegError, match="Huffman"):
            decode_jpeg_gray(bytes(out))


class TestMalformedInput:
    def test_mutated_streams_raise_only_jpeg_error(self):
        # truncated, bit-flipped and spliced encoder outputs: every failure
        # must be a JpegError (the callers' data-error contract), never an
        # IndexError / struct.error / plain ValueError from a short read
        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )

        rng = np.random.default_rng(15)
        streams = []
        for i in range(24):
            src = rng.integers(0, 256, size=(int(rng.integers(1, 40)),
                                             int(rng.integers(1, 40)), 3),
                               dtype=np.uint8)
            streams.append(encode_jpeg_gray(src[:, :, 0], quality=90,
                                            restart_interval=i % 3))
            streams.append(encode_jpeg_gray_progressive(src[:, :, 0]))
            streams.append(encode_jpeg_rgb(src, subsample=i % 2 == 0))
        failures = 0
        for data in streams:
            for _ in range(12):
                b = bytearray(data)
                op = int(rng.integers(0, 3))
                if op == 0:
                    b = b[:int(rng.integers(0, len(b)))]
                elif op == 1:
                    b[int(rng.integers(0, len(b)))] ^= 1 << int(
                        rng.integers(0, 8))
                else:
                    other = streams[int(rng.integers(0, len(streams)))]
                    b = b[:int(rng.integers(0, len(b)))] + \
                        other[int(rng.integers(0, len(other))):]
                try:
                    decode_jpeg_gray(bytes(b))
                except JpegError:
                    failures += 1
        assert failures > 100  # the mutations do reach the error paths


class TestPdfDctPath:
    def test_dct_scanned_pdf_extracts_identical_text(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("scanned", 10, 10, 52, 18),
                            ("via", 60, 10, 78, 18),
                            ("jpeg", 10, 30, 34, 38)]}]
        rec = deterministic_recognizer()
        flate = extract_document(
            build_pixel_scanned_pdf(pages, codec="flate"), "eng",
            recognizer=rec)
        jpeg = extract_document(
            build_pixel_scanned_pdf(pages, codec="jpeg"), "eng",
            recognizer=rec)
        assert flate["status"] == jpeg["status"] == "ok"
        assert jpeg["text"] == flate["text"] == "scanned via\njpeg"

    def test_decoded_image_reports_dct_filter(self):
        from pdf_ocr_engine_spark.core.pdfreal import extract_page_images
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf

        pages = [{"width": 100, "height": 40,
                  "words": [("x", 10, 10, 16, 18)]}]
        out = extract_page_images(build_pixel_scanned_pdf(pages,
                                                          codec="jpeg"))
        img = out[0]["images"][0]
        assert img["filter"] == "DCTDecode"
        assert img["data"][:2] == b"\xFF\xD8"
        # flate variant is fully decoded — no pending image filter
        out = extract_page_images(build_pixel_scanned_pdf(pages,
                                                          codec="flate"))
        assert out[0]["images"][0]["filter"] is None

    def test_corrupt_jpeg_raster_is_decode_error(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pdf = bytearray(build_pixel_scanned_pdf(
            [{"width": 100, "height": 40,
              "words": [("ok", 10, 10, 22, 18)]}], codec="jpeg"))
        # flip bytes inside the JPEG entropy data (after SOS)
        sos = bytes(pdf).find(b"\xFF\xDA")
        assert sos > 0
        pdf[sos + 20:sos + 24] = b"\x00\x00\x00\x00"
        r = extract_document(bytes(pdf), "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "decode_error"

    def test_multimodal_jpeg_tier(self):
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
        )

        src = (np.add.outer(np.arange(16) * 7, np.arange(24) * 3)
               % 256).astype(np.uint8)
        out = decode_image_pixels(encode_jpeg_gray(src, quality=100))
        assert _err(out, src) <= 2
        with pytest.raises(ValueError):
            decode_image_pixels(b"\xFF\xD8\xFF\xE0 truncated junk")


class TestProgressive:
    """SOF2 / T.81 Annex G: the six-scan fixture script covers DC first
    with point transform, DC refinement, AC first per band with EOB runs,
    and AC refinement with correction bits."""

    def test_matches_baseline_decode_exactly(self):
        # same quantized coefficients in, so the decoded planes must be
        # IDENTICAL — any progressive path bug shows as a pixel diff
        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )

        rng = np.random.default_rng(21)
        for q in (100, 90, 50):
            src = rng.integers(0, 256, size=(56, 41), dtype=np.uint8)
            base = decode_jpeg_gray(encode_jpeg_gray(src, quality=q))
            prog = decode_jpeg_gray(
                encode_jpeg_gray_progressive(src, quality=q))
            assert (prog == base).all(), q

    def test_mostly_white_page_exercises_eob_runs(self):
        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )

        src = np.full((96, 120), 255, dtype=np.uint8)
        src[40:48, 56:80] = 0  # one dark patch among many empty blocks
        base = decode_jpeg_gray(encode_jpeg_gray(src, quality=100))
        prog = decode_jpeg_gray(
            encode_jpeg_gray_progressive(src, quality=100))
        assert (prog == base).all()

    def test_truncated_progressive_is_error(self):
        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )

        full = encode_jpeg_gray_progressive(
            np.arange(64, dtype=np.uint8).reshape(8, 8))
        with pytest.raises(JpegError):
            decode_jpeg_gray(full[: len(full) // 3])

    def test_scanned_pdf_with_progressive_raster_ocrs(self):
        from pdf_ocr_engine_spark.core.extract_doc import extract_document
        from pdf_ocr_engine_spark.encoders.pdf import build_pixel_scanned_pdf
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )

        pages = [{"width": 300, "height": 120,
                  "words": [("web", 10, 10, 28, 18),
                            ("jpeg", 36, 10, 60, 18)]}]
        rec = deterministic_recognizer()
        out = extract_document(
            build_pixel_scanned_pdf(pages, codec="jpegprog"), "eng",
            recognizer=rec)
        assert out["status"] == "ok"
        assert out["text"] == "web jpeg"

    def test_multimodal_tier_decodes_progressive(self):
        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
        )

        src = (np.add.outer(np.arange(16) * 5, np.arange(24) * 11)
               % 256).astype(np.uint8)
        out = decode_image_pixels(
            encode_jpeg_gray_progressive(src, quality=100))
        assert _err(out, src) <= 2

    def test_pil_decodes_our_progressive(self):
        Image = pytest.importorskip("PIL.Image")
        import io

        from pdf_ocr_engine_spark.encoders.raster import (
            encode_jpeg_gray_progressive,
        )

        rng = np.random.default_rng(22)
        src = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
        img = Image.open(io.BytesIO(
            encode_jpeg_gray_progressive(src, quality=100)))
        got = np.asarray(img.convert("L"))
        assert _err(got, src) <= 2

    def test_we_decode_pil_progressive(self):
        Image = pytest.importorskip("PIL.Image")
        import io

        rng = np.random.default_rng(23)
        src = rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
        buf = io.BytesIO()
        Image.fromarray(src, "L").save(buf, format="JPEG", quality=95,
                                       progressive=True)
        out = decode_jpeg_gray(buf.getvalue())
        pil_back = np.asarray(Image.open(io.BytesIO(buf.getvalue()))
                              .convert("L"))
        assert _err(out, pil_back) <= 1


def _prog_dc_stream(dc: list, comps: list, h: int, w: int,
                    units: list, restart_interval: int = 0) -> bytes:
    """Hand-assembled SOF2 stream with one interleaved DC-first scan
    (Al=1) and one DC refinement scan.  ``comps`` lists ``(hs, vs)`` per
    component; ``dc[ci]`` is that component's block grid of DC values and
    ``units`` lists the scan's units, each as the ``(ci, row, col)`` of its
    blocks in coding order."""
    from pdf_ocr_engine_spark.encoders.raster import (
        _BitWriter,
        _dht_segment,
        _dqt_segment,
        _huff_encode_table,
        _magnitude,
        _PROG_DC,
    )

    dc_tab = _huff_encode_table(*_PROG_DC)
    ncomp = len(comps)
    out = bytearray(b"\xFF\xD8")
    out += _dqt_segment(0, np.ones(64, dtype=np.int64))
    out += _dht_segment(0, 0, _PROG_DC)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + \
        bytes([ncomp])
    for ci, (hs, vs) in enumerate(comps):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += b"\xFF\xC2" + (len(sof) + 2).to_bytes(2, "big") + sof
    if restart_interval:
        out += b"\xFF\xDD\x00\x04" + restart_interval.to_bytes(2, "big")
    for ah, al in ((0, 1), (1, 0)):
        sos = bytes([ncomp]) + b"".join(bytes([ci + 1, 0x00])
                                        for ci in range(ncomp))
        sos += bytes([0, 0, (ah << 4) | al])
        out += b"\xFF\xDA" + (len(sos) + 2).to_bytes(2, "big") + sos
        bw = _BitWriter()
        preds = [0] * ncomp
        for m, unit in enumerate(units):
            if restart_interval and m and m % restart_interval == 0:
                bw.pad()
                bw.out += bytes([0xFF, 0xD0 + (m // restart_interval - 1) % 8])
                preds = [0] * ncomp
            for ci, r, c in unit:
                v = int(dc[ci][r, c])
                if ah:
                    bw.write(v & 1, 1)
                    continue
                t, bits = _magnitude((v >> 1) - preds[ci])
                preds[ci] = v >> 1
                bw.write(*dc_tab[t])
                if t:
                    bw.write(bits, t)
        bw.pad()
        out += bw.out
    return bytes(out) + b"\xFF\xD9"


class TestProgressiveInterleavedDc:
    """The interleaved DC scan walks each MCU's block plan: luma 2×2 and
    two 1×1 chroma components, so four luma blocks then Cb then Cr per
    MCU; chroma is decoded to stay in sync and then dropped."""

    @pytest.mark.parametrize("restart_interval", [0, 2])
    def test_matches_single_component_luma(self, restart_interval):
        rng = np.random.default_rng(31)
        h, w = 24, 40           # MCU 16×16: 2×3 MCUs, padded luma 4×6
        mcuy, mcux = 2, 3
        # multiples of 8: a DC-only block decodes to exactly dc/8 + 128
        luma = 8 * rng.integers(-15, 16, size=(2 * mcuy, 2 * mcux))
        cb = rng.integers(-200, 200, size=(mcuy, mcux))
        cr = rng.integers(-200, 200, size=(mcuy, mcux))
        mcus = [[(0, 2 * my + by, 2 * mx + bx)
                 for by in range(2) for bx in range(2)]
                + [(1, my, mx), (2, my, mx)]
                for my in range(mcuy) for mx in range(mcux)]
        three = _prog_dc_stream([luma, cb, cr], [(2, 2), (1, 1), (1, 1)],
                                h, w, mcus, restart_interval)
        cbh, cbw = 3, 5         # true luma block grid of a 24×40 frame
        blocks = [[(0, r, c)] for r in range(cbh) for c in range(cbw)]
        one = _prog_dc_stream([luma], [(1, 1)], h, w, blocks,
                              restart_interval)
        got = decode_jpeg_gray(three)
        assert got.shape == (h, w)
        assert (got == decode_jpeg_gray(one)).all()
        want = np.kron(luma // 8 + 128, np.ones((8, 8), np.int64))[:h, :w]
        assert (got == want).all()
