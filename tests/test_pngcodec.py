"""Pure-stdlib PNG codec: spec-level decode tests.

Round-trips go through our own encoder (filters applied forward per the
spec, CRCs emitted), plus a hand-assembled byte-literal PNG so decode is
anchored to the wire format and not just to the encoder's inverse.
"""

import struct
import zlib
from binascii import crc32

import numpy as np
import pytest

from pdf_ocr_engine_spark.core.pngcodec import (
    PNG_MAGIC,
    PngError,
    decode_png,
    to_gray,
)
from pdf_ocr_engine_spark.encoders.raster import encode_png


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body)) + ctype + body + \
        struct.pack(">I", crc32(ctype + body) & 0xFFFFFFFF)


def _manual_png(w, h, depth, color, scanlines: bytes, plte: bytes = b"",
                interlace: int = 0) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = PNG_MAGIC + _chunk(b"IHDR", ihdr)
    if plte:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(scanlines)) + \
        _chunk(b"IEND", b"")


class TestDecodeWireFormat:
    def test_hand_assembled_gray8(self):
        # 2x2 gray, filter 0 rows: [[1, 2], [3, 4]]
        png = _manual_png(2, 2, 8, 0, b"\x00\x01\x02" b"\x00\x03\x04")
        px, color = decode_png(png)
        assert color == 0
        assert px.shape == (2, 2, 1)
        assert px[:, :, 0].tolist() == [[1, 2], [3, 4]]

    def test_hand_assembled_up_filter(self):
        # row0 raw [10, 20]; row1 Up-filtered deltas [5, 6] -> [15, 26]
        png = _manual_png(2, 2, 8, 0, b"\x00\x0a\x14" b"\x02\x05\x06")
        px, _ = decode_png(png)
        assert px[:, :, 0].tolist() == [[10, 20], [15, 26]]

    def test_hand_assembled_sub_filter_wraps(self):
        # Sub with mod-256 wrap: raw [200, 100] -> recon [200, 44]
        png = _manual_png(2, 1, 8, 0, b"\x01\xc8\x64")
        px, _ = decode_png(png)
        assert px[0, :, 0].tolist() == [200, 44]

    def test_palette_expansion(self):
        # 2 palette entries, 8-bit indices [1, 0]
        plte = bytes([255, 0, 0, 0, 0, 255])  # red, blue
        png = _manual_png(2, 1, 8, 3, b"\x00\x01\x00", plte=plte)
        px, color = decode_png(png)
        assert color == 3
        assert px[0, 0].tolist() == [0, 0, 255]
        assert px[0, 1].tolist() == [255, 0, 0]

    def test_bit_depth_1_scales_to_255(self):
        # 8 pixels in one byte: 0b10110001 at depth 1 -> 255/0 pattern
        png = _manual_png(8, 1, 1, 0, b"\x00\xb1")
        px, _ = decode_png(png)
        assert px[0, :, 0].tolist() == [255, 0, 255, 255, 0, 0, 0, 255]

    def test_bit_depth_4_gray(self):
        # two pixels per byte: 0xA3 -> 10, 3 -> scaled x17
        png = _manual_png(2, 1, 4, 0, b"\x00\xa3")
        px, _ = decode_png(png)
        assert px[0, :, 0].tolist() == [170, 51]

    def test_depth16_takes_high_byte(self):
        row = b"\x00" + struct.pack(">HH", 0xABCD, 0x1234)
        png = _manual_png(2, 1, 16, 0, row)
        px, _ = decode_png(png)
        assert px[0, :, 0].tolist() == [0xAB, 0x12]

    def test_multiple_idat_chunks_concatenate(self):
        comp = zlib.compress(b"\x00\x07\x08")
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        png = PNG_MAGIC + _chunk(b"IHDR", ihdr) + \
            _chunk(b"IDAT", comp[:3]) + _chunk(b"IDAT", comp[3:]) + \
            _chunk(b"IEND", b"")
        px, _ = decode_png(png)
        assert px[0, :, 0].tolist() == [7, 8]


class TestDecodeRejections:
    def test_not_png(self):
        with pytest.raises(PngError):
            decode_png(b"GIF89a" + b"\x00" * 20)

    def test_unknown_interlace_rejected(self):
        png = _manual_png(2, 1, 8, 0, b"\x00\x01\x02", interlace=2)
        with pytest.raises(PngError, match="interlace"):
            decode_png(png)


class TestAdam7:
    def test_round_trip_gray_rgb_rgba(self):
        rng = np.random.default_rng(11)
        for ch in (1, 3, 4):
            shape = (21, 13) if ch == 1 else (21, 13, ch)
            src = rng.integers(0, 256, size=shape, dtype=np.uint8)
            px, _color = decode_png(encode_png(src, interlace=True))
            assert (px.reshape(src.shape) == src).all()

    def test_matches_noninterlaced_decode(self):
        rng = np.random.default_rng(12)
        src = rng.integers(0, 256, size=(40, 33, 3), dtype=np.uint8)
        a, _ = decode_png(encode_png(src, interlace=True, filter_type=4))
        b, _ = decode_png(encode_png(src, filter_type=2))
        assert (a == b).all()

    def test_tiny_images_with_empty_passes(self):
        rng = np.random.default_rng(13)
        for h, w in ((1, 1), (1, 2), (2, 1), (3, 2), (8, 8), (9, 9)):
            src = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            px, _ = decode_png(encode_png(src, interlace=True))
            assert (px.reshape(h, w) == src).all(), (h, w)

    def test_truncated_interlaced_idat(self):
        src = np.zeros((16, 16), dtype=np.uint8)
        png = bytearray(encode_png(src, interlace=True))
        # rebuild with an IDAT inflating to fewer bytes than pass 7 needs
        import struct as _s
        import zlib as _z
        from binascii import crc32 as _crc
        ihdr = _s.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 1)

        def chunk(t, b):
            return _s.pack(">I", len(b)) + t + b + \
                _s.pack(">I", _crc(t + b) & 0xFFFFFFFF)
        short = PNG_MAGIC + chunk(b"IHDR", ihdr) + \
            chunk(b"IDAT", _z.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
        with pytest.raises(PngError, match="IDAT too short"):
            decode_png(short)

    def test_truncated_idat(self):
        png = _manual_png(4, 4, 8, 0, b"\x00\x01\x02")  # far too short
        with pytest.raises(PngError, match="IDAT too short"):
            decode_png(png)

    def test_bad_filter_byte(self):
        png = _manual_png(2, 1, 8, 0, b"\x09\x01\x02")
        with pytest.raises(PngError, match="filter"):
            decode_png(png)

    def test_palette_index_out_of_range(self):
        png = _manual_png(1, 1, 8, 3, b"\x00\x05",
                          plte=bytes([1, 2, 3]))
        with pytest.raises(PngError, match="palette"):
            decode_png(png)

    def test_corrupt_zlib_stream(self):
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        png = PNG_MAGIC + _chunk(b"IHDR", ihdr) + \
            _chunk(b"IDAT", b"not-deflate") + _chunk(b"IEND", b"")
        with pytest.raises(PngError, match="inflate"):
            decode_png(png)


class TestDeclaredSizeBound:
    """IDAT inflates only as far as the rows IHDR declares."""

    @staticmethod
    def _gray_1x1(idat: bytes) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        return PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) \
            + _chunk(b"IEND", b"")

    def test_huge_idat_behind_one_pixel_stays_small(self):
        import tracemalloc

        # one row (tag 0, pixel 7) and then 256 MiB of zeros: ~261 KB
        co = zlib.compressobj(9)
        zero = bytes(1 << 20)
        idat = co.compress(b"\x00\x07") + b"".join(
            co.compress(zero) for _ in range(256)) + co.flush()
        png = self._gray_1x1(idat)
        tracemalloc.start()
        try:
            px, _ = decode_png(png)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert px.shape == (1, 1, 1) and int(px[0, 0, 0]) == 7
        assert peak < 8 << 20, peak

    def test_stream_broken_after_declared_rows_decodes(self):
        # the decoder never reads past the declared rows, so a truncated
        # tail or a bad Adler-32 behind them is not an error
        idat = zlib.compress(b"\x00\x07" + bytes(100))
        for broken in (idat[:-6], idat[:-4] + b"\0\0\0\0"):
            px, _ = decode_png(self._gray_1x1(broken))
            assert int(px[0, 0, 0]) == 7


class TestRoundTrip:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_gray_roundtrip_every_filter(self, filter_type):
        rng = np.random.default_rng(42 + filter_type)
        src = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
        px, color = decode_png(encode_png(src, filter_type=filter_type))
        assert color == 0
        np.testing.assert_array_equal(px[:, :, 0], src)

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_rgb_roundtrip_every_filter(self, filter_type):
        rng = np.random.default_rng(7 + filter_type)
        src = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
        px, color = decode_png(encode_png(src, filter_type=filter_type))
        assert color == 2
        np.testing.assert_array_equal(px, src)

    def test_rgba_roundtrip(self):
        rng = np.random.default_rng(3)
        src = rng.integers(0, 256, size=(5, 6, 4), dtype=np.uint8)
        px, color = decode_png(encode_png(src, filter_type=4))
        assert color == 6
        np.testing.assert_array_equal(px, src)

    def test_single_pixel(self):
        px, _ = decode_png(encode_png(np.array([[200]], dtype=np.uint8)))
        assert px[0, 0, 0] == 200


class TestToGray:
    def test_luma_integer_bt601(self):
        px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255],
                        [255, 255, 255]]], dtype=np.uint8)
        g = to_gray(px, 2)
        # (c*weight + 500) // 1000
        assert g[0].tolist() == [76, 150, 29, 255]

    def test_gray_alpha_passthrough(self):
        px = np.zeros((1, 2, 2), dtype=np.uint8)
        px[0, 0, 0] = 99
        assert to_gray(px, 4)[0, 0] == 99


class TestMultimodalIntegration:
    def test_decode_image_pixels_real_png(self):
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
        )
        src = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5) % 256
        gray = decode_image_pixels(encode_png(src, filter_type=1))
        np.testing.assert_array_equal(gray, src)

    def test_decode_image_pixels_rgb_png_luma(self):
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
        )
        src = np.zeros((2, 2, 3), dtype=np.uint8)
        src[:, :, 1] = 255  # pure green
        gray = decode_image_pixels(encode_png(src))
        assert gray.tolist() == [[150, 150], [150, 150]]

    def test_resize_over_real_png(self, spark):
        """Real PNG rows flow through the resize operator end to end —
        errors-as-values no longer nulls them out."""
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
            resize_images,
        )
        src = np.arange(64, dtype=np.uint8).reshape(8, 8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(src, filter_type=2)))],
            "doc_id long, media binary")
        row = resize_images(df, width=4, height=4).collect()[0]
        assert row.width == 4 and row.height == 4
        out = decode_image_pixels(bytes(row.media))
        # nearest-neighbour src index: (dst*8)//4 = 0,2,4,6
        expect = src[::2, ::2]
        np.testing.assert_array_equal(out, expect)

    def test_pil_adapter_when_available(self):
        """When PIL exists, its decode of our encoder's output must match
        our decoder (spec agreement).  Skips cleanly in this sandbox."""
        image_mod = pytest.importorskip("PIL.Image")
        import io

        rng = np.random.default_rng(11)
        src = rng.integers(0, 256, size=(10, 12, 3), dtype=np.uint8)
        png = encode_png(src, filter_type=3)
        with image_mod.open(io.BytesIO(png)) as im:
            pil_px = np.asarray(im.convert("RGB"))
        np.testing.assert_array_equal(pil_px, src)

    def test_pil_jpeg_tier_when_available(self):
        """JPEG pixel tier activates via the guarded adapter when PIL is
        installed.  Skips cleanly in this sandbox."""
        image_mod = pytest.importorskip("PIL.Image")
        import io

        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
        )
        buf = io.BytesIO()
        image_mod.new("L", (4, 3), color=128).save(buf, format="JPEG")
        gray = decode_image_pixels(buf.getvalue())
        assert gray.shape == (3, 4)
