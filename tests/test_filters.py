"""Mutation property over the shared stream filters and their callers.

Seeded truncations, bit flips, byte replacements and splices of valid
streams go through every PDF stream filter (``pdfreal._apply_filter``),
the PNG decoder (every filter tag, with and without Adam7) and the GIF
decoder.  Each must return or raise its own typed error — ``ValueError``
for PDF filters, ``PngError`` / ``GifError`` for the codecs — and finish
within a CPU bound: no ``zlib.error``, ``IndexError`` or hang escapes.
"""

from __future__ import annotations

import base64
import random
import time
import zlib

import numpy as np
import pytest

from pdf_ocr_engine_spark.core.gifcodec import (
    GifError,
    decode_gif_gray,
    encode_gif_gray,
)
from pdf_ocr_engine_spark.core.pdfreal import _apply_filter
from pdf_ocr_engine_spark.core.pngcodec import (
    PngError,
    _filter_row,
    decode_png,
    encode_png,
)

from test_pdfreal import _lzw_encode

#: mutants per stream family, and the CPU seconds any one may take
N_MUTANTS = 500
CPU_BOUND_S = 2.0


def _mutate(rng: random.Random, data: bytes) -> bytes:
    d = bytearray(data)
    op = rng.randrange(4)
    if op == 0:  # truncate
        del d[rng.randrange(len(d)):]
    elif op == 1:  # bit flips
        for _ in range(rng.randint(1, 4)):
            d[rng.randrange(len(d))] ^= 1 << rng.randrange(8)
    elif op == 2:  # byte replacements
        for _ in range(rng.randint(1, 4)):
            d[rng.randrange(len(d))] = rng.randrange(256)
    else:  # splice in junk or a copy of another slice
        p = rng.randrange(len(d))
        if rng.random() < 0.5:
            d[p:p] = bytes(rng.randrange(256)
                           for _ in range(rng.randint(1, 16)))
        else:
            q = rng.randrange(len(d))
            d[p:p] = d[q:q + rng.randint(1, 64)]
    return bytes(d)


def _assert_typed(decode, streams, error: type) -> None:
    rng = random.Random(16)
    for i in range(N_MUTANTS):
        data = _mutate(rng, streams[i % len(streams)])
        t0 = time.process_time()
        try:
            decode(data)
        except error:
            pass
        spent = time.process_time() - t0
        assert spent < CPU_BOUND_S, (i, spent)


_CONTENT = (b"BT /F1 12 Tf 72 720 Td (mutation) Tj 0 -14 Td [(pro) -20 "
            b"(perty)] TJ ET q 1 0 0 1 0 0 cm Q ") * 12
_PRED = {"Predictor": 12, "Colors": 3, "BitsPerComponent": 8,
         "Columns": 11}


def _predicted(data: bytes) -> bytes:
    """``data`` as PNG-predicted rows for ``_PRED``, cycling the tags."""
    stride = 33
    data += bytes(-len(data) % stride)
    out = bytearray()
    prev = np.zeros(stride, np.uint8)
    for y, i in enumerate(range(0, len(data), stride)):
        cur = np.frombuffer(data[i:i + stride], np.uint8)
        out.append(y % 5)
        out += _filter_row(cur, prev, 3, y % 5).tobytes()
        prev = cur
    return bytes(out)


_PDF_FAMILIES = {
    "flate": ("FlateDecode", None, zlib.compress(_CONTENT)),
    "flate_predictor": ("FlateDecode", _PRED,
                        zlib.compress(_predicted(_CONTENT))),
    "lzw": ("LZWDecode", None, _lzw_encode(_CONTENT)),
    "lzw_predictor": ("LZWDecode", _PRED, _lzw_encode(_predicted(_CONTENT))),
    "ahx": ("ASCIIHexDecode", None, _CONTENT.hex().encode() + b">"),
    "a85": ("ASCII85Decode", None, base64.a85encode(_CONTENT) + b"~>"),
    "rl": ("RunLengthDecode", None,
           b"".join(bytes([len(c) - 1]) + c for c in
                    (_CONTENT[i:i + 100]
                     for i in range(0, len(_CONTENT), 100)))
           + b"\xfa\x20\x80"),
}


@pytest.mark.parametrize("family", sorted(_PDF_FAMILIES))
def test_pdf_filter_mutants_raise_value_error(family):
    name, parms, stream = _PDF_FAMILIES[family]
    # the unmutated stream decodes to the content
    assert _apply_filter(name, stream, parms)[:len(_CONTENT)] == _CONTENT
    _assert_typed(lambda d: _apply_filter(name, d, parms), [stream],
                  ValueError)


@pytest.mark.parametrize("interlace", [False, True])
def test_png_mutants_raise_png_error(interlace):
    rng = np.random.default_rng(16)
    streams = []
    for tag in range(5):
        for shape in ((9, 13), (12, 7, 3), (5, 6, 4)):
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            streams.append(encode_png(px, filter_type=tag,
                                      interlace=interlace))
    _assert_typed(decode_png, streams, PngError)


def test_gif_mutants_raise_gif_error():
    rng = np.random.default_rng(16)
    streams = [encode_gif_gray(rng.integers(0, 256, size=(h, w),
                                            dtype=np.uint8),
                               interlace=il)
               for h, w, il in ((17, 23, False), (9, 40, True))]
    _assert_typed(decode_gif_gray, streams, GifError)


def _reference_unpredict(data: bytes, stride: int, unit: int) -> bytes:
    """Per-byte PNG predictor inverse, the plain loop the numpy kernels
    must match."""
    out = bytearray()
    prev = bytearray(stride)
    for pos in range(0, len(data), stride + 1):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + stride])
        for i in range(len(row)):
            a = row[i - unit] if i >= unit else 0
            b = prev[i]
            c = prev[i - unit] if i >= unit else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            elif ft == 4:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            else:
                pred = 0
            row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


class TestKernels:
    """The two shared kernels at their own boundary."""

    def test_lzw_stops_at_limit(self):
        from pdf_ocr_engine_spark.core.filters import lzw_decode

        data = _lzw_encode(b"ab" * 500)
        assert lzw_decode(data, 8, True, 1, 7) == b"abababa"
        assert lzw_decode(data, 8, True, 1, 10 ** 6) == b"ab" * 500

    def test_lzw_out_of_range_code_raises(self):
        from pdf_ocr_engine_spark.core.filters import lzw_decode

        # 9-bit code 511 right after CLEAR: past the 258-entry table
        with pytest.raises(ValueError, match="out of range"):
            lzw_decode(b"\x80\x7f\xc0", 8, True, 1, 100)

    @pytest.mark.parametrize("unit", [1, 2, 3, 4, 6])
    def test_unpredict_matches_reference_loop(self, unit):
        from pdf_ocr_engine_spark.core.filters import png_unpredict

        rng = random.Random(unit)
        for trial in range(20):
            stride = unit * rng.randint(1, 9)
            rows = rng.randint(1, 8)
            data = bytearray(rng.randrange(256)
                             for _ in range(rows * (stride + 1)))
            data[::stride + 1] = bytes(rng.randrange(5) for _ in range(rows))
            if trial % 3 == 0:  # short final row
                del data[len(data) - rng.randint(1, stride):]
            got = png_unpredict(bytes(data), stride, unit).tobytes()
            assert got == _reference_unpredict(bytes(data), stride, unit)

    def test_unpredict_hostile_stride_is_cheap(self):
        from pdf_ocr_engine_spark.core.filters import png_unpredict

        # a stride far past the data must not allocate a row of that size
        assert png_unpredict(b"\x02abc", 1 << 40, 1).tobytes() == b"abc"
        with pytest.raises(ValueError, match="negative"):
            png_unpredict(b"\x00abc", -3, 1)
