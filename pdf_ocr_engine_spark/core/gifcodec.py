"""Pure-stdlib GIF decoder — first-frame pixel decode.

GIF is the last common web image format whose pixel decode still needed
PIL (the reference hands all raster work to ``sharp``,
``/root/reference/src/lib/ocr/ocr.ts:67-71``).  The format is fully
public (GIF89a specification + LZW as described there): logical screen
descriptor, global/local color tables, sub-block chains, and variable-
width LSB-first LZW with CLEAR/EOI codes (decoded by the LZW that PDF
streams share, ``filters.lzw_decode``).  This module decodes the
FIRST image descriptor — pixel *content* is what the multimodal tier
consumes (luma for embeddings/OCR); animation compositing is out of
scope and later frames are ignored.

Coverage:

* GIF87a and GIF89a, global and local color tables, interlaced and
  non-interlaced image data, extension blocks (skipped by sub-block
  walking), deferred dictionary growth up to the 12-bit LZW maximum;
* transparent pixels render as their palette color (decode is about
  content, not compositing — same stance as PNG alpha in
  ``pngcodec.to_gray``);
* malformed data raises :class:`GifError` (→ undecodable DATA
  upstream, never a task crash).

The fixture encoder (``encoders.raster.encode_gif_gray``) writes 8-bit
grayscale GIFs through ``encoders.raster.lzw_encode``, the mirror of the
shared LZW decoder.
"""

from __future__ import annotations

import struct

import numpy as np

from .filters import lzw_decode
from .pngcodec import to_gray

__all__ = [
    "GifError",
    "decode_gif_gray",
]


class GifError(ValueError):
    """Malformed GIF — a data problem, never a task crash."""


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a sub-block chain starting at ``pos`` → (payload,
    position after the 0 terminator)."""
    parts: list[bytes] = []
    n = len(data)
    while True:
        if pos >= n:
            raise GifError("truncated sub-block chain")
        ln = data[pos]
        pos += 1
        if ln == 0:
            return b"".join(parts), pos
        if pos + ln > n:
            raise GifError("truncated sub-block")
        parts.append(data[pos:pos + ln])
        pos += ln


#: interlaced GIF row passes: (start, step)
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_gray(data: bytes) -> np.ndarray:
    """GIF bytes → first frame as ``uint8 ndarray (h, w)`` luma (integer
    BT.601 per palette entry, :func:`.pngcodec.to_gray`).  The frame is
    placed on the logical screen (background-color fill outside it)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not a GIF (bad signature)")
    if len(data) < 13:
        raise GifError("truncated logical screen descriptor")
    sw, sh, packed, bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise GifError(f"bad screen dimensions {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 7))
        gct = np.frombuffer(data[pos:pos + size], np.uint8)
        if gct.size != size:
            raise GifError("truncated global color table")
        gct = gct.reshape(-1, 3)
        pos += size
    n = len(data)
    while pos < n:
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            raise GifError("no image data before trailer")
        if block == 0x21:  # extension: label + sub-block chain
            if pos >= n:
                raise GifError("truncated extension")
            pos += 1
            _, pos = _sub_blocks(data, pos)
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02X}")
        # image descriptor
        if pos + 9 > n:
            raise GifError("truncated image descriptor")
        left, top, iw, ih, ipack = struct.unpack(
            "<HHHHB", data[pos:pos + 9])
        pos += 9
        if iw == 0 or ih == 0:
            raise GifError(f"bad image dimensions {iw}x{ih}")
        pal = gct
        if ipack & 0x80:
            size = 3 * (2 << (ipack & 7))
            pal = np.frombuffer(data[pos:pos + size], np.uint8)
            if pal.size != size:
                raise GifError("truncated local color table")
            pal = pal.reshape(-1, 3)
            pos += size
        if pal is None:
            raise GifError("image without any color table")
        if pos >= n:
            raise GifError("missing LZW minimum code size")
        mcs = data[pos]
        pos += 1
        payload, pos = _sub_blocks(data, pos)
        if not 2 <= mcs <= 8:
            raise GifError(f"bad LZW minimum code size {mcs}")
        try:
            idx = lzw_decode(payload, mcs, False, 0, iw * ih)
        except ValueError as exc:
            raise GifError(str(exc)) from exc
        idx = np.frombuffer(idx, np.uint8)
        if idx.size != iw * ih:
            raise GifError(
                f"decoded {idx.size} of {iw * ih} pixels")
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise GifError("palette index out of range")
        frame = idx.reshape(ih, iw)
        if ipack & 0x40:  # interlaced: rows arrive in 4 passes
            ordered = np.empty_like(frame)
            src = 0
            for start, step in _GIF_INTERLACE:
                cnt = len(range(start, ih, step))
                ordered[start::step] = frame[src:src + cnt]
                src += cnt
            frame = ordered
        luma = to_gray(pal[None], 2)[0][frame]  # palette luma per pixel
        if (left, top, iw, ih) == (0, 0, sw, sh):
            return luma
        # place on the logical screen, background fill elsewhere
        bg_luma = 0
        if gct is not None and bg < gct.shape[0]:
            bg_luma = to_gray(gct[None], 2)[0, bg]
        screen = np.full((sh, sw), bg_luma, np.uint8)
        y1 = min(top + ih, sh)
        x1 = min(left + iw, sw)
        if top < sh and left < sw:
            screen[top:y1, left:x1] = luma[:y1 - top, :x1 - left]
        return screen
    raise GifError("no image data")

