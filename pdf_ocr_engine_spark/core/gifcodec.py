"""Pure-stdlib GIF codec — first-frame pixel decode + fixture encoder.

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

The encoder authors test fixtures: 8-bit grayscale palette, real LZW
(same width-growth rule as the decoder, CLEAR emitted before the table
overflows), so any GIF-capable tool decodes its output — the PIL
cross-check tests prove interop where PIL exists.
"""

from __future__ import annotations

import struct

import numpy as np

from .filters import lzw_decode

__all__ = [
    "GifError",
    "decode_gif_gray",
    "encode_gif_gray",
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
    BT.601, matching :func:`..core.pngcodec.to_gray`).  The frame is
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
        rgb = pal[frame].astype(np.uint32)  # (ih, iw, 3)
        # all three planes widened BEFORE the multiply: uint8 * 114 stays
        # uint8 under value-based casting and wraps per element
        luma = ((rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587
                 + rgb[:, :, 2] * 114 + 500) // 1000).astype(np.uint8)
        if (left, top, iw, ih) == (0, 0, sw, sh):
            return luma
        # place on the logical screen, background fill elsewhere
        bg_luma = 0
        if gct is not None and bg < gct.shape[0]:
            r, g, b = (int(v) for v in gct[bg])
            bg_luma = (r * 299 + g * 587 + b * 114 + 500) // 1000
        screen = np.full((sh, sw), bg_luma, np.uint8)
        y1 = min(top + ih, sh)
        x1 = min(left + iw, sw)
        if top < sh and left < sw:
            screen[top:y1, left:x1] = luma[:y1 - top, :x1 - left]
        return screen
    raise GifError("no image data")


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF LZW encoder — width-growth mirror of
    :func:`.filters.lzw_decode` (LSB-first, no early change),
    CLEAR emitted before the table would pass 4096 entries."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    bitbuf = 0
    bitcnt = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf |= code << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in indices:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            # the decoder adds nothing for the first post-clear code, so
            # its table length trails next_code by one: it grows width
            # when length hits 1<<width, which is next_code == 1<<width + 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = c
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def encode_gif_gray(px: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 (h, w) grayscale → GIF89a with a 256-entry gray global
    color table — fixture authoring; standard output any GIF tool reads."""
    arr = np.ascontiguousarray(px, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_gif_gray wants (h, w)")
    h, w = arr.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"bad dimensions {w}x{h}")
    gct = bytes(v for g in range(256) for v in (g, g, g))
    if interlace:
        rows = [arr[start::step] for start, step in _GIF_INTERLACE]
        indices = np.concatenate(rows).tobytes()
    else:
        indices = arr.tobytes()
    lzw = _lzw_encode(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0) + gct
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                    0x40 if interlace else 0)
            + bytes([8]) + bytes(blocks) + b"\x3B")
