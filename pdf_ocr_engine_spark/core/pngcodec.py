"""Pure-stdlib PNG decoder — real pixel decode with no external library.

The reference pipeline leans on ``sharp`` for all raster work
(``/root/reference/src/lib/ocr/ocr.ts:67-71``); this sandbox ships no
image library at all, so the multimodal tier used to stop at header
probing and raise ``NotImplementedError`` for real-format pixels.  PNG,
however, is fully decodable with ``zlib`` + the public W3C PNG spec
(inflate, five scanline filters, bit unpacking) — so the most common
lossless web format gets a *real* decoder here, and only JPEG/GIF pixel
decode remains behind the optional-PIL plug point.

Decoder coverage (PNG spec, third edition):

* bit depths 1 / 2 / 4 / 8 / 16 (16-bit reduced to its high byte, the
  spec's own sample-depth-scaling approximation)
* color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA)
* scanline filters 0-4 (None / Sub / Up / Average / Paeth), inverted by
  the predictor kernel PDF streams share (``filters.png_unpredict``);
  IDAT inflates only as far as the rows IHDR declares
* Adam7 interlace: each of the seven passes is an independently
  filtered sub-image (PNG spec §8.2), unfiltered with the same kernel
  and scattered into the full grid by strided assignment

The fixture encoder (``encoders.raster.encode_png``) shares
``PNG_MAGIC`` and the Adam7 pass table with this module.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .filters import png_unpredict

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_VALID_DEPTHS = {
    0: {1, 2, 4, 8, 16},
    2: {8, 16},
    3: {1, 2, 4, 8},
    4: {8, 16},
    6: {8, 16},
}


class PngError(ValueError):
    """Malformed or unsupported PNG — a data problem, never a task crash."""


def _iter_chunks(data: bytes):
    if data[:8] != PNG_MAGIC:
        raise PngError("not a PNG (bad signature)")
    pos, n = 8, len(data)
    while pos + 8 <= n:
        (clen,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + clen]
        if len(body) != clen:
            raise PngError(f"truncated {ctype!r} chunk")
        yield ctype, body
        pos += 12 + clen  # 4 len + 4 type + data + 4 crc
        if ctype == b"IEND":
            return
    raise PngError("missing IEND")


def _unpack_samples(row_bytes: np.ndarray, w: int, depth: int,
                    channels: int) -> np.ndarray:
    """(h, stride) filtered-out bytes → (h, w*channels) uint8 samples
    scaled to 8-bit."""
    h = row_bytes.shape[0]
    n_samp = w * channels
    if depth == 8:
        return row_bytes[:, :n_samp]
    if depth == 16:
        return row_bytes[:, :2 * n_samp:2]  # high byte (spec's scale approx)
    # 1/2/4-bit: unpack bits per row, group into depth-wide samples
    bits = np.unpackbits(row_bytes, axis=1)
    groups = bits[:, :n_samp * depth].reshape(h, n_samp, depth)
    weights = (1 << np.arange(depth - 1, -1, -1, dtype=np.uint8))
    return (groups * weights).sum(axis=2).astype(np.uint8)


#: Adam7 pass origins and strides: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _decode_samples(idat: bytes, w: int, h: int, depth: int,
                    channels: int, interlace: int) -> np.ndarray:
    """IDAT → (h, w*channels) uint8 samples, both interlace methods.  Each
    pass (the whole grid, or each non-empty Adam7 pass, PNG spec §8.2) is
    unfiltered on its own by ``filters.png_unpredict``; Adam7 passes are
    scattered into the full grid by strided assignment."""
    fu = max(1, depth * channels // 8)
    passes = []
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        wp, hp = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            stride = (wp * depth * channels + 7) // 8
            passes.append((x0, y0, dx, dy, wp, hp, stride))
    # inflate only the rows IHDR declares: a tiny image over a huge IDAT
    # costs only its own bytes (and the Adler-32 past them goes unchecked)
    try:
        raw = zlib.decompressobj().decompress(
            idat, sum((stride + 1) * hp for *_, hp, stride in passes))
    except zlib.error as exc:
        raise PngError(f"IDAT inflate failed: {exc}") from exc
    out = np.zeros((h, w, channels), dtype=np.uint8) if interlace else None
    pos = 0
    for x0, y0, dx, dy, wp, hp, stride in passes:
        need = (stride + 1) * hp
        if len(raw) - pos < need:
            raise PngError(f"IDAT too short: {len(raw) - pos} < {need}")
        try:
            rows = png_unpredict(raw[pos:pos + need], stride, fu)
        except ValueError as exc:
            raise PngError(str(exc)) from exc
        pos += need
        sp = _unpack_samples(rows.reshape(hp, stride), wp, depth, channels)
        if out is None:
            return sp
        out[y0::dy, x0::dx] = sp.reshape(hp, wp, channels)
    return out.reshape(h, w * channels)


def decode_png(data: bytes) -> tuple[np.ndarray, int]:
    """PNG bytes → ``(pixels, color_type)``.

    ``pixels`` is uint8 with shape ``(h, w, channels)``; palette images are
    expanded to RGB (channels=3); sub-8-bit gray is scaled to full 8-bit
    range; both interlace methods (none / Adam7) decode.  Raises
    :class:`PngError` on malformed input.
    """
    ihdr = plte = None
    idat: list[bytes] = []
    for ctype, body in _iter_chunks(data):
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
    if ihdr is None or len(ihdr) != 13:
        raise PngError("missing/short IHDR")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    if comp != 0 or filt != 0:
        raise PngError(f"unknown compression/filter method {comp}/{filt}")
    if interlace not in (0, 1):
        raise PngError(f"unknown interlace method {interlace}")
    if color not in _CHANNELS or depth not in _VALID_DEPTHS[color]:
        raise PngError(f"bad color/depth {color}/{depth}")
    if not idat:
        raise PngError("no IDAT")
    if w == 0 or h == 0 or w > 1 << 24 or h > 1 << 24:
        raise PngError(f"bad dimensions {w}x{h}")
    channels = _CHANNELS[color]
    samples = _decode_samples(b"".join(idat), w, h, depth, channels,
                              interlace)
    if color == 3:  # palette → RGB
        if plte is None or len(plte) % 3:
            raise PngError("palette image without valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise PngError("palette index out of range")
        return pal[idx], color
    px = samples.reshape(h, w, channels)
    if depth < 8:  # scale 1/2/4-bit gray to the full 8-bit range
        px = (px.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
            .astype(np.uint8)
    return px, color


def to_gray(px: np.ndarray, color: int) -> np.ndarray:
    """(h, w, c) → (h, w) uint8 luma.  Integer BT.601 weights
    (``(r*299 + g*587 + b*114 + 500) // 1000``) keep the result
    deterministic across platforms; alpha is ignored (decode is about
    content, not compositing)."""
    if px.shape[2] in (1, 2):  # gray / gray+alpha
        return px[:, :, 0]
    r = px[:, :, 0].astype(np.uint32)
    g = px[:, :, 1].astype(np.uint32)
    b = px[:, :, 2].astype(np.uint32)
    return ((r * 299 + g * 587 + b * 114 + 500) // 1000).astype(np.uint8)

