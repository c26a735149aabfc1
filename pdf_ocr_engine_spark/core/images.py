"""One image-codec table, read by the OCR recognizer (:func:`_page_gray`),
media pixel decode (:func:`_sniffed_gray`) and the PDF image-filter split
(:func:`_image_filter`).  Each entry names its codec module and reads the
entry point off it per call: loading this module loads no codec, and a
wrapper set on a module attribute (a span tracer's) is the one called.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import NamedTuple

import numpy as np


class _Codec(NamedTuple):
    module: str
    decode: Callable  # (module, data, image dict) → uint8 luma (h, w)
    error: str  # the module's typed error, and its "unsupported" subclass
    unsupported: str | None
    label: str
    pdf: bool = True  # a PDF image filter; PNG and GIF are magic-only
    honours_decode: bool = True  # JPX ignores /Decode (ISO 32000, pdf.js)


def _ccitt(mod, data: bytes, image: dict) -> np.ndarray:
    """DecodeParms /K (< 0 G4, 0 pure 1-D G3, > 0 mixed G3), /Columns,
    /Rows (default: the image height) and /EncodedByteAlign."""
    parms = image.get("decode_parms") or {}
    k = parms.get("K", 0)
    if not isinstance(k, (int, float)):
        raise ValueError(f"unsupported CCITT K={k!r}")
    cols = int(parms.get("Columns", 1728))
    rows = parms.get("Rows", image.get("height"))
    rows = int(rows) if rows is not None else None
    align = bool(parms.get("EncodedByteAlign", False))
    if k < 0:
        return mod.decode_g4(data, cols, rows, encoded_byte_align=align)
    return mod.decode_g3(data, cols, rows, k=int(k),
                         encoded_byte_align=align)


def _jbig2(mod, data: bytes, image: dict) -> np.ndarray:
    """``/JBIG2Globals`` (decoded bytes) and the declared image size."""
    glob = (image.get("decode_parms") or {}).get("JBIG2Globals")
    return mod.decode_jbig2_embedded(
        data, globals_data=glob if isinstance(glob, bytes) else None,
        width=image.get("width"), height=image.get("height"))


#: canonical filter or format name → codec
_CODECS = {
    "DCTDecode": _Codec("jpegcodec", lambda m, d, _: m.decode_jpeg_gray(d),
                        "JpegError", "JpegUnsupported", "JPEG"),
    "CCITTFaxDecode": _Codec("ccittcodec", _ccitt, "CcittError",
                             "CcittUnsupported", "CCITT"),
    "JPXDecode": _Codec("jpxcodec", lambda m, d, _: m.decode_jpx_gray(d),
                        "JpxError", "JpxUnsupported", "JPEG 2000",
                        honours_decode=False),
    "JBIG2Decode": _Codec("jbig2codec", _jbig2, "Jbig2Error",
                          "Jbig2Unsupported", "JBIG2"),
    "PNG": _Codec("pngcodec", lambda m, d, _: m.to_gray(*m.decode_png(d)),
                  "PngError", None, "PNG", pdf=False),
    "GIF": _Codec("gifcodec", lambda m, d, _: m.decode_gif_gray(d),
                  "GifError", None, "GIF", pdf=False),
}

#: abbreviated filter names (ISO 32000 table 6)
_ABBREVIATIONS = {"DCT": "DCTDecode", "CCF": "CCITTFaxDecode"}

_JPEG_SOI = b"\xFF\xD8"  # also overrides a PDF image's filter
_MAGIC = ((_JPEG_SOI, "DCTDecode"), (b"\x89PNG\r\n\x1a\n", "PNG"),
          (b"GIF87a", "GIF"), (b"GIF89a", "GIF"))


def _image_filter(name) -> str | None:
    """Canonical name of a PDF image-codec filter, else None."""
    name = _ABBREVIATIONS.get(name, name)
    codec = _CODECS.get(name)
    return name if codec is not None and codec.pdf else None


def _decode(name: str, data: bytes, image: dict, page: bool) -> np.ndarray:
    """Typed codec errors become ``ValueError``, except that media decode
    (not ``page``) raises ``NotImplementedError`` for an unsupported
    coding process."""
    codec = _CODECS[name]
    mod = importlib.import_module(f"{__package__}.{codec.module}")
    try:
        return codec.decode(mod, data, image)
    except getattr(mod, codec.error) as exc:
        if page:
            raise ValueError(
                f"undecodable {codec.label} page image: {exc}") from exc
        if codec.unsupported \
                and isinstance(exc, getattr(mod, codec.unsupported)):
            raise NotImplementedError(
                f"{codec.label} coding process needs PIL: {exc}") from exc
        raise ValueError(f"undecodable {codec.label}: {exc}") from exc


def _luma(r, g, b) -> np.ndarray:
    """ITU-R BT.601 integer luma ``(77·R + 150·G + 29·B + 128) >> 8`` of
    integer planes → uint8: the gray of raw ``/DeviceRGB`` page samples
    and of colour JPEG 2000.  ``pngcodec.to_gray`` (PNG, GIF) keeps its
    299/587/114 ÷ 1000 weights, which differ by one on some inputs."""
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


def _raw_gray(data: bytes, image: dict) -> np.ndarray:
    w, h = image.get("width"), image.get("height")
    cs, bpc = image.get("colorspace"), image.get("bpc")
    if cs == "DeviceRGB" and bpc == 8 and w and h \
            and len(data) == w * h * 3:
        # colour page scan (colour carries no extra text information)
        rgb = np.frombuffer(data, np.uint8).reshape(h, w, 3) \
            .astype(np.uint32)
        return _luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
    if cs == "DeviceGray" and bpc == 8 and w and h \
            and len(data) == w * h:
        return np.frombuffer(data, np.uint8).reshape(h, w)
    if bpc == 1 and cs in ("DeviceGray", None) and w and h \
            and len(data) == ((w + 7) // 8) * h:
        # packed 1-bit rows: 0 = black, 1 = white, each row padded to a
        # byte boundary (ISO 32000 8.9.3)
        bits = np.unpackbits(
            np.frombuffer(data, np.uint8).reshape(h, (w + 7) // 8),
            axis=1)[:, :w]
        return np.where(bits, 255, 0).astype(np.uint8)
    raise ValueError(
        f"undecodable page image ({cs}, {bpc} bpc, {len(data)} bytes "
        f"for {w}x{h})")


def _inverted(name: str | None, image: dict) -> bool:
    """/Decode [1 0] per component (ISO 32000 8.9.5.2) flips black and
    white; so does CCITT's /BlackIs1, and the two cancel (a renderer
    composes them)."""
    dec = image.get("decode") or ()
    try:
        vals = tuple(float(v) for v in dec)
    except (TypeError, ValueError):
        vals = ()
    invert = bool(vals) and vals == (1.0, 0.0) * (len(vals) // 2) \
        and (name is None or _CODECS[name].honours_decode)
    if name == "CCITTFaxDecode":
        invert ^= bool((image.get("decode_parms") or {}).get("BlackIs1"))
    return invert


def _page_gray(image: dict) -> np.ndarray:
    """A ``core.pdfreal`` page image dict → uint8 luma: the codec JPEG
    magic or the image filter names, else raw samples (8-bit RGB or gray,
    packed 1-bit)."""
    data = image["data"]
    name = ("DCTDecode" if data[:2] == _JPEG_SOI
            else _image_filter(image.get("filter")))
    gray = (_raw_gray(data, image) if name is None
            else _decode(name, data, image, page=True))
    return 255 - gray if _inverted(name, image) else gray


def _sniffed_gray(data: bytes) -> np.ndarray:
    """A bare PNG / JPEG / GIF payload → uint8 luma plane, the codec
    picked by magic; any other payload raises ``NotImplementedError``."""
    for magic, name in _MAGIC:
        if data[:len(magic)] == magic:
            return _decode(name, data, {}, page=False)
    raise NotImplementedError(
        "pixel decode for this format requires an image codec (PIL); "
        "this environment ships none — PNG, baseline JPEG, and GIF "
        "(stdlib codecs) and the fake codec decode without it")
