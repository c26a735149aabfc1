"""Stream filters that PDF shares with the web image codecs: the PNG
row-predictor inverse and LZW.  Both raise ``ValueError`` on malformed
data; each caller maps it to its own error type.
"""

from __future__ import annotations

import numpy as np

__all__ = ["lzw_decode", "png_unpredict"]


def png_unpredict(data: bytes, stride: int, unit: int) -> np.ndarray:
    """PNG row predictors (PNG spec §9.2; PDF ``/Predictor`` 10-15): rows
    of one tag byte + ``stride`` filtered bytes → the rebuilt rows as one
    flat uint8 array.  ``unit`` is the bytes per complete pixel (min 1).
    A short final row decodes to the bytes present (predictors read only
    left and up); a tag above 4 raises ``ValueError``.

    None, Sub and Up are numpy ops (Sub is a cumulative sum per byte class
    mod ``unit``: addition mod 256 distributes).  Average and Paeth read
    the byte just decoded, so they loop per byte over each byte class.
    """
    if stride < 0:
        raise ValueError(f"negative predictor row length {stride}")
    n = len(data)
    src = np.frombuffer(data, np.uint8)
    out = np.empty(n - -(-n // (stride + 1)), np.uint8)
    # no row is longer than the data, so a hostile stride costs nothing
    zero = np.zeros(min(stride, n), np.uint8)
    for y, pos in enumerate(range(0, n, stride + 1)):
        tag, lo = data[pos], y * stride
        row = src[pos + 1:pos + 1 + stride]
        m = len(row)
        rec = out[lo:lo + m]
        if tag == 0:
            rec[:] = row
        elif tag == 1:
            cur = np.concatenate([row, np.zeros(-m % unit, np.uint8)])
            rec[:] = cur.reshape(-1, unit).cumsum(
                axis=0, dtype=np.uint8).reshape(-1)[:m]
        elif tag > 4:
            raise ValueError(f"bad PNG filter byte {tag}")
        else:
            up = out[lo - stride:lo - stride + m] if y else zero[:m]
            if tag == 2:
                np.add(row, up, out=rec)  # uint8 wraps: mod 256
                continue
            cur, above = data[pos + 1:pos + 1 + m], up.tobytes()
            for k in range(unit):
                vals = bytearray()
                a = c = 0  # left and upper-left in this byte class
                for x, b in zip(cur[k::unit], above[k::unit]):
                    if tag == 3:
                        a = (x + ((a + b) >> 1)) & 255
                    else:
                        pa, pb = abs(b - c), abs(a - c)
                        pc = abs(a + b - c - c)
                        a = (x + (a if pa <= pb and pa <= pc else
                                  b if pb <= pc else c)) & 255
                    c = b
                    vals.append(a)
                rec[k::unit] = np.frombuffer(vals, np.uint8)
    return out


def lzw_decode(data: bytes, min_code_size: int, msb_first: bool,
               early: int, limit: int) -> bytes:
    """Variable-width LZW → at most ``limit`` bytes.  Codes are packed
    MSB-first (PDF) or LSB-first (GIF) and grow from ``min_code_size + 1``
    to 12 bits, ``early`` codes early (PDF ``EarlyChange``; GIF 0);
    ``1 << min_code_size`` clears the table and the next code is EOI.
    Stops at EOI, at the end of ``data`` or at ``limit`` bytes.  A code
    past the table raises ``ValueError``; the table stops at 4,096
    entries, all that 12-bit codes reach."""
    clear = 1 << min_code_size
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev = None
    buf = nbits = pos = 0
    while len(out) < limit:
        while nbits < width:
            if pos == len(data):
                return bytes(out)
            buf = buf << 8 | data[pos] if msb_first else \
                buf | data[pos] << nbits
            pos += 1
            nbits += 8
        nbits -= width
        if msb_first:
            code = buf >> nbits
            buf &= (1 << nbits) - 1
        else:
            code = buf & ((1 << width) - 1)
            buf >>= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == clear + 1:  # EOI
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) + early >= 1 << width and width < 12:
            width += 1
    del out[limit:]
    return bytes(out)
