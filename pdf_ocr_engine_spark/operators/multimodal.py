"""Multimodal column plumbing — image/audio/video as opaque binary + metadata.

Design: media travels as ``binary`` columns with a typed metadata struct
``(media_type, n_bytes, width, height, duration_ms)``; heavy decode /
feature-extract / resize / frame-sample run as Arrow-batched ``mapInPandas``
stages with the same shape as the extraction operator (iterator init →
per-batch numpy work → struct columns out).

Two codec tiers:

* **Real header probing** (stdlib byte parsing, no codec library): PNG
  (IHDR), JPEG (SOF scan), GIF and WAV dimensions/duration — the analog of
  the reference's ``sharp().metadata()`` probe
  (``/root/reference/src/lib/ocr/ocr.ts:67-71``).  Metadata for real
  formats needs no pixel decode, so :func:`media_metadata` is genuinely
  useful on real corpora.
* **Deterministic fake codec** for pixel-level operations: payloads with
  magic ``FAKEIMG1``/``FAKEAUD1``/``FAKEVID1`` carry a tiny header and a
  well-defined pixel model (payload bytes row-major, formula-filled past
  the payload), so decode / resize / frame-grab / embed run END TO END —
  real plans, real numpy math, oracle-checkable outputs.

Real-format *pixel* decode goes through the codec table in
``core/images.py``: pure-stdlib PNG (``core/pngcodec.py``, Adam7
included), baseline and progressive JPEG (``core/jpegcodec.py``) and GIF
(``core/gifcodec.py``), no library needed.  What the table cannot decode
goes through an optional-PIL adapter at one point in
:func:`decode_image_pixels`, active when ``PIL`` is importable.
Swapping a codec in changes nothing downstream.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

IMG_MAGIC = b"FAKEIMG1"
AUD_MAGIC = b"FAKEAUD1"
VID_MAGIC = b"FAKEVID1"

MEDIA_META_SCHEMA = StructType([
    StructField("media_type", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])


def encode_fake_image(width: int, height: int, payload: bytes = b"") -> bytes:
    return IMG_MAGIC + struct.pack("<HH", width, height) + payload


def encode_fake_audio(duration_ms: int, payload: bytes = b"") -> bytes:
    return AUD_MAGIC + struct.pack("<I", duration_ms) + payload


def encode_fake_video(duration_ms: int, payload: bytes = b"") -> bytes:
    return VID_MAGIC + struct.pack("<I", duration_ms) + payload


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
     0xCD, 0xCE, 0xCF])


def _probe_jpeg(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn marker, or None if absent."""
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            return None  # desynced — corrupt stream
        code = data[pos + 1]
        if code == 0xFF:       # fill byte
            pos += 1
            continue
        if 0xD0 <= code <= 0xD9 or code == 0x01:  # standalone markers
            pos += 2
            continue
        if code in _JPEG_SOF:
            if pos + 9 > n:
                return None
            h, w = struct.unpack(">HH", data[pos + 5:pos + 9])
            return (w, h)
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        pos += 2 + seg_len
    return None


def _probe_wav(data: bytes) -> int | None:
    """Duration in ms from RIFF/WAVE chunks (fmt byte rate + data size)."""
    byte_rate = None
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if cid == b"fmt " and pos + 16 + 4 <= n:
            (byte_rate,) = struct.unpack("<I", data[pos + 16:pos + 20])
        elif cid == b"data" and byte_rate:
            return int(clen * 1000 // byte_rate)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    return None


def decode_media_header(data: bytes | None) -> tuple[str, int | None, int | None, int | None]:
    """(media_type, width, height, duration_ms) — header-only probe, no
    pixel decode.  Real formats are parsed from their fixed header layouts
    in stdlib byte code (PNG IHDR, JPEG SOF scan, GIF logical screen, WAV
    fmt/data chunks) — the analog of the reference's ``sharp().metadata()``
    (``ocr.ts:67-71``); the fake codec carries its dims in a fixed 12-byte
    header."""
    if not data:
        return ("empty", None, None, None)
    try:
        if data[:8] == IMG_MAGIC:
            w, h = struct.unpack("<HH", data[8:12])
            return ("image", w, h, None)
        if data[:8] == AUD_MAGIC:
            (ms,) = struct.unpack("<I", data[8:12])
            return ("audio", None, None, ms)
        if data[:8] == VID_MAGIC:
            (ms,) = struct.unpack("<I", data[8:12])
            return ("video", None, None, ms)
        if data[:8] == _PNG_MAGIC:
            if len(data) < 24 or data[12:16] != b"IHDR":
                return ("corrupt", None, None, None)
            w, h = struct.unpack(">II", data[16:24])
            return ("image", w, h, None)
        if data[:2] == b"\xFF\xD8":
            wh = _probe_jpeg(data)
            return ("image", wh[0], wh[1], None) if wh \
                else ("corrupt", None, None, None)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", data[6:10])
            return ("image", w, h, None)
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            ms = _probe_wav(data)
            return ("audio", None, None, ms) if ms is not None \
                else ("corrupt", None, None, None)
    except struct.error:
        # magic present but header truncated: a corrupt row is DATA, never a
        # task failure (same errors-as-values contract as extraction)
        return ("corrupt", None, None, None)
    return ("unknown", None, None, None)


def _pil_decode_gray(data: bytes):
    """Optional PIL adapter: any PIL-readable format → uint8 luma ndarray
    (h, w), or None when PIL is not installed (installing it activates
    the tier with no other change)."""
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        return None
    import io

    import numpy as np

    with Image.open(io.BytesIO(data)) as im:
        return np.asarray(im.convert("L"), dtype=np.uint8)


def decode_image_pixels(data: bytes):
    """Pixel decode → ``uint8 ndarray (h, w)`` grayscale.

    Three tiers, most-deterministic first:

    * fake codec (``FAKEIMG1``): row-major payload bytes fill the image;
      cells past the payload take the formula ``(flat_index*31 + w*7 +
      h*13) % 256`` — deterministic and shared with the DuckDB oracles;
    * PNG / JPEG / GIF: the codec table (:mod:`..core.images`) picks the
      pure-stdlib codec by magic;
    * anything the table cannot decode (corrupt stream, unsupported
      coding process, WEBP, …): the optional-PIL adapter.  Without PIL
      the table's ``ValueError`` / ``NotImplementedError`` stands, so
      callers treat the row as undecodable DATA, never a task failure."""
    import numpy as np

    from ..core import images

    data = bytes(data) if data else b""
    if data[:8] == IMG_MAGIC:
        if len(data) < 12:
            raise ValueError("FAKEIMG1 header truncated")
        w, h = struct.unpack("<HH", data[8:12])
        n = w * h
        idx = np.arange(n, dtype=np.int64)
        arr = (idx * 31 + w * 7 + h * 13) % 256
        payload = data[12:12 + n]
        if payload:
            arr[:len(payload)] = np.frombuffer(payload, dtype=np.uint8)
        return arr.reshape(h, w).astype(np.uint8)
    try:
        return images._sniffed_gray(data)
    except (ValueError, NotImplementedError):
        gray = _pil_decode_gray(data)
        if gray is None:
            raise
        return gray


def media_metadata(df: DataFrame, media_col: str = "media",
                   id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched header probe: (id, media_type, n_bytes, width, height,
    duration_ms).  Narrow, no shuffle; the 100 TB plan runs this as the cheap
    sniff stage before any expensive decode (same plan shape as extraction
    stage 1)."""
    out_schema = StructType(
        [StructField(id_col, LongType(), False)] + list(MEDIA_META_SCHEMA))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            metas = [decode_media_header(b) for b in batch[media_col]]
            yield pd.DataFrame({
                id_col: batch[id_col].astype("int64"),
                "media_type": [m[0] for m in metas],
                "n_bytes": pd.Series(
                    [len(b) if b is not None else 0 for b in batch[media_col]],
                    dtype="int64"),
                "width": pd.array([m[1] for m in metas], dtype="Int32"),
                "height": pd.array([m[2] for m in metas], dtype="Int32"),
                "duration_ms": pd.array([m[3] for m in metas], dtype="Int32"),
            })

    return df.select(id_col, media_col).mapInPandas(run, out_schema)


def frame_sample(df: DataFrame, every_ms: int = 1000,
                 media_col: str = "media", id_col: str = "doc_id") -> DataFrame:
    """Video frame sampling plan: one input row per video → one output row
    per sampled frame timestamp (``ts_ms = 0, every_ms, 2*every_ms, … <
    duration``).  The row explosion inside ``mapInPandas`` is exactly how
    extraction explodes pages; the *pixel* grab at each timestamp is the
    stubbed codec step (:func:`decode_frame_pixels`).  Narrow — no shuffle;
    at scale the fan-out factor (duration/every_ms) is the memory knob, so
    long videos should be re-batched upstream by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_ms", LongType(), False),
    ])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            ids: list[int] = []
            idxs: list[int] = []
            tss: list[int] = []
            for did, blob in zip(batch[id_col], batch[media_col]):
                mtype, _w, _h, ms = decode_media_header(blob)
                if mtype != "video" or not ms:
                    continue
                n = (int(ms) + every_ms - 1) // every_ms
                ids.extend([int(did)] * n)
                idxs.extend(range(n))
                tss.extend(range(0, n * every_ms, every_ms))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "ts_ms": pd.Series(tss, dtype="int64"),
            })

    return df.select(id_col, media_col).mapInPandas(run, out_schema)


def decode_frame_pixels(data: bytes, ts_ms: int, size: int = 16):
    """Fake-codec frame grab at ``ts_ms`` → ``uint8 ndarray (size, size)``.

    Frame model (deterministic): ``pixel(x, y) = (x*7 + y*13 + ts_ms) %
    256``.  Sampling beyond the clip or a truncated header raises
    ``ValueError`` (a corrupt request is data upstream).  Real containers
    (mp4/webm) need pyav — that single decode line is the plug-in point;
    the sampling plan (:func:`frame_sample`) and batching around it are
    unchanged."""
    import numpy as np

    if not data or data[:8] != VID_MAGIC:
        raise NotImplementedError(
            "real-format frame decode requires a video codec (pyav); plug "
            "it in here — the sampling plan works without it")
    if len(data) < 12:
        raise ValueError("FAKEVID1 header truncated")
    (duration,) = struct.unpack("<I", data[8:12])
    if ts_ms < 0 or ts_ms >= duration:
        raise ValueError(f"ts {ts_ms} outside clip duration {duration}")
    x = np.arange(size, dtype=np.int64)[None, :]
    y = np.arange(size, dtype=np.int64)[:, None]
    return ((x * 7 + y * 13 + int(ts_ms)) % 256).astype(np.uint8)


def resize_images(df: DataFrame, width: int, height: int,
                  media_col: str = "media",
                  id_col: str = "doc_id") -> DataFrame:
    """Nearest-neighbour image resize — binary in → binary out with updated
    header dims, the same narrow ``mapInPandas`` shape as
    :func:`media_metadata` (no shuffle; pixel work is vectorized numpy
    fancy-indexing per image).  Source index math (``src = (dst*src_dim) //
    dst_dim``) is integer-exact, shared with the DuckDB oracle.  Rows whose
    payload the codec tier can't decode come back with ``media = NULL``
    (errors as values).  Swapping real decoding in changes only
    :func:`decode_image_pixels`."""
    from pyspark.sql.types import BinaryType
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("media", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in batches:
            out: list[bytes | None] = []
            for blob in batch[media_col]:
                try:
                    px = decode_image_pixels(
                        bytes(blob) if blob is not None else b"")
                except Exception:  # noqa: BLE001 - undecodable row is DATA
                    out.append(None)
                    continue
                h0, w0 = px.shape
                ys = (np.arange(height, dtype=np.int64) * h0) // height
                xs = (np.arange(width, dtype=np.int64) * w0) // width
                res = px[ys][:, xs]
                out.append(encode_fake_image(width, height, res.tobytes()))
            yield pd.DataFrame({
                id_col: batch[id_col].astype("int64"),
                "media": out,
                "width": pd.array(
                    [width if b is not None else None for b in out],
                    dtype="Int32"),
                "height": pd.array(
                    [height if b is not None else None for b in out],
                    dtype="Int32"),
            })

    return df.select(id_col, media_col).mapInPandas(run, out_schema)


def embed_media(df: DataFrame, dim: int = 64, media_col: str = "media",
                id_col: str = "doc_id") -> DataFrame:
    """Media → ``array<double>[dim]`` embeddings for the ANN/dedup operators
    downstream: byte-histogram of the decoded content (payload past the
    12-byte fake-codec header; raw bytes otherwise), pooled into ``dim``
    equal bins and L2-normalized.  Deterministic and closed-form, so the
    whole feature pipeline is oracle-checkable — and the operator shape is
    exactly the extract operator's iterator-form ``mapInPandas`` with a
    per-task init point (``operators/extract.py``): a real model (CLIP et
    al.) loads once per task where the pooling table is built, and only
    the per-blob line changes."""
    if dim < 1 or 256 % dim:
        raise ValueError(f"dim={dim} must divide 256")
    from pyspark.sql.types import ArrayType, DoubleType
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("embedding", ArrayType(DoubleType()), False),
    ])
    pool = 256 // dim
    magics = (IMG_MAGIC, AUD_MAGIC, VID_MAGIC)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        # per-task init point: a real model runtime loads HERE, once
        for batch in batches:
            embs = []
            for blob in batch[media_col]:
                b = bytes(blob) if blob is not None else b""
                content = b[12:] if b[:8] in magics else b
                hist = np.bincount(
                    np.frombuffer(content, dtype=np.uint8),
                    minlength=256).reshape(dim, pool).sum(axis=1)
                hist = hist.astype(np.float64)
                nrm = float(np.sqrt((hist * hist).sum()))
                embs.append((hist / nrm if nrm > 0 else hist).tolist())
            yield pd.DataFrame({
                id_col: batch[id_col].astype("int64"),
                "embedding": embs,
            })

    return df.select(id_col, media_col).mapInPandas(run, out_schema)
