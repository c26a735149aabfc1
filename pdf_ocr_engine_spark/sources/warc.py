"""WARC source — read Common-Crawl-style web archives into the pages table.

The north_star input is "an Iceberg table of Common-Crawl-style pages"; this
module covers the step before that table exists: raw WARC files (ISO 28500,
the format Common Crawl publishes) → ``(url, warc_ts, html, text, lang)``
rows.  Pure stdlib parsing (no warcio dependency), driven through
``spark.read.format("binaryFile")`` + ``mapInArrow`` so each archive file is
parsed executor-side in one pass.

Format essentials handled:

* ``WARC/1.x`` record = header block (CRLF lines) + CRLF CRLF + exactly
  ``Content-Length`` payload bytes + CRLF CRLF;
* only ``WARC-Type: response`` records carry page payloads; the HTTP
  response envelope inside the block is stripped (headers end at the first
  CRLF CRLF) so ``html`` is the raw entity body;
* gzip archives: Common Crawl gzips member-per-record — Python's ``gzip``
  reads concatenated members transparently, so ``.warc.gz`` just works;
* the HTTP payload is properly decoded: chunked ``Transfer-Encoding`` is
  de-chunked, ``Content-Encoding: gzip/deflate`` decompressed (best-effort —
  undecodable bodies pass through raw), and LF-only header separators are
  tolerated;
* malformed records are skipped and resynced (errors-as-values — a bad
  record or a truncated archive never fails the task); per-file parse
  health is observable via :func:`warc_scan_report` (file, n_response,
  n_bad, parse_error).

Scale note (round 2 — the ranged-read form): archives are parsed from a
**bounded streaming read** (:func:`parse_warc_stream` over a pyarrow
filesystem input stream), never materialized whole.  Peak memory per task
is ``max_record_bytes`` (default 64 MB — records past it are skipped as
``_bad`` with bounded discard), independent of archive size; a 1 GB (or
5 GB decompressed) Common-Crawl segment streams through a few-MB rolling
buffer.  Parallelism is the file count (~64k files per crawl), one file
per task; the extraction DAG's salted repartition downstream redistributes
by host, so per-file ordering never matters.  ``pyarrow.fs`` resolves the
path scheme, so the same reader serves ``file://``, ``s3://`` and
``hdfs://``.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from typing import Any, BinaryIO

from pyspark.sql import DataFrame, SparkSession

from .schemas import PAGES_SCHEMA

__all__ = ["PAGES_SCHEMA", "parse_warc", "parse_warc_stream", "http_body",
           "warc_pages", "warc_scan_report", "write_warc"]

_CRLF2 = b"\r\n\r\n"

#: records per Arrow output batch — bounds peak memory and stays far under
#: Arrow's 2 GiB int32 offset cap for binary arrays even at 1 MB/page
_BATCH_RECORDS = 1024

#: streaming read granularity / per-record size cap (the task's memory bound)
_CHUNK_BYTES = 1 << 20
_MAX_RECORD_BYTES = 64 << 20

_BAD = {"type": "_bad", "url": None, "date": None, "payload": None}


def parse_warc_stream(reader: BinaryIO, chunk_bytes: int = _CHUNK_BYTES,
                      max_record_bytes: int = _MAX_RECORD_BYTES,
                      ) -> Iterator[dict[str, Any]]:
    """Yield ``{"type", "url", "date", "payload"}`` per WARC record from a
    streaming reader, holding at most ``max_record_bytes`` (+ one chunk) in
    memory — the archive itself is never materialized.

    Semantics match :func:`parse_warc`: malformed trailing garbage ends
    iteration; a malformed header / bad length / truncated payload yields
    ``{"type": "_bad"}`` and resyncs at the next ``WARC/`` marker; a record
    larger than ``max_record_bytes`` is skipped as ``_bad`` with its
    payload *discarded in chunks*, never buffered.
    """
    buf = bytearray()
    eof = False

    def fill(target: int) -> None:
        nonlocal eof
        while len(buf) < target and not eof:
            chunk = reader.read(chunk_bytes)
            if not chunk:
                eof = True
                break
            buf.extend(chunk)

    def resync(start: int) -> bool:
        """Drop bytes until the next ``WARC/`` marker at/after ``start``;
        False when the stream ends first.  The rolling 4-byte tail keeps a
        marker split across chunk boundaries findable."""
        del buf[:start]
        while True:
            nxt = buf.find(b"WARC/")
            if nxt >= 0:
                del buf[:nxt]
                return True
            if eof:
                return False
            if len(buf) > 4:
                del buf[:len(buf) - 4]
            fill(len(buf) + chunk_bytes)

    while True:
        fill(2)
        while buf[:2] == b"\r\n":
            del buf[:2]
            fill(2)
        if not buf:
            return
        head_end = buf.find(_CRLF2)
        while head_end < 0 and not eof and len(buf) < max_record_bytes:
            # resume the separator search where the last pass ended (minus
            # a 3-byte overlap for a split CRLF2) — restarting from zero
            # makes a long separator-free stretch quadratic
            searched = max(0, len(buf) - 3)
            fill(len(buf) + chunk_bytes)
            head_end = buf.find(_CRLF2, searched)
        if head_end < 0:
            if eof:
                return  # truncated / headerless trailing garbage
            # a > max_record_bytes stretch with no header separator:
            # skip past it and recover the records behind it (the
            # in-memory parser's resync semantics, memory-bounded)
            yield dict(_BAD)
            if not resync(1):
                return
            continue
        header_blob = bytes(buf[:head_end])
        if not header_blob.startswith(b"WARC/"):
            yield dict(_BAD)
            if not resync(1):
                return
            continue
        headers: dict[str, str] = {}
        for line in header_blob.split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("latin-1").lower()] = \
                    v.strip().decode("latin-1")
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            yield dict(_BAD)
            if not resync(head_end):
                return
            continue
        if head_end + 4 + length > max_record_bytes:
            # oversized record: skip its payload in bounded chunks.  If the
            # buffer already extends past the record end, the tail holds the
            # FOLLOWING records — slice, never clear, or they vanish.
            yield dict(_BAD)
            record_end = head_end + 4 + length
            if len(buf) >= record_end:
                del buf[:record_end]
            else:
                remaining = record_end - len(buf)
                buf.clear()
                while remaining > 0 and not eof:
                    chunk = reader.read(min(chunk_bytes, remaining))
                    if not chunk:
                        eof = True
                        break
                    remaining -= len(chunk)
            if not resync(0):
                return
            continue
        fill(head_end + 4 + length)
        if len(buf) < head_end + 4 + length:
            # bogus length or truncated archive: the chopped payload must
            # not enter the table as a healthy page; later records behind a
            # lying Content-Length are still recovered by the resync
            yield dict(_BAD)
            if not resync(head_end):
                return
            continue
        body = bytes(buf[head_end + 4:head_end + 4 + length])
        del buf[:head_end + 4 + length]
        yield {
            "type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "payload": body,
        }


def parse_warc(data: bytes) -> Iterator[dict[str, Any]]:
    """In-memory convenience wrapper over :func:`parse_warc_stream` (same
    record semantics) — tests and small fixtures; the Spark readers stream."""
    if data[:2] == b"\x1f\x8b":  # gzip magic — multi-member streams read fine
        return parse_warc_stream(gzip.GzipFile(fileobj=io.BytesIO(data)))
    return parse_warc_stream(io.BytesIO(data))


def http_body(block: bytes) -> bytes:
    """Decode a response record's block to the entity body: strip the HTTP
    envelope (CRLF or bare-LF separators), de-chunk ``Transfer-Encoding:
    chunked``, and decompress ``Content-Encoding: gzip/deflate`` —
    best-effort: anything undecodable passes through raw (the downstream
    sniffer routes it to a status, never a crash)."""
    if not block.startswith(b"HTTP/"):
        return block
    sep = block.find(_CRLF2)
    sep_len = 4
    if sep < 0:
        sep = block.find(b"\n\n")  # LF-only servers exist in real crawls
        sep_len = 2
        if sep < 0:
            return block
    head = block[:sep].decode("latin-1", errors="replace").lower()
    body = block[sep + sep_len:]
    hdrs = {}
    for line in head.split("\n")[1:]:
        k, _, v = line.partition(":")
        if _:
            hdrs[k.strip()] = v.strip()
    if "chunked" in hdrs.get("transfer-encoding", ""):
        body = _dechunk(body)
    enc = hdrs.get("content-encoding", "")
    try:
        if "gzip" in enc:
            body = gzip.decompress(body)
        elif "deflate" in enc:
            import zlib

            try:
                body = zlib.decompress(body)
            except zlib.error:
                body = zlib.decompress(body, -zlib.MAX_WBITS)  # raw deflate
    except Exception:  # noqa: BLE001 - keep the raw bytes, sniffer decides
        pass
    return body


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer coding; returns raw input if the
    chunk framing is broken partway (best-effort)."""
    out = bytearray()
    pos = 0
    try:
        while True:
            eol = body.index(b"\r\n", pos)
            size = int(body[pos:eol].split(b";")[0], 16)
            if size == 0:
                break
            out += body[eol + 2:eol + 2 + size]
            pos = eol + 2 + size + 2  # skip chunk + trailing CRLF
    except (ValueError, IndexError):
        return bytes(body)
    return bytes(out)


def _parse_warc_date(s: str | None):
    import datetime as dt

    if not s:
        return None
    try:
        # WARC/1.1 allows fractional seconds; fromisoformat handles both
        return dt.datetime.fromisoformat(s.rstrip("Z"))
    except ValueError:
        return None


def _list_warc_uris(path: str) -> list[str]:
    """Driver-side listing: directory (recursive), single file, or a
    ``dir/*.warc.gz``-style glob → full URIs (``file://`` for local paths;
    the original scheme otherwise).  pyarrow.fs handles every scheme the
    executors will re-open."""
    import fnmatch
    import os

    from pyarrow import fs as pafs

    if "://" in path:
        scheme = path.split("://", 1)[0]
        fsys, p = pafs.FileSystem.from_uri(path)
    else:
        scheme = "file"
        fsys, p = pafs.LocalFileSystem(), os.path.abspath(path)

    def uri(fp: str) -> str:
        return f"{scheme}://{fp}" if not fp.startswith(f"{scheme}://") else fp

    info = fsys.get_file_info(p)
    if info.type == pafs.FileType.Directory:
        sel = pafs.FileSelector(p, recursive=True)
        return sorted(
            uri(i.path) for i in fsys.get_file_info(sel)
            if i.type == pafs.FileType.File
            and i.path.endswith((".warc", ".warc.gz")))
    if info.type == pafs.FileType.File:
        return [uri(p)]
    base, pat = os.path.split(p)
    sel = pafs.FileSelector(base, recursive=False)
    return sorted(
        uri(i.path) for i in fsys.get_file_info(sel)
        if i.type == pafs.FileType.File
        and fnmatch.fnmatch(os.path.basename(i.path), pat))


def _open_warc_stream(file_uri: str):
    """Executor-side: streaming reader for one archive URI.  ``.gz`` names
    decompress in-stream (pyarrow's extension detection); bare names are
    sniffed by magic with the two probe bytes stitched back (CC publishes
    both namings)."""
    from pyarrow import fs as pafs

    fsys, p = pafs.FileSystem.from_uri(file_uri)
    raw = fsys.open_input_stream(p)  # compression='detect': .gz streams
    if file_uri.endswith(".gz"):     # arrive already decompressed
        return raw
    probe = raw.read(2)
    stitched = _PrefixReader(probe, raw)
    if probe == b"\x1f\x8b":
        return _OwningGzip(stitched)
    return stitched


class _OwningGzip(gzip.GzipFile):
    """``GzipFile.close()`` leaves ``fileobj`` open by design; these readers
    own their underlying stream, so closing the reader closes it too."""

    def __init__(self, fileobj) -> None:
        self._owned = fileobj
        super().__init__(fileobj=fileobj)

    def close(self) -> None:
        try:
            super().close()
        finally:
            self._owned.close()


class _PrefixReader:
    """Minimal reader that replays ``prefix`` before delegating — the
    pushback needed after magic sniffing on a non-seekable stream."""

    def __init__(self, prefix: bytes, stream) -> None:
        self._prefix = prefix
        self._stream = stream

    def close(self) -> None:
        # readers land in ``finally: reader.close()`` blocks — without this
        # the underlying pyarrow input stream leaks a file handle until GC
        self._stream.close()

    def read(self, n: int = -1) -> bytes:
        if self._prefix:
            if n is None or n < 0:
                out = self._prefix + self._stream.read(-1)
                self._prefix = b""
                return out
            out, self._prefix = self._prefix[:n], self._prefix[n:]
            if len(out) < n:
                out += self._stream.read(n - len(out))
            return out
        return self._stream.read(n)


def _file_tasks(spark: SparkSession, path: str) -> DataFrame:
    uris = _list_warc_uris(path)
    df = spark.createDataFrame([(u,) for u in uris] or [(None,)],
                               "path string")
    if not uris:
        return df.where("path IS NOT NULL")  # empty, schema intact
    return df.repartition(len(uris))  # one archive per task


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read ``*.warc`` / ``*.warc.gz`` files under ``path`` into the
    input_hint pages shape.  One row per HTTP response record; ``lang``
    starts null (language-ID is a downstream operator).

    Ranged/streamed form: each task opens its archive as a pyarrow input
    stream and parses incrementally (:func:`parse_warc_stream`) — peak
    task memory is the record-size cap, never the archive size."""

    def run(batches):
        import pyarrow as pa

        def flush(urls, tss, payloads):
            return pa.record_batch([
                pa.array(urls, pa.string()),
                pa.array(tss, pa.timestamp("us")),
                pa.array(payloads, pa.binary()),
                pa.array([None] * len(urls), pa.string()),
                pa.array([None] * len(urls), pa.string()),
            ], names=["url", "warc_ts", "html", "text", "lang"])

        for b in batches:
            # chunked emission: never hold a whole archive's payloads in
            # one Arrow batch (int32 offset cap ≈ 2 GiB)
            urls: list[str | None] = []
            tss: list = []
            payloads: list[bytes | None] = []
            for uri in b.column("path").to_pylist():
                try:
                    reader = _open_warc_stream(uri)
                except Exception:  # noqa: BLE001 - unreadable file: health
                    continue       # lives in warc_scan_report
                try:
                    for rec in parse_warc_stream(reader):
                        if rec["type"] != "response":
                            continue
                        urls.append(rec["url"])
                        tss.append(_parse_warc_date(rec["date"]))
                        payloads.append(http_body(rec["payload"]))
                        if len(urls) >= _BATCH_RECORDS:
                            yield flush(urls, tss, payloads)
                            urls, tss, payloads = [], [], []
                except Exception:  # noqa: BLE001 - corrupt archive: rows
                    continue       # already flushed stand
                finally:
                    try:
                        reader.close()
                    except Exception:  # noqa: BLE001
                        pass
            if urls:
                yield flush(urls, tss, payloads)

    return _file_tasks(spark, path).mapInArrow(run, PAGES_SCHEMA)


def warc_scan_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-file parse health: ``(file, n_response, n_other, n_bad,
    parse_error)`` — the observability row for corrupt archives that
    :func:`warc_pages` (deliberately) skips past.  Streams like
    :func:`warc_pages`; an unopenable file reports its error instead of
    vanishing."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("file", StringType(), False),
        StructField("n_response", IntegerType(), False),
        StructField("n_other", IntegerType(), False),
        StructField("n_bad", IntegerType(), False),
        StructField("parse_error", StringType(), True),
    ])

    def run(batches):
        import pyarrow as pa

        for b in batches:
            rows = {"file": [], "n_response": [], "n_other": [],
                    "n_bad": [], "parse_error": []}
            for uri in b.column("path").to_pylist():
                n_resp = n_other = n_bad = 0
                err = None
                reader = None
                try:
                    reader = _open_warc_stream(uri)
                    for rec in parse_warc_stream(reader):
                        if rec["type"] == "response":
                            n_resp += 1
                        elif rec["type"] == "_bad":
                            n_bad += 1
                        else:
                            n_other += 1
                except Exception as exc:  # noqa: BLE001
                    err = f"{type(exc).__name__}: {exc}"
                finally:
                    if reader is not None:
                        try:
                            reader.close()
                        except Exception:  # noqa: BLE001
                            pass
                rows["file"].append(uri)
                rows["n_response"].append(n_resp)
                rows["n_other"].append(n_other)
                rows["n_bad"].append(n_bad)
                rows["parse_error"].append(err)
            yield pa.record_batch(
                [pa.array(rows["file"], pa.string()),
                 pa.array(rows["n_response"], pa.int32()),
                 pa.array(rows["n_other"], pa.int32()),
                 pa.array(rows["n_bad"], pa.int32()),
                 pa.array(rows["parse_error"], pa.string())],
                names=list(rows))

    return _file_tasks(spark, path).mapInArrow(run, schema)


def write_warc(records: list[dict[str, Any]], compress: bool = False) -> bytes:
    """Serialize records (``{"url", "date", "body"}``) into WARC bytes —
    fixture/writer twin of :func:`parse_warc` for tests and round-trips.
    ``compress`` writes a gzip member with a zero header mtime, so the
    same records always give the same bytes."""
    out = io.BytesIO()
    for r in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + r["body"])
        head = (f"WARC/1.0\r\n"
                f"WARC-Type: response\r\n"
                f"WARC-Target-URI: {r['url']}\r\n"
                f"WARC-Date: {r['date']}\r\n"
                f"Content-Length: {len(http)}").encode("latin-1")
        out.write(head + _CRLF2 + http + _CRLF2)
    data = out.getvalue()
    return gzip.compress(data, mtime=0) if compress else data


def write_cc_warc(records: list[dict[str, Any]],
                  per_record_gzip: bool = False) -> bytes:
    """Common-Crawl-SHAPED archive writer: the structural variety a real CC
    segment carries, so the reader is hardened against more than this
    module's own plain ``write_warc`` dialect:

    * a leading ``warcinfo`` record (``application/warc-fields`` body);
    * a ``request`` record before every response (readers must skip them);
    * a ``revisit`` record after every 5th response (dedup pointers —
      they carry NO payload and must not become page rows);
    * HTTP bodies rotating by index: identity / ``Transfer-Encoding:
      chunked`` / ``Content-Encoding: gzip``, with charset-parameter
      variety in ``Content-Type``;
    * ``per_record_gzip=True`` emits one gzip member PER RECORD and
      concatenates them — the actual ``.warc.gz`` framing Common Crawl
      uses (readers that gunzip only the first member lose the archive).

    Body BYTES are unchanged by the rotation (chunking/gzip are transfer
    codings the reader must undo), so the same md5 oracle as
    :func:`write_warc` round-trips.
    """
    members: list[bytes] = []

    def emit(warc_type: str, headers: list[tuple[str, str]],
             body: bytes) -> None:
        head = [f"WARC/1.0", f"WARC-Type: {warc_type}",
                *[f"{k}: {v}" for k, v in headers],
                f"Content-Length: {len(body)}"]
        rec = ("\r\n".join(head)).encode("latin-1") + _CRLF2 + body + _CRLF2
        members.append(rec)

    emit("warcinfo",
         [("WARC-Date", "2025-01-01T00:00:00Z"),
          ("Content-Type", "application/warc-fields")],
         b"software: pdf-ocr-engine-spark test fixture\r\n"
         b"format: WARC File Format 1.0\r\n")

    charsets = ("utf-8", "UTF-8", "iso-8859-1", "")
    for i, r in enumerate(records):
        url, date, body = r["url"], r["date"], r["body"]
        emit("request",
             [("WARC-Target-URI", url), ("WARC-Date", date),
              ("Content-Type", "application/http; msgtype=request")],
             f"GET {url} HTTP/1.1\r\nHost: x\r\n\r\n".encode("latin-1"))
        cs = charsets[i % len(charsets)]
        ct = "text/html" + (f"; charset={cs}" if cs else "")
        mode = i % 3
        if mode == 1:  # chunked transfer coding
            chunks = bytearray()
            for off in range(0, len(body), 100):
                part = body[off:off + 100]
                chunks += f"{len(part):x}\r\n".encode() + part + b"\r\n"
            chunks += b"0\r\n\r\n"
            http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
                    f"Transfer-Encoding: chunked\r\n\r\n"
                    ).encode("latin-1") + bytes(chunks)
        elif mode == 2:  # gzip content coding
            gz = gzip.compress(body, mtime=0)
            http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
                    f"Content-Encoding: gzip\r\n"
                    f"Content-Length: {len(gz)}\r\n\r\n"
                    ).encode("latin-1") + gz
        else:
            http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                    ).encode("latin-1") + body
        emit("response",
             [("WARC-Target-URI", url), ("WARC-Date", date),
              ("Content-Type", "application/http; msgtype=response")],
             http)
        if i % 5 == 4:  # revisit pointer (no payload) — must not be a row
            emit("revisit",
                 [("WARC-Target-URI", url), ("WARC-Date", date),
                  ("WARC-Refers-To-Target-URI", url),
                  ("WARC-Profile",
                   "http://netpreserve.org/warc/1.0/revisit/"
                   "identical-payload-digest")],
                 b"")

    if per_record_gzip:
        return b"".join(gzip.compress(m, mtime=0) for m in members)
    return b"".join(members)
