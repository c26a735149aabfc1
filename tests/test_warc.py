"""WARC source: record parsing, HTTP envelope stripping, gzip handling,
malformed-record resync, and the Spark reader feeding the extraction DAG."""

import io
import os

import pytest

from pdf_ocr_engine_spark.sources.warc import (
    http_body,
    parse_warc,
    warc_pages,
    write_warc,
)

RECS = [
    {"url": "https://a.example/x", "date": "2025-05-01T10:00:00Z",
     "body": b"<html><body><p>alpha beta gamma delta epsilon words</p>"
             b"</body></html>"},
    {"url": "https://b.example/y", "date": "2025-05-01T11:30:00Z",
     "body": b"%PDF-not really"},
]


class TestParser:
    def test_roundtrip_plain_and_gzip(self):
        for compress in (False, True):
            recs = [r for r in parse_warc(write_warc(RECS, compress))
                    if r["type"] == "response"]
            assert [r["url"] for r in recs] == [r["url"] for r in RECS]
            assert [http_body(r["payload"]) for r in recs] == \
                   [r["body"] for r in RECS]

    def test_compressed_write_is_byte_reproducible(self, monkeypatch):
        import time

        first = write_warc(RECS, compress=True)
        # a later clock must not reach the gzip header
        monkeypatch.setattr(time, "time", lambda: 2_000_000_000.0)
        assert write_warc(RECS, compress=True) == first

    def test_http_envelope_stripped_only_when_present(self):
        assert http_body(b"HTTP/1.1 200 OK\r\nA: b\r\n\r\nBODY") == b"BODY"
        assert http_body(b"raw bytes no envelope") == b"raw bytes no envelope"

    def test_malformed_record_resyncs(self):
        good = write_warc(RECS[:1])
        blob = b"WARC/1.0\r\nContent-Length: nope\r\n\r\n" + good
        recs = list(parse_warc(blob))
        assert recs[0]["type"] == "_bad"
        assert [r["url"] for r in recs if r["type"] == "response"] == \
               [RECS[0]["url"]]

    def test_non_response_records_typed(self):
        blob = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n"
                b"\r\nhi\r\n\r\n") + write_warc(RECS[:1])
        types = [r["type"] for r in parse_warc(blob)]
        assert types == ["warcinfo", "response"]


@pytest.mark.spark
class TestSparkReader:
    def test_warc_to_extraction(self, spark, build_dir):
        from pyspark.sql import functions as F

        from pdf_ocr_engine_spark.operators.extract import extract_pages

        wdir = os.path.join(build_dir, "warc_in")
        os.makedirs(wdir, exist_ok=True)
        with open(os.path.join(wdir, "seg1.warc"), "wb") as f:
            f.write(write_warc(RECS))
        with open(os.path.join(wdir, "seg2.warc.gz"), "wb") as f:
            f.write(write_warc(
                [{"url": "https://c.example/z", "date": "2025-05-02T00:00:00Z",
                  "body": b"<html><body><p>six plain words kept here too"
                          b"</p></body></html>"}], compress=True))

        pages = warc_pages(spark, wdir)
        assert pages.count() == 3
        out = {r.url: r for r in extract_pages(pages).collect()}
        assert out["https://a.example/x"].status == "ok"
        assert out["https://a.example/x"].kind == "html"
        assert "alpha beta gamma" in out["https://a.example/x"].text
        assert out["https://c.example/z"].status == "ok"
        # the pseudo-PDF payload routes to the PDF path and errors as a value
        assert out["https://b.example/y"].kind == "pdf"
        assert out["https://b.example/y"].status == "decode_error"
        ts = out["https://a.example/x"].warc_ts
        assert (ts.year, ts.month, ts.hour) == (2025, 5, 10)
        # timestamps survive as real timestamps for partition pruning
        assert pages.where(F.col("warc_ts") >= "2025-05-02").count() == 1


class TestHardening:
    def test_negative_content_length_no_infinite_loop(self):
        blob = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -33"
                b"\r\n\r\nx") + write_warc(RECS[:1])
        recs = list(parse_warc(blob))  # must terminate
        assert recs[0]["type"] == "_bad"
        assert [r["url"] for r in recs if r["type"] == "response"] == \
               [RECS[0]["url"]]

    def test_truncated_record_is_bad_not_short_page(self):
        full = write_warc(RECS[:1])
        recs = list(parse_warc(full[:-20]))  # cut mid-payload
        assert all(r["type"] != "response" for r in recs)
        assert any(r["type"] == "_bad" for r in recs)

    def test_fractional_second_dates(self):
        from pdf_ocr_engine_spark.sources.warc import _parse_warc_date

        assert _parse_warc_date("2025-05-01T10:00:00.123Z").microsecond \
            == 123000
        assert _parse_warc_date("2025-05-01T10:00:00Z").second == 0
        assert _parse_warc_date("garbage") is None
        assert _parse_warc_date(None) is None

    def test_chunked_and_gzip_bodies_decoded(self):
        import gzip as _gz

        chunked = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                   b"5\r\n<html\r\n4\r\n> ok\r\n0\r\n\r\n")
        assert http_body(chunked) == b"<html> ok"
        gz = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
              + _gz.compress(b"<html>gzbody</html>"))
        assert http_body(gz) == b"<html>gzbody</html>"
        # broken encodings pass through raw, never raise
        bad = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot-gzip"
        assert http_body(bad) == b"not-gzip"

    def test_lf_only_headers_tolerated(self):
        assert http_body(b"HTTP/1.1 200 OK\nA: b\n\nBODY") == b"BODY"


@pytest.mark.spark
def test_scan_report(spark, build_dir):
    from pdf_ocr_engine_spark.sources.warc import warc_scan_report

    wdir = os.path.join(build_dir, "warc_report")
    os.makedirs(wdir, exist_ok=True)
    with open(os.path.join(wdir, "good.warc"), "wb") as f:
        f.write(write_warc(RECS))
    with open(os.path.join(wdir, "bad.warc"), "wb") as f:
        f.write(b"WARC/1.0\r\nContent-Length: -1\r\n\r\n" + write_warc(RECS[:1]))
    rep = {os.path.basename(r.file): r for r in
           warc_scan_report(spark, wdir).collect()}
    assert rep["good.warc"].n_response == 2 and rep["good.warc"].n_bad == 0
    assert rep["bad.warc"].n_bad == 1 and rep["bad.warc"].n_response == 1


@pytest.mark.spark
def test_batched_emission_over_chunk_boundary(spark, build_dir):
    """More response records than _BATCH_RECORDS must arrive complete
    (the chunked Arrow emission flushes mid-file)."""
    from pdf_ocr_engine_spark.sources.warc import _BATCH_RECORDS

    n = _BATCH_RECORDS + 80
    recs = [{"url": f"https://m{i}.example/p", "date": "2025-06-01T00:00:00Z",
             "body": b"<p>tiny</p>"} for i in range(n)]
    wdir = os.path.join(build_dir, "warc_chunks")
    os.makedirs(wdir, exist_ok=True)
    with open(os.path.join(wdir, "many.warc"), "wb") as f:
        f.write(write_warc(recs))
    pages = warc_pages(spark, wdir)
    assert pages.count() == n
    assert pages.select("url").distinct().count() == n


class TestStreamedBoundedMemory:
    """Round-2 ranged-read guarantee: the archive is parsed from a stream
    with peak memory bounded by the record cap, never archive size."""

    class CountingReader:
        def __init__(self, data: bytes):
            self._bio = io.BytesIO(data)
            self.max_read_request = 0
            self.n_reads = 0

        def read(self, n: int = -1) -> bytes:
            self.n_reads += 1
            self.max_read_request = max(self.max_read_request, n)
            return self._bio.read(n)

    def test_multi_chunk_archive_never_materialized(self):
        from pdf_ocr_engine_spark.sources.warc import parse_warc_stream

        n = 300
        recs = [{"url": f"https://s{i}.example/p",
                 "date": "2025-06-01T00:00:00Z",
                 "body": b"x" * 2048} for i in range(n)]
        data = write_warc(recs)
        assert len(data) > 600_000  # the whole archive is >> the bounds
        reader = self.CountingReader(data)
        out = [r for r in parse_warc_stream(reader, chunk_bytes=4096,
                                            max_record_bytes=16384)
               if r["type"] == "response"]
        assert len(out) == n
        # no single read ever asked for more than one chunk — the parser
        # cannot have materialized the archive
        assert reader.max_read_request == 4096
        assert reader.n_reads >= len(data) // 4096

    def test_oversized_record_skipped_with_bounded_discard(self):
        from pdf_ocr_engine_spark.sources.warc import parse_warc_stream

        recs = [
            {"url": "https://small1.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"ok-1"},
            {"url": "https://huge.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"z" * 200_000},  # beyond the 16 KB cap below
            {"url": "https://small2.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"ok-2"},
        ]
        reader = self.CountingReader(write_warc(recs))
        out = list(parse_warc_stream(reader, chunk_bytes=4096,
                                     max_record_bytes=16384))
        types = [r["type"] for r in out]
        assert types.count("response") == 2  # both small records survive
        assert "_bad" in types               # the oversized one is data
        urls = {r["url"] for r in out if r["type"] == "response"}
        assert urls == {"https://small1.example/", "https://small2.example/"}
        assert reader.max_read_request == 4096  # discard was chunked too

    def test_stream_equals_in_memory_parse(self):
        from pdf_ocr_engine_spark.sources.warc import (
            parse_warc,
            parse_warc_stream,
        )

        data = write_warc(RECS)
        a = list(parse_warc(data))
        b = list(parse_warc_stream(io.BytesIO(data), chunk_bytes=7))
        assert a == b

    def test_oversized_record_with_buffered_tail_keeps_followers(self):
        """When the read buffer already extends past an oversized record's
        end, the tail holds the FOLLOWING records — they must survive."""
        from pdf_ocr_engine_spark.sources.warc import parse_warc_stream

        recs = [
            {"url": "https://big.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"z" * 2000},
            {"url": "https://after1.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"ok"},
            {"url": "https://after2.example/", "date": "2025-06-01T00:00:00Z",
             "body": b"ok"},
        ]
        data = write_warc(recs)
        # one giant chunk buffers the whole archive before the skip decision
        out = list(parse_warc_stream(io.BytesIO(data), chunk_bytes=1 << 20,
                                     max_record_bytes=400))
        urls = [r["url"] for r in out if r["type"] == "response"]
        assert urls == ["https://after1.example/", "https://after2.example/"]
        assert [r["type"] for r in out].count("_bad") == 1

    def test_headerless_stretch_resyncs_to_later_records(self):
        """A separator-free stretch longer than the record cap must be
        skipped (as _bad), not end the file — records after it survive."""
        from pdf_ocr_engine_spark.sources.warc import parse_warc_stream

        garbage = b"G" * 40_000  # no CRLFCRLF anywhere, > 16 KB cap
        tail = write_warc(
            [{"url": "https://survivor.example/",
              "date": "2025-06-01T00:00:00Z", "body": b"alive"}])
        out = list(parse_warc_stream(io.BytesIO(garbage + b"\r\n\r\n"[0:0]
                                                + tail),
                                     chunk_bytes=4096,
                                     max_record_bytes=16384))
        urls = [r["url"] for r in out if r["type"] == "response"]
        assert urls == ["https://survivor.example/"]
        assert any(r["type"] == "_bad" for r in out)


class TestReaderClose:
    """ADVICE round 2: readers in `finally: reader.close()` blocks must
    actually close the underlying stream — _PrefixReader had no close()
    (AttributeError silently swallowed → per-archive handle leak), and
    GzipFile.close() deliberately leaves fileobj open."""

    class _Closable(io.BytesIO):
        closed_flag = False

        def close(self):
            self.closed_flag = True
            super().close()

    def test_prefix_reader_closes_underlying(self):
        from pdf_ocr_engine_spark.sources.warc import _PrefixReader

        inner = self._Closable(b"cdef")
        r = _PrefixReader(b"ab", inner)
        assert r.read(3) == b"abc"
        r.close()
        assert inner.closed_flag

    def test_owning_gzip_closes_underlying(self):
        import gzip as _gzip

        from pdf_ocr_engine_spark.sources.warc import (_OwningGzip,
                                                       _PrefixReader)

        payload = _gzip.compress(b"hello world")
        inner = self._Closable(payload[2:])
        stitched = _PrefixReader(payload[:2], inner)
        gz = _OwningGzip(stitched)
        assert gz.read() == b"hello world"
        gz.close()
        assert inner.closed_flag


class TestCommonCrawlShape:
    """write_cc_warc fixtures: the structural variety of a real CC segment
    (warcinfo/request/revisit records, chunked/gzip transfer codings,
    per-record gzip members) round-trips byte-exactly."""

    def _recs(self, n=12):
        return [{"url": f"https://cc.example/doc/{i}",
                 "date": "2025-01-01T00:00:00Z",
                 "body": (f"document {i} body with distinctive words "
                          * 15).encode("utf-8")}
                for i in range(n)]

    @pytest.mark.parametrize("gz", [False, True])
    def test_bodies_byte_exact_across_codings(self, gz):
        from pdf_ocr_engine_spark.sources.warc import write_cc_warc

        recs = self._recs()
        data = write_cc_warc(recs, per_record_gzip=gz)
        got = [http_body(r["payload"]) for r in parse_warc(data)
               if r["type"] == "response"]
        assert got == [r["body"] for r in recs]

    def test_non_response_records_present_and_skipped(self):
        from pdf_ocr_engine_spark.sources.warc import write_cc_warc

        recs = self._recs()
        types = [r["type"] for r in parse_warc(write_cc_warc(recs))]
        assert types.count("warcinfo") == 1
        assert types.count("request") == len(recs)
        assert types.count("revisit") == len(recs) // 5
        assert "_bad" not in types  # every record frames cleanly

    def test_per_record_gzip_reads_all_members(self):
        # a reader that gunzips only the FIRST member sees one record
        from pdf_ocr_engine_spark.sources.warc import write_cc_warc

        recs = self._recs(8)
        data = write_cc_warc(recs, per_record_gzip=True)
        assert data.count(b"\x1f\x8b\x08") >= 8  # many members
        got = [r for r in parse_warc(data) if r["type"] == "response"]
        assert len(got) == 8

    @pytest.mark.spark
    def test_spark_reader_and_scan_report(self, spark, build_dir):
        from pdf_ocr_engine_spark.sources.warc import (
            warc_scan_report,
            write_cc_warc,
        )

        recs = self._recs()
        wdir = os.path.join(build_dir, "warc_cc")
        os.makedirs(wdir, exist_ok=True)
        with open(os.path.join(wdir, "seg.warc"), "wb") as f:
            f.write(write_cc_warc(recs))
        with open(os.path.join(wdir, "seg2.warc.gz"), "wb") as f:
            f.write(write_cc_warc(recs, per_record_gzip=True))
        rows = warc_pages(spark, wdir).collect()
        assert len(rows) == 2 * len(recs)   # responses only, both shards
        bodies = {r.url: bytes(r.html) for r in rows}
        assert bodies["https://cc.example/doc/3"] == recs[3]["body"]
        rep = {os.path.basename(r.file): r
               for r in warc_scan_report(spark, wdir).collect()}
        for name in ("seg.warc", "seg2.warc.gz"):
            assert rep[name].n_bad == 0
            assert rep[name].n_response == len(recs)
