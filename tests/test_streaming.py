"""Structured Streaming extraction: byte-identity through the streaming
path, and exactly-once incremental resume via the source checkpoint and
the batchId-keyed unit overwrite."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_ocr_engine_spark.plans.checkpoint import read_manifests
from pdf_ocr_engine_spark.sources.fixtures import write_pages_parquet
from pdf_ocr_engine_spark.streaming.extract_stream import extract_stream

pytestmark = pytest.mark.spark


@pytest.fixture()
def stream_dirs(build_dir):
    base = os.path.join(build_dir, "stream_test")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ("in", "out", "ckpt", "stage")}
    os.makedirs(dirs["in"])
    os.makedirs(dirs["stage"])
    return dirs


def _land_slice(dirs, corpus_path, name, lo, hi):
    """Land rows [lo, hi) of the staged corpus as one input file (goldens
    stay in staging — the watched dir must only see input_hint-shaped files)."""
    import pyarrow.parquet as pq

    table = pq.read_table(corpus_path).slice(lo, hi - lo)
    pq.write_table(table, os.path.join(dirs["in"], name))


def _drain(spark, dirs):
    q = extract_stream(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    q.awaitTermination()


def test_streaming_matches_golden_and_resumes(spark, stream_dirs):
    corpus = write_pages_parquet(
        os.path.join(stream_dirs["stage"], "corpus.parquet"), n_docs=110)

    # batch 1: 40 docs land
    _land_slice(stream_dirs, corpus, "part1.parquet", 0, 40)
    _drain(spark, stream_dirs)
    out1 = spark.read.parquet(stream_dirs["out"])
    assert out1.count() == 40

    # batch 2: 70 more docs land; resume from checkpoint must process ONLY
    # the new file (exactly-once), never duplicating batch 1.
    _land_slice(stream_dirs, corpus, "part2.parquet", 40, 110)
    _drain(spark, stream_dirs)
    out = spark.read.parquet(stream_dirs["out"])
    assert out.count() == 110
    assert out.select("url").distinct().count() == 110
    # one unit per micro-batch, each with its observed counters
    units = read_manifests(stream_dirs["out"])
    assert sorted(units) == [0, 1]
    assert [units[u]["docs_in"] for u in (0, 1)] == [40, 70]

    # byte-identity through the streaming path (same operator as batch)
    golden = spark.read.parquet(corpus.replace(".parquet", "_golden.parquet"))
    joined = out.join(golden, "url").select("text", "golden_text",
                                            "status", "golden_status")
    bad = joined.where(
        (F.col("status") != F.col("golden_status")) |
        (F.col("golden_text").isNotNull() &
         (F.col("text") != F.col("golden_text")))).count()
    assert bad == 0


def test_sessionize_stream_equals_batch(spark, build_dir):
    """applyInPandasWithState sessions == batch window sessions for the same
    (completed) event stream.  The timeout path can leave the final
    in-progress session per user unemitted, so compare on closed sessions
    and check the remainder is exactly those tail sessions."""
    import datetime as dt

    from pdf_ocr_engine_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for user in range(6):
        t = base + dt.timedelta(minutes=user)
        for session in range(3):
            for k in range(4):
                rows.append((user, eid, t))
                eid += 1
                t += dt.timedelta(minutes=5)          # intra-session gaps
            t += dt.timedelta(minutes=31 + session)   # close the session
    events = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    batch = {(r.user_id, r.session_start, r.session_end, r.n_events)
             for r in sessionize_batch(events, 30).collect()}

    in_dir = os.path.join(build_dir, "sess_in")
    ckpt = os.path.join(build_dir, "sess_ckpt")
    out_dir = os.path.join(build_dir, "sess_out")
    for d in (in_dir, ckpt, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    events.write.parquet(in_dir)

    stream = spark.readStream.schema(events.schema).parquet(in_dir)
    q = (sessionize_stream(stream, 30).writeStream
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    # with ProcessingTimeTimeout state pending, availableNow may keep the
    # query open waiting to evict state — the closed sessions are committed
    # by the first batch, so poll for them and stop.
    import time as _time

    expected_closed = len(batch) - 6  # one open tail session per user
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if q.awaitTermination(2):
            break
        try:
            if spark.read.parquet(out_dir).count() >= expected_closed:
                break
        except Exception:  # noqa: BLE001 - sink dir not committed yet
            pass
    q.stop()
    streamed = {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in spark.read.parquet(out_dir).collect()}

    # every streamed session must be a real batch session...
    assert streamed <= batch
    # ...and only the per-user tail session may still sit in state
    missing = batch - streamed
    assert len(missing) <= 6
    last_per_user = {u: max(s for (uu, s, _e, _n) in batch if uu == u)
                     for u in range(6)}
    for (u, s, _e, _n) in missing:
        assert s == last_per_user[u]


def test_sessionize_batch_without_tiebreak_column(spark):
    """Inputs lacking event_id (e.g. the streaming twin's shape) must still
    sessionize with ts-only ordering."""
    import datetime as dt

    from pdf_ocr_engine_spark.streaming.sessionize import sessionize_batch

    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = [(1, base), (1, base + dt.timedelta(minutes=5)),
            (1, base + dt.timedelta(minutes=50))]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sorted((r.n_events for r in
                  sessionize_batch(events, 30).collect()))
    assert out == [1, 2]


def test_streaming_extracts_real_pdfs(spark, stream_dirs):
    """Genuine PDF payloads flow through the streaming front-end unchanged:
    the same extract operator runs per micro-batch, so the real-PDF path
    needs no streaming-specific code."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_ocr_engine_spark.sources.fixtures import text_to_real_pdf_payload

    texts = {"https://r1.example/a": "alpha beta gamma delta",
             "https://r2.example/b": "five words in this line"}
    table = pa.table({
        "url": list(texts),
        "warc_ts": pa.array([dt.datetime(2025, 1, 1)] * 2,
                            type=pa.timestamp("us")),
        "html": pa.array([text_to_real_pdf_payload(t)
                          for t in texts.values()], type=pa.binary()),
        "text": ["", ""],
        "lang": ["eng", "eng"],
    })
    pq.write_table(table, os.path.join(stream_dirs["in"], "real.parquet"))
    _drain(spark, stream_dirs)
    out = {r.url: r for r in
           spark.read.parquet(stream_dirs["out"]).collect()}
    for url, text in texts.items():
        assert out[url].status == "ok"
        assert out[url].text.split() == text.split()


@pytest.mark.parametrize("tz", ["America/Los_Angeles"])
def test_sessionize_stream_nonutc_timezone(spark, build_dir, tz):
    """Event-time timeouts must stay correct when the session timezone is
    not UTC: stream output must still equal the batch tier on the same
    input.  (Java-style ids like 'GMT+8' cannot be exercised here: pyarrow
    itself rejects them while converting Arrow timestamps to pandas inside
    applyInPandasWithState — upstream of this module's tz handling, which
    normalizes such ids for the timestamps it does receive.)"""
    import datetime as dt
    import shutil as sh

    from pyspark.sql import functions as F

    from pdf_ocr_engine_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    base = os.path.join(build_dir, f"sess_tz_{tz.replace('/', '_')}")
    sh.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)

    t0 = dt.datetime(2025, 3, 9, 0, 30)  # spans the US DST-spring window
    rows = []
    for u in range(4):
        for k in range(6):
            # two sessions per user: 10-min steps, then a 2-hour gap
            off = dt.timedelta(minutes=10 * k) if k < 3 else \
                dt.timedelta(hours=2, minutes=10 * (k - 3))
            rows.append((u, t0 + off))
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df.write.mode("overwrite").parquet(in_dir)
        stream_in = spark.readStream.schema("user_id long, ts timestamp") \
            .parquet(in_dir)
        q = (sessionize_stream(stream_in, gap_minutes=30)
             .writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = {(r.user_id, r.session_start, r.session_end, r.n_events)
               for r in spark.read.parquet(out_dir).collect()}
        batch = sessionize_batch(spark.read.parquet(in_dir), gap_minutes=30)
        want = {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in batch.collect()}
        # availableNow emits sessions closed by a later event; each user's
        # final open session stays in state until the watermark passes it,
        # so the emitted set must be exactly the non-final sessions
        finals = {max((s for s in want if s[0] == u),
                      key=lambda s: s[1]) for u in range(4)}
        assert got == want - finals, (sorted(got), sorted(want))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_streaming_ocr_tier_with_recognizer(spark, stream_dirs):
    """Scanned (image-only) PDFs extract through the streaming front-end
    when a recognizer factory is plugged in — same init-once contract as
    batch; without one they come back 'empty', never an error."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_ocr_engine_spark.operators.ocr import deterministic_recognizer
    from pdf_ocr_engine_spark.sources.fixtures import (
        text_to_scanned_pdf_payload,
    )

    texts = {"https://s1.example/a": "scanned alpha beta gamma",
             "https://s2.example/b": "ocr words flow in streams"}
    table = pa.table({
        "url": list(texts),
        "warc_ts": pa.array([dt.datetime(2025, 1, 1)] * 2,
                            type=pa.timestamp("us")),
        "html": pa.array([text_to_scanned_pdf_payload(t)
                          for t in texts.values()], type=pa.binary()),
        "text": ["", ""],
        "lang": ["eng", "eng"],
    })
    pq.write_table(table, os.path.join(stream_dirs["in"], "scan.parquet"))
    q = extract_stream(spark, stream_dirs["in"], stream_dirs["out"],
                       stream_dirs["ckpt"],
                       recognizer_factory=deterministic_recognizer)
    q.awaitTermination()
    out = {r.url: r for r in
           spark.read.parquet(stream_dirs["out"]).collect()}
    for url, text in texts.items():
        assert out[url].status == "ok"
        assert out[url].text.split() == text.split()
