#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Headline: the full extraction pipeline (sniff → decode → layout
reconstruction → assemble → metrics) over the documents table wrapped as
Common-Crawl-style pages, plus the operator families from the query registry.
The pages payload table is materialized once to ``_build/`` and reused, so
the timed section measures extraction, not fixture encoding.

Extra JSON fields beyond the driver contract: ``docs_per_sec`` (the
BASELINE.json throughput metric), ``n_docs``, ``cpus``.

The Python worker pool is started by a trivial warmup job before the timed
section: worker startup is a per-session constant that amortizes to zero over
a 10^12-document run, and BASELINE.json's metric is steady-state docs/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize_pages(spark, sf_dir: str, cache_path: str) -> None:
    from pdf_ocr_engine_spark.sources.testdata import pages_from_documents

    # _SUCCESS marker, not bare existence: an interrupted materialization
    # must be regenerated, not silently benchmarked
    if os.path.exists(os.path.join(cache_path, "_SUCCESS")):
        return
    pages_from_documents(spark, sf_dir).write.mode("overwrite") \
        .parquet(cache_path)


def materialize_html_pages(spark, sf_dir: str, cache_path: str) -> None:
    """documents wrapped as boilerplate-heavy HTML pages (stage-3a bench)."""
    if os.path.exists(os.path.join(cache_path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def wrap_html(text):
        def enc(t):
            body = "".join(f"<p>{seg}</p>" for seg in (t or "").split(". "))
            return (
                "<!DOCTYPE html><html><head><title>t</title>"
                "<style>.x{color:red}</style></head><body>"
                "<nav><a href='/'>Home</a> <a href='/a'>About</a> "
                "<a href='/b'>More</a></nav><header>banner</header>"
                f"<article>{body}</article>"
                "<aside><a href='/x'>rel one</a> <a href='/y'>rel two</a>"
                "</aside><footer>footer legal text</footer></body></html>"
            ).encode()
        return text.map(enc)

    (spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.concat(F.lit("https://"), F.col("source"),
                         F.lit(".example/html/"),
                         F.col("doc_id").cast("string")).alias("url"),
                F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
                wrap_html("text").alias("html"),
                F.lit("").alias("text"), F.lit("eng").alias("lang"))
        .write.mode("overwrite").parquet(cache_path))


def host_calibration() -> dict:
    """Fixed-work probes so every recorded run carries a host-speed
    reference: this shared VM shows multi-x run-to-run throughput swings
    (BASELINE.md documents a measured ±30% band and worse days), so
    absolute seconds are only comparable across rounds after dividing by
    the calibration.  ``matmul2k`` exercises the BLAS thread pool (whole
    host), ``sort5m`` one core."""
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.random((2000, 2000))
    t0 = time.perf_counter()
    (x @ x).sum()
    t1 = time.perf_counter()
    y = rng.random(5_000_000)
    t2 = time.perf_counter()
    np.sort(y)
    t3 = time.perf_counter()
    return {"matmul2k_sec": round(t1 - t0, 3),
            "sort5m_sec": round(t3 - t2, 3)}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # calibrate BEFORE the queries as well as after: a measured episode on
    # this VM ran the headline 3-4x slow yet showed a healthy end-of-run
    # calibration — the host had recovered by the time the probe ran.  The
    # pre/post pair brackets the window the queries actually executed in.
    calib_pre = host_calibration()

    from pyspark.sql import functions as F

    from pdf_ocr_engine_spark.operators.extract import extract_pages
    from pdf_ocr_engine_spark.plans.pipeline import (
        build_session,
        salted_repartition,
    )
    from pdf_ocr_engine_spark.queries import EXTRA_QUERIES, QUERIES

    spark = build_session(f"bench-{cpus}", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    build_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_build")
    os.makedirs(build_dir, exist_ok=True)
    pages_path = os.path.join(build_dir, f"bench_pages_v2_sf{sf}.parquet")
    materialize_pages(spark, sf_dir, pages_path)
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()

    # start the Python worker pool outside the timed section (see docstring)
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _one(x):
        return x * 0 + 1

    spark.range(0, cpus * 2, 1, cpus * 2) \
        .select(_one("id").alias("o")).agg(F.sum("o")).collect()

    html_path = os.path.join(build_dir, f"bench_html_v1_sf{sf}.parquet")
    materialize_html_pages(spark, sf_dir, html_path)
    html_pages = spark.read.parquet(html_path)

    bench_queries = [
        "token_count", "quality_score", "lang_id", "fingerprint",
        "dedup_exact", "dedup_minhash", "ann_cosine_topk",
        "pricing_summary", "nation_revenue", "event_windows", "event_gaps",
    ]

    def headline_pass() -> dict[str, float]:
        """One full timed pass over the headline sections."""
        timings: dict[str, float] = {}

        def timed(name: str, fn) -> None:
            t0 = time.perf_counter()
            fn()
            timings[name] = round(time.perf_counter() - t0, 3)

        # headline: full extraction (force full materialization via
        # aggregation — sums every output column's work without shipping
        # texts to the driver)
        def run_extract():
            extract_pages(salted_repartition(pages, cpus * 2)).agg(
                F.sum("n_words"), F.sum(F.length("text")),
                F.count("*")).collect()

        timed("extract", run_extract)

        def run_extract_html():
            extract_pages(salted_repartition(html_pages, cpus * 2)).agg(
                F.sum("n_words"), F.sum(F.length("text")),
                F.count("*")).collect()

        timed("extract_html", run_extract_html)

        def run_assemble():
            from pdf_ocr_engine_spark.operators.assemble import (
                assemble_searchable,
            )
            assemble_searchable(pages).agg(
                F.sum("n_words"), F.sum(F.length("pdf")),
                F.count("*")).collect()

        timed("assemble_pdf", run_assemble)

        for name in bench_queries:
            fn = {**QUERIES, **EXTRA_QUERIES}[name]
            # xxhash64 over every output column forces FULL evaluation
            # JVM-side (a bare count(*) would let Catalyst prune the
            # projections, timing nothing but the scan) without shipping
            # rows to the driver; bit_xor-reduced because an ANSI-mode sum
            # of hashes overflows long.
            timed(name, lambda f=fn: (lambda df: df.select(
                F.xxhash64(*df.columns).alias("h"))
                .agg(F.expr("bit_xor(h)")).collect())(f(spark, sf_dir)))
        return timings

    # median-of-N protocol: this shared VM swings run-to-run (BASELINE.md
    # documents a measured ±30% band), so the committed number is a BAND —
    # every pass's total is recorded and the headline value is the median.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    passes = [headline_pass() for _ in range(n_runs)]
    import statistics

    timings = {name: round(statistics.median(p[name] for p in passes), 3)
               for name in passes[0]}
    run_totals = [round(sum(p.values()), 3) for p in passes]
    total = round(sum(timings.values()), 3)

    # auxiliary (NOT in the headline total, which stays comparable to the
    # published band): genuine-PDF content-stream extraction throughput —
    # wrap → parse real PDF 1.4 → layout, timed end to end.  Repartitioned
    # like the headline path (the sf tables are single parquet files; an
    # unrepartitioned run would time one task on one core).
    def run_real_pdf():
        from pdf_ocr_engine_spark.operators.extract import extract_pages
        from pdf_ocr_engine_spark.sources.testdata import (
            real_pages_from_documents,
        )
        out = extract_pages(
            real_pages_from_documents(spark, sf_dir).repartition(cpus * 2))
        out.agg(F.sum("n_words"), F.sum(F.length("text")),
                F.count("*")).collect()

    t0 = time.perf_counter()
    run_real_pdf()
    real_pdf_sec = round(time.perf_counter() - t0, 3)

    # round-3 tiers, same aux treatment (in-job fixture synthesis included
    # in the time, like extract_real_pdf, and the source repartitioned the
    # same way — the registry queries themselves stay unrepartitioned
    # because the sf tables are single parquet files and the correctness
    # gate doesn't time them): OCR router over a mixed corpus, transparent
    # decryption, preserveImages overlay.
    from pdf_ocr_engine_spark.operators.assemble import assemble_searchable
    from pdf_ocr_engine_spark.operators.extract import extract_pages
    from pdf_ocr_engine_spark.operators.ocr import (
        deterministic_recognizer,
        extract_with_ocr,
    )
    from pdf_ocr_engine_spark.sources.testdata import (
        encrypted_pages_from_documents,
        mixed_scan_pages_from_documents,
        scanned_pages_from_documents,
    )

    def aux_runs():
        # mixed corpus materialized ONCE (like the encrypted corpus below):
        # fixture ENCODING — JPEG/raster synthesis — is writer-side test
        # infrastructure; the production direction this number measures is
        # probe → route → decode pixels → recognize → layout
        mix_path = os.path.join(build_dir, f"bench_mixed_v1_sf{sf}.parquet")
        if not os.path.exists(os.path.join(mix_path, "_SUCCESS")):
            mixed_scan_pages_from_documents(spark, sf_dir) \
                .repartition(cpus * 2).write.mode("overwrite") \
                .parquet(mix_path)
        mixed_pages = spark.read.parquet(mix_path)
        yield "ocr_scanned", lambda: extract_with_ocr(
            mixed_pages, cache_probe=True) \
            .agg(F.sum("n_words"), F.count("*")).collect()
        # encrypted corpus materialized ONCE (like the headline pages):
        # fixture ENCRYPTION is writer-side test infrastructure; the
        # production direction this number must measure is decrypt+extract
        enc_path = os.path.join(build_dir, f"bench_enc_v1_sf{sf}.parquet")
        if not os.path.exists(os.path.join(enc_path, "_SUCCESS")):
            encrypted_pages_from_documents(spark, sf_dir) \
                .repartition(cpus * 2).write.mode("overwrite") \
                .parquet(enc_path)
        enc_pages = spark.read.parquet(enc_path)
        yield "extract_encrypted", lambda: extract_pages(enc_pages) \
            .agg(F.sum("n_words"), F.count("*")).collect()
        yield "assemble_overlay", lambda: assemble_searchable(
            scanned_pages_from_documents(spark, sf_dir)
            .repartition(cpus * 2), preserve_images=True,
            recognizer_factory=deterministic_recognizer) \
            .agg(F.sum("n_words"), F.sum(F.length("pdf")),
                 F.count("*")).collect()

    from pdf_ocr_engine_spark.plans.cache import release_tracked

    aux_queries = {}
    for name, fn in aux_runs():
        t0 = time.perf_counter()
        fn()
        aux_queries[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
        # the OCR router's cache_probe persist registers with plans.cache;
        # free it before the next tier so its storage memory (binary
        # payloads) never skews the following timings
        release_tracked()

    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "runs": run_totals,
        "best": min(run_totals),
        "calib": calib_pre,
        "calib_post": host_calibration(),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "cpus": cpus,
        "docs_per_sec": round(n_docs / timings["extract"], 1),
        "aux": {"extract_real_pdf_sec": real_pdf_sec,
                "real_pdf_docs_per_sec": round(n_docs / real_pdf_sec, 1),
                **aux_queries},
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
