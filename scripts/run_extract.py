#!/usr/bin/env python
"""Production entrypoint — run the extraction pipeline with spark-submit:

    zip -r pdf_ocr_engine_spark.zip pdf_ocr_engine_spark
    spark-submit --py-files pdf_ocr_engine_spark.zip \
        scripts/run_extract.py --input <pages parquet/iceberg path> \
        --output <dir> [--resume] [--buckets 4096] [--partitions 8192]

Reads the Common-Crawl-style pages table, runs sniff → route → extract with
salted repartitioning, writes extracted text + per-partition metrics, and —
with --resume — skips buckets whose completion manifests exist.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="run")
    p.add_argument("--partitions", type=int, default=None,
                   help="salted repartition width (omit: keep source splits)")
    p.add_argument("--salt-buckets", type=int, default=None)
    p.add_argument("--buckets", type=int, default=256,
                   help="resume-manifest buckets")
    p.add_argument("--resume", action="store_true",
                   help="manifest-checkpointed, resumable execution")
    p.add_argument("--max-bytes", type=int, default=50 * 1024 * 1024)
    p.add_argument("--max-pages", type=int, default=200)
    p.add_argument("--fix-hyphenation", action="store_true",
                   help="repair soft line-break hyphens in extracted text")
    p.add_argument("--hyphen-asset", default=None, metavar="PATH",
                   help="hyphen-exception wordlist to ship to executors "
                        "(S6; equivalent to listing it in --files). "
                        "Implies --fix-hyphenation.")
    p.add_argument("--ocr", action="store_true",
                   help="enable the scanned/image-only tier: pages without "
                        "a text layer go through rasterize+recognize. Uses "
                        "the deterministic recognizer (the sandbox "
                        "stand-in); a real deployment passes its own "
                        "factory via the library API "
                        "(write_extraction(recognizer_factory=...)).")
    args = p.parse_args(argv)

    from pdf_ocr_engine_spark.core.extract_doc import ExtractOptions
    from pdf_ocr_engine_spark.plans.checkpoint import run_resumable
    from pdf_ocr_engine_spark.plans.pipeline import (
        build_session,
        salted_repartition,
        write_extraction,
    )

    from pdf_ocr_engine_spark.sources.sinks import read_pages

    spark = build_session("pdf-ocr-engine-spark")
    asset_name = None
    if args.hyphen_asset:
        import os

        from pdf_ocr_engine_spark.sources.assets import ship_asset
        ship_asset(spark, args.hyphen_asset)
        asset_name = os.path.basename(args.hyphen_asset)
    opts = ExtractOptions(max_bytes=args.max_bytes, max_pages=args.max_pages,
                          fix_hyphenation=(args.fix_hyphenation
                                           or asset_name is not None),
                          hyphen_asset=asset_name)
    pages = read_pages(spark, args.input)  # parquet path or iceberg:db.table
    recognizer_factory = None
    if args.ocr:
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        recognizer_factory = deterministic_recognizer

    if args.resume:
        df = pages
        if args.partitions:
            df = salted_repartition(df, args.partitions, args.salt_buckets)
        report = run_resumable(spark, df, args.output,
                               n_buckets=args.buckets, options=opts,
                               run_id=args.run_id,
                               recognizer_factory=recognizer_factory)
        print(f"processed={len(report.processed_buckets)} "
              f"skipped={len(report.skipped_buckets)} "
              f"docs={report.docs_written}")
    else:
        write_extraction(spark, pages, args.output, options=opts,
                         num_partitions=args.partitions,
                         salt_buckets=args.salt_buckets,
                         run_id=args.run_id,
                         recognizer_factory=recognizer_factory)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
