#!/usr/bin/env python
"""Regenerate PLANS.md — formatted physical plans for the headline operators,
so plan shape (pruning/pushdown/broadcast/shuffle count) is reviewable
without launching Spark.  Run after changing any operator:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"

#: (name, what to look for in the plan)
SHOWCASE = {
    "extract_documents": ("column pruning at the scan (no `text`), zero "
                          "Exchange — the hot stage is narrow"),
    "nation_revenue": "BroadcastHashJoin on the nation dim; partial+final agg",
    "pricing_summary": "two-phase hash aggregate, ONE exchange on group keys",
    "top_orders": "TakeOrderedAndProject — per-partition top-k, no global sort",
    "event_gaps": "single hashpartitioning exchange feeding the window",
    "dedup_exact": "map-side partial agg on the 16-byte fingerprint key",
    "ann_cosine_topk": ("whole-stage codegen dot product, broadcast "
                        "single-row query join (no driver .first() job), "
                        "TakeOrderedAndProject"),
    "extract_real_pdf": ("same narrow MapInArrow/MapInPandas shape as "
                         "extract_documents — real-PDF parsing adds no "
                         "shuffle"),
    "dedup_minhash": ("banded LSH equi-join on (band, band_hash), exact "
                      "verify joins keyed on doc id — no cross product "
                      "anywhere"),
    "dedup_embedding_lsh": ("banded signature equi-join on (band, val); "
                            "exact cosine only inside colliding buckets"),
    "resize_images": "narrow mapInPandas chain — binary in, binary out",
    "ocr_scanned": ("F6 plan gate: probe → filter split → union of two "
                    "narrow extract branches, ZERO Exchange; the expensive "
                    "OCR branch only ever scans needs_ocr documents"),
    "extract_encrypted": ("transparent decryption stays inside the narrow "
                          "MapInArrow — no plan difference vs plain "
                          "extraction"),
    "assemble_overlay": ("assemble(preserveImages, MapInArrow) → verify "
                         "(MapInPandas) back to back, zero Exchange"),
    "ann_ivf": ("query embedding never leaves the plan: centroid ranking "
                "as expressions over the broadcast single-row query, "
                "probe-list pruning join, TakeOrderedAndProject"),
}


def main() -> int:
    from pdf_ocr_engine_spark.plans.pipeline import build_session
    from pdf_ocr_engine_spark.queries import EXTRA_QUERIES, QUERIES

    spark = build_session("dump-plans", master="local[4]",
                          shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the headline operators",
        "",
        "Generated by `python scripts/dump_plans.py` at sf0.01; these are the",
        "plans the engine is designed to produce at any scale (guarded by",
        "`tests/test_plans.py`).",
        "",
    ]
    for name, note in SHOWCASE.items():
        df = {**QUERIES, **EXTRA_QUERIES}[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out += [f"## {name}", "", f"*What to check: {note}.*", "",
                "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
