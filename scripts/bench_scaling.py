#!/usr/bin/env python
"""Scaling-efficiency bench (BASELINE.json north_rule: ≥0.8 from N to 4N).

    python scripts/bench_scaling.py [--replicas K] [--runs R]

1. zips the package and materializes a heavy multi-page corpus (once),
2. runs the SAME extraction job via ``spark-submit --py-files`` at
   ``local[2]``, ``local[8]`` and ``local[32]``,
3. calibrates the host's own weak-scaling ceiling with a pure-arithmetic
   probe (no allocation, no I/O),
4. prints the summary and writes ``BENCH_SCALING.json``.

Why three points: the sandbox is one 32-vCPU VM, and a pure-arithmetic
busy loop already weak-scales at only ~0.70 going 8→32 procs here (shared
power/memory envelope — nothing any job can evade).  A real cluster adds
whole machines at 4N, so the honest single-box instantiations of "N vs 4N
executors" are:

* **2→8 cores** (primary): below the host ceiling, measures the PIPELINE's
  scaling — the north_rule's ≥0.8 criterion is judged here;
* **8→32 cores** (supplementary): reported raw AND normalized by the
  measured hardware ceiling — normalized ≈ 1.0 shows the pipeline adds no
  serial bottleneck of its own beyond what the silicon imposes.

Corpus sizing: replicate sf0.1 document texts into 8-page word-box PDFs
(~1 ms single-core extraction CPU per doc) until per-job constants are ~2
orders of magnitude below compute.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip() -> str:
    """Package the library for --py-files (the production ship mechanism)."""
    zpath = os.path.join(REPO, "_build", "pdf_ocr_engine_spark.zip")
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "pdf_ocr_engine_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def heavy_payload_udf(n_pages: int):
    """pandas UDF: document text → an ``n_pages``-page word-box PDF, every
    page carrying the text's words on the fixture grid."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def heavy_payload(text):
        from pdf_ocr_engine_spark.encoders.pdf import encode_pdf
        from pdf_ocr_engine_spark.sources.fixtures import layout_words

        def enc(t):
            toks = (t or "empty doc").split()
            return encode_pdf([
                {"page_no": p + 1, "width": 612.0, "height": 792.0,
                 "has_text": False, "words": layout_words(toks)}
                for p in range(n_pages)
            ])

        return text.map(enc)

    return heavy_payload


def materialize_corpus(path: str, sf_dir: str, replicas: int, n_pages: int) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    from pdf_ocr_engine_spark.plans.pipeline import build_session

    spark = build_session("make-scaling-corpus", master="local[32]",
                          shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    (docs.crossJoin(reps)
         .repartition(64)
         .select(
             F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                      F.col("doc_id").cast("string"), F.lit("/r"),
                      F.col("rep").cast("string")).alias("url"),
             F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
             heavy_payload_udf(n_pages)("text").alias("html"),
             F.lit("").alias("text"),
             F.lit("eng").alias("lang"))
         .write.mode("overwrite").parquet(path))
    spark.stop()


def run_at(cores: int, zpath: str, corpus: str, out_dir: str, runs: int) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", "16g",
        "--py-files", zpath,
        "--conf", "spark.sql.shuffle.partitions=64",
        os.path.join(REPO, "scripts", "scaling_job.py"),
        "--input", corpus,
        "--output", f"{out_dir}/c{cores}",
        "--runs", str(runs),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"cores"' in line:
            return json.loads(line)
    print(proc.stdout[-3000:], file=sys.stderr)
    print(proc.stderr[-3000:], file=sys.stderr)
    raise RuntimeError(f"no result line from spark-submit at local[{cores}]")


def _arith_probe(n: int) -> float:
    s = 0.0
    x = 1.0001
    for i in range(n):
        s += x * x + s * 0.5 - i * 0.001
        x = x * 1.000001
    return s


def hardware_ceiling(pairs: list[tuple[int, int]],
                     n: int = 40_000_000) -> dict[str, float]:
    """Pure-arithmetic weak-scaling ceiling of this host: time the SAME
    per-proc work at P and 4P procs; a perfectly scaling machine gives 1.0."""
    times: dict[int, float] = {}
    for p in sorted({c for pair in pairs for c in pair}):
        with mp.Pool(p) as pool:
            pool.map(_arith_probe, [1000] * p)  # warm the pool
            t0 = time.perf_counter()
            pool.map(_arith_probe, [n] * p)
            times[p] = time.perf_counter() - t0
    return {f"{a}->{b}": round(times[a] / times[b], 3) for a, b in pairs}


def skew_experiment(sf_dir: str, cores: int = 8, n_pages: int = 8,
                    replicas: int = 8, hot_share: float = 0.85) -> dict:
    """Measured evidence for the salting claim (VERDICT round-2 item 8):
    a corpus where one host owns ``hot_share`` of all documents is
    repartitioned by (a) raw host — the naive key, every mega-host doc
    lands in ONE task — and (b) ``salted_repartition`` — (host, salt)
    spreads it.  Same extraction, same cores; the wall-time gap IS the
    straggler tail, and the per-partition doc counts show why."""
    from pyspark.sql import functions as F

    from pdf_ocr_engine_spark.operators.extract import extract_pages
    from pdf_ocr_engine_spark.plans.pipeline import (
        build_session,
        host_col,
        salted_repartition,
    )

    spark = build_session("skew-bench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    # hot_share of documents under ONE host, the rest spread over 50
    skewed = (docs.crossJoin(reps).select(
        F.concat(
            F.lit("https://"),
            F.when(F.pmod(F.xxhash64("doc_id", "rep"), F.lit(100))
                   < int(hot_share * 100), F.lit("megahost.example"))
             .otherwise(F.concat(F.lit("host"),
                                 F.pmod(F.xxhash64("rep", "doc_id"),
                                        F.lit(50)).cast("string"),
                                 F.lit(".example"))),
            F.lit("/doc/"), F.col("doc_id").cast("string"),
            F.lit("/r"), F.col("rep").cast("string")).alias("url"),
        heavy_payload_udf(n_pages)("text").alias("html"),
        F.lit("eng").alias("lang"))
        .persist())
    n_docs = skewed.count()

    def timed(df) -> tuple[float, int, float]:
        ext = extract_pages(df)
        t0 = time.perf_counter()
        stats = (ext.groupBy("partition_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect())
        wall = time.perf_counter() - t0
        counts = [r["n"] for r in stats]
        mx = max(counts)
        imbalance = mx / (sum(counts) / len(counts))
        return wall, mx, round(imbalance, 2)

    # warm-up pass (worker pool + code paths) so neither variant pays it
    timed(skewed.repartition(cores))
    unsalted_wall, unsalted_max, unsalted_imb = timed(
        skewed.repartition(cores, host_col()))
    salted_wall, salted_max, salted_imb = timed(
        salted_repartition(skewed, cores))
    skewed.unpersist()
    spark.stop()
    return {
        "what": ("extraction wall time after repartitioning a "
                 f"{int(hot_share * 100)}%-one-host corpus "
                 f"({n_docs} docs x {n_pages} pages) at local[{cores}]"),
        "unsalted_by_host": {"wall_sec": round(unsalted_wall, 2),
                             "max_partition_docs": unsalted_max,
                             "imbalance_max_over_mean": unsalted_imb},
        "salted_host_x_salt": {"wall_sec": round(salted_wall, 2),
                               "max_partition_docs": salted_max,
                               "imbalance_max_over_mean": salted_imb},
        "speedup": round(unsalted_wall / salted_wall, 2),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--replicas", type=int, default=26)
    p.add_argument("--pages", type=int, default=8)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--skip-skew", action="store_true")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = p.parse_args()

    sys.path.insert(0, REPO)
    build_dir = os.path.join(REPO, "_build")
    sf_tag = os.path.basename(args.sf_dir.rstrip("/"))
    corpus = os.path.join(
        build_dir,
        f"scaling_corpus_v2_{sf_tag}_r{args.replicas}_p{args.pages}.parquet")
    zpath = build_zip()
    materialize_corpus(corpus, args.sf_dir, args.replicas, args.pages)

    ceiling = hardware_ceiling([(2, 8), (8, 32)])

    out_dir = os.path.join(build_dir, "scaling_out")
    points = {c: run_at(c, zpath, corpus, out_dir, args.runs)
              for c in (2, 8, 32)}

    def eff(a: int, b: int) -> float:
        return round((points[b]["docs_per_sec"] / points[a]["docs_per_sec"])
                     / (b / a), 3)

    e28, e832 = eff(2, 8), eff(8, 32)
    result = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": e28,
        "threshold": 0.8,
        "passed": e28 >= 0.8,
        "pairs": {
            "2->8 (primary)": {"efficiency": e28,
                               "hardware_ceiling": ceiling["2->8"]},
            "8->32 (supplementary)": {
                "efficiency": e832,
                "hardware_ceiling": ceiling["8->32"],
                "normalized_to_ceiling": round(e832 / ceiling["8->32"], 3)},
        },
        "points": points,
        "note": ("same spark-submit --py-files job, same input, fixed 64 "
                 "partitions; local[N] evidences N executors (sandbox has no "
                 "real cluster); steady-state best-of-%d per size; the "
                 "hardware ceiling is a pure-arithmetic weak-scaling probe "
                 "on the same host" % args.runs),
    }
    if not args.skip_skew:
        result["skew"] = skew_experiment(args.sf_dir)
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0 if result["passed"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
