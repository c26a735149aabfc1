#!/usr/bin/env python3
"""Extraction benchmark: one seeded workload per run on ``local[4]``.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout.  A run generates (or reuses) the seeded
corpus, starts Spark through ``plans.pipeline.build_session``, runs warm
passes of the workload, checks every url of the last output against the
oracle, and prints one ``name value unit`` line per metric; the last line
of standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones, from one extra pass with Spark job groups and a
single-process span-traced pass over a fixed sample.  Everything the run
writes lands in ``.bench_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOAD_NAMES = ("web_crawl", "scanned_ocr", "resume")
CORES = 4

#: untimed warm passes before the timed ones, from pass-time series
#: measured at the shipped corpus sizes on 4 vCPUs (README.md): the first
#: pass after session start is ~2x slower on every workload; on web_crawl
#: and scanned_ocr the second is still 15-30% slower than steady, on resume
#: it is within the pass-to-pass noise.
WARMUP = {"web_crawl": 2, "scanned_ocr": 2, "resume": 1}
#: timed passes run until --seconds have been measured, and at least this
#: many; job_s is their median.  Two, not three: with the fixed cost of a
#: run (JVM launch, three session starts, corpus generation) a third pass
#: would take a full check of 70 runs (22 per workload plus 4) past an hour
MIN_PASSES = 2
#: session starts per run; setup_s is the median, so it leaves out the JVM
#: launch, which only the first start pays (setup.cold_s)
SETUPS = 3
#: documents in the single-process traced core pass
CORE_SAMPLE = {"web_crawl": 2000, "scanned_ocr": 256, "resume": 400}

#: peak_rss_mb and doc_p99_ms are printed on every run but gated as
#: per-layer metrics: across seeds they moved by more than a tenth
#: (README.md)
END_TO_END = {"job_s": "s", "docs_per_s": "1/s", "setup_s": "s"}

PER_LAYER = {
    "peak_rss_mb": "MB", "doc_p99_ms": "ms",
    "setup.session_s": "s", "setup.workers_s": "s", "setup.cold_s": "s",
    "sources.gen_s": "s", "sources.input_mb": "MB",
    "sources.input_records": "count",
    "plans.shuffle_write_mb": "MB", "plans.part_max_over_mean": "ratio",
    "plans.write_s": "s", "plans.metrics_s": "s", "plans.output_mb": "MB",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.task_p50_s": "s", "plans.task_max_s": "s",
    "plans.slot_util": "ratio", "plans.gc_s": "s",
    "plans.checkpoint.chunks": "count", "plans.checkpoint.scan_ratio": "ratio",
    "plans.checkpoint.commit_s": "s",
    "operators.extract.task_s": "s", "operators.extract.kernel_s": "s",
    "operators.extract.handoff_s": "s",
    "operators.extract.handoff_share": "ratio",
    "operators.extract.jvm_cpu_s": "s",
    "operators.ocr.probe_s": "s", "operators.ocr.docs_ocr": "count",
    "operators.ocr.docs_text": "count", "operators.ocr.route_hit_ratio": "ratio",
    "core.kernel_ms_per_doc": "ms", "core.sniff_us_per_doc": "us",
    "core.html_ms_per_doc": "ms", "core.parse_ms_per_doc": "ms",
    "core.layout_ms_per_page": "ms", "core.images_ms_per_doc": "ms",
    "core.probe_ms_per_doc": "ms", "core.recognize_ms_per_page": "ms",
    "core.codec.jpeg_us_per_px": "us", "core.codec.ccitt_us_per_px": "us",
    "core.codec.jbig2_us_per_px": "us", "core.codec.jpx_us_per_px": "us",
    "core.docs.html": "count", "core.docs.pdf": "count",
    "core.docs.other": "count", "core.pages": "count",
    "core.images.jpeg": "count", "core.images.ccitt": "count",
    "core.images.jbig2": "count", "core.images.jpx": "count",
    "core.images.fakerast": "count", "core.images.raw": "count",
    "trace.core_overhead_share": "ratio",
}


def configure_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    the Python workers import the program."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: each JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def start_session(app: str):
    """``build_session`` plus a first Python UDF job, which starts the
    worker daemon; returns ``(spark, session_s, workers_s)``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pdf_ocr_engine_spark.plans.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(app, master=f"local[{CORES}]",
                          shuffle_partitions=2 * CORES)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    @F.pandas_udf(LongType())
    def one(x):
        return x * 0 + 1

    spark.range(0, 2 * CORES, 1, 2 * CORES).select(one("id").alias("o")) \
        .agg(F.sum("o")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_cpu() -> tuple[int, int]:
    """``(total, steal)`` jiffies of all CPUs from ``/proc/stat``: steal is
    time the hypervisor ran other guests on this host's vCPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def core_pass(corpus_dir: str, workload: str, trace_path: str) -> dict:
    """Single-process pass over the first ``CORE_SAMPLE`` documents: once
    untraced to warm up, once untraced timed, once with spans."""
    import pyarrow.parquet as pq

    from pdf_ocr_engine_spark.core import extract_doc
    from pdf_ocr_engine_spark.operators import ocr
    from tracer import Tracer

    t = pq.read_table(os.path.join(corpus_dir, "pages"),
                      columns=["html", "lang"]).slice(0, CORE_SAMPLE[workload])
    payloads, langs = t.column("html").to_pylist(), t.column("lang").to_pylist()
    kinds: collections.Counter = collections.Counter()

    def loop(tracer: Tracer | None) -> float:
        rec = (ocr.deterministic_recognizer() if workload == "scanned_ocr"
               else None)
        if tracer is not None and rec is not None:
            rec = tracer.wrap("recognize", rec)
        kinds.clear()
        t0 = time.perf_counter()
        for i, (p, lang) in enumerate(zip(payloads, langs)):
            # the per-row probe with_needs_ocr runs, then the routed extract
            r = rec if rec is not None and ocr._doc_needs_ocr(p) else None
            if tracer is None:
                out = extract_doc.extract_document(p, lang, recognizer=r)
            else:
                tracer.doc = i
                out = tracer.span("extract_document",
                                  extract_doc.extract_document, p, lang,
                                  recognizer=r)
            kinds[out["kind"]] += 1
        return time.perf_counter() - t0

    loop(None)
    base = loop(None)
    tracer = Tracer()
    tracer.install()
    try:
        traced = loop(tracer)
    finally:
        tracer.uninstall()
    tracer.write(trace_path)
    st = tracer.stats()

    def n(name):
        return st.get(name, {}).get("n", 0)

    def ns(*names):
        return sum(st.get(x, {}).get("total_ns", 0) for x in names)

    def px(*names):
        return sum(st.get(x, {}).get("pixels", 0) for x in names)

    codecs = {"jpeg": ("decode_jpeg_gray",),
              "ccitt": ("decode_g3", "decode_g4"),
              "jbig2": ("decode_jbig2_embedded",), "jpx": ("decode_jpx_gray",)}
    m = {
        "core.kernel_ms_per_doc": ratio(ns("extract_document") / 1e6,
                                        n("extract_document")),
        "core.sniff_us_per_doc": ratio(ns("sniff_document") / 1e3,
                                       n("sniff_document")),
        "core.html_ms_per_doc": ratio(ns("extract_main_text") / 1e6,
                                      n("extract_main_text")),
        "core.parse_ms_per_doc": ratio(ns("decode_pdf_arrays") / 1e6,
                                       n("decode_pdf_arrays")),
        "core.layout_ms_per_page": ratio(ns("page_layout_fast") / 1e6,
                                         n("page_layout_fast")),
        "core.images_ms_per_doc": ratio(ns("extract_page_images") / 1e6,
                                        n("extract_page_images")),
        "core.probe_ms_per_doc": ratio(ns("detect_pages_text") / 1e6,
                                       n("detect_pages_text")),
        "core.recognize_ms_per_page": ratio(
            ns("recognize_gray", "decode_page_raster") / 1e6, n("recognize")),
        "core.pages": n("page_layout_fast"),
        "core.images.fakerast": n("decode_page_raster"),
        "trace.core_overhead_share": traced / base - 1.0,
    }
    for k in ("html", "pdf", "other"):
        m[f"core.docs.{k}"] = kinds[k]
    for codec, fns in codecs.items():
        m[f"core.codec.{codec}_us_per_px"] = ratio(ns(*fns) / 1e3, px(*fns))
        m[f"core.images.{codec}"] = sum(n(f) for f in fns)
    m["core.images.raw"] = n("recognize") - m["core.images.fakerast"] - sum(
        m[f"core.images.{c}"] for c in codecs)
    return m


def trace_layers(spark, wl, corpus_dir: str, rows) -> dict:
    """One pass with a job group around each layer call, read back from
    Spark's REST API, plus the core span pass."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from sparkmetrics import SparkMetrics

    m = SparkMetrics(spark.sparkContext)
    writes: list[tuple[str, float]] = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        label = ("plans.metrics" if path.rstrip("/").endswith("/metrics")
                 else "plans.write")
        t0 = time.perf_counter()
        with m.group(label):
            orig(self, path, *args, **kwargs)
        writes.append((label, time.perf_counter() - t0))

    DataFrameWriter.parquet = parquet
    try:
        with m.group("plans.pass"):
            traced_s = wl.run_pass()
    finally:
        DataFrameWriter.parquet = orig
    s = wl.summary()
    groups = ["plans.pass"] + sorted({label for label, _ in writes})
    tot = m.totals(*groups)
    ext = m.totals("plans.pass" if wl.name == "scanned_ocr" else "plans.write")
    kernel_s = s["wall_us"] / 1e6
    task_s = ext["run_s"]
    per_part = collections.Counter(
        zip(rows.column("partition_id").to_pylist(),
            rows.column("route").to_pylist() if "route" in rows.column_names
            else [None] * rows.num_rows))
    out = {
        "sources.input_mb": ext["scan_mb"],
        "sources.input_records": ext["input_records"],
        "plans.shuffle_write_mb": tot["shuffle_write_mb"],
        "plans.part_max_over_mean": ratio(max(per_part.values()),
                                          statistics.mean(per_part.values())),
        "plans.write_s": sum(t for label, t in writes
                             if label == "plans.write"),
        "plans.metrics_s": sum(t for label, t in writes
                               if label == "plans.metrics"),
        "plans.output_mb": tot["output_mb"],
        "plans.jobs": tot["jobs"], "plans.stages": tot["stages"],
        "plans.tasks": tot["tasks"],
        "plans.task_p50_s": ext["task_p50_s"],
        "plans.task_max_s": ext["task_max_s"],
        "plans.slot_util": ratio(tot["run_s"], CORES * traced_s),
        "plans.gc_s": tot["gc_s"],
        "plans.checkpoint.chunks": 0, "plans.checkpoint.scan_ratio": 0.0,
        "plans.checkpoint.commit_s": 0.0,
        "operators.extract.jvm_cpu_s": ext["cpu_s"],
        "operators.ocr.probe_s": 0.0, "operators.ocr.docs_ocr": 0,
        "operators.ocr.docs_text": 0, "operators.ocr.route_hit_ratio": 0.0,
    }
    if wl.name == "resume":
        table = sum(os.path.getsize(os.path.join(wl.pages_path, f))
                    for f in os.listdir(wl.pages_path))
        out["plans.checkpoint.chunks"] = sum(
            1 for label, _ in writes if label == "plans.write")
        out["plans.checkpoint.scan_ratio"] = ext["scan_mb"] * 2**20 / table
        out["plans.checkpoint.commit_s"] = m.totals("plans.pass")["job_wall_s"]
    if wl.name == "scanned_ocr":
        import pyarrow.parquet as pq

        from pdf_ocr_engine_spark.operators.ocr import with_needs_ocr

        with m.group("operators.ocr.probe"):
            t0 = time.perf_counter()
            with_needs_ocr(wl.pages()).agg(
                F.sum(F.col("needs_ocr").cast("int"))).collect()
            out["operators.ocr.probe_s"] = time.perf_counter() - t0
        # the probe runs inside the pass's first extract stage; its task
        # time, measured alone, is routing and not handoff
        task_s -= m.totals("operators.ocr.probe")["run_s"]
        oracle = pq.read_table(os.path.join(corpus_dir, "oracle.parquet"),
                               columns=["url", "kind"]).to_pydict()
        kind = dict(zip(oracle["url"], oracle["kind"]))
        routed = [u for u, r in zip(rows.column("url").to_pylist(),
                                    rows.column("route").to_pylist())
                  if r == "ocr"]
        out["operators.ocr.docs_ocr"] = len(routed)
        out["operators.ocr.docs_text"] = rows.num_rows - len(routed)
        out["operators.ocr.route_hit_ratio"] = ratio(
            sum(1 for u in routed if kind.get(u) == "scanned"), len(routed))
    out.update({
        "operators.extract.task_s": task_s,
        "operators.extract.kernel_s": kernel_s,
        "operators.extract.handoff_s": task_s - kernel_s,
        "operators.extract.handoff_share": ratio(task_s - kernel_s, task_s),
    })
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    out.update(core_pass(corpus_dir, wl.name, os.path.join(
        WORK, "trace", f"{wl.name}-spans.jsonl")))
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    configure_env()
    sys.path.insert(0, ROOT)
    import corpus
    import oracle
    from rss import PeakRss
    from workloads import WORKLOADS

    corpus_dir, gen_s, generated = corpus.ensure(WORK, workload, seed)
    rss = PeakRss().start()
    spark, session_s, workers_s = start_session(f"perfbench-{workload}")
    setups = [(session_s, workers_s)]
    wl = WORKLOADS[workload](spark, corpus_dir, WORK)
    for _ in range(WARMUP[workload]):
        wl.warm_up()
    times, summaries = [], []
    cpu0 = host_cpu()
    while len(times) < MIN_PASSES or sum(times) < seconds:
        times.append(wl.run_pass())
        summaries.append(wl.summary())
    cpu1 = host_cpu()
    steal = ratio(cpu1[1] - cpu0[1], cpu1[0] - cpu0[0])
    rows = wl.rows()
    peak_mb = rss.stop()

    planted = oracle.load(corpus_dir)
    failures = oracle.check(rows.column("url").to_pylist(),
                            rows.column("status").to_pylist(),
                            rows.column("text").to_pylist(), planted)
    rows_sum = 0
    for h in rows.column("h").to_pylist():
        rows_sum ^= h
    inconsistent = [i for i, s in enumerate(summaries)
                    if s["docs"] != rows.num_rows or s["sum"] != rows_sum]
    layers = trace_layers(spark, wl, corpus_dir, rows) if trace else {}
    spark.stop()
    for _ in range(SETUPS - 1):
        s2, a, b = start_session(f"perfbench-{workload}-setup")
        s2.stop()
        setups.append((a, b))
    stop_jvm()

    job_s = statistics.median(times)
    e2e = {
        "job_s": job_s,
        "docs_per_s": len(planted) / job_s,
        "setup_s": statistics.median(a + b for a, b in setups),
    }
    layers.update({
        "peak_rss_mb": peak_mb,
        "doc_p99_ms": statistics.median(s["p99_us"] for s in summaries) / 1e3,
        "setup.session_s": statistics.median(a for a, _ in setups),
        "setup.workers_s": statistics.median(b for _, b in setups),
        "setup.cold_s": sum(setups[0]),
        "sources.gen_s": gen_s,
    })

    print(f"# {workload} seed={seed} docs={len(planted)} "
          f"corpus={'generated' if generated else 'cached'} "
          f"gen_s={gen_s:.3f} (not in setup_s) warmup={WARMUP[workload]} "
          f"passes_s={[round(t, 3) for t in times]} "
          f"setups_s={[round(a + b, 3) for a, b in setups]} "
          f"host_steal_share={steal:.3f}")
    for url, why in failures[:20]:
        print(f"# FAIL {url}: {why}")
    for i in inconsistent:
        print(f"# FAIL timed pass {i}: {summaries[i]['docs']} docs, checksum "
              f"{summaries[i]['sum']} != verified output's {rows_sum}")
    shown = {**END_TO_END, "peak_rss_mb": "MB", "doc_p99_ms": "ms",
             **(PER_LAYER if trace else {})}
    for name, unit in shown.items():
        print(f"{workload} {name} {e2e.get(name, layers.get(name)):.6g} "
              f"{unit}")
    print(f"{workload} fail_share {len(failures) / len(planted):.6g} share "
          f"({len(failures)}/{len(planted)} docs; doc_p99_ms is the median "
          f"over {len(times)} timed passes of the p99 over {rows.num_rows} "
          f"docs)")
    units, metrics = (PER_LAYER, layers) if trace else (END_TO_END, e2e)
    return {
        "correct": not failures and not inconsistent,
        "attempted": len(planted),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }


def run_all(seed: int, seconds: float, trace: bool) -> dict:
    """Every workload, each in its own process, with one combined result."""
    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, check=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        r = json.loads(lines[-1])
        result["correct"] &= r["correct"]
        result["attempted"] += r["attempted"]
        result["failed"] += r["failed"]
        result["metrics"].update({f"{w}.{k}": v
                                  for k, v in r["metrics"].items()})
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pdf_ocr_engine_spark",
                                       "__init__.py")):
        print(f"perfbench: no pdf_ocr_engine_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    if a.workload == "all":
        result = run_all(a.seed, a.seconds, bool(a.trace))
    else:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
