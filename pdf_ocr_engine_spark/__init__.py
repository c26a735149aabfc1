"""pdf_ocr_engine_spark — a PySpark-native web-scale extraction engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of ajjucoder/pdf-ocr-engine, re-expressed Spark-first per
/root/repo/SURVEY.md: batch main-content extraction over Common-Crawl-style
page tables ``(url, warc_ts, html, text, lang)`` — byte-stream sniffing,
HTML boilerplate stripping, PDF word-box layout reconstruction — plus the
training-data-pipeline operators a 100 TB corpus needs (dedup, similarity
search, text analysis, multimodal plumbing).

Layout:
  core/       pure-Python byte-identity kernels (layout, html, codec, hyphen)
  operators/  Arrow-batched Spark operators (extract, dedup, ann, multimodal)
  sources/    deterministic fixture generation + table readers/writers
  functions/  JVM-side column-expression libraries (text analysis, sniffing)
  plans/      staged pipeline DAG, salting, metrics/lineage, the one unit
              commit of every driver, checkpoint resume
  streaming/  Structured Streaming driver (one unit commit per micro-batch)
              and stream sessionization
"""

import sys

__version__ = "0.1.0"


def _in_spark_task() -> bool:
    # a worker sets the TaskContext before unpickling the task's function;
    # on the driver it is None, and the package root imports no pyspark
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


if _in_spark_task():
    from ._worker import install_zip_cache_guard

    install_zip_cache_guard()
