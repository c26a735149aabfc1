"""The pages-table reader behind ``scripts/run_extract.py --input``.

One call reads the input wherever it lives:

* ``iceberg:db.table`` → ``spark.read.format("iceberg")`` (needs the
  Iceberg runtime on the classpath, ``spark-submit --packages
  org.apache.iceberg:...`` + catalog conf; the tests run no catalog)
* ``warc:<dir>``       → raw Common-Crawl archives via :mod:`.warc`
* anything else        → a parquet path

Extraction output is written by ``plans.pipeline._commit``, not here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ICEBERG_PREFIX = "iceberg:"


def read_pages(spark, source: str) -> DataFrame:
    """Read the pages table: ``iceberg:db.table``, ``warc:<dir>`` (raw
    Common-Crawl archives via :mod:`.warc`), or a parquet path."""
    if source.startswith(ICEBERG_PREFIX):
        return spark.read.format("iceberg").load(source[len(ICEBERG_PREFIX):])
    if source.startswith("warc:"):
        from .warc import warc_pages

        return warc_pages(spark, source[len("warc:"):])
    return spark.read.parquet(source)
